"""Messy-field normalization as pure SQL column expressions.

The reference implements these row-at-a-time in Python
(reference: src/transform.py:18-117 — ``_to_timestamptz``, ``_to_decimal``,
``_to_int``, ``_clean_numeric_string``, ``_fix_separators``). Here each
parser is a *SQL expression builder* so that:

1. Spark evaluates it JVM-side inside whole-stage codegen (no Python
   boundary — this is what makes normalization viable at 100 TB), and
2. the identical expression string doubles as the DuckDB oracle, proving
   semantic parity.

Only the dialect-shared SQL subset is used (trim/replace/regexp_replace
with ``[.]``-style classes instead of backslash escapes, like/length,
try_cast, floor/ceil, chr). Timestamp parsing needs per-dialect format
strings, so it has two builders.

Money-parsing semantics (mirroring src/transform.py:43-86):
- empty/NULL → NULL
- ``(x)`` → negative
- strip currency symbols ``$ € ₽``, NBSP, spaces
- both ``,`` and ``.`` present: the later one is the decimal point, the
  other is a thousands separator
- lone ``,``: decimal point iff exactly one comma with ≤3 digits after it,
  else thousands separator
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cleaned_parts_sql(col: str) -> tuple[str, str]:
    """(negativity-test SQL, cleaned-digits SQL) for a string column."""
    s0 = f"trim({col})"
    neg = f"({s0} LIKE '(%' AND {s0} LIKE '%)')"
    s1 = f"CASE WHEN {neg} THEN trim(substr({s0}, 2, length({s0}) - 2)) ELSE {s0} END"
    s2 = (
        "replace(replace(replace(replace(replace("
        f"{s1}, '$', ''), '€', ''), '₽', ''), chr(160), ''), ' ', '')"
    )
    return neg, s2


def money_from_parts_sql(
    raw_col: str, neg_col: str, s2_col: str, scale: int = 4, dialect: str = "spark"
) -> str:
    """Money parse from the raw string and its cleaned parts (see
    ``cleaned_parts_sql``): SQL text or attribute references of a staged
    projection.

    The Spark form extracts the after-last-separator tail with
    ``substring_index`` (plain string scan); the DuckDB twin uses a greedy
    regex — Java's regex engine is ~10x the cost of a scan and this runs
    per value per row in the hot path.
    """
    has_dot = f"({s2_col} LIKE '%.%')"
    has_comma = f"({s2_col} LIKE '%,%')"
    if dialect == "spark":
        tail_dot = f"substring_index({s2_col}, '.', -1)"
        tail_comma = f"substring_index({s2_col}, ',', -1)"
    else:
        # greedy '^.*X' strips through the LAST X → tail after last separator
        tail_dot = f"regexp_replace({s2_col}, '^.*[.]', '')"
        tail_comma = f"regexp_replace({s2_col}, '^.*[,]', '')"
    comma_count = f"(length({s2_col}) - length(replace({s2_col}, ',', '')))"
    fixed = f"""CASE
        WHEN {has_dot} AND {has_comma} THEN
            CASE WHEN length({tail_dot}) < length({tail_comma})
                 THEN replace({s2_col}, ',', '')
                 ELSE replace(replace({s2_col}, '.', ''), ',', '.') END
        WHEN {has_comma} THEN
            CASE WHEN {comma_count} = 1 AND length({tail_comma}) <= 3
                 THEN replace({s2_col}, ',', '.')
                 ELSE replace({s2_col}, ',', '') END
        ELSE {s2_col} END"""
    parsed = f"try_cast({fixed} AS decimal(18, {scale}))"
    return f"""CASE
        WHEN {raw_col} IS NULL OR trim({raw_col}) = '' OR {s2_col} = '' THEN NULL
        WHEN {neg_col} THEN -({parsed})
        ELSE {parsed} END"""


def money_sql(col: str, scale: int = 4, dialect: str = "spark") -> str:
    """SQL expr parsing a messy money string → decimal(18, scale) or NULL:
    the staged template with the cleaned parts inlined."""
    neg, s2 = cleaned_parts_sql(col)
    return money_from_parts_sql(col, neg, s2, scale, dialect)


def int_sql(col: str, dialect: str = "spark") -> str:
    """SQL expr: messy string → BIGINT, truncating toward zero.

    floor/ceil instead of a direct cast because DuckDB rounds on
    decimal→int casts while Spark truncates (reference truncates,
    src/transform.py:89-105).
    """
    return int_from_decimal_sql(f"({money_sql(col, scale=4, dialect=dialect)})")


# money_sql/int_sql inline their cleaned-string subexpression at every
# occurrence (SQL has no let-binding), which is fine for a handful of
# columns but blows the whole-stage-codegen method size past janino's
# limits on a 41-column projection (observed: compile failure → interpreted
# fallback, ~70x slower). normalize_staging therefore stages each reused
# piece as its own column (cleaned parts, then the decimal) so later stages
# reference a cheap attribute; Catalyst keeps the stages separate because
# the pieces are non-trivial and multiply-referenced.


def int_from_decimal_sql(dec_col: str) -> str:
    """bigint truncation toward zero from a pre-staged decimal column."""
    return f"""CASE WHEN {dec_col} IS NULL THEN NULL
        WHEN {dec_col} >= 0 THEN cast(floor({dec_col}) AS bigint)
        ELSE cast(ceil({dec_col}) AS bigint) END"""


# Reference format list: src/transform.py:28-34 (ISO first via dateutil,
# then dd.mm.yyyy [hh:mm:ss], yyyy-mm-dd, mm/dd/yyyy, dd/mm/yyyy).
# Single-letter day/month/hour patterns: like the reference's Python
# strptime (%d, transform.py) and DuckDB's try_strptime, they accept BOTH
# zero-padded and unpadded fields ('1.1.1999' and '01.01.1999'); the
# two-letter forms (dd.MM) silently reject unpadded values — a real
# divergence a fuzz against the DuckDB template caught.
_SPARK_FORMATS = [
    None,  # ISO / default parser
    "d.M.yyyy H:m:s",
    "d.M.yyyy",
    "yyyy-M-d",
    "M/d/yyyy",
    "d/M/yyyy",
]
_DUCKDB_FORMATS = [
    None,
    "%d.%m.%Y %H:%M:%S",
    "%d.%m.%Y",
    "%Y-%m-%d",
    "%m/%d/%Y",
    "%d/%m/%Y",
]


def ts_sql_spark(col: str) -> str:
    """Multi-format timestamp parse: first-succeeding-attempt chain.

    In non-ANSI mode ``try_to_timestamp`` returns NULL on mismatch without
    raising, so the blind coalesce chain is cheap (a shape-dispatching CASE
    rewrite measured 2x SLOWER — the extra substring tests cost more than
    the failed parse attempts save).
    """
    attempts = []
    for fmt in _SPARK_FORMATS:
        if fmt is None:
            attempts.append(f"try_to_timestamp({col})")
        else:
            attempts.append(f"try_to_timestamp({col}, '{fmt}')")
    return f"coalesce({', '.join(attempts)})"


def ts_sql_duckdb(col: str) -> str:
    attempts = []
    for fmt in _DUCKDB_FORMATS:
        if fmt is None:
            attempts.append(f"try_cast({col} AS timestamp)")
        else:
            attempts.append(f"try_strptime({col}, '{fmt}')")
    return f"coalesce({', '.join(attempts)})"


# --- Spark Column wrappers -------------------------------------------------


def parse_money(col: str, scale: int = 4) -> Column:
    return F.expr(money_sql(col, scale))


def parse_int(col: str) -> Column:
    return F.expr(int_sql(col))


def parse_timestamp_multi(col: str) -> Column:
    return F.expr(ts_sql_spark(col))
