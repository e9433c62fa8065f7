"""Full staging-record normalization query (reference parity, wide form).

The reference's core transform turns every raw Google-Sheets payload into
the 45-column ``staging.records`` row (src/transform.py:123-197 +
src/models.py). Here the same thing is proven end-to-end at table scale:
messy payloads are synthesized from lineitem in three header dialects
(English / Russian / snake_case — the exact key-variant fallback chain
transform.py's ``_get`` implements), then ``normalize_staging`` extracts
and types every staging column in one whole-stage-codegen projection.

The DuckDB oracle is generated from the SAME column spec
(``STAGING_COLUMNS``) through the dialect-portable ``extract_raw_sql``, so the
test proves the full 41-column extraction+parse matrix, not a sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import int_sql, money_sql, ts_sql_duckdb
from ..operators.staging import (
    FINANCIAL_TYPES,
    STAGING_COLUMNS,
    extract_raw_sql,
    normalize_staging,
)
from ..sources.tables import load_table, maybe_rebalance
from .registry import register

# Header dialect per row (l_orderkey % 4): English, Russian, snake_case,
# and a novel-cased dialect no variant list enumerates — resolvable only
# through the reference's normalized-arbitrary-key fallback
# (transform.py:108-115), which is exactly what it exercises.
_STYLES = [
    {"date": "Date", "type": "Type", "client": "Client", "category": "Category",
     "total": "Total RUB", "year": "Year", "month": "Month"},
    {"date": "Дата", "type": "Тип", "client": "Клиент", "category": "Категория",
     "total": "РУБ сумма", "year": "Год", "month": "Месяц"},
    {"date": "date", "type": "type", "client": "client", "category": "category",
     "total": "total_rub", "year": "year", "month": "month"},
    {"date": "DATE", "type": "TYPE", "client": "CLIENT", "category": "CATEGORY",
     "total": "Total rub", "year": "YEAR", "month": "MONTH"},
]

_TYPE_CASE = """CASE cast(l_linenumber % 4 AS int)
    WHEN 0 THEN 'Income' WHEN 1 THEN 'Expense'
    WHEN 2 THEN 'Доход' ELSE 'Прочее' END"""


def _payload_sql(dialect: str) -> str:
    """Build the messy JSON payload string, identical in both dialects."""
    # Imported lazily so loading this module does not register elt's
    # queries first (registry insertion order matters to external tooling).
    from .elt import _messy_date, _messy_money

    d = _messy_date(dialect)
    m = _messy_money(dialect)
    client = "concat('Client_', cast(l_partkey % 100 AS string))"
    # leading space; every 7th order carries unparseable garbage so the
    # parse_failed_cols validation path is exercised (int parse of 'N/A'
    # fails identically in both engines)
    yr = ("CASE WHEN l_orderkey % 7 = 0 THEN 'N/A' "
          "ELSE concat(' ', cast(year(l_shipdate) AS string)) END")
    mo = "concat(cast(month(l_shipdate) AS string), ',0')"  # decimal comma
    branches = []
    for i, ks in enumerate(_STYLES):
        # Total key omitted on ~20% of rows → financial_missing_total flag.
        total = (
            "CASE WHEN l_orderkey % 5 = 0 THEN '' "
            f"ELSE concat(',\"{ks['total']}\":\"', {m}, '\"') END"
        )
        js = (
            f"concat('{{\"{ks['date']}\":\"', {d}, "
            f"'\",\"{ks['type']}\":\"', {_TYPE_CASE}, "
            f"'\",\"{ks['client']}\":\"', {client}, "
            f"'\",\"{ks['category']}\":\"', l_returnflag, "
            f"'\",\"{ks['year']}\":\"', {yr}, "
            f"'\",\"{ks['month']}\":\"', {mo}, "
            f"'\"', {total}, '}}')"
        )
        branches.append(f"WHEN {i} THEN {js}")
    return f"CASE cast(l_orderkey % 4 AS int) {' '.join(branches)} END"


def _staging_oracle() -> str:
    # Staged CTEs mirror normalize_staging's staging: raw extraction (with
    # the normalized-arbitrary-key fallback) happens once per column in
    # ``ext`` so the parser templates below reference a plain column instead
    # of inlining the (large) fallback coalesce at every occurrence.
    exts, parses, names, flags = [], [], [], []
    for name, typ, variants in STAGING_COLUMNS:
        exts.append(
            f"{extract_raw_sql('payload', variants, dialect='duckdb')} AS __r_{name}"
        )
        names.append(name)
        if typ == "str":
            parses.append(f"__r_{name} AS {name}")
            continue
        if typ == "money":
            parses.append(
                f"cast({money_sql(f'__r_{name}', dialect='duckdb')} AS double) AS {name}"
            )
        elif typ == "int":
            parses.append(f"{int_sql(f'__r_{name}', dialect='duckdb')} AS {name}")
        else:
            parses.append(f"{ts_sql_duckdb(f'__r_{name}')} AS {name}")
        parses.append(f"__r_{name}")
        flags.append(
            f"CASE WHEN __r_{name} IS NOT NULL AND trim(__r_{name}) <> '' "
            f"AND {name} IS NULL THEN '{name}' END"
        )
    fin = ", ".join(f"'{t}'" for t in FINANCIAL_TYPES)
    failed = (
        f"array_to_string(list_filter([{', '.join(flags)}], f -> f IS NOT NULL), ',')"
    )
    return f"""
WITH raw AS (
    SELECT l_orderkey, l_linenumber, {_payload_sql('duckdb')} AS payload
    FROM lineitem
),
ext AS (
    SELECT l_orderkey, l_linenumber, {', '.join(exts)} FROM raw
),
parsed AS (
    SELECT l_orderkey, l_linenumber, {', '.join(parses)} FROM ext
)
SELECT l_orderkey, l_linenumber, {', '.join(names)},
       (type IN ({fin})) AND total_rub IS NULL AS financial_missing_total,
       {failed} AS parse_failed_cols
FROM parsed
"""


@register("staging_records", oracle=_staging_oracle)
def staging_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full payload→staging.records transform
    (src/transform.py:123-197) as one wide codegen projection."""
    li = load_table(spark, sf_dir, "lineitem")
    # The wide parse is CPU-bound; rebalance the thin (3-column) payload
    # frame across all cores first. Single-row-group parquet gives the scan
    # exactly one split, and at cluster scale a few fat input files would
    # starve the parse the same way — the shuffle moves ~raw bytes once and
    # buys full parallelism for the 41-column normalization above it.
    # force=True: even at 32 natural splits the round-robin balance wins
    # here (sf1 A/B: 14.6 s balanced vs 15.7 s on raw lopsided splits) —
    # the per-row parse is heavy enough that even task sizes beat the
    # shuffle cost, unlike the thin-projection callers.
    raw = maybe_rebalance(
        li.select("l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice",
                  "l_returnflag", "l_shipdate"),
        force=True,
    ).select("l_orderkey", "l_linenumber", F.expr(_payload_sql("spark")).alias("payload"))
    out = normalize_staging(raw, "payload")
    proj = [F.col("l_orderkey"), F.col("l_linenumber")]
    for name, typ, _ in STAGING_COLUMNS:
        c = F.col(name)
        proj.append((c.cast("double") if typ == "money" else c).alias(name))
    proj.append(F.col("financial_missing_total"))
    proj.append(F.col("parse_failed_cols"))
    return out.select(*proj)
