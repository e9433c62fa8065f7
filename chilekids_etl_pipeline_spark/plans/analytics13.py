"""Analytics operators, batch 13 (round 7): theta/KMV sketch set algebra
across segments and a Benford first-digit fraud screen.

Public recipes re-expressed as declarative Spark plans: KMV/theta
sketch union-intersection estimation (Beyer et al. 2007 "On synopses
for distinct-value estimation", the Theta-Sketch framework of
Dasgupta et al.), and Benford's-law digit testing (Nigrini's standard
forensic-accounting screen, chi-square goodness of fit).

Dual-dialect SQL templates; all sketch algebra is pure integer/hash
arithmetic (bigint hash values, integer-division estimates in micros)
so both engines produce hash-identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table, materialize
from .registry import register


def _idiv(dialect: str) -> str:
    return "DIV" if dialect == "spark" else "//"


def _s(dialect: str) -> str:
    return "string" if dialect == "spark" else "varchar"


def _h32(dialect: str, expr: str) -> str:
    if dialect == "spark":
        return f"cast(conv(substr(md5({expr}), 1, 8), 16, 10) AS bigint)"
    return f"cast(('0x' || substr(md5({expr}), 1, 8)) AS bigint)"


# ---------------------------------------------------------------------------
# theta/KMV sketch set operations


_THETA_K = 64
_HASH_SPACE = 4294967296  # 2^32 — the h32 range


def _theta_sketch_cte(dialect: str) -> str:
    """The sketch-building pass: one distinct scan of the fact table,
    then a per-segment min-k rank. Split out so the Spark entry can
    materialize the (k x |segments|)-row result ONCE — the pair-algebra
    template references ``sketch`` five times, and without the seam
    every reference re-plans (and pre-reuse, re-scans) the fact table:
    the r12 plan audit counted 22 parquet scans / 51 Exchanges in the
    inlined plan."""
    s = _s(dialect)
    h = _h32(
        dialect,
        f"concat(cast(user_id AS {s}), ':', "
        f"cast(cast(ts AS date) AS {s}), ':kmv')",
    )
    return f"""hashes AS (
    -- one distinct 32-bit hash per (segment, active user-day): the only
    -- pass that touches the fact table
    SELECT DISTINCT event_type, {h} AS h FROM events
),
ranked AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n_seg
    FROM hashes
),
sketch AS (SELECT * FROM ranked WHERE rk <= {_THETA_K})"""


def _theta_sql(dialect: str, sketch_src: str | None = None) -> str:
    idiv = _idiv(dialect)
    k = _THETA_K
    sketch_ctes = (
        f"sketch AS (SELECT event_type, h, rk, n_seg FROM {sketch_src})"
        if sketch_src
        else _theta_sketch_cte(dialect)
    )
    return f"""
WITH {sketch_ctes},
theta AS (
    -- per-segment sketch summary: k-th smallest hash = theta; if the
    -- segment has < k distinct values the sketch is exhaustive
    SELECT event_type, cast(max(h) AS bigint) AS theta_h,
           cast(count(*) AS bigint) AS sk_n,
           cast(max(n_seg) AS bigint) AS n_distinct,
           1 AS one
    FROM sketch GROUP BY event_type
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           least(a.theta_h, b.theta_h) AS theta,
           a.sk_n AS k_a, b.sk_n AS k_b
    FROM theta a JOIN theta b
      ON a.one = b.one AND a.event_type < b.event_type
),
common AS (
    -- shared hash values below the pair threshold: sketch-only work,
    -- k x |segments| rows total
    SELECT p.type_a, p.type_b,
           cast(count(*) AS bigint) AS n_common
    FROM pairs p
    JOIN sketch sa ON sa.event_type = p.type_a AND sa.h <= p.theta
    JOIN sketch sb ON sb.event_type = p.type_b AND sb.h = sa.h
    GROUP BY p.type_a, p.type_b
),
merged AS (
    -- union sketch: k smallest of the two sketches' distinct hashes
    SELECT type_a, type_b, h,
           row_number() OVER (PARTITION BY type_a, type_b ORDER BY h)
               AS rk
    FROM (
        SELECT DISTINCT u.type_a, u.type_b, u.h FROM (
            SELECT p.type_a, p.type_b, sa.h
            FROM pairs p JOIN sketch sa ON sa.event_type = p.type_a
            UNION ALL
            SELECT p.type_a, p.type_b, sb.h
            FROM pairs p JOIN sketch sb ON sb.event_type = p.type_b
        ) u
    ) d
),
union_theta AS (
    SELECT type_a, type_b, cast(max(h) AS bigint) AS theta_u,
           cast(count(*) AS bigint) AS k_u
    FROM merged WHERE rk <= {k}
    GROUP BY type_a, type_b
),
common_u AS (
    -- common hashes below the UNION threshold: the theta-sketch
    -- Jaccard numerator (both sketches see everything below theta_u)
    SELECT p.type_a, p.type_b, cast(count(*) AS bigint) AS n_common_u
    FROM pairs p
    JOIN union_theta u ON u.type_a = p.type_a AND u.type_b = p.type_b
    JOIN sketch sa ON sa.event_type = p.type_a AND sa.h <= u.theta_u
    JOIN sketch sb ON sb.event_type = p.type_b AND sb.h = sa.h
    GROUP BY p.type_a, p.type_b
)
SELECT p.type_a, p.type_b, p.k_a, p.k_b, p.theta,
       coalesce(c.n_common, 0) AS n_common,
       -- est(|A ∩ B|) = n_common / (theta / 2^32), exact integer division
       (1000000 * coalesce(c.n_common, 0) * {_HASH_SPACE})
           {idiv} greatest(p.theta, 1) AS est_inter_micro,
       u.theta_u, u.k_u,
       -- est(|A ∪ B|): KMV estimator (k-1)/U_(k), exhaustive when the
       -- merged sketch ran out of values below k
       CASE WHEN u.k_u < {k} THEN 1000000 * u.k_u
            ELSE (1000000 * (u.k_u - 1) * {_HASH_SPACE})
                 {idiv} greatest(u.theta_u, 1)
       END AS est_union_micro,
       -- Jaccard = common-below-theta_u / union-sketch size
       (1000000 * coalesce(cu.n_common_u, 0)) {idiv} u.k_u
           AS jaccard_micro
FROM pairs p
LEFT JOIN common c ON c.type_a = p.type_a AND c.type_b = p.type_b
JOIN union_theta u ON u.type_a = p.type_a AND u.type_b = p.type_b
LEFT JOIN common_u cu
  ON cu.type_a = p.type_a AND cu.type_b = p.type_b
"""


@register("theta_sketch_set_ops", oracle=_theta_sql("duckdb"))
def theta_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set ALGEBRA without the sets: per-segment KMV/theta
    sketches (k smallest distinct active-user-day hashes) combined
    pairwise into intersection / union / Jaccard estimates — "how much
    active-user-day overlap do view and purchase share" answered from
    k·|segments| rows instead of a distinct-join over the fact table. One distinct-scan builds every
    sketch (a min-k is a mergeable partial aggregate; the rank window
    here shuffles only distinct (segment, hash) pairs); all pair algebra
    runs on the tiny sketch table. Estimates are pure integer divisions
    of exact bigints — micros, no doubles anywhere — and the exhaustive
    small-segment case degrades to exact counts. The single-set
    cardinality twin is approx_distinct_kmv; this entry adds the set
    operations that make sketches composable, the property that lets
    100 TB segment-overlap questions run on kilobytes."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    # Materialize the sketch ONCE (r12, guide §2.4/§8 "decide on small
    # rows"): the pair-algebra template references `sketch` five times,
    # and the fully-inlined plan re-planned the fact scan per reference
    # (22 parquet scans / 51 Exchanges, PLAN_AUDIT_r12.json). The sketch
    # is k x |segments| rows (~320), so the eager checkpoint is
    # metadata-sized; every algebra join then reads materialized blocks
    # and the fact table is scanned exactly once.
    sketch = materialize(spark.sql(
        f"WITH {_theta_sketch_cte('spark')} SELECT * FROM sketch"
    ), eager=True)
    return spark.sql(_theta_sql("spark", sketch_src=sketch))


# ---------------------------------------------------------------------------
# Benford first-digit screen


# floor(1e6 * log10(1 + 1/d)) for d = 1..9
_BENFORD_MICRO = (301029, 176091, 124938, 96910, 79181, 66946, 57991,
                  51152, 45757)
_CHI2_CRIT_MICRO = 15_507_000  # chi-square 0.05 critical value, df=8


def _benford_sql(dialect: str) -> str:
    s = _s(dialect)
    p_case = " ".join(
        f"WHEN {d + 1} THEN {p}" for d, p in enumerate(_BENFORD_MICRO)
    )
    digits = (
        "LATERAL VIEW explode(sequence(1, 9)) dd AS digit"
        if dialect == "spark"
        else ", LATERAL (SELECT unnest(range(1, 10)) AS digit) dd"
    )
    return f"""
WITH vals AS (
    -- first significant digit via exact integer cents (leading digit is
    -- invariant under the x100 decimal shift); string of a bigint is
    -- engine-identical, unlike double formatting
    SELECT o_orderpriority AS segment,
           cast(substr(cast(cast(round(o_totalprice * 100) AS bigint)
                            AS {s}), 1, 1) AS int) AS digit
    FROM orders WHERE o_totalprice > 0
),
segs AS (
    SELECT segment, cast(count(*) AS bigint) AS n_orders
    FROM vals GROUP BY segment
),
obs AS (
    SELECT segment, digit, cast(count(*) AS bigint) AS obs
    FROM vals GROUP BY segment, digit
),
dims AS (
    SELECT sg.segment, sg.n_orders, dd.digit,
           CASE dd.digit {p_case} END AS p_micro
    FROM segs sg {digits}
),
terms AS (
    SELECT m.segment, m.n_orders, m.digit,
           coalesce(o.obs, 0) AS obs,
           m.n_orders * m.p_micro AS exp_micro,
           -- chi-square term in micros: (1e6*obs - exp_micro)^2 /
           -- exp_micro; delta is an exact bigint, the squaring runs in
           -- double (identical expression both engines), floor-quantized
           cast(floor(
               cast(1000000 * coalesce(o.obs, 0)
                    - m.n_orders * m.p_micro AS double)
               * cast(1000000 * coalesce(o.obs, 0)
                      - m.n_orders * m.p_micro AS double)
               / cast(m.n_orders * m.p_micro AS double)) AS bigint)
               AS term_micro
    FROM dims m
    LEFT JOIN obs o ON o.segment = m.segment AND o.digit = m.digit
)
SELECT segment, digit, n_orders, obs, exp_micro, term_micro,
       cast(sum(term_micro) OVER (PARTITION BY segment) AS bigint)
           AS chi2_micro,
       cast(sum(term_micro) OVER (PARTITION BY segment) AS bigint)
           > {_CHI2_CRIT_MICRO} AS benford_violation
FROM terms
"""


@register("benford_digit_screen", oracle=_benford_sql("duckdb"))
def benford_digit_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals, per priority
    segment — the standard forensic-accounting test for fabricated or
    systematically clipped amounts: observed first-significant-digit
    counts vs the log10(1+1/d) expectation, chi-square statistic (df=8)
    in exact micros with the 0.05 critical-value flag. The digit
    extraction rides the exact-cents bigint (never double formatting),
    so the scan reduces to a (segment, digit) count — mergeable
    partials, 45 result rows no matter the table size; the expectation
    constants are compile-time micros. TPC-H's generated uniform prices
    flatly violate Benford (real ledgers approximate it) — the screen's
    job is exactly to say so, and a probe pins the violation flag."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_benford_sql("spark"))
