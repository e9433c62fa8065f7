"""Extended analytics, batch 8: rolling-window distinct counts via
mergeable HLL registers (the sketch-reuse pattern that makes windowed
distinct feasible at 100 TB), and co-occurrence graph triangle/
clustering statistics (one graph metric deeper than the pairwise lift
the basket entry computes).

Dual-dialect SQL templates; the HLL expressions come from
functions/sketch.py so batch, streaming, and this windowed variant all
share bit-identical registers. Registered after the external gate
window; rotates next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.sketch import (
    HLL_M,
    HLL_POW,
    hll_bucket_sql,
    hll_estimate_from_fp_sql,
    hll_hash_sql,
    hll_rho_sql,
    hll_shifted_sql,
    hll_w_sql,
)
from ..sources.tables import load_table, materialize
from .registry import register

# ---------------------------------------------------------------------------
# rolling 7-day distinct users via mergeable HLL registers

def _rolling_hll_sql(dialect: str) -> str:
    h = hll_hash_sql(dialect, "user_id")
    return f"""
WITH pairs AS (
    SELECT date_trunc('day', ts) AS d, user_id FROM events
),
parts AS (
    SELECT d, {hll_bucket_sql(dialect)} AS bucket, {hll_w_sql(dialect)} AS w
    FROM (SELECT d, {h} AS h FROM pairs)
),
regs AS (
    SELECT d, bucket, max(r) AS r
    FROM (SELECT d, bucket, {hll_rho_sql()} AS r FROM parts) x
    GROUP BY d, bucket
),
days AS (SELECT DISTINCT d FROM pairs),
merged AS (
    SELECT g.d, r.bucket, max(r.r) AS r
    FROM days g JOIN regs r
      ON r.d <= g.d AND r.d >= g.d - INTERVAL 6 DAY
    GROUP BY g.d, r.bucket
),
sums AS (
    SELECT d,
           cast(count(*) AS bigint) AS n_present,
           cast(sum({hll_shifted_sql(dialect)}) AS bigint) AS present_sum
    FROM merged GROUP BY d
),
est AS (
    SELECT d, n_present,
           present_sum + ({HLL_M} - n_present) * cast({HLL_POW} AS bigint)
               AS harmonic_fp,
           {HLL_M} - n_present AS zeros
    FROM sums
),
exact AS (
    SELECT g.d, cast(count(DISTINCT p.user_id) AS bigint) AS exact_users
    FROM days g JOIN (SELECT DISTINCT d, user_id FROM pairs) p
      ON p.d <= g.d AND p.d >= g.d - INTERVAL 6 DAY
    GROUP BY g.d
)
SELECT cast(e.d AS date) AS day,
       round({hll_estimate_from_fp_sql("harmonic_fp", "zeros")}, 4)
           AS hll_estimate,
       x.exact_users,
       round(abs({hll_estimate_from_fp_sql("harmonic_fp", "zeros")}
                 - x.exact_users) / x.exact_users, 6) AS rel_err
FROM est e JOIN exact x ON e.d = x.d
"""


@register("rolling_distinct_hll", oracle=_rolling_hll_sql("duckdb"))
def rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day from MERGED daily HLL
    registers, with the exact answer and relative error in the same
    output. This is the pattern that makes windowed COUNT DISTINCT
    feasible at 100 TB: the fact table reduces once to (day, register)
    rows — m=256 per day, mergeable by MAX — and every window variant
    (7d, 28d, month-to-date) derives from that tiny table without
    re-touching events; exact windowed distinct must re-scan the fact
    per window. The register expressions are shared with
    hll_distinct_portable and the streaming sketch, so all three
    surfaces agree bit-for-bit. The day-grid range join is 30 × 7 ×
    256 rows — calendar-bounded at any data scale (allowlisted BNLJ).
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_rolling_hll_sql("spark"))


# ---------------------------------------------------------------------------
# co-occurrence graph triangles

_TRI_MIN_SUPPORT = 3


def _triangle_edges_sql(dialect: str) -> str:
    return f"""
    SELECT a.b AS b1, x.b AS b2
    FROM (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey) a
    JOIN (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey) x
      ON a.ok = x.ok AND a.b < x.b
    GROUP BY a.b, x.b
    HAVING count(*) >= {_TRI_MIN_SUPPORT}
"""


def _triangle_sql(dialect: str, edges_src: str | None = None) -> str:
    edges_body = (
        f"SELECT b1, b2 FROM {edges_src}"
        if edges_src
        else _triangle_edges_sql(dialect)
    )
    return f"""
WITH edges AS ({edges_body}),
tri AS (
    SELECT count(*) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.b1 = e1.b2
    JOIN edges e3 ON e3.b1 = e1.b1 AND e3.b2 = e2.b2
),
deg AS (
    SELECT node, cast(count(*) AS bigint) AS degree FROM (
        SELECT b1 AS node FROM edges
        UNION ALL
        SELECT b2 AS node FROM edges
    ) u GROUP BY node
),
wedge AS (
    SELECT cast(sum(degree * (degree - 1)) AS bigint) / 2 AS n_wedges,
           cast(count(*) AS bigint) AS n_nodes
    FROM deg
)
SELECT w.n_nodes,
       (SELECT cast(count(*) AS bigint) FROM edges) AS n_edges,
       cast(t.n_triangles AS bigint) AS n_triangles,
       w.n_wedges,
       round(cast(3 AS double) * t.n_triangles / w.n_wedges, 6)
           AS global_clustering
FROM wedge w CROSS JOIN tri t
"""


@register("graph_triangle_stats", oracle=_triangle_sql("duckdb"))
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count and global clustering coefficient of the brand
    co-purchase graph — one structural level deeper than
    market_basket_pairs' pairwise lift (a triangle is a cross-sell
    TRIAD; clustering coefficient distinguishes a clique-y catalog from
    a hub-and-spoke one). The edge list is distilled first (support
    threshold over basket pairs, pair work bounded by basket size), and
    the triangle join runs edge-list × edge-list on equi keys — the
    standard two-join triangle enumeration, linear-ish in edges for a
    support-thresholded graph whose node set (brands) is catalog-sized,
    not data-sized. Wedge counts derive from degrees for the
    denominator.

    Perf: the edge list is referenced five times (three triangle legs,
    the degree table, the edge count) — SQL inlining re-ran the
    basket-pair join+aggregate five times (2.6 s at sf0.1); the ~300-row
    edge table is materialized once (→ ~0.6 s)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    # lazy persist: the eager localCheckpoint's blocking job
    # A/B-measured +0.96 s median here (AB_r12_batch2) — the edge table
    # is tiny and its five racing recomputes overlap, while the
    # checkpoint barrier is pure serial latency.
    edges = materialize(spark.sql(_triangle_edges_sql("spark")))
    return spark.sql(_triangle_sql("spark", edges_src=edges))


# ---------------------------------------------------------------------------
# feature scaling (z-score / percent-rank / min-max)

def _scaling_sql(dialect: str) -> str:
    return """
WITH sampled AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 101 = 0
),
stats AS (
    SELECT o_orderstatus,
           avg(o_totalprice) AS mu,
           stddev_samp(o_totalprice) AS sigma,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM sampled GROUP BY o_orderstatus
),
ranked AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           percent_rank() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS pr
    FROM sampled
)
SELECT r.o_orderkey, r.o_orderstatus,
       round((r.o_totalprice - s.mu) / s.sigma, 6) AS z_score,
       round(r.pr, 6) AS pct_rank,
       round((r.o_totalprice - s.lo) / (s.hi - s.lo), 6) AS min_max
FROM ranked r JOIN stats s ON r.o_orderstatus = s.o_orderstatus
"""


@register("feature_scaling", oracle=_scaling_sql("duckdb"))
def feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature normalization three ways — z-score (group
    moments), percent-rank (distribution-free), min-max — the standard
    prep before features feed a model, done per status group so one
    group's scale does not leak into another's. Group stats come from
    one map-side-combined aggregate broadcast back onto the rows; the
    only sort is the per-group percent_rank window, which at 100 TB is
    the one to replace with the histogram_quantile sketch if the group
    is a whole fact table. percent_rank and stddev_samp evaluate
    identically in Spark and DuckDB; ties in the rank window are broken
    by key so both engines order identically."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_scaling_sql("spark"))


# ---------------------------------------------------------------------------
# incremental view maintenance (delta-merge a monthly mart)

def _ivm_sql(dialect: str) -> str:
    month = "date_trunc('month', o_orderdate)"
    return f"""
WITH old_state AS (
    SELECT {month} AS month, o_orderstatus AS status,
           cast(count(*) AS bigint) AS n_orders,
           sum(o_totalprice) AS revenue
    FROM orders WHERE o_orderkey % 7 <> 0
    GROUP BY {month}, o_orderstatus
),
delta AS (
    SELECT {month} AS month, o_orderstatus AS status,
           cast(count(*) AS bigint) AS n_orders,
           sum(o_totalprice) AS revenue
    FROM orders WHERE o_orderkey % 7 = 0
    GROUP BY {month}, o_orderstatus
),
merged AS (
    SELECT month, status,
           cast(sum(n_orders) AS bigint) AS n_orders,
           sum(revenue) AS revenue
    FROM (
        SELECT * FROM old_state
        UNION ALL
        SELECT * FROM delta
    ) u GROUP BY month, status
),
full_recompute AS (
    SELECT {month} AS month, o_orderstatus AS status,
           cast(count(*) AS bigint) AS n_orders,
           sum(o_totalprice) AS revenue
    FROM orders GROUP BY {month}, o_orderstatus
)
SELECT cast(m.month AS date) AS month, m.status, m.n_orders,
       round(m.revenue, 2) AS revenue,
       m.n_orders = f.n_orders
           AND abs(m.revenue - f.revenue)
               < 1e-9 * greatest(abs(f.revenue), cast(1 AS double))
           AS matches_full
FROM merged m
JOIN full_recompute f ON f.month = m.month AND f.status = m.status
"""


@register("incremental_mart_merge", oracle=_ivm_sql("duckdb"))
def incremental_mart_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a SUM/COUNT mart: the existing
    aggregate state absorbs a delta batch by group-summing the union of
    partial aggregates — touching only the delta's groups — and the
    output carries a per-row proof that the merged state equals a full
    recompute. This is THE pattern that keeps a 100 TB mart fresh from
    a 100 GB daily delta (self-maintainable aggregates: SUM/COUNT/MIN
    with insert-only deltas need no base-table revisit; plans/refresh.py
    holds the partition-overwrite writer side). The equality flag uses a
    RELATIVE 1e-9 tolerance (floored at 1 absolute) because the two
    sides sum doubles in different orders and accumulated error grows
    with group size — an absolute epsilon would flip nondeterministically
    at larger scale factors. The proof is semantic equality, not bit
    equality."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_ivm_sql("spark"))
