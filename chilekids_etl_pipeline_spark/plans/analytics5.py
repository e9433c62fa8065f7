"""Extended analytics, batch 5: market-basket co-occurrence with lift,
RFM customer segmentation, daily order-backlog via interval event
cumulation, and funnel time-to-convert distribution.

Dual-dialect SQL templates like the rest of the catalog (Spark plan and
DuckDB oracle from one string). Must not import other plan modules —
registry insertion order is the external gate's sampling window
(tests/test_registry_order.py).
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
# market-basket brand co-occurrence + lift

_BASKET_MIN_COOC = 2


_BASKET_ITEMS = """
    SELECT DISTINCT l_orderkey, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def _basket_sql(dialect: str, items_src: str | None = None) -> str:
    # items_src lets the Spark side persist the distinct basket table
    # once: the CTE is referenced three times (order count, brand
    # counts, both pair sides) and SQL inlining re-runs the join+distinct
    # per reference
    items_body = f"SELECT * FROM {items_src}" if items_src else _BASKET_ITEMS
    return f"""
WITH items AS ({items_body}),
norders AS (SELECT cast(count(DISTINCT l_orderkey) AS bigint) AS n FROM items),
brand_cnt AS (
    SELECT p_brand, cast(count(*) AS bigint) AS n_orders
    FROM items GROUP BY p_brand
),
pairs AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           cast(count(*) AS bigint) AS n_cooc
    FROM items a
    JOIN items b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY a.p_brand, b.p_brand
)
SELECT brand_a, brand_b, n_cooc,
       ca.n_orders AS n_a, cb.n_orders AS n_b,
       n_cooc * norders.n / cast(ca.n_orders * cb.n_orders AS double) AS lift
FROM pairs
JOIN brand_cnt ca ON ca.p_brand = brand_a
JOIN brand_cnt cb ON cb.p_brand = brand_b
CROSS JOIN norders
WHERE n_cooc >= {_BASKET_MIN_COOC}
"""


def _basket_spark_sql() -> str:
    """Spark-side array-basket form: ONE wide shuffle (collect_set per
    order) instead of the oracle's distinct + self-join + agg chain;
    every downstream table (order count, per-brand counts, pair counts)
    derives from the compact basket arrays. The sorted set makes the
    positional i<j condition identical to the oracle's brand_a < brand_b
    (and set semantics identical to its DISTINCT)."""
    return f"""
WITH joined AS (
    SELECT l_orderkey, p_brand FROM lineitem JOIN part ON l_partkey = p_partkey
),
baskets AS (
    SELECT l_orderkey, array_sort(collect_set(p_brand)) AS bs
    FROM joined GROUP BY l_orderkey
),
norders AS (SELECT cast(count(*) AS bigint) AS n FROM baskets),
brand_cnt AS (
    SELECT brand AS p_brand, cast(count(*) AS bigint) AS n_orders
    FROM (SELECT explode(bs) AS brand FROM baskets) GROUP BY brand
),
pairs AS (
    SELECT ba AS brand_a, bb AS brand_b, cast(count(*) AS bigint) AS n_cooc
    FROM baskets
    LATERAL VIEW posexplode(bs) pa AS i, ba
    LATERAL VIEW posexplode(bs) pb AS j, bb
    WHERE i < j
    GROUP BY ba, bb
)
SELECT brand_a, brand_b, n_cooc, ca.n_orders AS n_a, cb.n_orders AS n_b,
       n_cooc * norders.n / cast(ca.n_orders * cb.n_orders AS double) AS lift
FROM pairs
JOIN brand_cnt ca ON ca.p_brand = brand_a
JOIN brand_cnt cb ON cb.p_brand = brand_b
CROSS JOIN norders
WHERE n_cooc >= {_BASKET_MIN_COOC}
"""


@register("market_basket_pairs", oracle=_basket_sql("duckdb"))
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: brand pairs co-purchased within an order,
    with lift = P(a,b) / (P(a)·P(b)) — the association-rule primitive.
    Pairwise work is bounded by per-order basket size (≤ 7 lineitems in
    this schema), never corpus-wide; the part dimension joins broadcast;
    lift's only division happens once per output row over exact integer
    counts. At 100 TB the same plan holds — the quadratic term rides the
    basket size, not the table size.

    Perf: the Spark side uses the array-basket form (_basket_spark_sql)
    — collect_set per order is the ONLY wide shuffle, and order counts /
    brand counts / sorted-pair counts all derive from the basket arrays
    (r7 A/B at sf0.1: 2.2 s self-join chain → 1.4 s; the r6 persist A/B
    that showed ReusedExchange already deduped the self-join's subtrees
    predates this and is moot). The oracle keeps the self-join form,
    which states the same semantics."""
    for t in ("lineitem", "part"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_basket_spark_sql())


# ---------------------------------------------------------------------------
# RFM segmentation

_RFM_FRACS = "0.25, 0.5, 0.75"


def _rfm_base_sql(dialect: str) -> str:
    """Standalone statement producing (o_custkey, recency_days,
    frequency, monetary)."""
    days = (
        "datediff(ref_date, last_date)"
        if dialect == "spark"
        else "datediff('day', last_date, ref_date)"
    )
    return f"""
WITH base AS (
    SELECT o_custkey,
           cast(max(o_orderdate) AS date) AS last_date,
           cast(count(*) AS bigint) AS frequency,
           cast(sum(cast(o_totalprice AS decimal(18, 2))) AS double) AS monetary
    FROM orders GROUP BY o_custkey
),
ref AS (SELECT cast(max(o_orderdate) AS date) AS ref_date FROM orders)
SELECT o_custkey, cast({days} AS bigint) AS recency_days,
       frequency, monetary
FROM base CROSS JOIN ref
"""


def _rfm_sql(dialect: str, rfm_src: str | None = None) -> str:
    if dialect == "spark":
        q = "percentile({c}, array({f}))"
        nbelow = "cast(size(filter({t}, x -> x < {v})) AS int) + 1"
    else:
        q = "quantile_cont({c}, [{f}])"
        nbelow = "cast(len(list_filter({t}, x -> x < {v})) AS int) + 1"
    # rfm_src lets the Spark side persist the per-customer aggregate
    # once: the CTE feeds both the threshold row and the final scoring
    # scan, and SQL inlining would run the orders groupBy twice
    rfm_body = (
        f"SELECT * FROM {rfm_src}" if rfm_src else _rfm_base_sql(dialect)
    )
    return f"""
WITH rfm AS ({rfm_body}),
th AS (
    SELECT {q.format(c='recency_days', f=_RFM_FRACS)} AS tr,
           {q.format(c='frequency', f=_RFM_FRACS)} AS tf,
           {q.format(c='monetary', f=_RFM_FRACS)} AS tm
    FROM rfm
)
SELECT o_custkey, recency_days, frequency, monetary,
       5 - ({nbelow.format(t='tr', v='recency_days')}) AS r_score,
       {nbelow.format(t='tf', v='frequency')} AS f_score,
       {nbelow.format(t='tm', v='monetary')} AS m_score,
       CASE WHEN 5 - ({nbelow.format(t='tr', v='recency_days')}) >= 3
                 AND {nbelow.format(t='tf', v='frequency')} >= 3
            THEN 'loyal'
            WHEN 5 - ({nbelow.format(t='tr', v='recency_days')}) <= 2
                 AND {nbelow.format(t='tm', v='monetary')} >= 3
            THEN 'at_risk_high_value'
            WHEN 5 - ({nbelow.format(t='tr', v='recency_days')}) >= 3
            THEN 'recent'
            ELSE 'hibernating' END AS segment
FROM rfm CROSS JOIN th
"""


@register("rfm_segmentation", oracle=_rfm_sql("duckdb"))
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) customer segmentation: per
    customer, days since last order, order count, exact decimal-summed
    spend — each scored into quartiles. NOT an ntile global sort: the
    three quartile-threshold arrays reduce to ONE broadcast row (the
    length_curriculum_buckets pattern) and every customer scores with a
    strictly-less count against them, so the only corpus shuffle is the
    per-customer groupBy. Recency inverts (recent = high score); the
    segment label is the standard 2-axis read of the scores."""
    # A/B r5 (idle, sf0.1, median of 4): persisted 0.61 s vs inline
    # 0.81 s — the base aggregate feeds the threshold row AND the final
    # scoring scan under different exchanges, so the persist is kept.
    # The r4 driver-bench 2.45 s row was concurrent-load variance
    # (idle remeasure 0.54-0.66 s).
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    rfm = materialize(spark.sql(_rfm_base_sql("spark")))
    return spark.sql(_rfm_sql("spark", rfm_src=rfm))


# ---------------------------------------------------------------------------
# daily open-order backlog

_BACKLOG_SPANS = """
    SELECT o_orderkey,
           cast(min(o_orderdate) AS date) AS opened,
           cast(max(l_shipdate) AS date) AS closed
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey
"""

# Spark-side variant: aggregate lineitem BELOW the join (6M rows shrink to
# one per order before joining orders — o_orderdate is functionally
# dependent on the key, so only max(l_shipdate) needs the wide side).
# Catalyst doesn't push aggregates through joins; idle sf1 A/B 1.75 s
# (join-then-agg) vs 1.45 s. Same result by construction.
_BACKLOG_SPANS_SPARK = """
    SELECT o_orderkey, cast(o_orderdate AS date) AS opened, ls.closed
    FROM orders JOIN (
        SELECT l_orderkey, cast(max(l_shipdate) AS date) AS closed
        FROM lineitem GROUP BY l_orderkey
    ) ls ON ls.l_orderkey = o_orderkey
"""

_BACKLOG_ORACLE_TEMPLATE = """
WITH spans AS ({spans_body}),
deltas AS (
    SELECT opened AS d, 1 AS delta FROM spans
    UNION ALL
    SELECT {next_day}, -1 FROM spans
),
daily AS (
    SELECT d, cast(sum(delta) AS bigint) AS net FROM deltas GROUP BY d
)
SELECT d, net,
       cast(sum(net) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
           AS open_orders
FROM daily
"""


def _backlog_sql(dialect: str, spans_src: str | None = None) -> str:
    next_day = "date_add(closed, 1)" if dialect == "spark" else "closed + 1"
    # spans_src lets the Spark side persist the per-order span aggregate
    # once: both UNION ALL delta branches scan it, and SQL inlining
    # would run the orders⋈lineitem groupBy twice
    spans_body = f"SELECT * FROM {spans_src}" if spans_src else _BACKLOG_SPANS
    return _BACKLOG_ORACLE_TEMPLATE.format(
        next_day=next_day, spans_body=spans_body
    )


@register("order_backlog_daily", oracle=_backlog_sql("duckdb"))
def order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog (orders placed but not yet fully shipped):
    each order's [orderdate, last shipdate] interval becomes a +1/-1
    event pair, summed per day, then cumulated. This event-izing is the
    scale-correct way to count concurrent intervals — no per-day × per-
    order range join, and the cumulative window runs over the DATE
    aggregate (bounded by the calendar, ~2.4k rows here), not the fact
    table. Orders without lineitems (none in this schema) would be open-
    ended and are excluded by the inner join. The Spark side aggregates
    lineitem below the join (see _BACKLOG_SPANS_SPARK)."""
    for t in ("orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    spans = materialize(spark.sql(_BACKLOG_SPANS_SPARK))
    return spark.sql(_backlog_sql("spark", spans_src=spans))


# ---------------------------------------------------------------------------
# funnel time-to-convert

_CONVERT_MAX_DAY_BUCKET = 7


def _convert_sql(dialect: str) -> str:
    # microsecond-integer epochs: DuckDB's epoch() keeps fractional
    # seconds (a DOUBLE) while Spark's unix_timestamp() floors — the
    # integer-microsecond forms are exact and identical in both engines
    epoch = "unix_micros({c})" if dialect == "spark" else "epoch_us({c})"
    op = "DIV" if dialect == "spark" else "//"
    lat = (
        f"(({epoch.format(c='tp')} - {epoch.format(c='t0')}) {op} 1000000)"
    )
    day = f"least(({lat}) {op} 86400, {_CONVERT_MAX_DAY_BUCKET})"
    return f"""
WITH first_view AS (
    SELECT user_id, min(ts) AS t0 FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
first_purchase AS (
    SELECT e.user_id, min(e.ts) AS tp
    FROM events e JOIN first_view v ON e.user_id = v.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= v.t0
    GROUP BY e.user_id
),
latency AS (
    SELECT v.user_id, cast({lat} AS bigint) AS latency_sec,
           cast({day} AS bigint) AS day_bucket
    FROM first_view v JOIN first_purchase p ON v.user_id = p.user_id
)
SELECT day_bucket,
       cast(count(*) AS bigint) AS n_users,
       cast(sum(latency_sec) AS bigint) AS total_latency_sec,
       {_intdiv_sum(dialect)} AS avg_latency_sec
FROM latency
GROUP BY day_bucket
"""


def _intdiv_sum(dialect: str) -> str:
    op = "DIV" if dialect == "spark" else "//"
    return f"cast(sum(latency_sec) {op} count(*) AS bigint)"


@register("funnel_time_conversion", oracle=_convert_sql("duckdb"))
def funnel_time_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per user, the time from first 'view' to the first
    'purchase' at-or-after it, bucketed into days (capped at a week) —
    the time-to-convert distribution that sits beside the events_funnel
    conversion counts. Two keyed min-aggregations and one equi-join on
    user_id (the purchase side is pre-filtered to funnel entrants);
    latency sums in exact integer seconds, averaged by integer division
    — fully portable, no floating aggregation."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_convert_sql("spark"))


# ---------------------------------------------------------------------------
# CDC apply: materialize a change-data-capture log onto a snapshot

def _cdc_sql(dialect: str) -> str:
    return """
WITH log AS (
    SELECT o_orderkey AS key, 1 AS seq, 'I' AS op,
           cast(o_totalprice AS decimal(18, 2)) AS price
    FROM orders
    UNION ALL
    SELECT o_orderkey, 2, 'U',
           cast(o_totalprice AS decimal(18, 2)) + cast(10 AS decimal(18, 2))
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey, 3, 'D', NULL FROM orders WHERE o_orderkey % 13 = 0
),
latest AS (
    SELECT key, seq, op, price,
           row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
    FROM log
)
SELECT key, op AS last_op, cast(price AS double) AS price,
       cast(seq AS bigint) AS version
FROM latest WHERE rn = 1 AND op <> 'D'
"""


@register("cdc_apply", oracle=_cdc_sql("duckdb"))
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture compaction: a Debezium-shaped I/U/D log
    (synthesized deterministically from orders: every 7th key updated,
    every 13th deleted) collapses to the final snapshot — last operation
    per key wins, deletes drop the row. This is the read-side of the
    reference's ON CONFLICT upsert generalized to full CDC, and the
    exact shape a MERGE INTO executes on a table format. One
    row_number window per key (single hash shuffle); updates arithmetic
    stays in decimal so the applied value is exact."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_cdc_sql("spark"))


# ---------------------------------------------------------------------------
# snapshot diff / reconciliation

def _snapdiff_sql(dialect: str) -> str:
    return """
WITH snap_b AS (
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 100.0
                ELSE c_acctbal END AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 17 <> 0
    UNION ALL
    SELECT c_custkey + 500000, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 23 = 0
),
joined AS (
    SELECT coalesce(a.c_custkey, b.c_custkey) AS key,
           a.c_custkey AS ka, b.c_custkey AS kb,
           a.c_acctbal AS bal_a, b.c_acctbal AS bal_b,
           CASE WHEN a.c_custkey IS NULL THEN 'added'
                WHEN b.c_custkey IS NULL THEN 'removed'
                WHEN a.c_acctbal <> b.c_acctbal
                     OR a.c_name <> b.c_name
                     OR a.c_nationkey <> b.c_nationkey
                     OR a.c_mktsegment <> b.c_mktsegment THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM customer a FULL OUTER JOIN snap_b b ON a.c_custkey = b.c_custkey
)
SELECT key, change_type,
       cast(bal_a AS double) AS old_acctbal,
       cast(bal_b AS double) AS new_acctbal
FROM joined WHERE change_type <> 'unchanged'
"""


@register("table_snapshot_diff", oracle=_snapdiff_sql("duckdb"))
def table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table reconciliation: diff two snapshots of the customer dimension
    (snapshot B synthesized with planted changes: +100 balance on every
    11th key, every 17th key deleted, every 23rd re-inserted under a new
    key) into added/removed/changed rows — the data-diff every migration
    and replication pipeline runs before cutover. One full outer join on
    the key (hash-partitioned both sides; at scale both snapshots bucket
    on the key and the join is shuffle-free); row equality compares the
    business columns directly so a changed row names its old/new values."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_snapdiff_sql("spark"))


# ---------------------------------------------------------------------------
# robust (median/MAD) outlier profile

_MAD_K = 1.4826  # consistency constant: MAD × k estimates sigma under normality


def _mad_sql(dialect: str) -> str:
    med = (
        "percentile({c}, 0.5)" if dialect == "spark" else "quantile_cont({c}, 0.5)"
    )
    return f"""
WITH med AS (
    SELECT event_type, {med.format(c='value')} AS med
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
    FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
    SELECT event_type, {med.format(c='adev')} AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       cast(count(*) AS bigint) AS n,
       min(d.med) AS med,
       min(m.mad) AS mad,
       cast(sum(CASE WHEN d.adev > 3 * {_MAD_K} * m.mad THEN 1 ELSE 0 END)
            AS bigint) AS n_flagged,
       sum(CASE WHEN d.adev > 3 * {_MAD_K} * m.mad THEN 1 ELSE 0 END)
           / cast(count(*) AS double) AS flag_frac
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


@register("anomaly_mad_robust", oracle=_mad_sql("duckdb"))
def anomaly_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profile per event type: median + MAD (median
    absolute deviation) instead of mean + stddev — the estimator that
    does NOT move when the outliers it hunts contaminate it (the z-score
    entry events_value_outliers is its fragile twin; a single 1e9 spike
    inflates sigma and masks every other anomaly, while MAD holds). Two
    median aggregations over the 5-type grouping and one re-join of the
    tiny per-type statistics (broadcast); the fact table is scanned
    twice — at scale the first projection persists, or median swaps to
    approx_percentile in one pass."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mad_sql("spark"))


# ---------------------------------------------------------------------------
# engine-portable HyperLogLog distinct sketch

def _hll_sql(dialect: str) -> str:
    """Built from the shared sketch primitives (functions/sketch.py) so
    the streaming register stream (streaming/sketches.py) computes the
    exact same registers. Literal-precision and fixed-point notes live
    with the builders."""
    return f"""
WITH hashed AS (
    SELECT event_type, {hll_hash_sql(dialect, 'user_id')} AS h FROM events
),
parts AS (
    SELECT event_type, {hll_bucket_sql(dialect)} AS bucket,
           {hll_w_sql(dialect)} AS w
    FROM hashed
),
ranks AS (
    SELECT event_type, bucket, {hll_rho_sql()} AS rho FROM parts
),
regs AS (
    SELECT event_type, bucket, max(rho) AS r
    FROM ranks GROUP BY event_type, bucket
),
sums AS (
    SELECT event_type,
           cast(count(*) AS bigint) AS n_present,
           cast(sum({hll_shifted_sql(dialect)}) AS bigint) AS present_sum
    FROM regs GROUP BY event_type
),
est AS (
    SELECT event_type, n_present,
           present_sum + ({HLL_M} - n_present) * cast({HLL_POW} AS bigint)
               AS harmonic_fp,
           {HLL_M} - n_present AS zeros
    FROM sums
),
final AS (
    SELECT event_type, n_present,
           {hll_estimate_from_fp_sql('harmonic_fp', 'zeros')} AS hll_estimate
    FROM est
),
exact AS (
    SELECT event_type, cast(count(DISTINCT user_id) AS bigint) AS n_exact
    FROM events GROUP BY event_type
)
SELECT f.event_type, e.n_exact, f.n_present, f.hll_estimate,
       abs(f.hll_estimate - e.n_exact) / cast(e.n_exact AS double) AS rel_error
FROM final f JOIN exact e ON f.event_type = e.event_type
"""


@register("hll_distinct_portable", oracle=_hll_sql("duckdb"))
def hll_distinct_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch built entirely from portable
    expressions: md5 → 8-bit register index + 56-bit rank field, rho
    from the binary-string length (bin() is identical in both engines),
    registers merged with max, and the harmonic mean summed in FIXED
    POINT (2^57 >> rho is exact integer arithmetic — a double 2^-rho sum
    would be order-dependent across engines); small-range linear
    counting applies below 2.5m. This is the KMV entry's
    (approx_distinct_kmv) industry-standard sibling and the sketch
    behind approx_count_distinct — here with the register table exposed,
    which is what makes it MERGEABLE: per-partition register maxima
    combine associatively, so at 100 TB the sketch rolls up without
    re-scanning (the exact side is only the test's ground truth)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_hll_sql("spark"))


# ---------------------------------------------------------------------------
# month-over-month revenue growth

def _mom_sql(dialect: str) -> str:
    month = (
        "cast(date_trunc('month', o_orderdate) AS date)"
        if dialect == "spark"
        else "cast(date_trunc('month', o_orderdate) AS date)"
    )
    return f"""
WITH monthly AS (
    SELECT {month} AS month,
           cast(sum(cast(o_totalprice AS decimal(18, 2))) AS double) AS revenue,
           cast(count(*) AS bigint) AS n_orders
    FROM orders GROUP BY {month}
)
SELECT month, revenue, n_orders,
       lag(revenue) OVER (ORDER BY month) AS prev_revenue,
       CASE WHEN lag(revenue) OVER (ORDER BY month) IS NULL THEN NULL
            ELSE (revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month) END AS mom_growth
FROM monthly
"""


@register("orders_mom_growth", oracle=_mom_sql("duckdb"))
def orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: the financials_monthly mart with
    its derivative — lag over the monthly aggregate. Revenue sums in
    exact decimal and the single unpartitioned window runs over ~80
    MONTH rows, not the fact table (bounded by the calendar at any data
    scale), so the 'global sort' is a non-issue. Growth is one double
    division per output row."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_mom_sql("spark"))


# ---------------------------------------------------------------------------
# churn flagging

_CHURN_DAYS = 365


def _churn_sql(dialect: str) -> str:
    days = (
        "datediff(ref_date, last_date)"
        if dialect == "spark"
        else "datediff('day', last_date, ref_date)"
    )
    tenure = (
        "datediff(last_date, first_date)"
        if dialect == "spark"
        else "datediff('day', first_date, last_date)"
    )
    return f"""
WITH base AS (
    SELECT o_custkey,
           cast(min(o_orderdate) AS date) AS first_date,
           cast(max(o_orderdate) AS date) AS last_date,
           cast(count(*) AS bigint) AS n_orders
    FROM orders GROUP BY o_custkey
),
ref AS (SELECT cast(max(o_orderdate) AS date) AS ref_date FROM orders)
SELECT o_custkey, n_orders,
       cast({days} AS bigint) AS days_since_last,
       cast({tenure} AS bigint) AS tenure_days,
       {days} > {_CHURN_DAYS} AS churned
FROM base CROSS JOIN ref
"""


@register("customer_churn_flag", oracle=_churn_sql("duckdb"))
def customer_churn_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-based churn flagging: a customer with no order in the
    trailing {days} days of the observation horizon is churned — the
    label-generation step for a churn model and the denominator for
    retention reporting. One per-customer groupBy plus a 1-row
    broadcast reference date; all date arithmetic in integer days."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_churn_sql("spark"))
