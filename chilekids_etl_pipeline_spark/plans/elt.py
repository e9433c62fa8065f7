"""Reference-parity ELT queries (#1-5 in SURVEY.md §2) on the events table.

The events table plays the role of raw.source_events (a stream of JSON-ish
payloads); lineitem plays the messy spreadsheet export for the normalizer.
Each query has a DuckDB oracle built from the same expression templates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import money_sql, ts_sql_duckdb, ts_sql_spark
from ..operators.incremental import (
    audit_diff,
    changed_records,
    mark_content_duplicates,
    upsert_latest,
    with_payload_hash,
)
from ..sources.tables import load_table, maybe_rebalance, rebalance_if_big
from .registry import register


def _canon(dialect: str, value_expr: str = "value") -> str:
    """Canonical sorted-key JSON for an event payload (utils.py:14-19 analog).

    Keys sorted: event_type, k, ts, user_id, value. ts as epoch micros and
    value as decimal(10,2) so the string is bit-identical across engines.
    """
    if dialect == "spark":
        k = "get_json_object(props, '$.k')"
        micros = "unix_micros(ts)"
    else:
        k = "json_extract_string(props, '$.k')"
        micros = "epoch_us(ts)"
    val = f"cast(cast({value_expr} AS decimal(10,2)) AS string)"
    # Every nullable field is coalesced to a JSON-null token: Spark's concat
    # returns NULL on any NULL argument while DuckDB's skips them, so without
    # this a sparse payload would hash differently per engine (and all
    # NULL-hash rows would collapse into one bogus dup group).
    return (
        f"concat('{{\"event_type\":\"', coalesce(event_type, ''), "
        f"'\",\"k\":', coalesce({k}, 'null'), "
        f"',\"ts\":', coalesce(cast({micros} AS string), 'null'), "
        f"',\"user_id\":', coalesce(cast(user_id AS string), 'null'), "
        f"',\"value\":', coalesce({val}, 'null'), '}}')"
    )


def _canon_no_ts(dialect: str) -> str:
    """Canonical payload without ts — used where duplicate content should
    collide (the loader hashes sheet-row content, which has no timestamp)."""
    if dialect == "spark":
        k = "get_json_object(props, '$.k')"
    else:
        k = "json_extract_string(props, '$.k')"
    return (
        f"concat('{{\"event_type\":\"', coalesce(event_type, ''), "
        f"'\",\"k\":', coalesce({k}, 'null'), "
        f"',\"user_id\":', coalesce(cast(user_id AS string), 'null'), "
        f"',\"value\":', coalesce(cast(cast(value AS decimal(10,2)) AS string), 'null'), '}}')"
    )


# --- 1. raw ingestion: canonical hash + explicit-PK-or-fallback id + dup flag


_RAW_INGEST_ORACLE = f"""
WITH hashed AS (
    SELECT event_id, md5({_canon_no_ts('duckdb')}) AS payload_hash
    FROM events
)
SELECT
    event_id,
    CASE WHEN event_id % 7 = 0
         THEN concat('gsheet_auto_', substr(payload_hash, 1, 12), '_', event_id)
         ELSE cast(event_id AS string) END AS raw_id,
    payload_hash,
    (row_number() OVER (PARTITION BY payload_hash ORDER BY event_id)) > 1 AS is_dup
FROM hashed
"""


@register("raw_ingest_hash", oracle=_RAW_INGEST_ORACLE)
def raw_ingest_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader semantics of main.py:174-213: content hash, explicit-PK
    detection with deterministic fallback id, duplicate marking."""
    ev = load_table(spark, sf_dir, "events")
    hashed = with_payload_hash(ev, F.expr(_canon_no_ts("spark")))
    flagged = mark_content_duplicates(hashed, order_col="event_id")
    return flagged.select(
        "event_id",
        F.when(
            F.col("event_id") % 7 == 0,
            F.concat(
                F.lit("gsheet_auto_"),
                F.substring("payload_hash", 1, 12),
                F.lit("_"),
                F.col("event_id").cast("string"),
            ),
        )
        .otherwise(F.col("event_id").cast("string"))
        .alias("raw_id"),
        "payload_hash",
        "is_dup",
    )


# --- 2. incremental change detection: anti-join raw ↔ staging on hash


_CHANGED_ORACLE = f"""
WITH raw AS (
    SELECT event_id, ts AS received_at, md5({_canon('duckdb')}) AS payload_hash
    FROM events
),
staging AS (
    SELECT payload_hash FROM raw WHERE event_id % 10 < 8
)
SELECT r.event_id, r.received_at, r.payload_hash
FROM raw r ANTI JOIN staging s USING (payload_hash)
"""


@register("changed_records", oracle=_CHANGED_ORACLE)
def changed_records_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """src/transform.py:200-234 as a LEFT ANTI hash join. The staging side
    is a snapshot (80% of events already processed); raw is everything.

    A/B'd: the canonical-JSON + md5 hashing is per-row-arithmetic-heavy,
    so widening past the single-row-group local scan pays (1.35 →
    0.85 s at sf0.1) — the same measured exception to the no-blanket-
    rebalance rule that q1 carries. The staging-snapshot predicate is
    applied BEFORE its repartition+hash so it reaches the parquet scan
    and the 20% of rows it drops are never hashed or shuffled."""
    ev = load_table(spark, sf_dir, "events")

    def hashed(df):
        return with_payload_hash(maybe_rebalance(df), F.expr(_canon("spark"))).select(
            "event_id", F.col("ts").alias("received_at"), "payload_hash"
        )

    raw = hashed(ev)
    staging = hashed(ev.filter(F.col("event_id") % 10 < 8))
    return changed_records(raw, staging)


# --- 3. normalization: messy money/date strings parsed Spark-natively


def _messy_money(dialect: str) -> str:
    m = "cast(cast(l_extendedprice AS decimal(12,2)) AS string)"
    return f"""CASE cast(l_orderkey % 4 AS int)
        WHEN 0 THEN concat('$', {m})
        WHEN 1 THEN concat('(', {m}, ')')
        WHEN 2 THEN replace({m}, '.', ',')
        ELSE concat(chr(160), {m}, ' ') END"""


def _messy_date(dialect: str) -> str:
    if dialect == "spark":
        fmts = ["dd.MM.yyyy", "yyyy-MM-dd", "MM/dd/yyyy"]
        fmt_fn = "date_format"
    else:
        fmts = ["%d.%m.%Y", "%Y-%m-%d", "%m/%d/%Y"]
        fmt_fn = "strftime"
    return f"""CASE cast(l_linenumber % 3 AS int)
        WHEN 0 THEN {fmt_fn}(l_shipdate, '{fmts[0]}')
        WHEN 1 THEN {fmt_fn}(l_shipdate, '{fmts[1]}')
        ELSE {fmt_fn}(l_shipdate, '{fmts[2]}') END"""


def _normalize_oracle() -> str:
    return f"""
WITH messy AS (
    SELECT l_returnflag,
           {_messy_money('duckdb')} AS money_str,
           {_messy_date('duckdb')} AS date_str
    FROM lineitem
),
parsed AS (
    SELECT l_returnflag,
           {money_sql('money_str', dialect='duckdb')} AS money_val,
           {ts_sql_duckdb('date_str')} AS date_val
    FROM messy
)
SELECT l_returnflag,
       count(*) AS n_rows,
       cast(sum(money_val) AS double) AS sum_parsed,
       cast(sum(abs(money_val)) AS double) AS sum_abs_parsed,
       count(date_val) AS n_dates,
       count(DISTINCT month(date_val)) AS n_months
FROM parsed
GROUP BY l_returnflag
"""


@register("normalize_records", oracle=_normalize_oracle())
def normalize_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """src/transform.py:18-117 normalization, as whole-stage-codegen column
    exprs (money cleaning incl. (x)-negatives, currency symbols, NBSP,
    separator disambiguation; multi-format date parsing).
    maybe_rebalance widens the local scan: the regex-heavy parse ran on
    the 3 parquet splits of the sf0.1 lineitem file (batch-6 audit
    measured a FLAT 7.6/7.0 s — rows and splits both grow 10× so the
    per-task work was constant); widening drops sf0.1 to 2.7 s. At sf1
    the scan is already 32 splits and the helper now skips the exchange
    (sf1 walls statistically unchanged, 7-9 s ambient band). No-op off
    local[*]."""
    li = maybe_rebalance(load_table(spark, sf_dir, "lineitem"))
    messy = li.select(
        "l_returnflag",
        F.expr(_messy_money("spark")).alias("money_str"),
        F.expr(_messy_date("spark")).alias("date_str"),
    )
    parsed = messy.select(
        "l_returnflag",
        F.expr(money_sql("money_str")).alias("money_val"),
        F.expr(ts_sql_spark("date_str")).alias("date_val"),
    )
    return parsed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("money_val").cast("double").alias("sum_parsed"),
        F.sum(F.abs(F.col("money_val"))).cast("double").alias("sum_abs_parsed"),
        F.count("date_val").alias("n_dates"),
        F.countDistinct(F.month("date_val")).alias("n_months"),
    )


# --- 4. keyed last-write-wins upsert (SCD-1)


_UPSERT_ORACLE = """
WITH base AS (
    SELECT event_id, value, 1 AS version FROM events
),
updates AS (
    SELECT event_id, value * 2 AS value, 2 AS version
    FROM events WHERE event_id % 3 = 0
),
unioned AS (
    SELECT * FROM base UNION ALL SELECT * FROM updates
)
SELECT event_id, value, version
FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY version DESC) AS rn
    FROM unioned
) WHERE rn = 1
"""


@register("staging_upsert", oracle=_UPSERT_ORACLE)
def staging_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON CONFLICT (raw_id) DO UPDATE (src/transform.py:292-299) as a
    version-window dedup — the shuffle core of a distributed MERGE."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("event_id", "value", F.lit(1).alias("version"))
    updates = (
        ev.filter(F.col("event_id") % 3 == 0)
        .select("event_id", (F.col("value") * 2).alias("value"), F.lit(2).alias("version"))
    )
    return upsert_latest(base.unionByName(updates), ["event_id"], ["version"])


# --- 5. audit diff on payload-hash change


def _audit_oracle() -> str:
    canon_old = _canon("duckdb")
    canon_new = _canon("duckdb", value_expr="(CASE WHEN event_id % 5 = 0 THEN value + 10 ELSE value END)")
    return f"""
WITH old AS (
    SELECT event_id, {canon_old} AS payload, md5({canon_old}) AS payload_hash
    FROM events
),
new AS (
    SELECT event_id, {canon_new} AS payload, md5({canon_new}) AS payload_hash
    FROM events
)
SELECT o.event_id AS record_id, o.payload AS old_value, n.payload AS new_value,
       'system' AS changed_by
FROM old o JOIN new n USING (event_id)
WHERE o.payload_hash <> n.payload_hash
"""


# --- 0. the whole incremental ELT loop, composed end-to-end


def _e2e_oracle() -> str:
    canon_cur = _canon("duckdb")
    return f"""
WITH cur AS (
    SELECT event_id, ts, user_id, event_type, props,
           CASE WHEN event_id % 5 = 0 THEN value + 10 ELSE value END AS value
    FROM events
),
raw AS (
    SELECT event_id, ts, event_type, value, md5({canon_cur}) AS payload_hash
    FROM cur
),
staging AS (
    SELECT event_id, ts, event_type, value, md5({canon_cur}) AS payload_hash
    FROM (SELECT event_id, ts, user_id, event_type, props, value FROM events) cur
    WHERE event_id % 10 < 8
),
changed AS (
    SELECT r.* FROM raw r ANTI JOIN staging s USING (payload_hash)
),
unioned AS (
    SELECT *, 1 AS version FROM staging
    UNION ALL
    SELECT *, 2 AS version FROM changed
),
upserted AS (
    SELECT event_id, ts, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY version DESC) AS rn
        FROM unioned
    ) WHERE rn = 1
)
SELECT date_trunc('month', ts) AS month, event_type,
       cast(round(sum(cast(value AS decimal(10,2))), 2) AS double) AS total,
       count(*) AS n
FROM upserted
GROUP BY date_trunc('month', ts), event_type
"""


@register("elt_end_to_end", oracle=_e2e_oracle())
def elt_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entire ``run_incremental_elt`` loop (main.py:33-139)
    as one composed plan: hash the current snapshot (20% new rows, every
    5th edited), anti-join against staged hashes to find changed records,
    last-write-wins upsert into staging, then the monthly mart — extract,
    detect, merge, aggregate in a single Catalyst-optimized DAG instead of
    four driver round-trips. The gated scan widening feeds BOTH
    payload-hash projections (raw + staging derive from the same scan)
    from a full-width exchange instead of the 3-split local scan
    (sf1 interleaved A/B: 4.3 → 2.8 s median; no-op on a cluster).
    Size-gated: below the gate the exchange is pure stage-barrier loss
    (r10 alternating A/B at sf0.1, events = 2,045,762 B: +0.36 s —
    AB_r8_vs_r10.json); sf1 events (12 MB) still widens."""
    ev = rebalance_if_big(load_table(spark, sf_dir, "events"))
    cur = ev.withColumn(
        "value",
        F.when(F.col("event_id") % 5 == 0, F.col("value") + 10).otherwise(F.col("value")),
    )
    cols = ["event_id", "ts", "event_type", "value", "payload_hash"]
    raw = with_payload_hash(cur, F.expr(_canon("spark"))).select(*cols)
    staging = (
        with_payload_hash(ev, F.expr(_canon("spark")))
        .filter(F.col("event_id") % 10 < 8)
        .select(*cols)
    )
    chg = changed_records(raw, staging)
    unioned = staging.withColumn("version", F.lit(1)).unionByName(
        chg.withColumn("version", F.lit(2))
    )
    ups = upsert_latest(unioned, ["event_id"], ["version"])
    return ups.groupBy(
        F.date_trunc("month", "ts").alias("month"), "event_type"
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(10,2)")), 2).cast("double").alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


@register("audit_changes", oracle=_audit_oracle())
def audit_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit trigger semantics (alembic 7a8b9c0d1e2f): emit old/new payload
    pairs for records whose content hash changed between snapshots."""
    ev = load_table(spark, sf_dir, "events")
    old = ev.withColumn("payload", F.expr(_canon("spark"))).withColumn(
        "payload_hash", F.md5(F.col("payload"))
    )
    new_ev = ev.withColumn(
        "value",
        F.when(F.col("event_id") % 5 == 0, F.col("value") + 10).otherwise(F.col("value")),
    )
    new = new_ev.withColumn("payload", F.expr(_canon("spark"))).withColumn(
        "payload_hash", F.md5(F.col("payload"))
    )
    return audit_diff(old, new, key="event_id")


# ---------------------------------------------------------------------------
# raw-layer quarantine: the ingest error path as data


def _quarantine_payload_sql(dialect: str) -> str:
    """Deterministic malformed-payload mix over events: empty, truncated
    JSON, valid-but-keyless, and two pk spellings (case-insensitive
    detection, main.py:174-189)."""
    cast_s = "AS string" if dialect == "spark" else "AS varchar"
    eid = f"cast(event_id {cast_s})"
    return f"""CASE cast(event_id % 5 AS int)
    WHEN 0 THEN ''
    WHEN 1 THEN concat('{{"broken_', {eid})
    WHEN 2 THEN concat('{{"k":"', event_type, '"}}')
    WHEN 3 THEN concat('{{"ID":"e', {eid}, '","v":"x"}}')
    ELSE concat('{{"uuid":"u', {eid}, '"}}')
    END"""


_PK_KEYS = ("pk", "id", "row_id", "uuid")


def _quarantine_oracle() -> str:
    pay = _quarantine_payload_sql("duckdb")
    inlist = ", ".join(f"'{k}'" for k in _PK_KEYS)
    probes = ", ".join(
        "json_extract_string(payload, '$.\"' || "
        f"list_filter(json_keys(payload), k -> lower(k) = '{k}')[-1] || '\"')"
        for k in _PK_KEYS
    )
    return f"""
WITH raw AS (SELECT event_id, {pay} AS payload FROM events),
cls AS (
    SELECT event_id, payload,
           CASE WHEN trim(payload) = '' THEN 'empty_payload'
                WHEN NOT json_valid(payload) THEN 'invalid_json'
                WHEN len(list_filter(json_keys(payload),
                         k -> lower(k) IN ({inlist}))) = 0 THEN 'missing_pk'
                ELSE 'ok' END AS status
    FROM raw
)
SELECT event_id, status,
       status <> 'ok' AS quarantined,
       CASE WHEN status = 'ok' THEN coalesce({probes}) END AS resolved_pk
FROM cls
"""


@register("raw_quarantine", oracle=_quarantine_oracle)
def raw_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ingest error path (main.py:142-217 logs and skips
    malformed sheet rows) as DATA: every raw payload is classified
    (empty / unparseable JSON / no case-insensitive pk variant / ok) and
    ok rows resolve their pk with the reference's precedence
    (pk > id > row_id > uuid, case-insensitive, last duplicate key wins).
    Pure per-row column work — classification at 100 TB is a projection,
    and the quarantine split is a partition-local filter, no shuffle
    (the gated maybe_rebalance is a local-only widening for the 3-split
    test scan, where the JSON parse starved: sf1 interleaved A/B
    1.79 → 0.83 s; a no-op on a cluster)."""
    ev = maybe_rebalance(load_table(spark, sf_dir, "events")).select(
        "event_id", F.expr(_quarantine_payload_sql("spark")).alias("payload")
    )
    inlist = ", ".join(f"'{k}'" for k in _PK_KEYS)
    m = "from_json(payload, 'map<string,string>')"
    # __nm reuses the materialized __m column — embedding `m` again would
    # put a second ParseJson in the plan and rely on codegen subexpression
    # elimination to collapse it; one parse per payload, guaranteed
    nm = "transform_keys(__m, (k, v) -> lower(k))"
    probes = ", ".join(f"try_element_at(__nm, '{k}')" for k in _PK_KEYS)
    cls = ev.withColumn("__m", F.expr(m)).withColumn(
        "status",
        F.expr(
            f"""CASE WHEN trim(payload) = '' THEN 'empty_payload'
                 WHEN __m IS NULL THEN 'invalid_json'
                 WHEN NOT exists(map_keys(__m), k -> lower(k) IN ({inlist}))
                     THEN 'missing_pk'
                 ELSE 'ok' END"""
        ),
    )
    return cls.withColumn("__nm", F.expr(nm)).select(
        "event_id",
        "status",
        (F.col("status") != "ok").alias("quarantined"),
        F.when(F.col("status") == "ok", F.expr(f"coalesce({probes})")).alias(
            "resolved_pk"
        ),
    )


# ---------------------------------------------------------------------------
# SCD-2 history build: change log → validity intervals


_SCD2_ORACLE = """
SELECT user_id, event_id, value AS attr_value,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           AS is_current
FROM events WHERE event_type = 'purchase'
"""


@register("scd2_history", oracle=_SCD2_ORACLE)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history construction from a change log: each change opens a
    validity interval closed by the key's next change (lead over the key
    partition); the open interval marks the current version. The
    reference's upsert is SCD-1 (last write wins, transform.py:240-346) —
    this is the companion shape a warehouse needs when history must be
    queryable ("value as of T" becomes a BETWEEN valid_from/valid_to
    range predicate). One shuffle on the business key; interval
    construction is a single window pass, no self-join."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )
