"""Batch-verifiable streaming entry: the stateful sessionizer run through
the REAL Structured Streaming engine (file source → applyInPandasWithState
→ memory sink, availableNow bounded replay), snapshotted into a per-session
summary the DuckDB oracle can check with plain window SQL.

Until this entry the streaming surface was tests-only; the gate now
exercises the state-store path end-to-end every round. The session
semantics are definitionally those of the batch twin
(plans/analytics.py events_sessionize, reference gas/last_change.gs "gap
rule"): a 30-minute inactivity gap rotates the session, so the per-session
(n_events, start, end) snapshot after a full bounded replay must equal the
batch window computation — which is exactly what the oracle states.

Scale notes: the replay is one availableNow pass over the event files —
at 100 TB this is the standard backfill-through-the-streaming-topology
pattern (same code path as live ingest, bounded trigger), with state
sharded by user_id across executors and evicted by event-time timeout.
The memory sink is verification-only; production writes through
streaming/incremental.py's upsert sinks.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register

_SNAPSHOT_ORACLE = """
WITH gaps AS (
    SELECT user_id, ts,
           CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) <= 1800
                THEN 0 ELSE 1 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM gaps
)
SELECT user_id, cast(session_seq AS int) AS session_seq,
       cast(count(*) AS bigint) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM sessions
GROUP BY user_id, session_seq
"""


@register("streaming_sessionize_replay", oracle=_SNAPSHOT_ORACLE)
def streaming_sessionize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the events table through the streaming
    sessionizer (streaming/sessionize.py), returning the per-session
    snapshot. The stream is a real file-source readStream with an
    availableNow trigger into a memory sink; the returned DataFrame
    merges the emitted per-session partial aggregates. Session
    numbering (1-based per user), the 30-min gap rule, and per-session
    event counts/extents must — and do — match the batch lag-window
    oracle, because a session is a pure function of each user's ordered
    timestamps regardless of which engine walks them."""
    from ..streaming.sessionize import sessionize_stream

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source lists a DIRECTORY (its discovery unit on a
    # real deployment — new files land, the source picks them up);
    # expose the single test file through a temp dir of symlinks
    src_dir = tempfile.mkdtemp(prefix="ssr_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    raw = (
        spark.readStream.schema(batch_schema)
        .parquet(src_dir)
        .select("user_id", "ts", "event_id")
    )
    # TIMESTAMP(NANOS) parquet reads as long under the session's
    # nanosAsLong conf (see sources/tables.py) — truncate to micros
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # emit="sessions": the state handler returns one additive partial row
    # per (user, session) per micro-batch instead of one row per event
    # (guide §2.3 — aggregate before crossing the Python→JVM boundary and
    # the sink; the per-event form shipped n_events rows through both).
    # The sum/min/max merge below reconstructs the exact snapshot even
    # when a session spans micro-batches.
    sessions = sessionize_stream(raw, watermark="1 hour", emit="sessions")

    name = "streaming_sessionize_replay_sink"
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ssr_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name)
    return emitted.groupBy(
        "user_id", F.col("session_seq").cast("int").alias("session_seq")
    ).agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.min("session_start").alias("session_start"),
        F.max("session_end").alias("session_end"),
    )


_INCREMENTAL_ORACLE = """
SELECT DISTINCT
       md5('{"event_type":"' || event_type || '","user_id":' || user_id
           || ',"value":' || cast(cast(value AS decimal(10,2)) AS varchar)
           || '}') AS payload_hash,
       event_type,
       cast(cast(value AS decimal(10,2)) AS double) AS amount
FROM events
"""


@register("streaming_incremental_replay", oracle=_INCREMENTAL_ORACLE)
def streaming_incremental_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous incremental-ELT core (streaming/incremental.py
    incremental_normalize — the reference's poll loop main.py:33-139 as
    a pipeline: canonical content hash → watermarked
    dropDuplicatesWithinWatermark → normalize projection) replayed
    through the REAL streaming engine over a single-file availableNow
    source into a memory sink. This was the last tests-only streaming
    component; every other one already has a replay gate. The output
    projects only columns that are pure functions of the canonical
    payload (hash, event_type, 2-dp amount), because WHICH copy of a
    content-duplicate survives is arrival-order-dependent — the
    projection makes the replay deterministic under any batching, and
    the oracle is the batch DISTINCT over the same canonical form. A
    hash-identical result proves the streaming dedup state drops exactly
    the content dups the batch anti-join would."""
    from ..streaming.incremental import incremental_normalize

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src_dir = tempfile.mkdtemp(prefix="sir_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    stream = spark.readStream.schema(batch.schema).parquet(src_dir).select(
        "event_id", "ts", "event_type", "user_id", "value"
    )
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    normalized = incremental_normalize(stream, watermark="1 hour")

    name = "streaming_incremental_sink"
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass  # stale view from a previous in-session run
    q = (
        normalized.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sir_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "payload_hash", "event_type",
        F.col("amount").cast("double").alias("amount"),
    )


def _upsert_oracle() -> str:
    from .elt import _canon

    canon = _canon("duckdb")
    return f"""
WITH upd AS (
    SELECT event_id, ts + INTERVAL 1 HOUR AS ts, event_type, user_id,
           value + 1 AS value, props
    FROM events WHERE event_id % 10 = 0
),
rows_all AS (
    SELECT event_id, ts, event_type, user_id, value, props
    FROM events WHERE event_id % 10 <> 0
    UNION ALL
    SELECT * FROM upd
)
SELECT event_id AS raw_id, ts AS received_at,
       'live' AS source_type, event_type,
       cast(cast(value AS decimal(10,2)) AS double) AS amount,
       md5({canon}) AS payload_hash
FROM rows_all
"""


@register("streaming_upsert_replay", oracle=_upsert_oracle)
def streaming_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed-upsert streaming sink (streaming/incremental.py
    start_upsert_sink — the reference's ON CONFLICT DO UPDATE run
    continuously, transform.py:240-346) exercised end-to-end through
    real micro-batches: batch 1 streams the full events table, batch 2
    streams updated copies of every 10th event (value+1, ts+1h), and the
    final target must hold exactly one row per key with the update
    winning. The winner is deterministic under ANY batching: a later
    batch outranks via _batch_id, and a merged single batch falls back
    to received_at desc — both pick the updated copy, which is what the
    oracle states. (The watermarked content-hash dedup stage is
    deliberately NOT in this entry: which duplicate a streaming dedup
    keeps is arrival-order-dependent — correctness for it lives in
    tests/test_streaming.py.)"""
    import shutil

    from .elt import _canon
    from ..operators.incremental import with_payload_hash
    from ..sources.tables import load_table
    from ..streaming.incremental import start_upsert_sink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "user_id", "value", "props"
    )
    upd = (
        ev.filter(F.col("event_id") % 10 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + 1)
    )
    work = tempfile.mkdtemp(prefix="sur_")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    # two single-file drops, mtime+name ordered so the file source
    # replays them as two micro-batches: originals first, updates second
    for stem, df, mtime in (("a_orig", ev, 1000), ("b_upd", upd, 2000)):
        stage = os.path.join(work, f"stage_{stem}")
        df.coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        dst = os.path.join(src_dir, f"{stem}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    normalized = with_payload_hash(stream, F.expr(_canon("spark"))).select(
        F.col("event_id").alias("raw_id"),
        F.col("ts").alias("received_at"),
        F.lit("live").alias("source_type"),
        "event_type",
        F.col("value").cast("decimal(10,2)").cast("double").alias("amount"),
        "payload_hash",
    )
    target = os.path.join(work, "target")
    q = start_upsert_sink(
        normalized,
        target,
        os.path.join(work, "ckpt"),
        key_col="raw_id",
    )
    q.awaitTermination()
    return spark.read.parquet(target).drop("_batch_id", "_sink_id")


_INTERVAL_JOIN_ORACLE = """
SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events v
JOIN events p ON p.user_id = v.user_id
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 120 MINUTE
"""


@register("streaming_interval_join_replay", oracle=_INTERVAL_JOIN_ORACLE)
def streaming_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream interval join (streaming/joins.py
    view_to_purchase_stream — purchases attributed to every preceding
    view by the same user within a 2 h horizon) replayed through the
    REAL streaming engine: file source → watermarked two-sided join
    state → memory sink, availableNow bounded trigger. An INNER
    stream-stream join emits a pair the moment both sides have arrived,
    so after a full bounded replay the emitted set must equal the batch
    interval join the oracle states — watermarks only govern state
    EVICTION (how long an unmatched view is buffered), never which
    matches exist. This closes the last tests-only streaming component;
    the batch as-of twin is asof_view_to_purchase (nearest-1 semantics)
    and range_join_purchase_errors (the bounded-interval shape)."""
    from ..streaming.joins import view_to_purchase_stream

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src_dir = tempfile.mkdtemp(prefix="sij_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    raw = (
        spark.readStream.schema(batch_schema)
        .parquet(src_dir)
        .select("event_id", "ts", "event_type", "user_id", "value")
    )
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    joined = view_to_purchase_stream(raw, horizon_minutes=120)

    name = "streaming_interval_join_sink"
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass  # stale view from a previous in-session run
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sij_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id", "view_id", "view_ts",
        "purchase_id", "purchase_ts", "purchase_value",
    )


_CORPUS_DEDUP_ORACLE = """
SELECT d.doc_id, md5(d.text) AS h
FROM documents d
WHERE md5(d.text) NOT IN (
    SELECT md5(text) FROM documents WHERE doc_id % 3 = 0
)
"""


@register("streaming_corpus_dedup_replay", oracle=_CORPUS_DEDUP_ORACLE)
def streaming_corpus_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-static corpus dedup gate (streaming/dedup.py
    dedup_stream_against_corpus — the daily-ingest shape: arriving docs
    left-anti join the corpus signature table) replayed through the REAL
    streaming engine: file source → stream-static anti join → memory
    sink, availableNow bounded trigger. The static side is the
    signature reduction of every 3rd document, so the emitted survivors
    must be exactly the batch anti join the oracle states — a
    stream-static anti join keeps no streaming state at all (the
    signature table IS the state), which is why its replay is
    deterministic under any batching. Closes the last tests-only
    streaming component; the batch twin is dedup_incremental_batch."""
    from ..streaming.dedup import corpus_signatures, dedup_stream_against_corpus

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    signatures = corpus_signatures(
        batch.filter(F.col("doc_id") % 3 == 0)
    )
    src_dir = tempfile.mkdtemp(prefix="scd_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/documents.parquet"),
        os.path.join(src_dir, "documents.parquet"),
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src_dir)
        .select("doc_id", "text")
    )
    kept = dedup_stream_against_corpus(stream, signatures)

    name = "streaming_corpus_dedup_sink"
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass  # stale view from a previous in-session run
    q = (
        kept.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="scd_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("doc_id", "h")


_KEYED_DEDUP_ORACLE = """
SELECT event_id, ts, event_type, user_id, value FROM events
"""


@register("streaming_keyed_dedup_replay", oracle=_KEYED_DEDUP_ORACLE)
def streaming_keyed_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` exercised cross-micro-batch
    through the real state store: batch 1 streams the events table,
    batch 2 replays byte-identical COPIES of every event in the last 30
    minutes of stream time — the Kafka-redelivery shape keyed-ingestion
    dedup exists for. After batch 1 the watermark sits 1 h behind the
    max event time, so every replayed key's state (30 min old at most)
    is still live and each copy is dropped; the result must be exactly
    one row per event_id. Determinism is by construction: the duplicate
    rows are identical in every projected column, so WHICH copy the
    state store keeps cannot show in the output (the arrival-order
    caveat that keeps content-hash dedup out of the gate — see
    streaming_upsert_replay — does not apply to keyed replay)."""
    import shutil

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "event_type", "user_id", "value"
    )
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    dup = ev.filter(
        F.col("ts") >= F.lit(max_ts) - F.expr("INTERVAL 30 MINUTE")
    )
    work = tempfile.mkdtemp(prefix="skd_")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    for stem, df, mtime in (("a_orig", ev, 1000), ("b_dup", dup, 2000)):
        stage = os.path.join(work, f"stage_{stem}")
        df.coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        dst = os.path.join(src_dir, f"{stem}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )

    name = "streaming_keyed_dedup_sink"
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass  # stale view from a previous in-session run
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skd_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "event_id", "ts", "event_type", "user_id", "value"
    )


def _hll_oracle() -> str:
    from .analytics5 import _hll_sql

    return _hll_sql("duckdb")


@register("streaming_hll_replay", oracle=_hll_oracle)
def streaming_hll_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuously-maintained HLL register table
    (streaming/sketches.py hll_register_updates) run as a REAL streaming
    aggregation — file source → groupBy max(rho) state → memory sink in
    complete mode, availableNow — then reduced to per-group estimates.
    The register is a MAX (associative, commutative, idempotent), so the
    streamed register table must equal the batch one under ANY batching;
    the oracle is therefore the batch hll_distinct_portable SQL
    verbatim, and a hash-identical row proves the streaming state path
    maintains bit-identical sketch state. State is bounded at m=256
    registers per group forever — the property that lets this run on an
    unbounded stream where exact COUNT DISTINCT state could not."""
    from ..streaming.sketches import hll_estimate, hll_register_updates

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src_dir = tempfile.mkdtemp(prefix="shll_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src_dir)
        .select("event_type", "user_id")
    )
    regs = hll_register_updates(stream)

    name = "streaming_hll_sink"
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass  # stale view from a previous in-session run
    q = (
        regs.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="shll_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    est = hll_estimate(spark.table(name))
    exact = batch.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_exact", "n_present", "hll_estimate",
        (F.abs(F.col("hll_estimate") - F.col("n_exact"))
         / F.col("n_exact").cast("double")).alias("rel_error"),
    )


def _hist_replay_oracle() -> str:
    from .analytics7 import _hist_sql

    return _hist_sql("duckdb")


@register("streaming_histogram_replay", oracle=_hist_replay_oracle)
def streaming_histogram_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable msb-histogram (histogram_quantile's register table:
    per-bin count/min/max over integer cents) maintained as a REAL
    streaming aggregation — file source → stateless bin projection →
    complete-mode groupBy state → memory sink, availableNow — then fed
    through the IDENTICAL quantile-estimation tail, with the exact
    percentiles computed batch-side as the verification. count is a SUM
    and lo/hi are MIN/MAX — all mergeable, so the streamed register
    table must equal the batch histogram under ANY batching, and the
    oracle is histogram_quantile's SQL verbatim. Completes the streaming
    sketch trio: HLL (distinct), CMS (frequency), histogram (quantiles)
    — bounded state on an unbounded stream where an exact percentile
    would need an unbounded sort."""
    batch_schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    src_dir = tempfile.mkdtemp(prefix="shq_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/orders.parquet"),
        os.path.join(src_dir, "orders.parquet"),
    )
    stream = (
        spark.readStream.schema(batch_schema)
        .parquet(src_dir)
        .selectExpr(
            "cast(round(o_totalprice * 100, 0) AS bigint) AS cents"
        )
        .selectExpr(
            "cents", "length(bin(cents)) AS msb"
        )
        .selectExpr(
            "cents",
            "CASE WHEN msb >= 3 THEN msb * 4 + (shiftright(cents, msb - 3) % 4) "
            "ELSE msb * 4 END AS bin_id",
        )
    )
    regs = stream.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    )

    name = "streaming_histogram_sink"
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass  # stale view from a previous in-session run
    q = (
        regs.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="shq_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from ..sources.tables import load_table
    from .analytics7 import _hist_sql

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_hist_sql("spark", hist_src=name))


def _cms_oracle() -> str:
    from .llmdata6 import _cms_sql

    return _cms_sql("duckdb")


@register("streaming_cms_replay", oracle=_cms_oracle)
def streaming_cms_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min cell table (streaming/sketches.py cms_cell_updates)
    run as a REAL streaming aggregation over the document stream —
    explode to terms, d-row salt, per-cell SUM state, complete-mode
    memory sink, availableNow — then probed batch-side with the exact
    top-20 terms, mirroring heavy_hitters_cms. A CMS cell is a SUM
    (associative, commutative), so the streamed d×w state must equal the
    batch sketch under any batching, and the oracle is the batch entry's
    SQL verbatim — the min-over-rows probe, true counts, and overcounts
    must all hash-match. Bounded d×w state on an unbounded stream is the
    whole point; the probe side runs on the tiny sketch."""
    from ..functions.text import words_sql
    from ..streaming.sketches import cms_probe, cms_cell_updates

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_dir = tempfile.mkdtemp(prefix="scms_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/documents.parquet"),
        os.path.join(src_dir, "documents.parquet"),
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src_dir)
        .select("text")
    )
    cells = cms_cell_updates(stream)

    name = "streaming_cms_sink"
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass  # stale view from a previous in-session run
    q = (
        cells.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="scms_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    counts = (
        batch.selectExpr(f"explode({words_sql('spark')}) AS term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    top = (
        counts.orderBy(F.col("c").desc(), "term").limit(20)
    )
    probed = cms_probe(spark.table(name), top.select("term"))
    return top.join(probed, "term").select(
        "term",
        F.col("c").alias("true_count"),
        F.col("cms_estimate"),
        (F.col("cms_estimate") - F.col("c")).alias("overcount"),
    )


_GATE_ORACLE = """
WITH flags AS (
    SELECT value > 300 AS v_cap,
           event_type NOT IN ('click', 'view', 'purchase', 'signup')
               AS v_type,
           value <= 0 AS v_pos
    FROM events
),
audit AS (
    SELECT 'value_cap' AS check_name,
           cast(count(*) AS bigint) AS n_checked,
           cast(sum(CASE WHEN v_cap THEN 1 ELSE 0 END) AS bigint)
               AS n_violations
    FROM flags
    UNION ALL
    SELECT 'known_type', cast(count(*) AS bigint),
           cast(sum(CASE WHEN v_type THEN 1 ELSE 0 END) AS bigint)
    FROM flags
    UNION ALL
    SELECT 'value_positive', cast(count(*) AS bigint),
           cast(sum(CASE WHEN v_pos THEN 1 ELSE 0 END) AS bigint)
    FROM flags
),
split AS (
    SELECT cast(sum(CASE WHEN NOT (v_cap OR v_type OR v_pos) THEN 1
                         ELSE 0 END) AS bigint) AS n_good,
           cast(sum(CASE WHEN v_cap OR v_type OR v_pos THEN 1
                         ELSE 0 END) AS bigint) AS n_quarantined
    FROM flags
)
SELECT a.check_name, a.n_checked, a.n_violations,
       a.n_violations = 0 AS passed, s.n_good, s.n_quarantined
FROM audit a CROSS JOIN split s
"""


@register("streaming_quality_gate_replay", oracle=_GATE_ORACLE)
def streaming_quality_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous data-quality gate (streaming/quality_gate.py
    start_quality_gate — per-micro-batch expectation checks with
    row-level quarantine routing via foreachBatch) replayed through the
    real engine over a single-file availableNow source: three named
    expectations (a value cap that genuinely fires on the tail, a
    known-type list that quarantines 'error' events, and a positivity
    check that passes — the audit must show both outcomes), good and
    quarantined rows appended to parquet dirs, one audit row per check.
    The result joins the audit with the ROUTED COUNTS read back from the
    written directories, so a hash-identical row proves the row-level
    split and the aggregate audit agree with the batch SQL the oracle
    states. Single-batch replay by construction (one source file), which
    is what makes the per-batch audit deterministic."""
    from ..streaming.quality_gate import start_quality_gate

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src_dir = tempfile.mkdtemp(prefix="sqg_src_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src_dir)
        .select("event_id", "event_type", "value")
    )
    checks = [
        ("value_cap", F.col("value") > 300),
        (
            "known_type",
            ~F.col("event_type").isin("click", "view", "purchase", "signup"),
        ),
        ("value_positive", F.col("value") <= 0),
    ]
    work = tempfile.mkdtemp(prefix="sqg_out_")
    good_dir = os.path.join(work, "good")
    quarantine_dir = os.path.join(work, "quarantine")
    audit_dir = os.path.join(work, "audit")
    q = start_quality_gate(
        stream,
        checks,
        good_dir,
        quarantine_dir,
        audit_dir,
        os.path.join(work, "ckpt"),
    )
    q.awaitTermination()
    audit = spark.read.parquet(audit_dir).drop("_batch_id")
    n_good = spark.read.parquet(good_dir).count()
    n_quarantined = spark.read.parquet(quarantine_dir).count()
    return audit.select(
        "check_name", "n_checked", "n_violations", "passed",
        F.lit(n_good).cast("bigint").alias("n_good"),
        F.lit(n_quarantined).cast("bigint").alias("n_quarantined"),
    )
