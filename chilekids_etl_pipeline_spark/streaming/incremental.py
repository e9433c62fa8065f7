"""Structured Streaming version of the incremental ELT pipeline.

The reference's ``python main.py run`` is a poll loop: fetch changed raw
records, normalize, upsert (main.py:33-139). As a continuous pipeline that
becomes: file/rate source → canonical payload hash → watermarked
dedup-by-hash → normalized append sink. ``dropDuplicates`` keyed on the
payload hash within the watermark is the streaming twin of the reference's
anti-join change detection; the watermark bounds state exactly like the
reference's ``last_seen`` tracking bounds its scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental import upsert_latest, with_payload_hash

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of event JSON/parquet drops (the Sheets poll,
    continuous). ``maxFilesPerTrigger`` paces micro-batches."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def incremental_normalize(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Hash, dedup within the watermark, normalize — the streaming ELT core.

    ``dropDuplicatesWithinWatermark``, not ``dropDuplicates``: the dedup
    key is the content hash alone (no event-time column in the subset),
    and plain dropDuplicates keeps such state FOREVER — an unbounded
    state store on an unbounded stream. The WithinWatermark variant
    evicts each hash once the watermark passes its first sighting, which
    is the semantics the reference's seen-hash tracking has (a duplicate
    arriving later than the lateness bound re-ingests — exactly the
    at-least-once contract of the batch anti-join run periodically).
    """
    canonical = F.concat(
        F.lit('{"event_type":"'),
        F.col("event_type"),
        F.lit('","user_id":'),
        F.col("user_id"),
        F.lit(',"value":'),
        F.col("value").cast("decimal(10,2)").cast("string"),
        F.lit("}"),
    )
    hashed = with_payload_hash(events, canonical)
    deduped = hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["payload_hash"]
    )
    return deduped.select(
        F.col("event_id").alias("raw_id"),
        F.col("ts").alias("received_at"),
        F.lit("live").alias("source_type"),
        "event_type",
        F.col("value").cast("decimal(10,2)").alias("amount"),
        "payload_hash",
    )


def start_to_memory(normalized: DataFrame, table_name: str = "staging_stream"):
    """Append sink into an in-memory table (tests); production would write
    a transactional table (Delta/Iceberg MERGE) or Kafka."""
    return (
        normalized.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def merge_upsert_batch(
    target_dir: str,
    key_col: str = "raw_id",
    order_cols: tuple[str, ...] = ("received_at", "payload_hash"),
    sink_id: str = "default",
):
    """foreachBatch MERGE: last-write-wins upsert of each micro-batch into
    a keyed parquet target — the streaming twin of ``staging_upsert``
    (the reference's ``ON CONFLICT (raw_id) DO UPDATE``,
    src/transform.py:240-346, run continuously instead of per poll).

    Exactly-once under restart: every batch stamps ``(sink_id, batch_id)``
    into the target, and a REPLAYED batch (crash between sink write and
    checkpoint commit — Structured Streaming re-runs the last uncommitted
    batch with the SAME id) is detected and skipped, so the upsert never
    double-applies. Replay detection is keyed on the sink identity, not
    the batch id alone: a query restarted with a FRESH checkpoint resets
    batch ids to 0, and comparing bare ids against an existing target
    would silently skip every new batch (Delta's idempotent sinks key on
    (appId, batch) for the same reason). ``start_upsert_sink`` derives
    ``sink_id`` from the checkpoint path, coupling the two lifetimes.

    Crash-safety of the swap (write tmp → rename target→old →
    rename tmp→target → remove old), recovered on entry:

    - crash mid-write: previous target intact, stale tmp removed here;
    - crash between the two renames: target missing but ``.old`` holds
      the pre-crash state — restored on entry, so the replayed batch
      re-merges against it instead of seeing an empty target;
    - crash after the swap but before cleanup: stale non-empty ``.old``
      removed on entry (otherwise the next swap's rename would fail
      ENOTEMPTY and wedge the sink).

    Single-writer assumption (one streaming query owns ``target_dir``),
    same as any non-transactional file sink. The target semantics are a
    file-level ``MERGE INTO target USING batch ON target.key = batch.key``
    (only the files holding updated keys rewritten); this body rewrites
    the whole target, and its ``upsert_latest`` dedup is the shuffle such
    a MERGE performs on the key. Within one batch, ``order_cols``
    (descending) pick the winner per key; across batches the newer batch
    wins.

    ``batch_id=None`` is the single-writer form (the CLI): the batch gets
    the wall-clock second, or the id after the highest this sink has
    applied if that is larger, read in the same ``max(_batch_id)`` lookup
    the replay guard makes, and is always applied.
    """
    import os
    import shutil
    import time

    def _merge(batch: DataFrame, batch_id: int | None) -> bool:
        spark = batch.sparkSession
        tmp = target_dir + ".tmp"
        old = target_dir + ".old"
        # recover from a crash window of a previous swap (see docstring)
        if not os.path.exists(target_dir) and os.path.exists(old):
            os.rename(old, target_dir)
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        cur = applied = None
        if os.path.exists(target_dir):
            # schema inferred, not taken from the batch: callers pass
            # batches of their own shapes, and the unionByName below
            # raises when the target's columns do not match them
            cur = spark.read.parquet(target_dir)
            if "_sink_id" not in cur.columns:  # pre-sink_id target layout
                cur = cur.withColumn("_sink_id", F.lit(sink_id))
            applied = (
                cur.filter(F.col("_sink_id") == sink_id)
                .agg(F.max("_batch_id"))
                .first()[0]
            )
        if batch_id is None:  # single-writer form: never a replay
            batch_id = int(time.time())
            if applied is not None:
                batch_id = max(batch_id, int(applied) + 1)
        elif applied is not None and applied >= batch_id:
            return False  # replayed batch for THIS sink: already absorbed
        stamped = batch.withColumn("_batch_id", F.lit(int(batch_id))).withColumn(
            "_sink_id", F.lit(sink_id)
        )
        merged = stamped if cur is None else cur.unionByName(stamped)
        # Batch ids are only ordered WITHIN a sink lifetime; rows inherited
        # from a previous checkpoint/sink may carry arbitrarily high ids,
        # so the current writer outranks them first, then id, then payload
        # order — wall-clock last-write-wins across checkpoint resets.
        result = upsert_latest(
            merged.withColumn("_own", F.col("_sink_id") == sink_id),
            [key_col],
            ["_own", "_batch_id", *order_cols],
        ).drop("_own")
        result.write.mode("overwrite").parquet(tmp)  # materializes the read
        if os.path.exists(target_dir):
            os.rename(target_dir, old)
        os.rename(tmp, target_dir)
        shutil.rmtree(old, ignore_errors=True)
        return True  # batch applied (foreachBatch ignores this; the CLI reads it)

    return _merge


def sink_id_for(checkpoint_dir: str) -> str:
    """Stable sink identity for a checkpoint location — the replay-guard
    key that couples target and checkpoint lifetimes."""
    import hashlib

    return hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]


def start_upsert_sink(
    normalized: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key_col: str = "raw_id",
):
    """Continuous keyed upsert into ``target_dir`` with checkpointed
    progress — the full streaming mirror of the reference's ingest loop
    (poll → normalize → upsert), restartable at the last committed batch.

    The sink identity is derived from the checkpoint path: batch ids are
    only meaningful per checkpoint, so replay detection must be keyed on
    (checkpoint, batch) — see ``merge_upsert_batch``."""
    body = merge_upsert_batch(
        target_dir, key_col, sink_id=sink_id_for(checkpoint_dir)
    )
    return (
        normalized.writeStream.foreachBatch(body)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
