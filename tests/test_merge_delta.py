"""Within-batch dedup of a keyed merge (``upsert_latest``).

A merge into the keyed sink must see one source row per key, so a batch
that writes the same key more than once keeps only its last write: the
highest first order column, with the second order column breaking ties.
"""

from __future__ import annotations

from chilekids_etl_pipeline_spark.operators.incremental import upsert_latest


def test_dedup_batch_picks_last_write_per_key(spark):
    batch = spark.createDataFrame(
        [("k1", 1, "h1"), ("k1", 3, "h2"), ("k1", 3, "h0"), ("k1", 2, "h3"), ("k2", 5, "h4")],
        "raw_id string, received_at int, payload_hash string",
    )
    got = {
        r.raw_id: (r.received_at, r.payload_hash)
        for r in upsert_latest(batch, ["raw_id"], ["received_at", "payload_hash"]).collect()
    }
    assert got == {"k1": (3, "h2"), "k2": (5, "h4")}
