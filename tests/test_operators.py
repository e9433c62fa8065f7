"""Semantics tests for the composable operators on tiny in-memory frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from chilekids_etl_pipeline_spark.operators.dims import distinct_dimension, merge_dimension
from chilekids_etl_pipeline_spark.operators.incremental import (
    audit_diff,
    changed_records,
    mark_content_duplicates,
    upsert_latest,
    with_payload_hash,
)


def test_changed_records_anti_join(spark):
    raw = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, payload_hash string")
    staging = spark.createDataFrame([("a",), ("b",)], "payload_hash string")
    got = sorted(r.id for r in changed_records(raw, staging).collect())
    assert got == [3]
    # every seen relation removes its hashes, and duplicates on a seen side
    # neither multiply nor drop raw rows
    raw = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "d")], "id int, payload_hash string"
    )
    quarantine = spark.createDataFrame([("c",), ("c",), ("x",)], "payload_hash string")
    got = sorted(r.id for r in changed_records(raw, staging, quarantine).collect())
    assert got == [4, 5]
    assert sorted(r.id for r in changed_records(raw).collect()) == [1, 2, 3, 4, 5]


def test_upsert_latest_keeps_highest_version(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 1), (1, 20.0, 2), (2, 5.0, 1)], "k int, v double, version int"
    )
    got = {r.k: (r.v, r.version) for r in upsert_latest(df, ["k"], ["version"]).collect()}
    assert got == {1: (20.0, 2), 2: (5.0, 1)}


def test_audit_diff_emits_changed_only(spark):
    old = spark.createDataFrame([(1, "h1", "p1"), (2, "h2", "p2")], "id int, payload_hash string, payload string")
    new = spark.createDataFrame([(1, "h1", "p1"), (2, "hX", "pX")], "id int, payload_hash string, payload string")
    rows = audit_diff(old, new, key="id").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.record_id, r.old_value, r.new_value, r.changed_by) == (2, "p2", "pX", "system")


def test_mark_content_duplicates(spark):
    df = spark.createDataFrame([(1, "h"), (2, "h"), (3, "g")], "event_id int, payload_hash string")
    got = {r.event_id: r.is_dup for r in mark_content_duplicates(df).collect()}
    assert got == {1: False, 2: True, 3: False}


def test_payload_hash_is_md5_of_canonical(spark):
    import hashlib

    df = spark.createDataFrame([("x",)], "v string")
    out = with_payload_hash(df, F.concat(F.lit('{"v":"'), F.col("v"), F.lit('"}'))).collect()[0]
    assert out.payload_hash == hashlib.md5(b'{"v":"x"}').hexdigest()


def test_merge_dimension_prefers_greatest_origin(spark):
    explicit = spark.createDataFrame(
        [("alice", "2024-01-01", "manual")], "name string, updated_at string, origin string"
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    implicit = spark.createDataFrame(
        [("alice", None, "transaction"), ("bob", None, "transaction")],
        "name string, updated_at string, origin string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    got = {r.name: r.origin for r in merge_dimension(explicit, implicit).collect()}
    # reference's DISTINCT ON ... ORDER BY origin DESC keeps 'transaction'
    assert got == {"alice": "transaction", "bob": "transaction"}


def test_distinct_dimension_drops_null_and_empty(spark):
    df = spark.createDataFrame([("a",), ("a",), ("",), (None,)], "c string")
    got = sorted(r.name for r in distinct_dimension(df, "c").collect())
    assert got == ["a"]


def test_salted_agg_equals_plain_groupby_property(spark):
    """Property: two-stage salted aggregation is EXACT for algebraic
    aggregates under any key distribution, salt column, and bucket
    count — the invariant the skew paths rest on (round-8 skew stress
    pinned it at sf1 with checksums; this pins it on adversarial small
    inputs including all-one-key, all-distinct, and negative values)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from chilekids_etl_pipeline_spark.operators.skew import salted_agg

    @settings(max_examples=8, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),     # skewed key
                st.integers(min_value=-1000, max_value=1000),
                st.integers(min_value=0, max_value=10**6), # salt source
            ),
            min_size=1, max_size=60,
        ),
        buckets=st.sampled_from([1, 2, 16]),
    )
    def inner(rows, buckets):
        df = spark.createDataFrame(rows, "k int, v long, sid long")
        got = {
            r.k: (r.n, r.total, r.lo, r.hi)
            for r in salted_agg(
                df, ["k"],
                {"n": "count:*", "total": "sum:v",
                 "lo": "min:v", "hi": "max:v"},
                salt_col=F.col("sid"), salt_buckets=buckets,
            ).collect()
        }
        want = {
            r.k: (r.n, r.total, r.lo, r.hi)
            for r in df.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"),
                F.min("v").alias("lo"), F.max("v").alias("hi"),
            ).collect()
        }
        assert got == want

    inner()
