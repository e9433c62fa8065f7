"""SparkSession factory tuned for both local testing and cluster scale."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Runtime-settable confs every query needs regardless of who built the
# session (the round driver passes its own SparkSession to entry()/queries()).
# Static JVM confs can't be fixed post-hoc, but all of these are SQLConf-
# runtime: tz-parity with the DuckDB oracle, nanos parquet reads, exact-case
# JSON field resolution, and the wide-projection codegen cap.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as long, converted
    # back to timestamp in sources.tables (Spark has no nanos type).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Unannotated parquet TIMESTAMP (isAdjustedToUTC=false, how the test
    # tables are written) must read as TIMESTAMP (LTZ), not TIMESTAMP_NTZ:
    # the hash/epoch expressions (unix_micros) are typed for LTZ, and with
    # the session pinned to UTC the wall-clock micros equal DuckDB's naive
    # read of the same files.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Exact-key JSON extraction: staging headers differ only by case
    # (Date/date, Type/type are distinct payload keys), so struct-typed
    # from_json needs case-sensitive field resolution. All internal
    # column references use consistent casing.
    "spark.sql.caseSensitive": "true",
    # Wide ELT projections (40+ staging columns of parse trees) overflow
    # whole-stage codegen's single generated method — janino fails and
    # Spark silently falls back to interpreted eval (~10x slower). Capping
    # fused-plan width makes wide subtrees use per-operator codegen, which
    # splits methods and always compiles; narrow analytical plans (TPC-H
    # shapes are <20 columns) keep full whole-stage fusion.
    "spark.sql.codegen.maxFields": "48",
    "spark.sql.adaptive.enabled": "true",
    # Arbitrary-key header fallback builds a lowercase/space-stripped key map
    # per payload; the reference's dict comprehension (transform.py:112) is
    # last-wins on normalized-key collisions, so the map must be too.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Prepare a session for one catalog call; the query registry's
    wrapper calls this at the start of every registered call.

    Applies the runtime-critical confs to an externally-built session,
    and ends the previous call's intermediates: the caches and views
    ``sources.tables.materialize`` made are released here, so an
    intermediate lives for one query."""
    from .sources.tables import release_materialized

    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — session.py already sets it
    release_materialized(spark)
    return spark


def _mem_mb(mem: str) -> int:
    """Parse a memory string with Spark's size-conf grammar (JavaUtils
    .byteStringAsMb — the parser ``spark.driver.memory`` itself goes
    through): k/m/g/t/p suffix with optional trailing 'b' (kb/mb/gb/
    tb/pb are equally valid JVM strings — ADVICE r11 #5: '4gb' used to
    warn and fall back to the 8g-scaled threshold while the actual heap
    was 4 GiB), bare numbers default to MiB. One grammar
    for both uses of SPARK_GRAFT_DRIVER_MEM, so '4096' means a 4 GiB
    heap AND a 4 GiB-scaled broadcast threshold (r10 advice: the old
    bare-bytes reading here gave mem_mb=0 for the same string Spark
    reads as 4 GiB). An unparseable value falls back to the 8g default
    *with a warning* — silently keeping the 64 MB broadcast threshold
    under a small real heap is exactly the OOM the threshold scaling
    guards against."""
    mem = mem.lower().strip()
    unit_mb = {
        "k": 1 / 1024,
        "m": 1,
        "g": 1024,
        "t": 1024 * 1024,
        "p": 1024 * 1024 * 1024,
    }
    try:
        body = mem
        if body.endswith("b") and len(body) > 1 and body[-2] in unit_mb:
            body = body[:-1]  # JavaUtils accepts kb/mb/gb/tb/pb too
        if body and body[-1] in unit_mb:
            return int(float(body[:-1]) * unit_mb[body[-1]])
        return int(float(body))  # bare number: MiB, Spark's default unit
    except ValueError:
        import warnings

        warnings.warn(
            f"SPARK_GRAFT_DRIVER_MEM={mem!r} is not a JVM memory string; "
            "assuming 8g for broadcast-threshold scaling"
        )
        return 8192


def get_spark(app_name: str = "chilekids-etl-spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local mode is driven by ``SPARK_GRAFT_CPUS`` (default: all cores). The
    config choices are the ones that matter at cluster scale too:

    - AQE on: runtime partition coalescing + skew-join splitting means the
      static shuffle-partition count only needs to be an upper bound.
    - Arrow on: any pandas-UDF path transfers columnar batches, not rows.
    - ``shuffle.partitions`` sized to cores locally; on a real cluster this
      would be ~2-3x total executor cores (AQE coalesces the excess).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Broadcast threshold scales with the heap, capped at 64 MB: a
    # "64 MB" on-wire relation deserializes into a hash relation several
    # times larger, so a memory-capped JVM must push fact-sized
    # relations back to sort-merge (which spills) instead of dying in
    # the broadcast build — measured at sf3 under a 2 g heap, where AQE
    # broadcast a 4.5M-row aggregate and OOMed ("Not enough memory to
    # build and broadcast") at the fixed 64 MB threshold, while a
    # heap-scaled threshold keeps genuine dimension tables broadcast
    # and completes. Two empirically validated anchors: 64 MB at the
    # default 8 g+ heap (every committed bench plan and plan-pin test
    # unchanged), heap/256 below it (8 MB at 2 g — the sf3 memory probe
    # passes 10/10 there; heap/128 = 16 MB measured borderline-flaky:
    # the same broadcast sometimes fits and sometimes dies, which is
    # worse than a deterministic sort-merge).
    mem_mb = _mem_mb(os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    bcast = (64 if mem_mb >= 8192 else max(4, mem_mb // 256)) * 1024 * 1024
    builder = SparkSession.builder.appName(app_name)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    builder = (
        builder.config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Shuffle width defaults to the thread count (local mode: one
        # wave, no scheduling overhead), overridable because per-task
        # memory is rows/partition: holding executor heap fixed while
        # data grows 10x REQUIRES widening the shuffle, the same lever a
        # real cluster pulls via shuffle.partitions/maxPartitionBytes
        # tuning. The decade memory probes set this so partition volume
        # stays constant across scale steps instead of silently growing
        # 10x per step under a fixed thread count.
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTS",
                cpus if cpus != "*" else "32",
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(bcast))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # The oracle-compare harness collects full results driver-side
        # (toPandas); at the sf1 sweep scale the widest result
        # (staging_records: ~600k x 41 parsed columns) overflows the 1g
        # default. Queries themselves never collect — this only sizes
        # the verification path.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
    )
    if not os.environ.get("MASTER") and not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
