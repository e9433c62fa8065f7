"""Parquet table catalog for the test star schema.

At 100 TB these reads stay efficient because every query selects columns
explicitly (parquet column pruning) and filters early (predicate pushdown
into the scan) — verified via ``explain`` in tests.
"""

from __future__ import annotations

import itertools
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Conf controlling whether plans may widen a degenerate local scan.
#   "auto" (default): rebalance ONLY under a local[...] master, where the
#       single-row-group test parquet gives every scan exactly one task.
#   "off": never rebalance (used by plan tests to pin Exchange-free scans).
REBALANCE_CONF = "spark_graft.local_rebalance"


def maybe_rebalance(df: DataFrame, force: bool = False) -> DataFrame:
    """Widen a scan-bound DataFrame across cores — ONLY in degenerate layouts.

    The sandbox's test tables are single-row-group parquet files, so a scan
    is one task no matter how many cores exist; per-row-heavy plans (wide
    JSON parses, shingling) starve without an explicit widening exchange.
    On a real cluster the file layout provides splits and that exchange
    would pointlessly ship the whole filtered fact table, so this helper is
    a no-op there: it checks ``spark.master`` and only acts under
    ``local[...]``. Plans call this instead of hard-coding
    ``.repartition(defaultParallelism)`` so the production plan stays
    Exchange-free above the scan (pinned by tests/test_plans_sinks.py).
    """
    spark = df.sparkSession
    try:
        mode = (spark.conf.get(REBALANCE_CONF, "auto") or "auto").lower()
    except Exception:
        mode = "auto"
    if mode == "off":
        return df
    try:
        master = spark.conf.get("spark.master", "") or ""
    except Exception:
        master = ""
    if not master.startswith("local"):
        return df
    # Skip the widening exchange when the scan already saturates the
    # cores: the test parquet grows real splits with size (sf1
    # lineitem = 32), and repartitioning 32 -> 32 is usually a
    # pure-overhead shuffle of the whole fact table (q1 at sf1:
    # 1.69 s with it, 1.20 s without). ``force=True`` keeps the
    # exchange even then, for plans whose per-row work is so heavy
    # that EVEN task sizes beat the shuffle cost — natural splits
    # follow row-group boundaries and can be lopsided
    # (staging_records' 41-column normalization at sf1: 14.6 s
    # balanced vs 15.7 s on raw splits). getNumPartitions is
    # plan-time only — nothing executes.
    try:
        if (not force
                and df.rdd.getNumPartitions()
                >= spark.sparkContext.defaultParallelism):
            return df
    except Exception:
        pass
    return df.repartition(spark.sparkContext.defaultParallelism)


def rebalance_if_big(df: DataFrame) -> DataFrame:
    """Size-gated ``maybe_rebalance``: skip the widening exchange when the
    scan is below ``SIZE_GATE_BYTES`` and too small to amortize the stage
    barrier it adds.

    The exchange's cost is roughly fixed while its benefit scales with
    bytes-per-core of downstream work — so for thin inputs it is pure
    loss (r10 alternating A/B at sf0.1, AB_r8_vs_r10.json:
    knn_topk_cosine +0.45 s, ann_ivf_cosine +0.64 s, elt_end_to_end
    +0.36 s of the widening/count cost on sub-2 MB scans) and for fat
    ones it is the difference between one and every core busy (sf1 wins
    of 1.4-2.3x recorded at the call sites). The comparison reads the
    relation's plan-time size estimate (parquet file bytes — no job, no
    execution). On a real cluster ``maybe_rebalance`` is a no-op anyway;
    this gate only tunes the degenerate local layouts.
    """
    return maybe_rebalance(df) if above_size_gate(df) else df


# The one size gate of the catalog: a relation whose plan-time size
# estimate (``plan_size_bytes``) is below this takes the small-input plan.
# Thin inputs lose to any extra stage barrier (a widening exchange costs a
# roughly fixed ~0.3-0.5 s of barrier and task scheduling however little
# it ships), fat ones need the parallelism. Between the test scales:
# sf0.1 documents 0.59 MB, embeddings 0.80 MB and events 2,045,762 B all
# sit below it; at sf1 every one of them is above it.
SIZE_GATE_BYTES = 2 << 20


def plan_size_bytes(df: DataFrame) -> int | None:
    """Plan-time size estimate of a relation (parquet file bytes for a
    bare scan) — no job, no execution. The input of the catalog's one
    size gate, ``SIZE_GATE_BYTES``: deterministic for a given input
    layout, so the same data always takes the same plan."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def above_size_gate(df: DataFrame) -> bool:
    """Whether a relation takes the large-input side of a size-gated plan
    choice: its plan-time size estimate is at least ``SIZE_GATE_BYTES``
    (an unknown size counts as large)."""
    size = plan_size_bytes(df)
    return size is None or size >= SIZE_GATE_BYTES


# What ``materialize`` made since the last release, per session and
# thread: (view name, persisted DataFrame, or None for a checkpoint).
_MADE: dict[tuple[SparkSession, int], list[tuple[str, DataFrame | None]]] = {}
_SEQ = itertools.count()


def materialize(df: DataFrame, eager: bool = False) -> str:
    """Materialize an intermediate relation that a plan reads more than
    once, register it under a view name unique to this call, and return
    that name (for the plan's ``*_src=`` template argument, or
    ``spark.table``).

    ``eager=False`` persists the relation lazily: the first consumer
    fills the cache and concurrent consumers may race it. ``eager=True``
    takes an eager ``localCheckpoint``: one blocking job, after which
    every consumer reads the blocks. Which form wins is measured per
    site.

    The lifetime is one query: at the start of each registered catalog
    call (``session.ensure_session_confs``) ``release_materialized``
    unpersists the caches and drops the views that the same thread's
    previous call made in that session, so calls running concurrently in
    other threads keep theirs. A checkpoint is never unpersisted — its
    lineage is gone, so a plan still holding it could not recompute it —
    and is left to Spark's ContextCleaner. Releasing a cache early costs
    a recompute, never a wrong answer.
    """
    if eager:
        df, held = df.localCheckpoint(eager=True), None
    else:
        df = held = df.persist()
    name = f"materialized_{next(_SEQ)}"
    df.createOrReplaceTempView(name)
    _MADE.setdefault((df.sparkSession, threading.get_ident()), []).append(
        (name, held)
    )
    return name


def release_materialized(spark: SparkSession) -> None:
    """Unpersist the caches and drop the views that ``materialize`` made
    in this session and thread since the last release."""
    for name, held in _MADE.pop((spark, threading.get_ident()), []):
        if held is not None:
            held.unpersist()
        spark.catalog.dropTempView(name)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table.

    No blanket scan rebalance here, deliberately: the test tables are
    single-row-group files (every scan = one task), and an A/B at sf0.1
    showed a central repartition-after-scan helps only queries whose
    per-row downstream work is heavy (wide parses, shingling) while the
    extra exchange stage REGRESSES every short join/agg query by
    ~0.3-0.8 s of barrier+scheduling latency. The heavy queries
    (staging_records, training_data_pipeline) therefore rebalance
    explicitly where the CPU is, and everything else keeps the fused
    single-stage scan. On a real cluster the file layout provides splits
    and neither concern exists.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # TIMESTAMP(NANOS) parquet read as long (see session.py); truncate
        # to micros — same truncation DuckDB applies when it loads nanos.
        ts_field = df.schema["ts"]
        if isinstance(ts_field.dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so plans can use spark.sql."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
