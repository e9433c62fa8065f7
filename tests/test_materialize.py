"""Query-scoped intermediates and the catalog's one size gate.

``sources.tables.materialize`` names each intermediate uniquely per call,
and each registered catalog call starts by releasing what the same
thread's previous call made, so repeated calls leave no more state behind
than one call, and two plans built before either executes cannot clobber
each other.
``SIZE_GATE_BYTES`` is the one plan-size break-even; the entries that
read it are run on both sides of it against their DuckDB oracles, since
no test-scale input reaches the real threshold.

Entries are found from their dependency closure (the source the
verified-impl hash covers), so a new caller of either is tested without
editing this file.
"""

from __future__ import annotations

import threading

import pytest

from tests.conftest import SF_SMALL
from tools.check import value_hash


def _catalog():
    import __spark_entry__ as entry_mod

    entry_mod.queries()
    from chilekids_etl_pipeline_spark.plans import QUERIES, _dependency_sources

    def using(key: str) -> list[str]:
        return sorted(
            name for name, e in QUERIES.items()
            if any(s.startswith(key) for s in _dependency_sources(e.raw_fn))
        )

    tables = "chilekids_etl_pipeline_spark.sources.tables"
    return (
        {name: e.fn for name, e in QUERIES.items()},
        entry_mod.oracle_sql(),
        using(f"{tables}.materialize\n"),
        using(f"{tables}:SIZE_GATE_BYTES\n"),
    )


QUERIES, ORACLES, MATERIALIZING, GATED = _catalog()


def _cache_entries(spark) -> int:
    """Entries in the session's CacheManager (persisted plans; checkpoints
    are not among them)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_discovery_finds_the_known_callers():
    assert {"dedup_minhash_lsh", "q11_important_stock"} <= set(MATERIALIZING)
    assert {"elt_end_to_end", "dedup_embedding_cosine"} <= set(GATED)


@pytest.mark.parametrize("name", MATERIALIZING)
def test_materializing_entry_is_query_scoped(spark, monkeypatch, name):
    from chilekids_etl_pipeline_spark.sources import tables

    # gate at 0: size-gated entries take their large-input branch, where
    # most of their intermediates are
    monkeypatch.setattr(tables, "SIZE_GATE_BYTES", 0)
    fn = QUERIES[name]
    first = value_hash(fn(spark, SF_SMALL).toPandas())
    caches1, views1 = _cache_entries(spark), _temp_views(spark)
    # build A, build B, then execute both: B's start releases A's
    # intermediates, which may cost A a recompute but never its answer
    a = fn(spark, SF_SMALL)
    b = fn(spark, SF_SMALL)
    assert value_hash(a.toPandas()) == first
    assert value_hash(b.toPandas()) == first
    caches2, views2 = _cache_entries(spark), _temp_views(spark)
    assert caches2 == caches1
    assert len(views2) == len(views1)
    # the later calls released the first call's intermediates and
    # registered their own under fresh names
    assert views1 - views2 and views2 - views1


def test_release_leaves_other_threads_intermediates(spark):
    """A call's start releases only what the same thread's previous call
    made, so a call running in another thread keeps its views."""
    from chilekids_etl_pipeline_spark.sources.tables import (
        materialize,
        release_materialized,
    )

    df = spark.range(3)
    made, ready, done = [], threading.Event(), threading.Event()

    def other_call():
        made.append(materialize(df))
        ready.set()
        done.wait(timeout=60)
        release_materialized(spark)

    t = threading.Thread(target=other_call)
    t.start()
    try:
        assert ready.wait(timeout=60)
        mine = materialize(df)
        release_materialized(spark)
        views = _temp_views(spark)
        assert mine not in views
        assert made[0] in views
    finally:
        done.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert made[0] not in _temp_views(spark)


@pytest.mark.parametrize("gate", [0, 1 << 62], ids=["gate0", "gate_inf"])
@pytest.mark.parametrize("name", GATED)
def test_forced_gate_branch_matches_oracle(spark, duck, monkeypatch, name,
                                           gate):
    from chilekids_etl_pipeline_spark.sources import tables

    monkeypatch.setattr(tables, "SIZE_GATE_BYTES", gate)
    sdf = QUERIES[name](spark, SF_SMALL).toPandas()
    odf = duck.execute(ORACLES[name]).fetchdf()
    assert len(sdf) == len(odf), f"row count {len(sdf)} != {len(odf)}"
    assert value_hash(sdf) == value_hash(odf)
