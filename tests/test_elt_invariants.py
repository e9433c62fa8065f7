"""Invariants of the incremental ELT loop (load → anti-join → normalize →
last-write-wins upsert), checked without a second implementation:

- two incremental batches leave the same staging business rows as one run
  over both sheets;
- a rerun with no new raw rows changes nothing;
- ``load`` reports the exact duplicate content-hash count;
- ``--test`` takes the first ``TEST_LIMIT`` changed rows in
  ``(extracted_at, id)`` order;
- a failing upsert leaves no relation pinned in the session;
- the merge reads the pinned delta instead of recomputing it;
- a raw directory written without ``extracted_at`` is stamped at run time;
- one warm load + incremental batch stays within its Spark job budget.
"""

from __future__ import annotations

import json
import logging
import os

import pytest

from chilekids_etl_pipeline_spark import __main__ as cli
from chilekids_etl_pipeline_spark.__main__ import (
    run_incremental_elt,
    run_load_sheets,
)

HEADER = ["id", "Date", "Type", "Client", "Category", "Total RUB"]

SHEET_A = [
    ["r1", "01.02.2024", "Income", "Acme", "ads", "1 200,50"],
    ["r2", "2024-02-03", "Expense", "Globex", "rent", "$300"],
    ["", "2024-02-04", "Expense", "Initech", "misc", "42"],  # no pk
    ["r3", "05.02.2024", "Income", "Evil", "ads", "not-money"],  # quarantined
]
# a new pk row, an edited pk row (insert-if-absent: never reaches raw), an
# edited row without a pk (a new content id), and a new malformed row
SHEET_B = [
    ["r4", "06.02.2024", "Income", "Hooli", "ads", "(7,5)"],
    ["r2", "2024-02-03", "Expense", "Globex", "rent", "$999"],
    ["", "2024-02-04", "Expense", "Initech", "misc", "43"],
    ["r5", "07.02.2024", "Expense", "Umbrella", "misc", "12..3"],
]

BUSINESS = ["raw_id", "source_type", "payload_hash", "date", "type", "client",
            "category", "total_rub", "year", "month",
            "financial_missing_total", "parse_failed_cols", "_sink_id"]


def _sheet(tmp_path, name: str, rows: list[list[str]]) -> str:
    p = tmp_path / f"{name}.json"
    p.write_text(json.dumps({"values": [HEADER, *rows]}))
    return str(p)


def _rows(spark, path: str, cols: list[str]) -> list[tuple]:
    if not os.path.exists(path):
        return []
    return sorted((tuple(r) for r in spark.read.parquet(path).select(*cols)
                   .collect()), key=repr)


def test_two_batches_equal_one_run_over_both_sheets(spark, tmp_path):
    a, b = _sheet(tmp_path, "a", SHEET_A), _sheet(tmp_path, "b", SHEET_B)

    two = tmp_path / "two"
    run_load_sheets("S", "R", values_json=a, raw_dir=str(two / "raw"))
    assert run_incremental_elt(str(two / "raw"), str(two / "staging")) == 3
    run_load_sheets("S", "R", values_json=b, raw_dir=str(two / "raw"))
    assert run_incremental_elt(str(two / "raw"), str(two / "staging")) == 2

    one = tmp_path / "one"
    run_load_sheets("S", "R", values_json=a, raw_dir=str(one / "raw"))
    run_load_sheets("S", "R", values_json=b, raw_dir=str(one / "raw"))
    assert run_incremental_elt(str(one / "raw"), str(one / "staging")) == 5

    # received_at (extraction time) and _batch_id (run time) differ by design
    assert _rows(spark, str(two / "staging"), BUSINESS) == _rows(
        spark, str(one / "staging"), BUSINESS)
    qcols = ["raw_id", "payload_hash", "parse_failed_cols"]
    quarantined = _rows(spark, str(two / "staging_quarantine"), qcols)
    assert quarantined == _rows(spark, str(one / "staging_quarantine"), qcols)
    assert [(r[0], r[2]) for r in quarantined] == [
        ("r3", "total_rub"), ("r5", "total_rub")]


def test_rerun_without_new_rows_changes_nothing(spark, tmp_path):
    raw, staging = str(tmp_path / "raw"), str(tmp_path / "staging")
    quarantine = staging + "_quarantine"
    run_load_sheets("S", "R", values_json=_sheet(tmp_path, "a", SHEET_A),
                    raw_dir=raw)
    assert run_incremental_elt(raw, staging) == 3

    def state():
        cols = spark.read.parquet(staging).columns
        return (sorted(os.listdir(staging)), sorted(os.listdir(quarantine)),
                _rows(spark, staging, cols),
                _rows(spark, quarantine, ["raw_id", "payload_hash"]))

    before = state()
    assert run_incremental_elt(raw, staging) == 0
    assert run_incremental_elt(raw, staging, test_mode=True) == 0
    assert state() == before


def test_load_warns_with_exact_duplicate_hash_count(tmp_path, caplog,
                                                    monkeypatch):
    rows = [
        ["", "01.02.2024", "Income", "Acme", "ads", "1"],
        ["", "01.02.2024", "Income", "Acme", "ads", "1"],
        ["x1", "01.02.2024", "Income", "Acme", "ads", "1"],
        ["x2", "01.02.2024", "Income", "Acme", "ads", "1"],
        ["", "02.02.2024", "Expense", "Globex", "rent", "2"],
        ["", "02.02.2024", "Expense", "Globex", "rent", "2"],
        ["", "02.02.2024", "Expense", "Globex", "rent", "2"],
    ]
    # the CLI's own log setup turns propagation off; caplog listens at root
    monkeypatch.setattr(cli.logger, "propagate", True)
    with caplog.at_level(logging.WARNING, logger=cli.logger.name):
        n = run_load_sheets("S", "R", values_json=_sheet(tmp_path, "d", rows),
                            raw_dir=str(tmp_path / "raw"))
    assert n == 7  # duplicates are loaded (their fallback ids differ)
    dup = [r.getMessage() for r in caplog.records
           if "duplicate content hashes" in r.getMessage()]
    assert dup == ["found 3 duplicate content hashes; add a unique ID column "
                   "to the sheet"]


def test_test_mode_takes_first_rows_by_extracted_at_then_id(
        spark, tmp_path, monkeypatch):
    raw, staging = str(tmp_path / "raw"), str(tmp_path / "staging")
    early = [["z2", "01.02.2024", "Income", "A", "ads", "1"],
             ["z1", "01.02.2024", "Income", "B", "ads", "2"]]
    late = [["a3", "01.02.2024", "Income", "C", "ads", "3"],
            ["a1", "01.02.2024", "Income", "D", "ads", "4"],
            ["a2", "01.02.2024", "Income", "E", "ads", "5"]]
    run_load_sheets("S", "R", values_json=_sheet(tmp_path, "e", early),
                    raw_dir=raw)
    run_load_sheets("S", "R", values_json=_sheet(tmp_path, "l", late),
                    raw_dir=raw)
    monkeypatch.setattr(cli, "TEST_LIMIT", 3)
    assert run_incremental_elt(raw, staging, test_mode=True) == 3
    # the earlier load first (by id within it), then the later load's
    # smallest id — not the three smallest ids overall
    assert [r[0] for r in _rows(spark, staging, ["raw_id"])] == [
        "a1", "z1", "z2"]
    assert run_incremental_elt(raw, staging, test_mode=True) == 2


def test_failed_upsert_releases_persisted_relations(spark, tmp_path,
                                                    monkeypatch):
    from chilekids_etl_pipeline_spark.streaming import incremental

    def failing_merge(*args, **kwargs):
        def merge(batch, batch_id):
            batch.count()  # the batch is read before the write fails
            raise RuntimeError("disk full")
        return merge

    raw, staging = str(tmp_path / "raw"), str(tmp_path / "staging")
    run_load_sheets("S", "R", values_json=_sheet(tmp_path, "a", SHEET_A),
                    raw_dir=raw)
    spark.catalog.clearCache()
    pinned = spark.sparkContext._jsc.getPersistentRDDs
    before = pinned().size()  # 0 unless an earlier test checkpointed
    monkeypatch.setattr(incremental, "merge_upsert_batch", failing_merge)
    with pytest.raises(RuntimeError, match="disk full"):
        run_incremental_elt(raw, staging)
    assert pinned().size() == before


def _jobs_of(spark, action, tag: str) -> int:
    """Number of Spark jobs ``action()`` launches."""
    sc = spark.sparkContext
    group = f"elt-{tag}-{os.getpid()}"
    sc.setJobGroup(group, tag)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_reads_the_pinned_delta(spark, tmp_path, monkeypatch):
    # A warm batch that quarantines a row (r5): the pinned plan reads the
    # quarantine directory as a seen relation, so a quarantine append
    # before the merge would clear the pin, and counting the merge's input
    # would re-run the raw scan, both anti-joins and the normalization.
    from pyspark.sql import functions as F

    from chilekids_etl_pipeline_spark.streaming import incremental

    raw, staging = str(tmp_path / "raw"), str(tmp_path / "staging")
    run_load_sheets("S", "R", values_json=_sheet(tmp_path, "a", SHEET_A),
                    raw_dir=raw)
    assert run_incremental_elt(raw, staging) == 3
    run_load_sheets("S", "R", values_json=_sheet(tmp_path, "b", SHEET_B),
                    raw_dir=raw)

    merge_factory = incremental.merge_upsert_batch
    jobs = {}

    def checking_merge_factory(*args, **kwargs):
        merge = merge_factory(*args, **kwargs)

        def checking_merge(batch, batch_id):
            # the batch first: reading anything else could refill the pin
            jobs["batch"] = _jobs_of(spark, batch.count, "pinned-delta")
            fresh = spark.range(0, 8, 1, 4).persist()
            try:
                fresh.count()
                jobs["cached"] = _jobs_of(
                    spark, fresh.filter(F.col("id") >= 0).count, "cached")
            finally:
                fresh.unpersist()
            return merge(batch, batch_id)

        return checking_merge

    monkeypatch.setattr(incremental, "merge_upsert_batch",
                        checking_merge_factory)
    assert run_incremental_elt(raw, staging) == 2
    assert 0 < jobs["batch"] <= jobs["cached"], jobs
    qcols = ["raw_id", "parse_failed_cols"]
    assert _rows(spark, staging + "_quarantine", qcols) == [
        ("r3", "total_rub"), ("r5", "total_rub")]


def test_raw_without_extracted_at_is_stamped_at_run_time(spark, tmp_path):
    from pyspark.sql import functions as F

    from chilekids_etl_pipeline_spark.sources.sheets import (
        records_to_raw_rows, values_to_records,
    )

    raw, staging = str(tmp_path / "raw"), str(tmp_path / "staging")
    legacy = records_to_raw_rows(values_to_records([HEADER, *SHEET_A]),
                                 "google_sheets")
    spark.createDataFrame(
        legacy, "id string, source string, payload string, payload_hash string"
    ).write.parquet(raw)
    # a later load appends files that do carry extracted_at
    run_load_sheets("S", "R", values_json=_sheet(tmp_path, "b", SHEET_B),
                    raw_dir=raw)
    loaded = dict(_rows(spark, raw, ["id", "extracted_at"]))
    assert {k for k, v in loaded.items() if v is None} == {r[0] for r in legacy}

    def now():
        return spark.range(1).select(F.current_timestamp()).first()[0]

    t0 = now()
    assert run_incremental_elt(raw, staging) == 5
    t1 = now()
    received = dict(_rows(spark, staging, ["raw_id", "received_at"]))
    received.update(_rows(spark, staging + "_quarantine",
                          ["raw_id", "received_at"]))
    assert set(received) == set(loaded)
    for raw_id, at in received.items():
        if loaded[raw_id] is None:
            assert t0 <= at <= t1, (raw_id, at)
        else:
            assert at == loaded[raw_id], raw_id


# Spark jobs of one warm batch on the fixture below: load 3 (id semi-join
# collect 2, append 1), incremental ELT 11 (the one aggregate over the
# normalized delta 5; merge: target schema 1, max(_batch_id) 2, rewrite 2;
# quarantine append 1). The count repeats exactly run to run, so a job that
# creeps back into the per-batch path fails this test.
JOB_BUDGET = 14


def test_warm_batch_stays_within_job_budget(spark, tmp_path):
    raw, staging = str(tmp_path / "raw"), str(tmp_path / "staging")
    run_load_sheets("S", "R", values_json=_sheet(tmp_path, "a", SHEET_A),
                    raw_dir=raw)
    assert run_incremental_elt(raw, staging) == 3  # warm: every dir exists
    b = _sheet(tmp_path, "b", SHEET_B)

    def batch():
        run_load_sheets("S", "R", values_json=b, raw_dir=raw)
        assert run_incremental_elt(raw, staging) == 2

    assert 0 < _jobs_of(spark, batch, "job-budget") <= JOB_BUDGET
