"""CLI orchestrator — the reference's front door (main.py:249-301) on
the Spark engine.

Same surface, lake-native storage::

    python -m chilekids_etl_pipeline_spark run [--test] [--source S]
        [--source-type T] [--raw-dir DIR] [--staging-dir DIR]
    python -m chilekids_etl_pipeline_spark load SPREADSHEET_ID [RANGE]
        [--source S] [--values-json FILE] [--raw-dir DIR]
    python -m chilekids_etl_pipeline_spark check [--raw-dir DIR]
        [--config-file F ...]

``run`` is ``run_incremental_elt`` (main.py:33-139): find changed raw
records by payload-hash anti-join, normalize to the typed staging
column set, last-write-wins upsert into the staging target. Rows that
fail normalization are routed to ``<staging>_quarantine`` instead of
upserted (the reference drops them; the payload-hash anti-join would
otherwise make malformed rows permanent). ``--test`` processes only the
first ``TEST_LIMIT`` records and prints 3 examples, and per-stage
durations + an error-rate warning mirror the reference's summary block. ``load`` is ``run_load_sheets`` (main.py:166-216):
sheet values → raw layer with explicit-PK detection, content-hash
fallback ids, duplicate warnings, and insert-if-absent semantics (the
``ON CONFLICT (id) DO NOTHING`` analog). ``check`` is ``run_check_env``
(main.py:220-245) via ``sources.ops.check_env``. The sandbox has no
network, so ``load`` takes the fetched payload from ``--values-json``
(the Sheets API response shape); without it the command reports the
refusal the sheets module raises by design.
"""

from __future__ import annotations

import argparse
import json
import logging
import sys
import time

logger = logging.getLogger("chilekids_etl_pipeline_spark")

TEST_LIMIT = 100  # reference settings.TEST_LIMIT
ERROR_RATE_WARN = 0.1  # main.py:98: warn above 10% normalization errors

DEFAULT_RAW_DIR = "spark-warehouse/raw_data"
DEFAULT_STAGING_DIR = "spark-warehouse/staging_records"


def _setup_logging(debug: bool, json_logs: bool) -> None:
    """src/logger.py analog: level + optional JSON line format.

    Configures THIS package's logger only (not the root logger): a root
    basicConfig would also re-route py4j/pyspark shutdown logging into a
    stream the host process may have closed by then."""
    fmt = (
        '{"ts":"%(asctime)s","level":"%(levelname)s","msg":%(message)r}'
        if json_logs
        else "%(asctime)s %(levelname)s %(message)s"
    )
    handler = logging.StreamHandler(sys.stderr)
    handler.setFormatter(logging.Formatter(fmt))
    logger.handlers[:] = [handler]
    logger.setLevel(logging.DEBUG if debug else logging.INFO)
    logger.propagate = False


def _get_spark():
    from .session import get_spark

    return get_spark()


def run_incremental_elt(
    raw_dir: str,
    staging_dir: str,
    *,
    test_mode: bool = False,
    source: str = "google_sheets",
    source_type: str = "live",
) -> int:
    """Incremental ELT (main.py:33-139). Returns the upserted row count."""
    import os

    from pyspark.sql import functions as F

    from .operators.incremental import changed_records
    from .operators.staging import normalize_staging
    from .sources.sheets import RAW_SCHEMA
    from .streaming.incremental import merge_upsert_batch

    spark = _get_spark()
    limit = TEST_LIMIT if test_mode else None
    logger.info(
        "=== %s ELT run === (limit: %s)",
        "TEST" if test_mode else "FULL", limit or "none",
    )
    start = time.time()

    # 1. changed/new records: anti-join raw vs staged payload hashes
    #    (src/transform.py:200-234)
    if not os.path.exists(raw_dir):
        logger.info("raw dir %s does not exist; nothing to do", raw_dir)
        return 0
    # The program's own directories are read with their known schemas, so
    # no schema-inference job runs. A raw file written before extracted_at
    # existed reads it as null and is stamped with the run time.
    raw = (
        spark.read.schema(RAW_SCHEMA).parquet(raw_dir)
        .filter(F.col("source") == source)
        .withColumn("extracted_at",
                    F.coalesce("extracted_at", F.current_timestamp()))
    )
    # Quarantined parse failures never enter staging, so without the
    # quarantine as a second seen relation every run would re-select them,
    # re-normalize them, and append duplicate rows to the quarantine parquet
    # forever (and the "no new records" early exit would never fire while
    # malformed raw rows exist). Failed rows are offered exactly once.
    quarantine_dir = staging_dir.rstrip("/") + "_quarantine"
    changed = changed_records(raw, *[
        spark.read.schema("payload_hash string").parquet(d)
        for d in (staging_dir, quarantine_dir)
        if os.path.exists(d)
    ])
    if limit:
        # --test takes the FIRST changed records (transform.py:233 ORDER BY
        # extracted_at, id). Only the limit needs that order: the upsert
        # picks winners per key by (received_at, payload_hash), so a full
        # run skips the global sort (a range-sampling job plus a shuffle).
        changed = changed.orderBy("extracted_at", "id").limit(limit)
    t_query = time.time() - start

    # 2. normalize (src/transform.py:18-197): one codegen projection over
    #    the payload column; parse failures become flag columns, and the
    #    reference's per-record rejection is the parse_failed_cols filter.
    #    Pinned, because three passes read it: the aggregate below, the
    #    upsert and the quarantine write; the delta itself is not pinned —
    #    its only pass is the one that fills this cache. The quarantine
    #    append must come last: the pinned plan reads the quarantine as a
    #    seen relation, and a write into a directory that a cached plan
    #    reads makes Spark's CacheManager.recacheByPath drop the cached
    #    data, so a merge after it would re-run the raw scan, both
    #    anti-joins and the normalization.
    t0 = time.time()
    normalized = normalize_staging(changed, payload_col="payload").select(
        F.col("id").alias("raw_id"),
        F.col("extracted_at").alias("received_at"),
        F.lit(source_type).alias("source_type"),
        "payload_hash",
        *[c for c in ("date", "type", "client", "category", "total_rub",
                      "year", "month")],
        "financial_missing_total",
        "parse_failed_cols",
    ).persist()
    failed = F.col("parse_failed_cols") != ""
    try:
        # one aggregate gives the changed count (normalization is 1:1),
        # the error count and the empty-delta exit
        n_changed, n_errors = normalized.agg(
            F.count(F.lit(1)), F.count(F.when(failed, 1))
        ).first()
        t_norm = time.time() - t0
        if n_changed == 0:
            logger.info("no new records found; done")
            return 0
        logger.info(
            "found and normalized %d changed records (errors: %d) in %.1fs",
            n_changed, n_errors, time.time() - start,
        )
        if n_errors / n_changed > ERROR_RATE_WARN:
            logger.warning(
                "high error rate: %.1f%% (%d/%d)",
                100 * n_errors / n_changed, n_errors, n_changed,
            )

        # 3. test-mode examples (main.py:106-110)
        if test_mode:
            logger.info("--- example records (first 3) ---")
            for i, rec in enumerate(normalized.limit(3).collect(), 1):
                logger.info(
                    "record %d: %s | %s rub | %s",
                    i, rec["client"], rec["total_rub"], rec["category"],
                )

        # 4. upsert (src/transform.py:240-346): last-write-wins keyed merge
        #    into the staging parquet target. Only clean rows go in — the
        #    reference drops records that fail normalization (transform.py's
        #    per-record except -> continue), so rows with parse_failed_cols
        #    are routed to a quarantine parquet beside the target instead of
        #    becoming permanent staging rows (the payload_hash anti-join
        #    would otherwise never re-offer them). The quarantine is written
        #    after the merge (see the pin above). A crash between the two
        #    writes loses nothing: rows in neither directory are offered
        #    again by the next run, and no row is written twice.
        t0 = time.time()
        n_upserted = n_changed - n_errors
        if n_upserted:
            merge = merge_upsert_batch(
                staging_dir,
                key_col="raw_id",
                order_cols=("received_at", "payload_hash"),
                sink_id="cli",
            )
            # batch_id=None: the merge picks an id past whatever this sink
            # has applied, so two runs within one wall-clock second both
            # apply instead of the second being skipped as a replay
            merge(normalized.filter(~failed), None)
        if n_errors:
            normalized.filter(failed).write.mode("append").parquet(
                quarantine_dir
            )
            logger.warning(
                "quarantined %d records with parse failures to %s",
                n_errors, quarantine_dir,
            )
        t_upsert = time.time() - t0
    finally:
        # also on failure: a raising write or merge must not leave the
        # batch pinned in a long-lived session
        normalized.unpersist()

    logger.info("=== summary ===")
    logger.info(
        "time: %.1fs | processed: %d | upserted: %d | rejected: %d",
        time.time() - start, n_changed, n_upserted, n_errors,
    )
    logger.info(
        "stages (s): query=%.1f norm=%.1f upsert=%.1f",
        t_query, t_norm, t_upsert,
    )
    return n_upserted


def run_load_sheets(
    spreadsheet_id: str,
    range_name: str,
    *,
    source: str = "google_sheets",
    values_json: str | None = None,
    raw_dir: str = DEFAULT_RAW_DIR,
) -> int:
    """Sheet → raw layer (main.py:166-216). Returns rows loaded."""
    import os

    from pyspark.sql import functions as F

    from .sources.sheets import (
        RAW_SCHEMA, fetch_google_sheets, raw_rows_to_df, records_to_raw_rows,
        string_columns_to_df, values_to_records,
    )

    spark = _get_spark()
    logger.info(
        "fetching sheet %s %s (source=%s)", spreadsheet_id, range_name, source
    )
    if values_json:
        with open(values_json) as f:
            data = json.load(f)
        values = data["values"] if isinstance(data, dict) else data
        records = values_to_records(values)
    else:
        # no network in this runtime: the stub refuses with a pointer to
        # the injected-transport path — surfaced as the actionable error
        import asyncio

        records = asyncio.run(
            fetch_google_sheets(spreadsheet_id, range_name)
        )
    logger.info("got %d rows; loading into raw", len(records))
    rows = records_to_raw_rows(records, source)
    # the rows are hashed in driver memory already: count duplicates there
    n_dups = len(rows) - len({r[3] for r in rows})
    if n_dups:
        logger.warning(
            "found %d duplicate content hashes; add a unique ID column "
            "to the sheet", n_dups,
        )
    if os.path.exists(raw_dir):
        # ON CONFLICT (id) DO NOTHING: one semi-join against the sheet's
        # broadcast ids finds which of them raw already holds; the rest are
        # appended straight from driver memory, so their count is exact
        # without pinning a join or re-running it against the grown dir.
        ids = string_columns_to_df(spark, ("id",), [(r[0],) for r in rows])
        held = {
            r.id for r in spark.read.schema(RAW_SCHEMA).parquet(raw_dir)
            .select("id")
            .join(F.broadcast(ids), "id", "left_semi").collect()
        }
        rows = [r for r in rows if r[0] not in held]
        if rows:
            raw_rows_to_df(spark, rows).write.mode("append").parquet(raw_dir)
    else:
        raw_rows_to_df(spark, rows).write.mode("overwrite").parquet(raw_dir)
    n = len(rows)
    logger.info("loaded %d rows into %s", n, raw_dir)
    return n


def run_check_env(
    raw_dir: str, config_files: tuple[str, ...]
) -> bool:
    """Environment preflight (main.py:220-245). True when all checks pass."""
    from .sources.ops import check_env

    spark = _get_spark()
    results = check_env(
        spark,
        required_settings={"raw_dir": raw_dir},
        config_files=config_files,
    )
    ok = True
    for r in results:
        mark = "OK " if r.ok else "FAIL"
        (logger.info if r.ok else logger.error)(
            "%s %s%s", mark, r.name, f" ({r.detail})" if r.detail else ""
        )
        ok = ok and r.ok
    return ok


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m chilekids_etl_pipeline_spark",
        description="ETL pipeline: raw -> staging.records (Spark engine)",
    )
    parser.add_argument("--debug", action="store_true",
                        help="set log level to DEBUG")
    parser.add_argument("--json-logs", action="store_true",
                        help="enable JSON logging format")
    sub = parser.add_subparsers(dest="command", required=True)

    p_run = sub.add_parser("run", help="run incremental ELT")
    p_run.add_argument("--test", action="store_true",
                       help="test mode: first 100 records + examples")
    p_run.add_argument("--source", default="google_sheets",
                       help="raw data source name")
    p_run.add_argument("--source-type", default="live",
                       help="target staging source_type tag")
    p_run.add_argument("--raw-dir", default=DEFAULT_RAW_DIR)
    p_run.add_argument("--staging-dir", default=DEFAULT_STAGING_DIR)

    p_load = sub.add_parser("load", help="load sheet values into raw")
    p_load.add_argument("spreadsheet_id")
    p_load.add_argument("range", nargs="?", default="Sheet1!A:AF")
    p_load.add_argument("--source", default="google_sheets")
    p_load.add_argument("--values-json",
                        help="local file in the Sheets API response shape "
                             "(offline transport)")
    p_load.add_argument("--raw-dir", default=DEFAULT_RAW_DIR)

    p_check = sub.add_parser("check", help="check environment")
    p_check.add_argument("--raw-dir", default=DEFAULT_RAW_DIR)
    p_check.add_argument("--config-file", action="append", default=[])

    args = parser.parse_args(argv)
    _setup_logging(args.debug, args.json_logs)
    try:
        if args.command == "run":
            run_incremental_elt(
                args.raw_dir, args.staging_dir,
                test_mode=args.test, source=args.source,
                source_type=args.source_type,
            )
        elif args.command == "load":
            run_load_sheets(
                args.spreadsheet_id, args.range,
                source=args.source, values_json=args.values_json,
                raw_dir=args.raw_dir,
            )
        elif args.command == "check":
            if not run_check_env(args.raw_dir, tuple(args.config_file)):
                return 1
        return 0
    except KeyboardInterrupt:
        logger.info("interrupted")
        return 1
    except Exception as e:  # noqa: BLE001 — the reference's fatal handler
        logger.error("fatal: %s", e, exc_info=True)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
