"""The two workloads. Each times calls into the package's public functions
from outside the package and checks their outputs outside the timed ops.

A workload returns a ``Run``: the ops it timed (name, seconds, ok), the
set-up time, and the per-layer metrics its traced collectors gathered.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from decimal import Decimal

import sheetgen
import tablegen

SETUP_REPS = 3  # mart_queries set-up repetitions; setup_s takes their median

# elt_incremental: a base sheet loaded during set-up, then delta batches of
# about 2% new rows. The first batches after the base load are slower while
# the JVM compiles the batch path (measured on 4 cores: 9.5, 7.5, 6.7, 6.4,
# 6.1, 5.9 s, then 5.2-5.7 s), so ELT_WARMUP_BATCHES untimed batches run on
# the same root first. Two more would reach the flat but make every run
# ~12 s longer; perfbench/README.md has the trade-off.
ELT_BASE_ROWS = 20_000
ELT_NEW_ROWS = 400
ELT_NOPK_EDITS = 40
ELT_PK_EDITS = 20
ELT_WARMUP_BATCHES = 4
ELT_MIN_BATCHES = 2

# mart_queries: the paper's marts and ELT views plus a TPC-H join chain and
# the MinHash kernel, read at MART_SF from seeded tables. The order is the
# same for every seed: the first queries of a fresh process pay one-time
# costs, so a seed-dependent order would move cost between queries.
MART_SF = 0.001
MART_QUERIES = [
    "staging_records",
    "financials_monthly",
    "expenses_by_category",
    "dim_clients",
    "changed_records",
    "q5_local_volume",
    "dedup_minhash_lsh",
]
MART_MIN_PASSES = 1
INPUT_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Run:
    ops: list[tuple[str, float, bool]] = field(default_factory=list)
    setup_s: float = 0.0
    cpu_s: float = 0.0  # CPU seconds of the timed ops (Python + JVM)
    rows_offered: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    check_errors: list[tuple[str, str]] = field(default_factory=list)  # (op, why)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


# --------------------------------------------------------------------------
# elt_incremental
# --------------------------------------------------------------------------

def elt_incremental(ctx) -> Run:
    from chilekids_etl_pipeline_spark import __main__ as cli
    from chilekids_etl_pipeline_spark.operators import staging as staging_mod
    from chilekids_etl_pipeline_spark.streaming import incremental as incr_mod

    spark, tr, run = ctx.spark, ctx.tracer, Run()
    work = ctx.work

    stream = sheetgen.SheetStream(ctx.seed, ELT_BASE_ROWS)
    root = _fresh(f"{work}/elt")

    def write(values: dict, name: str) -> str:
        path = f"{work}/{name}.json"
        with open(path, "w") as f:
            json.dump(values, f, ensure_ascii=False)
        return path

    def load(path: str) -> tuple[int, int, float, float]:
        t0 = time.perf_counter()
        loaded = cli.run_load_sheets("perfbench", "Sheet1!A:AF", values_json=path,
                                     raw_dir=f"{root}/raw")
        t1 = time.perf_counter()
        upserted = cli.run_incremental_elt(f"{root}/raw", f"{root}/staging")
        return loaded, upserted, t1 - t0, time.perf_counter() - t1

    def next_batch(k: int) -> tuple[str, int]:
        values = stream.batch(new_rows=ELT_NEW_ROWS, nopk_edits=ELT_NOPK_EDITS,
                              pk_edits=ELT_PK_EDITS)
        return write(values, f"batch{k}"), len(values["values"]) - 1

    # Set-up: the base sheet, then untimed warm-up batches on the same root.
    # Input generation stays outside the measured time.
    path = write(stream.base(), "base")
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    load(path)
    base_s = time.perf_counter() - t0
    warmup = []
    for k in range(ELT_WARMUP_BATCHES):
        path, _ = next_batch(k)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        load(path)
        warmup.append(time.perf_counter() - t0)
    run.setup_s = base_s + sum(warmup)
    run.layers["elt.base_load_s"] = base_s
    run.layers["session.warmup_s"] = sum(warmup)
    run.layers["elt.warmup_last_s"] = warmup[-1]
    log(f"base load {base_s:.2f} s, warm-up batches {[round(s, 2) for s in warmup]}")

    if tr.on:
        _instrument_elt(tr, staging_mod, incr_mod)

    t_start, cpu0 = time.perf_counter(), ctx.cpu_s()
    k = ELT_WARMUP_BATCHES
    while (k - ELT_WARMUP_BATCHES < ELT_MIN_BATCHES
           or time.perf_counter() - t_start < ctx.seconds):
        path, offered = next_batch(k)
        spark.catalog.clearCache()
        ok = True
        with tr.op("elt.batch") as rec:
            t0 = time.perf_counter()
            try:
                _, upserted, t_load, t_elt = load(path)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                ok = False
                run.check_errors.append(("elt.batch", f"{type(e).__name__}: {e}"[:300]))
            dt = time.perf_counter() - t0
        run.ops.append(("elt.batch", dt, ok))
        run.rows_offered += offered
        log(f"batch {k}: {dt:.2f} s")
        if ok:
            tr.add("sheets.load_s", t_load)
            tr.add("elt.incremental_s", t_elt)
            tr.add("elt.upsert_ratio", upserted / offered)
            tr.add("elt.jobs_per_batch", rec.get("jobs", 0))
        k += 1
    run.cpu_s = ctx.cpu_s() - cpu0

    run.check_errors += [("elt.batch", e)
                         for e in check_elt(spark, stream, root, ctx.plant_fault)]
    if tr.on:
        n_stage = spark.read.parquet(f"{root}/staging").count()
        n_raw = spark.read.parquet(f"{root}/raw").count()
        run.layers["sinks.staging_bytes_per_row"] = _dir_bytes(f"{root}/staging") / n_stage
        run.layers["sinks.raw_bytes_per_row"] = _dir_bytes(f"{root}/raw") / n_raw
    return run


def _instrument_elt(tr, staging_mod, incr_mod) -> None:
    """Time the normalization build and the upsert inside each ELT run.

    ``run_incremental_elt`` imports both functions from their modules at
    call time, so wrapping the module attributes reaches them."""
    normalize = staging_mod.normalize_staging
    merge_factory = incr_mod.merge_upsert_batch

    def timed_normalize(*args, **kwargs):
        t0 = time.perf_counter()
        out = normalize(*args, **kwargs)
        tr.add("staging.normalize_build_s", time.perf_counter() - t0)
        return out

    def timed_merge_factory(*args, **kwargs):
        merge = merge_factory(*args, **kwargs)

        def timed_merge(batch, batch_id):
            t0 = time.perf_counter()
            out = merge(batch, batch_id)
            tr.add("streaming.merge_s", time.perf_counter() - t0)
            return out

        return timed_merge

    staging_mod.normalize_staging = timed_normalize
    incr_mod.merge_upsert_batch = timed_merge_factory


def _rows(df, cols) -> list:
    return [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]


def check_elt(spark, stream, root: str, plant_fault: bool) -> list[str]:
    """Compare final staging and quarantine with the generator's model."""
    cols = ["raw_id", "date", "type", "client", "category", "total_rub", "month", "year"]
    got = []
    for raw_id, date, typ, client, cat, total, month, year in _rows(
            spark.read.parquet(f"{root}/staging"), cols):
        got.append((
            "<auto>" if raw_id.startswith("sheet_auto_") else raw_id,
            None if date is None else date.strftime("%Y-%m-%d %H:%M:%S"),
            typ, client, cat,
            None if total is None else str(Decimal(total).quantize(sheetgen.Q4)),
            month, year,
        ))
    if plant_fault:  # self-test: one flipped value must be caught
        got[0] = got[0][:5] + ("-1.0000" if got[0][5] != "-1.0000" else "1.0000",) + got[0][6:]
    errors = []
    if sorted(got, key=repr) != sorted(stream.staging, key=repr):
        missing = len(set(stream.staging) - set(got))
        extra = len(set(got) - set(stream.staging))
        errors.append(f"staging differs: {len(got)} rows vs {len(stream.staging)} "
                      f"expected ({missing} missing, {extra} unexpected)")
    qcols = ["raw_id", "type", "client", "category", "parse_failed_cols"]
    qdir = f"{root}/staging_quarantine"
    quarantined = [("<auto>" if r[0].startswith("sheet_auto_") else r[0],) + r[1:]
                   for r in (_rows(spark.read.parquet(qdir), qcols)
                             if os.path.exists(qdir) else [])]
    if sorted(quarantined, key=repr) != sorted(stream.quarantine, key=repr):
        errors.append(f"quarantine differs: {len(quarantined)} rows vs "
                      f"{len(stream.quarantine)} expected")
    return errors


# --------------------------------------------------------------------------
# mart_queries
# --------------------------------------------------------------------------

def mart_queries(ctx) -> Run:
    from chilekids_etl_pipeline_spark import plans
    from chilekids_etl_pipeline_spark.sources.tables import load_table

    spark, tr, run = ctx.spark, ctx.tracer, Run()
    data = f"{ctx.work}/tables"
    tablegen.write_tables(data, MART_SF, ctx.seed)
    t0 = time.perf_counter()
    plans.load_all()
    run.layers["session.catalog_load_s"] = time.perf_counter() - t0
    qs = plans.queries()

    # Set-up, repeated: open every input table the way the catalog reads it.
    setup = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        for name in INPUT_TABLES:
            load_table(spark, data, name).schema
        setup.append(time.perf_counter() - t0)
    run.setup_s = run.layers["session.catalog_load_s"] + statistics.median(setup)

    results: dict[str, list] = {name: [] for name in MART_QUERIES}
    t_start, cpu0 = time.perf_counter(), ctx.cpu_s()
    passes = 0
    while passes < MART_MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        for name in MART_QUERIES:
            spark.catalog.clearCache()
            ok = True
            with tr.op(name) as rec:
                t0 = time.perf_counter()
                try:
                    df = qs[name](spark, data)
                    t1 = time.perf_counter()
                    build_jobs = tr.jobs_so_far(rec)
                    plan_s = tr.plan(df)
                    t2 = time.perf_counter()
                    results[name].append(df.toPandas())
                    t3 = time.perf_counter()
                except Exception as e:  # noqa: BLE001 - a failed op is counted
                    ok = False
                    run.check_errors.append((name, f"{type(e).__name__}: {e}"[:300]))
                    t1 = t2 = t3 = time.perf_counter()
            dt = time.perf_counter() - t0
            run.ops.append((name, dt, ok))
            if tr.on:
                tr.add(f"q.{name}.build_s", t1 - t0)
                tr.add(f"q.{name}.exec_s", t3 - t2)
                tr.add(f"q.{name}.jobs", rec["jobs"])
                tr.add(f"q.{name}.rdds_left", rec["rdds_left"])
                tr.add("plans.build_s", t1 - t0)
                tr.add("plans.build_jobs", build_jobs)
                tr.add("plans.py4j_calls", rec["py4j"])
                tr.add("plans.plan_s", plan_s)
                tr.add("exec.wall_s", t3 - t2)
        passes += 1
        log(f"pass {passes}: {time.perf_counter() - t_start:.2f} s")
    run.cpu_s = ctx.cpu_s() - cpu0

    # Output check, outside the timed ops: every collected result against
    # the query's DuckDB oracle on the same files.
    t0 = time.perf_counter()
    run.check_errors += check_marts(results, data, ctx.plant_fault)
    log(f"oracle check {time.perf_counter() - t0:.2f} s")
    return run


def check_marts(results: dict[str, list], data: str,
                plant_fault: bool) -> list[tuple[str, str]]:
    """Compare each collected result with its DuckDB oracle's result."""
    import duckdb
    from chilekids_etl_pipeline_spark import plans
    from tools.check import canon_df, value_hash

    oracles = plans.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for name in INPUT_TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
        errors = []
        for i, (name, frames) in enumerate(results.items()):
            if not frames:
                continue
            want = con.execute(oracles[name]).fetchdf()
            want_hash = value_hash(want)
            if plant_fault and i == 0:  # self-test: one flipped value
                frames[0] = _flip_one(frames[0])
            for got in frames:
                if len(got) != len(want):
                    errors.append((name, f"{len(got)} rows vs {len(want)} from the oracle"))
                elif sorted(map(str.lower, got.columns)) != sorted(map(str.lower, want.columns)):
                    errors.append((name, "columns differ from the oracle"))
                elif value_hash(got) != want_hash:
                    c1, c2 = canon_df(got), canon_df(want)
                    errors.append((name, "value hash differs from the oracle, first rows "
                                   f"{c1.head(2).to_dict('records')} vs "
                                   f"{c2.head(2).to_dict('records')}"[:400]))
                else:
                    continue
                break
        return errors
    finally:
        con.close()


def _flip_one(df):
    df = df.copy()
    col = sorted(df.columns)[0]
    v = df.at[0, col]
    df[col] = df[col].astype(object)
    df.at[0, col] = (v + 1) if isinstance(v, (int, float)) and not isinstance(v, bool) else f"{v}x"
    return df
