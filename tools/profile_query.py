"""Time and profile one or more catalog queries (guide §1.1).

Runs each named query on the noop sink with cleared caches: one warm-up
execution (codegen JIT, file listing), then ``--n`` timed executions,
printing min/median wall seconds. ``--baseline`` also times each query's
DuckDB oracle the same way (skip queries whose oracle is
scale-infeasible). The completed stages of the last timed run are pulled
from the local Spark UI REST API and printed, per stage: executor run
and CPU time, input and shuffle read/write bytes, fetch wait, spill and
task count — the "where is the time actually going" table the
optimization guide's empirical loop starts from.

Usage: python tools/profile_query.py [--sf DIR] [--n N] [--baseline]
           [--json-out FILE] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import urllib.request

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}") as r:
        return json.loads(r.read().decode())


def _stages(ui: str, app_id: str) -> list[dict]:
    return _api(ui, f"applications/{app_id}/stages?status=complete")


def _stage_row(s: dict) -> dict:
    return {
        "stage": s["stageId"],
        "name": s["name"].split("\n")[0][:70],
        "tasks": s["numCompleteTasks"],
        "runtime_s": round(s["executorRunTime"] / 1000, 2),
        "cpu_s": round(s.get("executorCpuTime", 0) / 1e9, 2),
        "input_mb": round(s["inputBytes"] / 1048576, 1),
        "sh_read_mb": round(s["shuffleReadBytes"] / 1048576, 1),
        "sh_write_mb": round(s["shuffleWriteBytes"] / 1048576, 1),
        "fetch_wait_s": round(s.get("shuffleFetchWaitTime", 0) / 1000, 2),
        "spill_mb": round(s["diskBytesSpilled"] / 1048576, 1),
    }


def profile(spark, fn, sf_dir: str, n: int, ui: str, label: str) -> dict:
    sc = spark.sparkContext
    app_id = sc.applicationId
    walls = []
    before_ids: set[int] = set()
    for i in range(n + 1):  # run 0 is the warm-up
        spark.catalog.clearCache()
        if i == n:
            before_ids = {s["stageId"] for s in _stages(ui, app_id)}
        sc.setJobDescription(f"profile:{label}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setJobDescription(None)
        if i > 0:
            walls.append(wall)
    stages = [s for s in _stages(ui, app_id) if s["stageId"] not in before_ids]
    return {
        "query": label,
        "median": round(statistics.median(walls), 4),
        "min": round(min(walls), 4),
        "runs": [round(w, 4) for w in walls],
        "stages": [
            _stage_row(s)
            for s in sorted(stages, key=lambda s: -s["executorRunTime"])
        ],
    }


def time_oracle(con, sql: str, n: int) -> float:
    walls = []
    for i in range(n + 1):
        t0 = time.perf_counter()
        con.execute(f"COPY ({sql}) TO '/dev/null' (FORMAT csv)")
        if i > 0:
            walls.append(time.perf_counter() - t0)
    return round(statistics.median(walls), 4)


def print_stages(rec: dict) -> None:
    print(
        f"{'stage':>5} {'tasks':>5} {'run_s':>7} {'cpu_s':>7} "
        f"{'in_MB':>7} {'shR_MB':>7} {'shW_MB':>7} {'wait_s':>6} "
        f"{'spill':>6}  name"
    )
    for r in rec["stages"]:
        print(
            f"{r['stage']:>5} {r['tasks']:>5} {r['runtime_s']:>7} "
            f"{r['cpu_s']:>7} {r['input_mb']:>7} {r['sh_read_mb']:>7} "
            f"{r['sh_write_mb']:>7} {r['fetch_wait_s']:>6} "
            f"{r['spill_mb']:>6}  {r['name']}"
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3, help="timed runs per query")
    ap.add_argument("--baseline", action="store_true",
                    help="also time each query's DuckDB oracle "
                         "(skip queries whose oracle is scale-infeasible)")
    ap.add_argument("--json-out", help="write the per-query records here")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entry_mod
    from chilekids_etl_pipeline_spark.session import get_spark

    spark = get_spark("profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    qs = entry_mod.queries()
    con = None
    if args.baseline:
        import glob

        import duckdb

        con = duckdb.connect()
        for p in glob.glob(f"{args.sf}/*.parquet"):
            t = os.path.basename(p).removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        oracles = entry_mod.oracle_sql()
    out = []
    for name in args.queries:
        if name not in qs:
            print(f"{name}: NOT FOUND")
            continue
        rec = profile(spark, qs[name], args.sf, args.n, ui, name)
        if con is not None and name in oracles:
            rec["baseline"] = time_oracle(con, oracles[name], args.n)
            rec["vs_baseline"] = (
                round(rec["median"] / rec["baseline"], 4)
                if rec["baseline"] > 0 else None
            )
        out.append(rec)
        summary = " ".join(
            f"{k}={rec[k]}"
            for k in ("median", "min", "baseline", "vs_baseline", "runs")
            if k in rec
        )
        print(f"\n== {name}: {summary} ==")
        print_stages(rec)
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump({"sf_dir": args.sf, "n": args.n, "queries": out},
                      f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
