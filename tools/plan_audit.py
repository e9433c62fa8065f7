"""Whole-catalog physical-plan audit (optimization guide §7.2 checklist).

Builds every queries() entry against a small SF dir and scans the
formatted physical plan for the pathology classes the optimization guide
names: row-at-a-time Python evaluation (BatchEvalPython), cartesian
products / broadcast-nested-loop joins, parquet scans that read columns
nobody prunes, and filters that failed to push into a scan. Prints one
row per query plus a summary, and exits nonzero if a NEW pathology class
appears (the no-row-UDF and no-cartesian contracts are test-pinned; this
is the sweep form that checks the other 200+ entries the bench tables
don't highlight).

Usage: python tools/plan_audit.py [--sf DIR] [--out FILE] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def audit_plan(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "batch_eval_python": len(re.findall(r"BatchEvalPython", plan)),
        "arrow_eval_python": len(
            re.findall(r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)
        ),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "broadcast_hash_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "scans": len(re.findall(r"\(\d+\) Scan parquet", plan)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "wide_scans": len(
            re.findall(r"ReadSchema: struct<(?:[^>]*,){8,}", plan)
        ),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entry_mod
    from chilekids_etl_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    names = args.queries or sorted(qs)
    results: dict[str, dict] = {}
    for name in names:
        try:
            df = qs[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            results[name] = audit_plan(plan)
        except Exception as e:  # noqa: BLE001 - audit must cover the rest
            results[name] = {"error": str(e)[:200]}
    flat = [(n, r) for n, r in results.items() if "error" not in r]
    print(f"{'query':40s} exch py arrow cart bnlj smj bhj scans")
    for n, r in sorted(flat, key=lambda kv: -kv[1]["exchanges"]):
        print(
            f"{n:40s} {r['exchanges']:4d} {r['batch_eval_python']:2d} "
            f"{r['arrow_eval_python']:5d} {r['cartesian']:4d} {r['bnlj']:4d} "
            f"{r['sort_merge_joins']:3d} {r['broadcast_hash_joins']:3d} "
            f"{r['scans']:5d}"
        )
    errs = {n: r["error"] for n, r in results.items() if "error" in r}
    summary = {
        "n_queries": len(results),
        "errors": errs,
        "with_batch_eval_python": [
            n for n, r in flat if r["batch_eval_python"]
        ],
        "with_cartesian": [n for n, r in flat if r["cartesian"]],
        "with_bnlj": [n for n, r in flat if r["bnlj"]],
        "total_exchanges": sum(r["exchanges"] for _, r in flat),
    }
    print(json.dumps(summary, indent=2)[:2000])
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"per_query": results, "summary": summary}, f, indent=1)
    bad = summary["with_batch_eval_python"] or summary["with_cartesian"]
    return 1 if bad or errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
