"""Memory-pressure probe: run the heaviest sf1 queries under a capped
JVM heap and record completion + wall — evidence that the catalog's
plans are spill-safe rather than memory-hungry.

Queries execute through the noop sink (full plan runs distributed;
nothing materializes on the driver), because the point is EXECUTION
memory: shuffles, aggregation hash maps, window sorts and Arrow batches
must fit the executor share of one capped local JVM or spill. Driver
heap is set by SPARK_GRAFT_DRIVER_MEM before JVM start, so this tool
must be launched fresh per cap:

  SPARK_GRAFT_DRIVER_MEM=3g SPARK_GRAFT_CPUS=24 \
      python tools/memory_probe.py --sf /root/repo/.scaledata/sf1

Writes --out (default MEMPROBE_sf1.json): per-query wall or the error
class if the cap genuinely kills execution.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_QUERIES = [
    "staging_records",
    "streaming_sessionize_replay",
    "semantic_dedup",
    "similarity_histogram",
    "minhash_containment",
    "lsh_band_tuning",
    "training_data_pipeline",
    "exact_substring_dedup",
    "contamination_span",
    "ccnet_perplexity_buckets",
    "dedup_minhash_lsh",
    "ann_ivf_cosine",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/repo/.scaledata/sf1")
    ap.add_argument("--out", default="MEMPROBE_sf1.json")
    ap.add_argument(
        "--append", action="store_true",
        help="merge this run's per-query rows into an existing --out "
        "record (one-fresh-JVM-per-query driving loops: each query is "
        "measured against the heap cap alone, not against its "
        "predecessors' accumulated broadcast/codegen state, and a JVM "
        "death cannot lose earlier rows)")
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    names = args.queries or DEFAULT_QUERIES

    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entry_mod
    from chilekids_etl_pipeline_spark.session import get_spark

    spark = get_spark("memory-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # Broadcast sizing under the cap is handled by the session itself:
    # get_spark scales autoBroadcastJoinThreshold with the heap
    # (heap/256, found via this probe; heap/128 measured borderline-
    # flaky — at the fixed 64 MB threshold,
    # AQE broadcast a 4.5M-row aggregate at sf3 under a 2 g cap and
    # died building the hash relation where sort-merge spills and
    # completes). The probe measures the session's real behavior.
    qs = entry_mod.queries()
    record: dict = {
        "sf_dir": args.sf,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "sink": "noop (execution only, no driver materialization)",
        "queries": {},
    }
    for name in names:
        if name not in qs:
            record["queries"][name] = {"error": "not found"}
            continue
        spark.catalog.clearCache()
        # Sequential heavy queries in ONE capped JVM accumulate broadcast
        # blocks and shuffle state whose release waits on ContextCleaner
        # weak references — under a 2g heap the GCLocker thrashes before
        # the cleaner runs (observed: q21 green alone, dead at position 6
        # of the sf3 probe). Nudge a full GC between queries so each
        # query is measured against the cap, not against its
        # predecessors' uncollected state; production never runs this
        # sequence in one executor-sized JVM.
        try:
            spark.sparkContext._jvm.System.gc()
            time.sleep(1.0)
        except Exception:  # noqa: BLE001 — best-effort hygiene only
            pass
        t0 = time.monotonic()
        try:
            qs[name](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            record["queries"][name] = {
                "wall_s": round(time.monotonic() - t0, 3)
            }
            print(f"OK   {name} {record['queries'][name]['wall_s']}s",
                  flush=True)
        except Exception as e:  # noqa: BLE001 — the failure IS the datum
            record["queries"][name] = {
                "error": f"{type(e).__name__}: {e}"[:300]
            }
            print(f"FAIL {name}: {type(e).__name__}", flush=True)
    if args.append and os.path.exists(args.out):
        with open(args.out) as f:
            prior = json.load(f)
        merged = prior.get("queries", {})
        merged.update(record["queries"])
        record["queries"] = merged
    record["completed"] = sum(
        1 for v in record["queries"].values() if "wall_s" in v
    )
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps({"completed": record["completed"],
                      "total": len(record["queries"]),
                      "driver_mem": record["driver_mem"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
