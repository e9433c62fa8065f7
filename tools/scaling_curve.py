"""Measured scaling exponents sf0.1 → sf1 for the heaviest catalog entries.

For each query: idle wall at sf0.1 and at sf1 (1 warm-up + N timed, min
reported — min is the least load-contaminated estimator), then the
fitted exponent alpha = log10(t_sf1 / t_sf0.1), i.e. t ~ n^alpha over a
true 10x data step. Caveat recorded in the output: every Spark query
carries a fixed per-stage floor (~0.3-0.5 s on this machine), which
biases alpha DOWN for queries whose sf1 wall is small — exponents are
meaningful for walls well above the floor, and that is exactly the set
this tool targets.

alpha ≈ 1 is linear (healthy), < 1 sublinear (output- or sketch-bounded),
> ~1.3 on a big wall is a scale risk the plan review must explain.

Usage: SPARK_GRAFT_CPUS=24 python tools/scaling_curve.py [--n 2]
Writes SCALING_sf01_sf1.json.

Deep-document steps (round 11): dirs generated with
`make_scale_data --sentinel N` (natural doc ids above 100000) must be
measured with SPARK_GRAFT_ID_SENTINEL=N in the environment so the
plans' planted copies land above the natural id range; use the same
value for BOTH dirs of the pair — the sentinel only moves planted ids,
never the work, so the small side's timing is unaffected.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    "staging_records",
    "streaming_sessionize_replay",
    "semantic_dedup",
    "similarity_histogram",
    "minhash_containment",
    "lsh_band_tuning",
    "exact_substring_dedup",
    "contamination_span",
    "ccnet_perplexity_buckets",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "training_data_pipeline",
    "ann_ivf_cosine",
    "kmeans_lloyd",
    "elt_end_to_end",
    "text_quality",
    "q1_pricing_summary",
    "q21_waiting_supplier",
    "raw_quarantine",
    "winsorized_segment_stats",
    "referential_integrity_audit",
    "bpe_merge_learn",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/root/repo/.scaledata/sf1")
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--factor", type=float, default=10.0,
                    help="data-size ratio big/small (alpha = "
                         "log(t_big/t_small) / log(factor))")
    ap.add_argument("--out", default="SCALING_sf01_sf1.json")
    ap.add_argument("queries", nargs="*",
                    help="override the default query list")
    args = ap.parse_args()
    global QUERIES
    if args.queries:
        QUERIES = args.queries

    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entry_mod
    from chilekids_etl_pipeline_spark.session import get_spark

    spark = get_spark("scaling-curve")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    def wall_min(fn, sf_dir):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = None
        for _ in range(args.n):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            w = time.monotonic() - t0
            best = w if best is None else min(best, w)
        return round(best, 3)

    record: dict = {
        "small": args.small, "big": args.big, "factor": args.factor,
        "timing": f"min of {args.n} idle runs after 1 warm-up, noop sink",
        "caveat": "fixed per-stage floor (~0.3-0.5 s) biases alpha down "
                  "for small walls; read exponents on walls >> floor",
        "queries": {},
    }
    for name in QUERIES:
        if name not in qs:
            continue
        t_small = wall_min(qs[name], args.small)
        t_big = wall_min(qs[name], args.big)
        alpha = round(
            math.log(max(t_big, 1e-3) / max(t_small, 1e-3))
            / math.log(args.factor), 3)
        record["queries"][name] = {
            "sf0.1_s": t_small, "sf1_s": t_big, "alpha": alpha,
        }
        print(f"{name}: {t_small}s -> {t_big}s  alpha={alpha}", flush=True)

    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    worst = max(record["queries"].items(),
                key=lambda kv: kv[1]["alpha"])
    print(json.dumps({"n": len(record["queries"]),
                      "max_alpha": worst[1]["alpha"],
                      "max_alpha_query": worst[0]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
