"""Skew/AQE stress probe at sf1 — committed evidence for the salted paths.

Plants a power-law key on the sf1 lineitem table (a --hot share of all
rows, default 50%, lands on ONE key; the rest spread uniformly over
100k keys — the worst aggregation/join skew shape) and measures, idle,
the strategies the catalog's skew entries encode:

aggregation (a hot AGG key cannot be split by AQE — salting is the only
structural fix):
  - naive groupBy on the planted key
  - two-stage salted aggregation (operators/skew.salted_agg, the
    skewed_agg_salted path) — must produce identical results

join (fact ⋈ 100k-row dim on the planted key):
  - broadcast join (the default here; dims under the 64 MB threshold)
  - sort-merge with AQE skew-join splitting ON (broadcast disabled)
  - sort-merge with AQE skew-join splitting OFF (the unprotected plan)
  - salted join (dim replicated across N sub-keys, the
    skewed_join_salted path)

Writes SKEWSTRESS_sf1.json: wall seconds per strategy (median of N idle
runs after a warm-up), result checksums proving every strategy computes
the same answer, and the skew stats of the planted key.

Usage: SPARK_GRAFT_CPUS=24 python tools/skew_stress.py [--sf DIR] [--n N]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/repo/.scaledata/sf1")
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--out", default="SKEWSTRESS_sf1.json")
    ap.add_argument("--hot", type=float, default=0.5,
                    help="share of rows planted on the single hot key")
    args = ap.parse_args()

    sys.path.insert(0, REPO_ROOT)
    from pyspark.sql import functions as F

    from chilekids_etl_pipeline_spark.operators.skew import salted_agg
    from chilekids_etl_pipeline_spark.session import get_spark
    from chilekids_etl_pipeline_spark.sources.tables import load_table

    spark = get_spark("skew-stress")
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic planted power-law key: md5-fraction coin per row —
    # heads (50%) lands on key 0, tails spreads over 100k keys
    frac = "conv(substr(md5(cast(l_orderkey AS string)), 1, 8), 16, 10) / 4294967296.0"
    key = (
        f"CASE WHEN {frac} < {args.hot} THEN 0 "
        f"ELSE 1 + abs(hash(l_orderkey, l_linenumber)) % 100000 END"
    )

    def fact():
        return (
            load_table(spark, args.sf, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice")
            .withColumn("k", F.expr(key).cast("bigint"))
        )

    def dim():
        # 100k-key dim with an attribute; deterministic
        return spark.range(0, 100001).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).cast("double").alias("w"),
        )

    def timed(build, n):
        build().write.format("noop").mode("overwrite").save()  # warm-up
        walls = []
        for _ in range(n):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        return round(statistics.median(walls), 3), [round(w, 3) for w in walls]

    def checksum(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return [r.n, str(r.h)]

    record: dict = {"sf_dir": args.sf, "n_runs": args.n, "hot_target": args.hot}

    # skew stats of the planted key
    stats = (
        fact().groupBy("k").count()
        .agg(F.count(F.lit(1)).alias("n_keys"), F.max("count").alias("hot"),
             F.sum("count").alias("rows"))
        .collect()[0]
    )
    record["planted_key"] = {
        "rows": stats.rows, "distinct_keys": stats.n_keys,
        "hot_key_rows": stats.hot,
        "hot_share": round(stats.hot / stats.rows, 4),
    }

    # --- aggregation strategies ------------------------------------------
    def agg_naive():
        return fact().groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_extendedprice").cast("decimal(18,2)").alias("total"),
        )

    def agg_salted():
        return salted_agg(
            fact(),
            ["k"],
            {"n": "count:*", "total_raw": "sum:l_extendedprice"},
            salt_col=F.col("l_orderkey"),
            salt_buckets=16,
        ).select(
            "k", "n", F.col("total_raw").cast("decimal(18,2)").alias("total")
        )

    med, walls = timed(agg_naive, args.n)
    record["agg_naive"] = {"median_s": med, "walls": walls,
                           "checksum": checksum(agg_naive())}
    med, walls = timed(agg_salted, args.n)
    record["agg_salted"] = {"median_s": med, "walls": walls,
                            "checksum": checksum(agg_salted())}

    # --- join strategies ---------------------------------------------------
    def join_result(j):
        return j.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("w") * F.col("l_extendedprice"))
            .cast("decimal(28,2)").alias("wsum"),
        )

    def join_broadcast():
        return join_result(fact().join(F.broadcast(dim()), "k"))

    def join_smj(skew_on: bool):
        def b():
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.enabled",
                "true" if skew_on else "false",
            )
            try:
                return join_result(fact().join(dim(), "k"))
            finally:
                pass
        return b

    def join_salted():
        n_salt = 16
        d = dim().withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        f = fact().withColumn(
            "salt", (F.col("l_orderkey") % n_salt).cast("int")
        )
        return join_result(f.join(d, ["k", "salt"]))

    med, walls = timed(join_broadcast, args.n)
    record["join_broadcast"] = {"median_s": med, "walls": walls,
                                "checksum": checksum(join_broadcast())}
    for name, skew_on in (("join_smj_aqe_skew", True),
                          ("join_smj_no_skew", False)):
        b = join_smj(skew_on)
        med, walls = timed(b, args.n)
        record[name] = {"median_s": med, "walls": walls,
                        "checksum": checksum(b())}
    # restore session confs
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                   str(64 * 1024 * 1024))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    med, walls = timed(join_salted, args.n)
    record["join_salted"] = {"median_s": med, "walls": walls,
                             "checksum": checksum(join_salted())}

    agree = (
        record["agg_naive"]["checksum"] == record["agg_salted"]["checksum"],
        len({tuple(record[k]["checksum"]) for k in
             ("join_broadcast", "join_smj_aqe_skew", "join_smj_no_skew",
              "join_salted")}) == 1,
    )
    record["results_agree"] = {"agg": agree[0], "join": agree[1]}

    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps({
        k: (v.get("median_s", v) if isinstance(v, dict) else v)
        for k, v in record.items() if k != "planted_key"
    }, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
