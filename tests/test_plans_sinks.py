"""Physical-plan assertions (the 100 TB contract) + sink behavior.

Correctness tests prove the numbers; these prove the SHAPE of execution:
filters reach the parquet scan, projections prune columns, small dims
broadcast, candidate generation never degenerates to a cartesian product,
bucketed joins run shuffle-free, and dynamic partition overwrite only
replaces touched partitions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chilekids_etl_pipeline_spark.sources.sinks import (
    read_partitioned,
    write_bucketed_table,
    write_partitioned,
)
from chilekids_etl_pipeline_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _catalog():
    import __spark_entry__ as entry_mod

    return entry_mod.queries()


QS = _catalog()


def test_q6_pushes_filters_and_prunes_columns(spark):
    plan = _plan(QS["q6_forecast_revenue"](spark, SF_SMALL))
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    assert "PushedFilters: []" not in plan
    # projection pruning: the 16-col lineitem scan reads only what Q6 needs
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_q5_broadcasts_small_dimensions(spark):
    plan = _plan(QS["q5_local_volume"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_lsh_never_cartesian(spark):
    plan = _plan(QS["dedup_minhash_lsh"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_dedup_never_cartesian(spark):
    """dedup_embedding_cosine candidates come from banded hyperplane-LSH
    equi-joins — at 100 TB the new batch is not broadcastable, so the plan
    must contain no cartesian/nested-loop join of any kind."""
    plan = _plan(QS["dedup_embedding_cosine"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_never_cartesian(spark):
    plan = _plan(QS["dedup_simhash_pairs"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q1_partial_aggregation(spark):
    plan = _plan(QS["q1_pricing_summary"](spark, SF_SMALL))
    # map-side partial agg before the exchange, final after
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_changed_records_anti_join_no_cartesian(spark):
    plan = _plan(QS["changed_records"](spark, SF_SMALL))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_overwrite_keeps_untouched_partitions(spark, tmp_path):
    path = str(tmp_path / "orders_by_status")
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_partitioned(orders, path, ["o_orderstatus"])
    full = read_partitioned(spark, path)
    statuses = {r.o_orderstatus for r in full.select("o_orderstatus").distinct().collect()}
    assert len(statuses) >= 2
    n_before = full.count()
    one = sorted(statuses)[0]
    n_in_one = full.filter(F.col("o_orderstatus") == one).count()

    # rewrite ONE partition with a single sentinel row
    sentinel = spark.createDataFrame(
        [(-1, 0.0, one)], "o_orderkey long, o_totalprice double, o_orderstatus string"
    )
    write_partitioned(sentinel, path, ["o_orderstatus"])

    after = read_partitioned(spark, path)
    kept = after.filter(F.col("o_orderstatus") != one).count()
    rewritten = after.filter(F.col("o_orderstatus") == one).count()
    assert rewritten == 1  # touched partition replaced
    assert kept == n_before - n_in_one

    # partition pruning: filter on the partition col scans one directory
    plan = _plan(after.filter(F.col("o_orderstatus") == one))
    assert "PartitionFilters" in plan


def test_bucketed_join_runs_without_exchange(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
    orders = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_extendedprice")
    write_bucketed_table(
        orders, "t_orders_b", ["o_orderkey"], 4, path=str(tmp_path / "ob"),
        sort_cols=["o_orderkey"],
    )
    write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b", ["o_orderkey"], 4, path=str(tmp_path / "lb"),
        sort_cols=["o_orderkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_orders_b").join(spark.table("t_lineitem_b"), "o_orderkey")
        plan = _plan(joined)
        # co-located buckets: the sort-merge join needs NO shuffle on either side
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_staging_prunes_lineitem_scan(spark):
    plan = _plan(QS["staging_records"](spark, SF_SMALL))
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice",
                "l_returnflag", "l_shipdate"):
        assert col in read_schema
    # 16-column lineitem: the payload builder needs exactly 6
    assert "l_comment" not in read_schema and "l_quantity" not in read_schema


def test_asof_and_ivf_avoid_cartesian(spark):
    for name in ("asof_view_to_purchase", "ann_ivf_cosine"):
        plan = _plan(QS[name](spark, SF_SMALL))
        assert "CartesianProduct" not in plan, name


def test_refresh_marts_idempotent_and_slice_rerun(spark, tmp_path):
    """The composed mart-persistence recipe (reference marts.build_all +
    campaign upsert, src/marts.py:29-45): full refresh is rerun-idempotent,
    and an incremental single-month rerun swaps only that month's partition
    while every other partition's files stay byte-identical on disk."""
    import os

    from chilekids_etl_pipeline_spark.plans.refresh import refresh_marts

    out = str(tmp_path / "marts")
    written = refresh_marts(spark, SF_SMALL, out)
    assert set(written) == {
        "financials_monthly", "expenses_by_category", "web_transactions",
        "dim_clients", "dim_categories", "dim_vendors", "campaigns_summary",
    }
    fin_path = written["financials_monthly"]
    before = {
        tuple(r) for r in read_partitioned(spark, fin_path).collect()
    }
    months = sorted({t[3] for t in before})  # year_month is the partition col
    assert len(months) >= 2
    target, untouched = months[0], months[1]

    def files(month):
        d = f"{fin_path}/year_month={month}"
        return {f: os.path.getmtime(f"{d}/{f}") for f in os.listdir(d)}

    untouched_files = files(untouched)

    # incremental rerun of ONE month — the keyed-upsert analog
    refresh_marts(
        spark, SF_SMALL, out,
        only=["financials_monthly"],
        slice_filter=f"year_month = '{target}'",
    )
    after = {tuple(r) for r in read_partitioned(spark, fin_path).collect()}
    assert after == before  # same data: the rerun was idempotent
    assert files(untouched) == untouched_files  # untouched partition files intact
    assert files(target)  # target partition rewritten (exists, fresh files)


def test_tpch_shape_plans(spark):
    """Decorrelated TPC-H shapes must never degenerate: no cartesian or
    nested-loop joins in the subquery rewrites; the EXISTS/NOT EXISTS and
    IN forms must plan as semi/anti joins."""
    for name in (
        "q2_min_cost_supplier",
        "q20_significant_share_suppliers",
        "q21_waiting_supplier",
        "q17_small_quantity_revenue",
        "q18_large_volume_orders",
    ):
        plan = _plan(QS[name](spark, SF_SMALL))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    assert "LeftSemi" in _plan(QS["q4_order_priority"](spark, SF_SMALL))
    # q22's scalar threshold is a 1-row broadcast (fine); the NOT EXISTS
    # must be a LEFT ANTI with its correlated predicates pushed down
    p22 = _plan(QS["q22_idle_rich_customers"](spark, SF_SMALL))
    assert "LeftAnti" in p22


def test_range_join_is_bucketed_not_nested_loop(spark):
    """The interval join must plan as a bucket equi-join (SortMerge/Hash),
    never the nested-loop cross product a naive non-equi join produces."""
    plan = _plan(QS["range_join_purchase_errors"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round2_query_plans(spark):
    """Round-2 additions keep the plan contract: dimension chains
    broadcast, no shape degenerates to a cartesian/nested-loop join
    (q22 and the scalar-stat broadcasts legitimately use a 1-row
    BroadcastNestedLoopJoin and are asserted separately above)."""
    for name in (
        "q7_nation_volume",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_revenue",
        "events_value_outliers",
        "rolling_7d_revenue",
        "sequence_packing",
        "paragraph_dedup",
        "contamination_check",
    ):
        plan = _plan(QS[name](spark, SF_SMALL))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    for name in ("q7_nation_volume", "q8_market_share", "q9_product_profit"):
        assert "BroadcastHashJoin" in _plan(QS[name](spark, SF_SMALL)), name


def test_scalar_threshold_queries_avoid_global_window(spark):
    """q15/q11 compute their global scalar as a 1-row aggregate broadcast
    back over the view (the q22 idiom) — NOT as an unpartitioned window,
    which would funnel the whole aggregated view through a single task at
    scale. The 1-row BroadcastNestedLoopJoin is the intended shape; a
    Window node or a non-broadcast cartesian is a regression."""
    for name in ("q15_top_supplier", "q11_important_stock"):
        plan = _plan(QS[name](spark, SF_SMALL))
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_llmdata3_plans_never_cartesian(spark):
    """Batch-3 training-data ops: per-row projections and hash/window
    shuffles only — contamination_span's benchmark EXISTS must plan as a
    semi join, never a nested loop over the corpus."""
    for name in (
        "quality_classifier_score",
        "contamination_span",
        "stratified_sample_exact",
        "chunk_overlap_split",
        "embedding_quantize_int8",
        "training_data_pipeline",
    ):
        plan = _plan(QS[name](spark, SF_SMALL))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    assert "LeftSemi" in _plan(QS["contamination_span"](spark, SF_SMALL))
    # the contamination screen's NOT EXISTS must decorrelate to an anti join
    assert "LeftAnti" in _plan(QS["training_data_pipeline"](spark, SF_SMALL))


# Queries allowed to contain a BroadcastNestedLoopJoin — every one is a
# deliberately-tiny broadcast side: a 1-row scalar threshold/statistic
# (q22 avg balance, q11 mean part value, KMV threshold, TF-IDF corpus
# stats, bigram-LM vocab scalar, LSH-recall counters) or a documented
# small-side design bound (knn's bounded query set, IVF's centroid table).
BNLJ_ALLOWED = {
    "q22_idle_rich_customers",
    "q11_important_stock",
    "approx_distinct_kmv",
    "knn_topk_cosine",
    "ann_ivf_cosine",
    "tf_idf_top_terms",
    "bigram_lm_score",
    # ccnet_perplexity_buckets reuses bigram_lm_score's 1-row vocab
    # broadcast
    "ccnet_perplexity_buckets",
    "dedup_lsh_recall",
    "q15_top_supplier",
    "length_curriculum_buckets",
    "token_budget_allocator",
    # round 6: the df-cap's 1-row corpus-count broadcast against the
    # shingle-frequency table (same containment-df-cap pattern)
    "dedup_ngram_jaccard",
    # round 10: ann_ivfpq_adc's broadcast sides are the 128-row (8x16)
    # PQ codebook and the sqrt-K centroid table (the same cell-assign
    # cross join ann_ivf_cosine carries above; ~16k rows even at 10^9
    # vectors); minhash_bbit_estimate reuses the 1-row corpus-count
    # broadcast of the df-cap pattern (same as minhash_estimate_error)
    "ann_ivfpq_adc",
    "minhash_bbit_estimate",
    # round 8: reuses histogram_quantile's estimation tail — the 3-row
    # quantile-targets table range-joins the bin-count-sized cum table
    # (same tiny-side shape that allowlists histogram_quantile below)
    "streaming_histogram_replay",
    # round 7: 1-row scalar broadcasts (token budget, normalization
    # constant, revenue total) and partition_prune_estimate's 4-row
    # predicate table against the partition-count-sized zone-map stats
    "epoch_repeat_plan",
    "embedding_pca_power",
    "abc_pareto_class",
    "partition_prune_estimate",
    # round 4: 1-row scalar broadcasts (total-count / weight-sum /
    # max-doc-id) and semantic_dedup's 8-row centroid table (the IVF
    # coarse-quantizer pattern, same as ann_ivf_cosine)
    "mixture_temperature_plan",
    "vocab_growth_curve",
    "semantic_dedup",
    # round-4 batch 2: all 1-row scalar broadcasts — corpus doc count
    # (containment df cap), max-doc-id + token totals (drift halves),
    # RI violation counters (dq), distinct-order count (basket lift),
    # the 1-row ref-date and quartile-threshold rows (RFM)
    "minhash_containment",
    "corpus_drift_js",
    "dq_expectations",
    "market_basket_pairs",
    "rfm_segmentation",
    # round-4 batch 3: 1-row scalar broadcasts — BM25's corpus (N, avgdl)
    # row and churn's max-orderdate reference row
    "bm25_score",
    "customer_churn_flag",
    # round-4 batch 4: histogram_quantile's quantile targets (3 rows)
    # range-join the ~40-row cumulative histogram, plus a 1-row exact
    # CROSS JOIN — both sides bounded by bin count, never data size
    "histogram_quantile",
    # categorical_mi's 1-row corpus-total broadcast
    "categorical_mi",
    # round 5: bloom's dense 261-word filter collapses to ONE array row
    # cross-joined into the probe map — the broadcast-sketch pattern is
    # the query's entire point; both BNLJ sides are 1-row scalars
    "bloom_prune_semijoin",
    # round-5 batch: 1-row/constant-size broadcast cross joins — the
    # quantile-threshold row (range planner), the 3-row k list and the
    # 4-row watermark list (pass@k, lateness), and matryoshka's bounded
    # hash-sampled probe set against the corpus scan (the knn pattern)
    "range_partition_planner",
    "pass_at_k_eval",
    "lateness_watermark_profile",
    "matryoshka_dim_fidelity",
    # join_size's 1-row truth x 1-row estimate cross join
    "join_size_cms_estimate",
    # bpe's per-round 1-row merge-rule broadcast + scalar subqueries
    "bpe_merge_learn",
    # batch-10 governance entries: 1-row reference/total cross joins
    # and the erasure audit's 1-row count subqueries
    "data_freshness_sla",
    "schema_drift_keys",
    "gdpr_erasure_audit",
    # round-4 batch 5: rolling HLL's calendar-bounded day-grid range
    # join (30 x 7 x 256 rows), triangle stats' 1-row wedge x tri
    # scalar join, PMI's 1-row totals broadcast
    "rolling_distinct_hll",
    "graph_triangle_stats",
    "cooccurrence_pmi",
    # similarity_histogram's 1-row corpus-count broadcast (df cap) —
    # lsh_band_tuning builds on the same histogram pipeline, plus its
    # 6-row config × 10-row histogram cross join
    "similarity_histogram",
    "lsh_band_tuning",
    # batch 9: 1-row reference-date (KM) and weekly-mean (seasonality)
    # scalar broadcasts
    "survival_km_curve",
    "orders_seasonality_dow",
    # PSI's 1-row totals + bin-count broadcasts; entity split's three
    # 1-row overlap counters
    "psi_feature_drift",
    "entity_split_check",
    # batch 11: the 1-row threshold broadcast (top-k phase 2) and the
    # FPP sweep's 1-row word-array / 3-row salt-index broadcasts
    "revenue_topk_threshold",
    "bloom_fpp_calibration",
    # batch 13: the sketch-pair enumeration joins the |segments|-row
    # theta summary to itself (5 x 5 on a constant key + inequality —
    # the sketch table is k x |segments| rows by construction)
    "theta_sketch_set_ops",
    # batch 14: 1-row scalar broadcasts (bigram type count, corpus
    # total weight) and conformal's 3-row alpha-grid / threshold
    # broadcasts against the histogram and eval scans
    "kneser_ney_bigram",
    "importance_weighted_stats",
    "conformal_threshold_calibration",
    # batch 15: 1-row corpus-scalar broadcasts (row count / energy
    # totals / group-size summary) against 64-row or 3-row dimensions
    "embedding_isotropy_probe",
    "k_anonymity_check",
    # batch 16: 1-row corpus-total broadcasts (trigram total, vocabulary
    # total weight) against the grouped count tables
    "ngram_topk_df",
    "negative_sampling_freq",
    # batch 17: 1-row scalar broadcasts (max-day window anchor, class
    # totals, pair counts / OLS row) against day- or class-scale tables
    "theil_sen_trend",
    "l_diversity_check",
    # batch 18: 1-row scalar broadcasts (cutoff/fit row, file totals,
    # population total) and the months x file-summary range join (both
    # sides are bounded metadata tables)
    "forecast_backtest_mape",
    "zonemap_skip_rate",
    "purchase_propensity_calibration",
    # batch 19: 1-row fit/max-week scalar broadcasts against the bounded
    # age table; the eligibles inequality join is cohort-weeks x ages
    "retention_halflife_fit",
    # batch 21: the same 1-row corpus-count broadcasts as
    # similarity_histogram (df cap + corpus word totals); the bootstrap's
    # 1-row point-estimate broadcast against the 100-row resample table
    "dedup_yield_curve",
    "bootstrap_ci_conversion",
    # batch 22: the df-cap's 1-row corpus-count broadcast (same shape)
    "minhash_estimate_error",
}


def test_catalog_wide_no_cartesian_and_bounded_bnlj(spark):
    """The whole-catalog plan contract: NO query may plan a
    CartesianProduct, and a BroadcastNestedLoopJoin may appear only in
    the allowlisted queries whose broadcast side is provably tiny. A new
    query that accidentally degenerates fails here without needing its
    own assertion."""
    jvm = spark._jvm
    bad = {}
    for name, fn in QS.items():
        plan = _plan(fn(spark, SF_SMALL))
        if "CartesianProduct" in plan:
            bad[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            bad[name] = "unexpected BroadcastNestedLoopJoin"
    assert not bad, bad


def test_q16_blacklist_is_anti_join(spark):
    """Q16's NOT IN blacklist must plan as a broadcast anti join over the
    derived partsupp, never a per-row subquery or cartesian."""
    plan = _plan(QS["q16_parts_supplier_count"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_rebalance_gate_off_means_exchange_free_scan(spark):
    """With spark_graft.local_rebalance=off, production plans must NOT
    ship the fact table through an Exchange above the scan: the only
    Exchange in q1 is the aggregate's, and the per-row-heavy document
    plans keep a fused single-stage scan (VERDICT r5 #1)."""
    from chilekids_etl_pipeline_spark.sources.tables import REBALANCE_CONF

    spark.conf.set(REBALANCE_CONF, "off")
    try:
        # q1: exactly one Exchange (the groupBy's) — no RoundRobin widen
        plan = _plan(QS["q1_pricing_summary"](spark, SF_SMALL))
        assert "RoundRobinPartitioning" not in plan
        # staging_records / changed_records: scan feeds the parse directly
        for key in ("staging_records", "changed_records", "split_leakage_check"):
            plan = _plan(QS[key](spark, SF_SMALL))
            assert "RoundRobinPartitioning" not in plan, key
    finally:
        spark.conf.set(REBALANCE_CONF, "auto")


def test_rebalance_gate_auto_widens_local_scan(spark):
    """Under a local[...] master, auto mode keeps the measured widening."""
    from chilekids_etl_pipeline_spark.sources.tables import (
        REBALANCE_CONF,
        load_table,
        maybe_rebalance,
    )

    spark.conf.set(REBALANCE_CONF, "auto")
    df = maybe_rebalance(load_table(spark, SF_SMALL, "lineitem"))
    assert "RoundRobinPartitioning" in _plan(df)
    spark.conf.set(REBALANCE_CONF, "off")
    try:
        df = maybe_rebalance(load_table(spark, SF_SMALL, "lineitem"))
        assert "RoundRobinPartitioning" not in _plan(df)
    finally:
        spark.conf.set(REBALANCE_CONF, "auto")


def test_rebalance_if_big_gates_on_scan_bytes(spark, monkeypatch):
    """Round-10 size gate: below SIZE_GATE_BYTES the widening exchange
    must NOT be planned (it is pure stage-barrier loss on thin inputs —
    the r10 A/B priced it at +0.3-0.6 s per entry at sf0.1), above it the
    behavior is exactly maybe_rebalance. The threshold compares the
    relation's plan-time file-size estimate, so no job runs either way."""
    from chilekids_etl_pipeline_spark.sources import tables
    from chilekids_etl_pipeline_spark.sources.tables import (
        REBALANCE_CONF,
        load_table,
        rebalance_if_big,
    )

    spark.conf.set(REBALANCE_CONF, "auto")
    small = load_table(spark, SF_SMALL, "lineitem")
    # a huge threshold: the scan is "too small", no exchange
    monkeypatch.setattr(tables, "SIZE_GATE_BYTES", 1 << 40)
    assert "RoundRobinPartitioning" not in _plan(rebalance_if_big(small))
    # a zero threshold: delegates to maybe_rebalance, which widens the
    # under-parallel local scan
    monkeypatch.setattr(tables, "SIZE_GATE_BYTES", 0)
    assert "RoundRobinPartitioning" in _plan(rebalance_if_big(small))
    # the off conf still pins production plans Exchange-free even when
    # the size gate passes
    spark.conf.set(REBALANCE_CONF, "off")
    try:
        assert "RoundRobinPartitioning" not in _plan(rebalance_if_big(small))
    finally:
        spark.conf.set(REBALANCE_CONF, "auto")


def test_rebalance_auto_skips_saturated_scan_and_force_overrides(spark):
    """Round-9 conditional widening: auto mode must SKIP the exchange
    when the input already has >= defaultParallelism partitions (a
    32->32 repartition shuffles the fact table for nothing — q1 at sf1
    measured 1.69 s with it vs 1.20 s without), while force=True keeps
    it (staging_records' heavy parse wants even task sizes: 14.6 s
    balanced vs 15.7 s on raw splits), and off beats force."""
    from chilekids_etl_pipeline_spark.sources.tables import (
        REBALANCE_CONF,
        load_table,
        maybe_rebalance,
    )

    par = spark.sparkContext.defaultParallelism
    small = load_table(spark, SF_SMALL, "lineitem")
    saturated = small.repartition(par)  # input already at full width

    spark.conf.set(REBALANCE_CONF, "auto")
    # under-parallel input still widens
    assert "RoundRobinPartitioning" in _plan(maybe_rebalance(small))
    # saturated input: auto skips (returns the input unchanged)
    assert maybe_rebalance(saturated) is saturated
    # force keeps the widening even at saturation
    assert maybe_rebalance(saturated, force=True) is not saturated
    # off beats force
    spark.conf.set(REBALANCE_CONF, "off")
    try:
        assert maybe_rebalance(saturated, force=True) is saturated
        assert maybe_rebalance(small, force=True) is small
    finally:
        spark.conf.set(REBALANCE_CONF, "auto")


def test_round8_rewrite_plan_shapes(spark):
    """Pin the round-8 weak-list rewrites so a refactor can't silently
    reintroduce the re-execution patterns the idle sf1 A/Bs removed."""
    # q21: the lineitem⋈orders join runs ONCE — exactly one lineitem scan
    plan = _plan(QS["q21_waiting_supplier"](spark, SF_SMALL))
    assert plan.count("lineitem.parquet") == 1, "q21 must scan lineitem once"
    assert "CartesianProduct" not in plan

    # order_backlog: lineitem aggregates BELOW the join — the max(shipdate)
    # HashAggregate keyed on l_orderkey must appear under the join side,
    # i.e. lineitem's scan feeds an aggregate before any join
    plan = _plan(QS["order_backlog_daily"](spark, SF_SMALL))
    assert plan.count("lineitem.parquet") == 1
    assert "max(l_shipdate" in plan, "agg-below-join pushed down"

    # range_partition_planner: the exact percentile runs once — both
    # UNION branches must read the PERSISTED 1-row aggregate (an
    # InMemoryTableScan), not re-inline the percentile sort
    plan = _plan(QS["range_partition_planner"](spark, SF_SMALL))
    assert "InMemoryTableScan" in plan, (
        "percentile must come from the materialized 1-row table, not be "
        "re-inlined per UNION branch"
    )

    # contamination_span: no string-concat gram build on the Spark side —
    # grams are array slices (no concat_ws in the gram projection)
    plan = _plan(QS["contamination_span"](spark, SF_SMALL))
    assert "concat_ws" not in plan, "grams must join as array slices"


def test_skew_join_strategies_plan_pins_protected_forms(spark):
    """The planted-hot-key entry must execute through the protected join
    forms it documents: the raw-key branch broadcasts the dim (no shuffle
    of the skewed fact side), and the salted branch joins on (k, salt) so
    a hot key spreads over 16 sub-keys. Never a cartesian."""
    plan = _plan(QS["skew_join_strategies"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the salted branch's join condition carries the salt key
    assert "salt" in plan


def test_get_spark_carries_every_runtime_conf(spark):
    """The builder applies RUNTIME_CONFS itself (the context's conf is what
    get_spark() built, before any ensure_session_confs() pass), so its
    session needs no repair at query entry."""
    from chilekids_etl_pipeline_spark.session import RUNTIME_CONFS

    built = spark.sparkContext.getConf()
    assert {k: built.get(k) for k in RUNTIME_CONFS} == RUNTIME_CONFS


def test_mem_mb_uses_spark_size_grammar():
    """Round-11 (r10 advice): SPARK_GRAFT_DRIVER_MEM feeds BOTH
    spark.driver.memory (Spark parses bare numbers as MiB) and the
    broadcast-threshold scaling — the two readings must share Spark's
    grammar, or '4096' yields a 4 GiB heap with a 4 MB threshold."""
    import warnings

    from chilekids_etl_pipeline_spark.session import _mem_mb

    assert _mem_mb("8g") == 8192
    assert _mem_mb("2G") == 2048
    assert _mem_mb("512m") == 512
    assert _mem_mb("1048576k") == 1024
    assert _mem_mb("1t") == 1024 * 1024
    assert _mem_mb("4096") == 4096  # bare number: MiB, like Spark
    # JavaUtils also accepts the two-letter forms kb/mb/gb/tb/pb
    # (ADVICE r11 #5: '4gb' used to warn and threshold-scale as 8g
    # while the JVM heap it configured was 4 GiB)
    assert _mem_mb("4gb") == 4096
    assert _mem_mb("512MB") == 512
    assert _mem_mb("2tb") == 2 * 1024 * 1024
    assert _mem_mb("1pb") == 1024 * 1024 * 1024
    assert _mem_mb("1048576kb") == 1024
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _mem_mb("not-a-size") == 8192
    assert caught and "broadcast-threshold" in str(caught[0].message)


def test_theta_sketch_materializes_single_fact_pass(spark):
    """r12: the theta pair algebra must read the checkpointed sketch,
    never re-derive it — the inlined form re-planned the events scan per
    sketch reference (22 scans / 51 Exchanges, PLAN_AUDIT_r12.json)."""
    plan = _plan(QS["theta_sketch_set_ops"](spark, SF_SMALL))
    assert "Scan ExistingRDD" in plan  # checkpointed sketch blocks
    assert "Scan parquet" not in plan  # fact table touched only pre-seam


def test_yield_curve_materializes_shingles_and_toks(spark):
    """r12: dedup_yield_curve's repeated CTE references (jac x2,
    toks x2, corpus count) must read materialized blocks, not re-run
    the docs-union tokenize (52 documents scans inlined pre-seam)."""
    plan = _plan(QS["dedup_yield_curve"](spark, SF_SMALL))
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_quantization_recall_single_corpus_pass(spark):
    """r12: the recall probe scores full and int8-dequantized neighbors
    FUSED in one mapInPandas over one embeddings scan (the two-call form
    paid two corpus scans + two racing Python stages); both sides must
    ride a single scan and a single Python eval node."""
    import re

    plan = _plan(QS["quantization_recall_probe"](spark, SF_SMALL))
    # operator-details headers: "(n) OperatorName" — one line per node
    ops = re.findall(r"^\((\d+)\) ([A-Za-z]+)", plan, re.M)
    names = [n for _, n in ops]
    assert names.count("MapInPandas") == 1
    assert names.count("Scan") == 1  # one embeddings scan feeds both sides
