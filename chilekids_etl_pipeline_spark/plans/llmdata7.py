"""Training-data pipeline operators, batch 7: corpus-internal exact
substring dedup (verbatim shared spans between document PAIRS — the
doc-vs-doc twin of contamination_span), embedding-column QC (norm
profile / zero-vector detection), and per-source dataset-card stats
(the one-scan profile a mixture decision reads).

Same discipline as plans/llmdata.py..llmdata6.py: dual-dialect SQL
templates, zero Python UDFs, and pairwise work bounded by a
document-frequency cap on the join key. Registered after the external
gate window (imported last in plans.load_all()); rotates in next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import words_sql
from ..sources.tables import load_table, materialize, maybe_rebalance
from .registry import register

# ---------------------------------------------------------------------------
# exact substring dedup (pairwise verbatim spans)

_SUB_N = 8         # gram width
_SUB_DF_CAP = 8    # keep grams appearing in <= this many docs
_SUB_MIN_RUN = 10  # report pairs sharing a run of >= this many grams


def _sub_docs_cte(dialect: str) -> str:
    """Corpus + planted partial copies: every 25th doc contributes a new
    doc (+500000) whose text is a 30-word slice starting at word 11 —
    a verbatim span embedded in an otherwise-unrelated id."""
    w = words_sql(dialect)
    if dialect == "spark":
        sl = f"concat_ws(' ', slice({w}, 11, 30))"
    else:
        sl = f"array_to_string(list_slice({w}, 11, 40), ' ')"
    return f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 500000 AS doc_id, {sl} AS text
    FROM documents WHERE doc_id % 25 = 0
"""


def _sub_pos_grams(dialect: str) -> str:
    """Positional {n}-grams over the planted corpus: (doc_id, pos, gh)
    with the gram md5-hashed so the join key is fixed-width."""
    w = words_sql(dialect)
    if dialect == "spark":
        return f"""
    SELECT doc_id, g.pos AS pos, md5(g.gram) AS gh FROM (
        SELECT doc_id,
               explode(transform(sequence(0, size(w) - {_SUB_N}),
                   i -> named_struct('pos', i, 'gram',
                        concat_ws(' ', slice(w, i + 1, {_SUB_N}))))) AS g
        FROM (SELECT doc_id, {w} AS w FROM docs)
        WHERE size(w) >= {_SUB_N}
    )"""
    return f"""
    SELECT doc_id, (u).pos AS pos, md5((u).gram) AS gh FROM (
        SELECT doc_id,
               unnest(list_transform(range(0, len(w) - {_SUB_N} + 1),
                   i -> {{'pos': i, 'gram':
                        array_to_string(w[i + 1 : i + {_SUB_N}], ' ')}})) AS u
        FROM (SELECT doc_id, {w} AS w FROM docs)
        WHERE len(w) >= {_SUB_N}
    )"""


def _substring_sql(dialect: str, grams_src: str | None = None) -> str:
    grams_body = (
        f"SELECT doc_id, pos, gh FROM {grams_src}"
        if grams_src
        else _sub_pos_grams(dialect)
    )
    return f"""
WITH docs AS ({_sub_docs_cte(dialect)}),
grams AS ({grams_body}),
df AS (
    SELECT gh FROM (
        SELECT gh, count(DISTINCT doc_id) AS n_docs
        FROM grams GROUP BY gh
    ) d WHERE n_docs BETWEEN 2 AND {_SUB_DF_CAP}
),
keep AS (
    SELECT g.doc_id, g.pos, g.gh FROM grams g JOIN df ON g.gh = df.gh
),
pair_hits AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pos_a, a.pos - b.pos AS diag
    FROM keep a JOIN keep b
      ON a.gh = b.gh AND a.doc_id < b.doc_id
),
runs AS (
    SELECT doc_a, doc_b, diag, pos_a,
           pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                      ORDER BY pos_a) AS grp
    FROM pair_hits
),
per_run AS (
    SELECT doc_a, doc_b, count(*) AS run_len
    FROM runs GROUP BY doc_a, doc_b, diag, grp
)
SELECT doc_a, doc_b,
       cast(max(run_len) AS bigint) AS max_run,
       cast(max(run_len) + {_SUB_N - 1} AS bigint) AS span_words,
       cast(sum(run_len) AS bigint) AS n_shared_grams
FROM per_run
GROUP BY doc_a, doc_b
HAVING max(run_len) >= {_SUB_MIN_RUN}
"""


@register("exact_substring_dedup", oracle=_substring_sql("duckdb"))
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim shared SPANS between document pairs — the
    exact-substring dedup of Lee et al.'s "Deduplicating Training Data"
    recast as a join: positional 8-grams meet on their md5 inside a
    df-capped inverted index (grams in >8 docs are boilerplate and
    dropped — the same stop-gram bound minhash_containment uses), and
    contiguous matches group per (pair, diagonal) with the
    pos − row_number() gaps-and-islands trick contamination_span uses
    per document. A pair is reported when a shared run reaches 10 grams
    (≥ 17 verbatim words) — quote-length spans, not full-doc near-dups,
    which is what MinHash misses. Planted 30-word slices (+500000 ids)
    guarantee true positives. Pairwise work is bounded by the df cap,
    never O(corpus²); the run grouping shuffles once on (pair, diag).

    Perf: the grams CTE is referenced three times (df, both join
    sides) — materialized once on the Spark side so SQL inlining does
    not re-explode the corpus (the CTE-inlining lesson from
    minhash_containment, 9.8→2 s)."""
    docs = maybe_rebalance(load_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("documents")
    # eager localCheckpoint: the positional-gram explode runs once, not
    # once per grams reference. It beats a lazy persist at both test
    # scales (4 cores, 5 alternating pairs, medians: sf0.1 1.70 vs
    # 1.89 s, sf1 9.71 vs 10.89 s).
    grams = materialize(spark.sql(
        f"WITH docs AS ({_sub_docs_cte('spark')}) {_sub_pos_grams('spark')}"
    ), eager=True)
    return spark.sql(_substring_sql("spark", grams_src=grams))


# ---------------------------------------------------------------------------
# embedding-column QC

def _norm_qc_sql(dialect: str) -> str:
    if dialect == "spark":
        dims = ("SELECT vec_id, label, pos, v FROM vecs "
                "LATERAL VIEW posexplode(embedding) t AS pos, v")
    else:
        dims = ("SELECT vec_id, label, "
                "unnest(range(0, len(embedding))) AS pos, "
                "unnest(embedding) AS v FROM vecs")
    return f"""
WITH vecs AS (
    SELECT vec_id, label,
           CASE WHEN vec_id % 97 = 0
                THEN transform_zero(embedding)
                ELSE embedding END AS embedding
    FROM embeddings
),
dims AS ({dims}),
norms AS (
    SELECT vec_id, label,
           sqrt(sum(v * v)) AS l2,
           cast(count(*) AS bigint) AS n_dims
    FROM dims GROUP BY vec_id, label
)
SELECT label,
       cast(count(*) AS bigint) AS n_vecs,
       cast(min(n_dims) AS bigint) AS min_dims,
       cast(max(n_dims) AS bigint) AS max_dims,
       cast(sum(CASE WHEN l2 < cast(0.000001 AS double) THEN 1 ELSE 0 END)
            AS bigint) AS n_zero_vecs,
       round(min(l2), 6) AS min_norm,
       round(max(l2), 6) AS max_norm,
       round(avg(l2), 6) AS mean_norm
FROM norms GROUP BY label
"""


def _norm_qc_dialect(dialect: str) -> str:
    """Inject the zero-out transform (planted bad vectors) per dialect."""
    zero = (
        "transform(embedding, x -> cast(0 AS double))"
        if dialect == "spark"
        else "list_transform(embedding, x -> cast(0 AS double))"
    )
    return _norm_qc_sql(dialect).replace("transform_zero(embedding)", zero)


@register("embedding_norm_qc", oracle=_norm_qc_dialect("duckdb"))
def embedding_norm_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column QC: per-label vector counts, dimensionality
    bounds (a ragged dim is a pipeline bug), L2-norm profile, and
    zero-vector detection — the checks that gate an embedding table
    before ANN indexing or semantic dedup trusts it (a zeroed vector
    silently matches everything at cosine 0/0). Every 97th vector is
    planted as all-zero so the detector provably fires. posexplode →
    one (vec, label) aggregation → one label rollup; linear in
    vectors × dims, no pairwise anything. The 64-term double sum under
    sqrt is order-dependent only below the 6-dp rounding."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_norm_qc_dialect("spark"))


# ---------------------------------------------------------------------------
# per-source dataset-card stats

def _card_sql(dialect: str) -> str:
    w = words_sql(dialect)
    nw = f"size({w})" if dialect == "spark" else f"len({w})"
    return f"""
WITH per_doc AS (
    SELECT source, lang, doc_id,
           md5(text) AS h,
           cast({nw} AS bigint) AS n_tokens,
           cast(length(text) AS bigint) AS n_chars
    FROM documents
)
SELECT source,
       cast(count(*) AS bigint) AS n_docs,
       cast(count(DISTINCT h) AS bigint) AS n_unique_texts,
       cast(count(*) - count(DISTINCT h) AS bigint) AS n_exact_dups,
       cast(count(DISTINCT lang) AS bigint) AS n_langs,
       cast(sum(n_tokens) AS bigint) AS total_tokens,
       round(avg(cast(n_tokens AS double)), 4) AS mean_tokens,
       cast(min(n_tokens) AS bigint) AS min_tokens,
       cast(max(n_tokens) AS bigint) AS max_tokens,
       cast(sum(CASE WHEN n_tokens < 25 THEN 1 ELSE 0 END) AS bigint)
           AS n_short_docs,
       round(sum(n_chars) / cast(sum(n_tokens) AS double), 4)
           AS chars_per_token
FROM per_doc GROUP BY source
"""


@register("dataset_card_stats", oracle=_card_sql("duckdb"))
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: doc/token totals, exact-dup counts,
    language spread, length profile, chars-per-token — the one-scan
    summary a mixture decision (token_budget_allocator,
    dataset_mixture_sample) reads before weighting a source, and the
    table a data release publishes as its datasheet. One
    map-side-combined groupBy on source; the distinct-hash and
    distinct-lang aggregates use Spark's built-in distinct-aggregate
    expansion (per-group, not global). Output is one row per source at
    any corpus scale."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_card_sql("spark"))


# ---------------------------------------------------------------------------
# blocked fuzzy record linkage

_SN_WINDOW = 3  # sorted-neighborhood comparison window

# base corpus + suffix-first sort key, shared verbatim by both engines:
# the digit tail is the typo-stable part of the name, so records differing
# only by a prefix/mid-string typo sort ADJACENT; key cardinality grows
# with n, unlike a fixed block key (the r8 α=1.30 trap)
_LINKAGE_KEYED = """
WITH base AS (
    SELECT c_custkey, c_name, c_nationkey FROM customer
    UNION ALL
    SELECT c_custkey + 900000 AS c_custkey,
           concat('Custoner', substr(c_name, 9)) AS c_name,
           c_nationkey
    FROM customer WHERE c_custkey % 40 = 0
)
SELECT c_custkey, c_name, c_nationkey,
       concat(right(c_name, 10), left(c_name, 8)) AS sn_key
FROM base
"""


def _linkage_sql(dialect: str) -> str:
    leads = ",\n           ".join(
        f"lead(c_custkey, {i}) OVER w AS k{i}, lead(c_name, {i}) OVER w AS n{i}"
        for i in range(1, _SN_WINDOW + 1)
    )
    if dialect == "spark":
        structs = ", ".join(
            f"named_struct('k', k{i}, 'n', n{i})"
            for i in range(1, _SN_WINDOW + 1)
        )
        unpivot = f"LATERAL VIEW explode(array({structs})) u AS p"
        pk, pn = "p.k", "p.n"
    else:
        structs = ", ".join(
            f"{{'k': k{i}, 'n': n{i}}}" for i in range(1, _SN_WINDOW + 1)
        )
        unpivot = f", LATERAL (SELECT unnest([{structs}]) AS p) u"
        pk, pn = "(p).k", "(p).n"
    return f"""
WITH keyed AS ({_LINKAGE_KEYED}),
nb AS (
    SELECT c_custkey, c_name,
           {leads}
    FROM keyed
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY sn_key, c_custkey)
),
pairs AS (
    SELECT c_custkey AS id_x, c_name AS name_x,
           {pk} AS id_y, {pn} AS name_y
    FROM nb {unpivot}
),
scored AS (
    SELECT id_x, id_y, name_x, name_y,
           cast(levenshtein(name_x, name_y) AS bigint) AS edit_dist
    FROM pairs WHERE id_y IS NOT NULL
)
SELECT least(id_x, id_y) AS id_a,
       greatest(id_x, id_y) AS id_b,
       CASE WHEN id_x < id_y THEN name_x ELSE name_y END AS name_a,
       CASE WHEN id_x < id_y THEN name_y ELSE name_x END AS name_b,
       edit_dist
FROM scored WHERE edit_dist <= 2
"""


@register("record_linkage_blocked", oracle=_linkage_sql("duckdb"))
def record_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage via DISTRIBUTED sorted-neighborhood blocking
    (Hernández & Stolfo) — the dirty-dimension dedup exact hashing
    cannot do (typo'd re-entries of the same customer). Records sort per
    nation by a suffix-first key (digit tail + name prefix: the tail is
    the typo-stable part, so prefix/mid-string typo twins land
    adjacent), each row compares against its next W=3 same-nation
    neighbors (_SN_WINDOW), and edit distance <= 2 confirms. Pair work
    is O(n·W) BY CONSTRUCTION — the round-8 scaling curve measured the
    original equi-join blocking (nation × last-4-of-name) superlinear
    (α=1.30 over the sf0.1→sf1 step) because its block-key cardinality
    was FIXED, so block sizes grew with the corpus.

    The r8 rewrite still had a residual 100×-scale ceiling (VERDICT r8
    #2): `PARTITION BY c_nationkey` gives ~25 window tasks forever, so
    each task sorts O(n/25) rows — a straggler at 1000 executors. This
    round replaces the fixed-cardinality window with the standard
    distributed construction: repartitionByRange on (nation, sn_key,
    custkey) — P grows with the cluster — then (a) BODY pairs from
    lead() windows over (range-partition id, nation), each task sorting
    only O(n/P) rows, and (b) CROSS-BOUNDARY pairs from the first/last
    W rows of every (partition, nation) segment — a ≤ 2·W·P·|nations|
    row strip, bounded by cluster size not data size — re-windowed per
    nation with the pair emitted only when it crosses partitions. The
    strip provably reproduces exact global within-nation adjacency:
    a ≤W-neighbor pair that crosses a partition has every between-row
    inside the strip (each is within W of its own segment's head or
    tail), so strip distance equals global distance; conversely any
    strip pair spanning a >2W middle sees ≥2W strip rows between and is
    dropped by the W-lead. Cost vs the r8 form: one extra full-data
    exchange (range + window hash) — the price of removing the
    fixed-cardinality sort straggler. Planted typo twins ('Custoner'
    re-entries at +900000, edit distance 1) share the digit tail and
    are always caught. levenshtein is a built-in on both engines; the
    DuckDB oracle keeps the single-window per-nation form (identical
    result set, exhaustively equality-tested vs the old Spark window
    form in tests)."""
    from pyspark.sql import Window

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    keyed = spark.sql(_LINKAGE_KEYED)
    n_part = spark.sparkContext.defaultParallelism
    part = keyed.repartitionByRange(
        n_part, "c_nationkey", "sn_key", "c_custkey"
    ).withColumn("pid", F.spark_partition_id())

    wn = _SN_WINDOW
    w = Window.partitionBy("pid", "c_nationkey").orderBy("sn_key", "c_custkey")
    w_rev = Window.partitionBy("pid", "c_nationkey").orderBy(
        F.desc("sn_key"), F.desc("c_custkey")
    )
    lead_cols = []
    for i in range(1, wn + 1):
        lead_cols += [
            F.lead("c_custkey", i).over(w).alias(f"k{i}"),
            F.lead("c_name", i).over(w).alias(f"n{i}"),
        ]
    ranked = part.select(
        "c_custkey", "c_name", "c_nationkey", "sn_key", "pid",
        F.row_number().over(w).alias("rn"),
        F.row_number().over(w_rev).alias("rn_rev"),
        *lead_cols,
    )
    # lazy persist: eager localCheckpoint A/B-measured +0.32 s median
    # here (AB_r12_batch3) — the racing body/strip recomputes overlap
    # across cores and beat the serialized materialization barrier.
    ranked = spark.table(materialize(ranked))

    def _explode_pairs(df):
        return (
            df.select(
                "c_custkey", "c_name",
                F.explode(
                    F.array(*[
                        F.struct(
                            F.col(f"k{i}").alias("k"),
                            F.col(f"n{i}").alias("n"),
                        )
                        for i in range(1, wn + 1)
                    ])
                ).alias("p"),
            )
            .filter(F.col("p.k").isNotNull())
            .select(
                "c_custkey", "c_name",
                F.col("p.k").alias("id_y"), F.col("p.n").alias("name_y"),
            )
        )

    body = _explode_pairs(ranked)

    strip = ranked.filter((F.col("rn") <= wn) | (F.col("rn_rev") <= wn))
    wg = Window.partitionBy("c_nationkey").orderBy("sn_key", "c_custkey")
    strip_leads = strip.select(
        "c_custkey", "c_name", "pid",
        *[
            c
            for i in range(1, wn + 1)
            for c in (
                F.lead("c_custkey", i).over(wg).alias(f"k{i}"),
                F.lead("c_name", i).over(wg).alias(f"n{i}"),
                F.lead("pid", i).over(wg).alias(f"bp{i}"),
            )
        ],
    )
    cross = (
        strip_leads.select(
            "c_custkey", "c_name", "pid",
            F.explode(
                F.array(*[
                    F.struct(
                        F.col(f"k{i}").alias("k"),
                        F.col(f"n{i}").alias("n"),
                        F.col(f"bp{i}").alias("bp"),
                    )
                    for i in range(1, wn + 1)
                ])
            ).alias("p"),
        )
        .filter(F.col("p.k").isNotNull() & (F.col("p.bp") != F.col("pid")))
        .select(
            "c_custkey", "c_name",
            F.col("p.k").alias("id_y"), F.col("p.n").alias("name_y"),
        )
    )

    lt = F.col("c_custkey") < F.col("id_y")
    return (
        body.unionByName(cross)
        .select(
            F.least("c_custkey", "id_y").alias("id_a"),
            F.greatest("c_custkey", "id_y").alias("id_b"),
            F.when(lt, F.col("c_name")).otherwise(F.col("name_y")).alias("name_a"),
            F.when(lt, F.col("name_y")).otherwise(F.col("c_name")).alias("name_b"),
            F.levenshtein("c_name", "name_y").cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 2)
    )


# ---------------------------------------------------------------------------
# language-ID confusion matrix

def _lang_confusion_sql(dialect: str) -> str:
    from .llmdata import _langid_sql

    return f"""
SELECT label_lang, pred_lang,
       cast(count(*) AS bigint) AS n_docs
FROM ({_langid_sql(dialect)}) preds
GROUP BY label_lang, pred_lang
"""


@register("lang_confusion_matrix", oracle=_lang_confusion_sql("duckdb"))
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language ID against the
    labeled corpus — the eval table that turns lang_id from a black box
    into a calibrated filter (which pairs confuse, which labels are
    safe to route on). Wraps the lang_id template as a subquery and
    adds one (label, pred) aggregation; output is at most |langs|^2
    rows at any corpus scale. The standard QA artifact for every
    classifier-based curation stage."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_lang_confusion_sql("spark"))


# ---------------------------------------------------------------------------
# categorical mutual information

def _mi_sql(dialect: str) -> str:
    ln = "ln" if dialect == "duckdb" else "ln"
    return f"""
WITH joint AS (
    SELECT lang, source, cast(count(*) AS bigint) AS n_ls
    FROM documents GROUP BY lang, source
),
ml AS (SELECT lang, cast(sum(n_ls) AS bigint) AS n_l FROM joint GROUP BY lang),
ms AS (SELECT source, cast(sum(n_ls) AS bigint) AS n_s FROM joint GROUP BY source),
tot AS (SELECT cast(sum(n_ls) AS bigint) AS n FROM joint),
terms AS (
    SELECT j.n_ls, ml.n_l, ms.n_s, t.n,
           (j.n_ls / cast(t.n AS double))
             * {ln}(cast(j.n_ls AS double) * t.n
                    / (cast(ml.n_l AS double) * ms.n_s)) AS mi_term,
           (j.n_ls - cast(ml.n_l AS double) * ms.n_s / t.n)
             * (j.n_ls - cast(ml.n_l AS double) * ms.n_s / t.n)
             / (cast(ml.n_l AS double) * ms.n_s / t.n) AS chi2_term
    FROM joint j
    JOIN ml ON j.lang = ml.lang
    JOIN ms ON j.source = ms.source
    CROSS JOIN tot t
)
SELECT cast(count(*) AS bigint) AS n_cells,
       round(sum(mi_term), 6) AS mi_nats,
       round(sum(chi2_term), 4) AS chi2
FROM terms
"""


@register("categorical_mi", oracle=_mi_sql("duckdb"))
def categorical_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information and chi-square between two categorical
    columns (lang x source) — the dependence test that answers 'is
    language balanced across sources or do some sources skew the mix'
    before a mixture weight treats them as independent axes. The joint
    table is one map-side-combined aggregate; marginals derive from it
    (no second corpus scan), and the MI/chi-square reduction runs over
    at most |langs| x |sources| cells. The only broadcast is the 1-row
    total."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_mi_sql("spark"))
