"""Training-data pipeline operators, batch 8: deterministic training-
order construction (source-interleaved global positions with NO global
sort) and PMI collocation mining (the statistical phrase detector).

Dual-dialect SQL templates, no Python UDFs. Registered after the
external gate window; rotates next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.text import words_sql
from ..sources.tables import load_table, materialize, maybe_rebalance
from .registry import register

# ---------------------------------------------------------------------------
# training-order interleave

def _interleave_sql(dialect: str) -> str:
    s = "string" if dialect == "spark" else "varchar"
    return f"""
WITH ranked AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY md5(cast(doc_id AS {s})), doc_id)
               AS rk
    FROM documents
),
src AS (
    SELECT source,
           row_number() OVER (ORDER BY source) AS sidx,
           cast(count(*) OVER () AS bigint) AS n_src
    FROM (SELECT DISTINCT source FROM documents) d
)
SELECT r.doc_id, r.source,
       cast((r.rk - 1) * s.n_src + s.sidx - 1 AS bigint) AS global_pos
FROM ranked r JOIN src s ON r.source = s.source
"""


@register("training_order_interleave", oracle=_interleave_sql("duckdb"))
def training_order_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-interleaved training order: every document
    gets a global position computed PER ROW from (its md5-shuffled rank
    within its source) × n_sources + source index — consecutive
    positions cycle through sources, which is the data-order property
    training stability wants (no wall of one crawl dump mid-run), and
    reruns/engines agree exactly. The point at 100 TB is what this
    AVOIDS: a global ORDER BY rand() sort over the corpus. The only
    shuffles are the per-source rank window and a broadcast join
    against the source index table; writers then range-partition on
    global_pos to emit shards in training order."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_interleave_sql("spark"))


# ---------------------------------------------------------------------------
# PMI collocations

_PMI_MIN_PAIR = 10
_PMI_TOP = 50


def _pmi_sql(
    dialect: str,
    allbi_src_override: str | None = None,
    uni_src_override: str | None = None,
) -> str:
    w = words_sql(dialect)
    if dialect == "spark":
        pairs = (
            f"explode(CASE WHEN size({w}) >= 2 THEN "
            f"transform(sequence(1, size({w}) - 1), "
            f"i -> concat(element_at({w}, i), ' ', element_at({w}, i + 1))) "
            f"ELSE array() END)"
        )
        uni = f"explode({w})"
    else:
        pairs = (
            f"unnest(list_transform("
            f"range(1, greatest(len({w}), 1)), "
            f"i -> concat(({w})[i], ' ', ({w})[i + 1])))"
        )
        uni = f"unnest({w})"
    allbi_body = (
        f"SELECT pair, cast(count(*) AS bigint) AS c_ab FROM ("
        f"SELECT {pairs} AS pair FROM documents) p GROUP BY pair"
    )
    uni_body = (
        f"SELECT word, cast(count(*) AS bigint) AS c FROM ("
        f"SELECT {uni} AS word FROM documents) u GROUP BY word"
    )
    allbi_src = allbi_src_override or f"({allbi_body})"
    uni_src = uni_src_override or f"({uni_body})"
    return f"""
WITH allbi AS (SELECT * FROM {allbi_src}),
bi AS (SELECT * FROM allbi WHERE c_ab >= {_PMI_MIN_PAIR}),
uni AS (SELECT * FROM {uni_src}),
tot AS (
    SELECT (SELECT cast(sum(c) AS bigint) FROM uni) AS n_uni,
           (SELECT cast(sum(c_ab) AS bigint) FROM allbi) AS n_bi
),
scored AS (
    SELECT b.pair, b.c_ab, ua.c AS c_a, ub.c AS c_b,
           round(ln((b.c_ab / cast(t.n_bi AS double))
                    / ((ua.c / cast(t.n_uni AS double))
                       * (ub.c / cast(t.n_uni AS double)))), 6) AS pmi
    FROM bi b
    JOIN uni ua ON ua.word = split_part(b.pair, ' ', 1)
    JOIN uni ub ON ub.word = split_part(b.pair, ' ', 2)
    CROSS JOIN tot t
)
SELECT pair, c_ab, c_a, c_b, pmi FROM (
    SELECT pair, c_ab, c_a, c_b, pmi,
           row_number() OVER (ORDER BY pmi DESC, pair) AS rk
    FROM scored
) ranked WHERE rk <= {_PMI_TOP}
"""


@register("cooccurrence_pmi", oracle=_pmi_sql("duckdb"))
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information over adjacent
    word pairs — the statistical phrase detector (tokenizer vocab
    candidates, multi-word entity discovery, boilerplate phrase
    spotting). Two explode+count aggregations (bigrams, unigrams), a
    support floor on pairs (PMI is noise below ~10 observations), an
    equi-join of each pair to its word marginals, and a top-k over the
    surviving pair table. PMI is rounded to 6 dp BEFORE ranking so the
    ordering is identical across engines; split_part parses the pair
    key identically in both dialects.

    Perf: the unigram table is referenced three times (two marginal
    joins + the total) and the bigram table twice (support filter +
    total) — SQL inlining re-exploded the corpus five times (3.7 s at
    sf0.1); both aggregates are materialized once (→ ~1.3 s)."""
    docs = maybe_rebalance(load_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("documents")
    w = words_sql("spark")
    pairs = (
        f"explode(CASE WHEN size({w}) >= 2 THEN "
        f"transform(sequence(1, size({w}) - 1), "
        f"i -> concat(element_at({w}, i), ' ', element_at({w}, i + 1))) "
        f"ELSE array() END)"
    )
    allbi = spark.sql(
        f"SELECT pair, cast(count(*) AS bigint) AS c_ab FROM "
        f"(SELECT {pairs} AS pair FROM documents) p GROUP BY pair"
    )
    uni = spark.sql(
        f"SELECT word, cast(count(*) AS bigint) AS c FROM "
        f"(SELECT explode({w}) AS word FROM documents) u GROUP BY word"
    )
    # lazy persist: TWO eager localCheckpoints serialize two blocking
    # materializations and A/B-measured +0.79 s median (AB_r12_batch2)
    return spark.sql(
        _pmi_sql("spark", allbi_src_override=materialize(allbi),
                 uni_src_override=materialize(uni))
    )


# ---------------------------------------------------------------------------
# Zipf-law fit

_ZIPF_HEAD = 1000


def _zipf_sql(dialect: str) -> str:
    w = words_sql(dialect)
    uni = f"explode({w})" if dialect == "spark" else f"unnest({w})"
    return f"""
WITH counts AS (
    SELECT word, cast(count(*) AS bigint) AS c FROM (
        SELECT {uni} AS word FROM documents
    ) u GROUP BY word
),
ranked AS (
    SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rk FROM counts
),
pts AS (
    SELECT ln(cast(rk AS double)) AS x, ln(cast(c AS double)) AS y
    FROM ranked WHERE rk <= {_ZIPF_HEAD}
),
sums AS (
    SELECT cast(count(*) AS bigint) AS n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
    FROM pts
)
SELECT n AS n_points,
       round(-(n * sxy - sx * sy) / (n * sxx - sx * sx), 5)
           AS zipf_exponent,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 5)
           AS log_intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 5) AS r2
FROM sums
"""


@register("zipf_fit", oracle=_zipf_sql("duckdb"))
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-exponent fit of the term-frequency distribution: closed-form
    least squares on (ln rank, ln count) over the top-1000 terms —
    natural text sits near exponent 1 with high r²; machine-generated
    or template spam bends the curve, which makes this a one-row
    corpus-health indicator (the distributional cousin of
    vocab_growth_curve's Heaps fit). One explode+count, one rank
    window over the vocab table, and a single-row moment reduction;
    the regression algebra runs on six aggregate sums. Rounded to 5 dp
    — the 1000-term double sums agree across engines far below that."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_zipf_sql("spark"))


# ---------------------------------------------------------------------------
# candidate-pair similarity histogram

_SIMH_N = 5        # shingle width
_SIMH_DF_PCT = 20  # df cap: shingle must appear in <= n_docs/20 docs
# Absolute stop-gram bound in addition to the relative cap (round 11):
# the full-decade document step measured the relative-only candidate
# join at alpha=1.364 on a 246 s wall — the same head-crossing
# mechanism root-caused for dedup_ngram_jaccard (the n/20 ceiling grows
# with the corpus, so Zipf-head shingles crossing into the kept band
# contribute df^2 rows). No-op at gate scales (max 3-gram df at sf0.1
# is 29; 5-grams are rarer still).
_SIMH_DF_ABS = 256


def _simhist_docs_cte(dialect: str) -> str:
    """Corpus + planted near-dups (drop the first 3 words of every 30th
    doc, id + 7·PLANT_SENTINEL — 700000 under the default convention)
    so the high-similarity buckets are populated."""
    from .llmdata import PLANT_SENTINEL

    w = words_sql(dialect)
    if dialect == "spark":
        tail = f"concat_ws(' ', slice({w}, 4, size({w})))"
    else:
        tail = f"array_to_string(list_slice({w}, 4, len({w})), ' ')"
    return f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {7 * PLANT_SENTINEL} AS doc_id, {tail} AS text
    FROM documents WHERE doc_id % 30 = 0
"""


def _simhist_sql(dialect: str, sh_src: str | None = None) -> str:
    from ..functions.text import shingles_sql

    grams = shingles_sql(dialect, words_sql(dialect), _SIMH_N)
    ex = "explode" if dialect == "spark" else "unnest"
    sh_body = (
        f"SELECT doc_id, g FROM {sh_src}"
        if sh_src
        else f"SELECT doc_id, {ex}({grams}) AS g FROM docs"
    )
    return f"""
WITH docs AS ({_simhist_docs_cte(dialect)}),
sh AS ({sh_body}),
df AS (SELECT g, count(*) AS n_docs FROM sh GROUP BY g),
corpus AS (SELECT count(*) AS n FROM docs),
keep AS (
    SELECT g FROM df CROSS JOIN corpus
    WHERE n_docs * {_SIMH_DF_PCT} <= n AND n_docs <= {_SIMH_DF_ABS}
),
shf AS (SELECT sh.doc_id, sh.g FROM sh JOIN keep ON sh.g = keep.g),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
jac AS (
    SELECT i.i / cast(sa.sz + sb.sz - i.i AS double) AS j
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
),
bucketed AS (
    SELECT least(cast(floor(j * 10) AS int), 9) AS bucket,
           cast(count(*) AS bigint) AS n_pairs
    FROM jac GROUP BY least(cast(floor(j * 10) AS int), 9)
)
SELECT bucket,
       round(bucket / cast(10 AS double), 1) AS sim_lo,
       n_pairs
FROM bucketed
"""


@register("similarity_histogram", oracle=_simhist_sql("duckdb"))
def similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of pairwise Jaccard similarity over candidate pairs
    (pairs sharing ≥1 non-boilerplate shingle) — the curve that picks
    the dedup threshold BEFORE committing a full dedup run: a bimodal
    histogram (noise mass near 0, a planted/true near-dup mode near 1)
    says 0.8 is safe; a smeared one says the corpus needs containment
    or substring treatment instead. Same df-capped inverted-index join
    bound as minhash_containment (no all-pairs work); at production
    scale the same histogram is computed from MinHash signature
    agreement instead of exact intersections, same output shape.

    Perf: the shingle CTE is referenced four times — materialized once
    on the Spark side (the standing CTE-inlining lesson)."""
    docs = maybe_rebalance(load_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("documents")
    from ..functions.text import shingles_sql

    grams_expr = shingles_sql("spark", words_sql("spark"), _SIMH_N)
    # eager localCheckpoint, not persist: the four sh consumers run as
    # concurrent stages of one job and raced the not-yet-built cache
    # into duplicate re-shingles (r12 stage profile: 26.0 + 11.8
    # executor-seconds); checkpointed blocks are referenced
    # structurally, so the explode runs once. lsh_band_tuning inherits
    # the same fix through this function.
    sh = materialize(spark.sql(
        f"WITH docs AS ({_simhist_docs_cte('spark')}) "
        f"SELECT doc_id, explode({grams_expr}) AS g FROM docs"
    ), eager=True)
    # The pair join stays on the shingle strings. A dense integer
    # re-keying of the kept vocabulary (gid = bucket + 1024·row_number
    # within xxhash64-bucket — a deterministic BIJECTION, so results
    # stay exact) was oracle-verified at 3 SFs and A/B-REVERTED: wash
    # at sf0.1 (+0.03 s, AB_r13_batch1.json) and +0.94 s at sf1
    # (AB_r13_batch1_sf1.json; lsh_band_tuning, which inherits this
    # function, +0.44/+0.95 s). The string→gid map join + vocab window
    # costs what the integer self-join saves: the self-join's two
    # string exchanges are already ReusedExchange-shared across the
    # jac consumers, so the narrow keys remove fewer bytes than the
    # extra materialization job adds.
    return spark.sql(_simhist_sql("spark", sh_src=sh))


# ---------------------------------------------------------------------------
# LSH band/row tuning: S-curve evaluated against the measured similarity
# histogram

# (bands, rows) factorizations of the 12-hash signature the LSH entries use
_TUNE_CONFIGS = ((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))


def _ipow_sql(x: str, n_var: str) -> str:
    """Integer power as an explicit left-associated product chain — pow()
    is not guaranteed bit-identical across libm implementations, but
    repeated IEEE multiplication is; exponents are the _TUNE_CONFIGS
    members."""
    cases = []
    for n in sorted({b for b, _ in _TUNE_CONFIGS} | {r for _, r in _TUNE_CONFIGS}):
        prod = " * ".join([f"({x})"] * n)
        cases.append(f"WHEN {n_var} = {n} THEN {prod}")
    return "CASE " + " ".join(cases) + " END"


def _band_tuning_sql(dialect: str, hist_src: str | None = None) -> str:
    if dialect == "spark":
        configs = (
            "SELECT cfg.b AS b, cfg.r AS r FROM (SELECT explode(array("
            + ", ".join(f"named_struct('b', {b}, 'r', {r})" for b, r in _TUNE_CONFIGS)
            + ")) AS cfg)"
        )
    else:
        configs = (
            "SELECT * FROM (VALUES "
            + ", ".join(f"({b}, {r})" for b, r in _TUNE_CONFIGS)
            + ") t(b, r)"
        )
    hist_body = (
        f"SELECT bucket, n_pairs FROM {hist_src}"
        if hist_src
        else f"SELECT bucket, n_pairs FROM ({_simhist_sql(dialect)})"
    )
    s_mid = "((bucket + cast(0.5 AS double)) / cast(10 AS double))"
    one = "cast(1 AS double)"
    p_detect = (
        f"({one} - {_ipow_sql(one + ' - ' + _ipow_sql(s_mid, 'r'), 'b')})"
    )
    return f"""
WITH hist AS ({hist_body}),
configs AS ({configs}),
scored AS (
    SELECT b, r, bucket, n_pairs,
           cast(floor(n_pairs * {p_detect} * 1000000) AS bigint) AS micro
    FROM configs CROSS JOIN hist
),
agg AS (
    SELECT b, r,
           cast(sum(micro) AS bigint) AS exp_cand_micro,
           cast(sum(CASE WHEN bucket >= 5 THEN micro ELSE 0 END) AS bigint)
               AS exp_true_micro,
           cast(sum(CASE WHEN bucket >= 5 THEN n_pairs ELSE 0 END) AS bigint)
               AS true_pairs
    FROM scored GROUP BY b, r
)
SELECT b, r,
       power(cast(1 AS double) - power(cast(0.5 AS double), cast(1 AS double) / b), cast(1 AS double) / r) AS s50,
       exp_cand_micro, exp_true_micro, true_pairs,
       exp_true_micro / (cast(1000000 AS double) * true_pairs) AS recall_at_05,
       CASE WHEN exp_cand_micro = 0 THEN cast(0 AS double)
            ELSE cast(1 AS double)
                 - exp_true_micro / cast(exp_cand_micro AS double)
       END AS waste_frac
FROM agg
"""


@register("lsh_band_tuning", oracle=_band_tuning_sql("duckdb"))
def lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick (bands, rows) for the 12-hash MinHash signature BEFORE
    running the dedup: the LSH S-curve P(s) = 1-(1-s^r)^b evaluated per
    factorization against the corpus's MEASURED pair-similarity
    histogram (similarity_histogram's df-capped candidate distribution),
    yielding per config the crossover threshold s50, the expected
    candidate load, recall over true (sim ≥ 0.5) pairs, and the wasted-
    verification fraction. This is the design calculation LSH systems
    run on a sample at 100 TB — the histogram is metadata-scale (10
    rows), so the tuning itself is free; the corpus pass is the same
    bounded inverted-index join similarity_histogram already runs.

    Portability: per-bucket expected counts are floored integer micros
    (order-free sums), and s^r/(1-s^r)^b use explicit multiplication
    chains because libm pow() is not bit-stable across engines; the
    only pow() left is the standalone s50 column."""
    hist = similarity_histogram(spark, sf_dir)
    hist.createOrReplaceTempView("simhist_for_tuning")
    return spark.sql(_band_tuning_sql("spark", hist_src="simhist_for_tuning"))
