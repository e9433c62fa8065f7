"""Training-data pipeline operators, batch 4: text normalization with
round-trip verification, deterministic train/val/test splitting, cross-
split n-gram leakage measurement, SemDeDup-style semantic dedup inside
IVF cells, tokenizer fertility stats, temperature-scaled mixture
planning, per-document n-gram novelty, and the corpus vocabulary growth
curve.

Same discipline as plans/llmdata.py..llmdata3.py: dual-dialect SQL
templates (Spark = JVM whole-stage codegen, DuckDB = the oracle), inputs
are the driver's documents / embeddings tables, and every computation is
explode → hash-partitioned aggregation, a bounded window, or pure
per-row arithmetic — no all-pairs work outside a cell/bucket, no Python
in the data path.

Portability notes baked into the templates (each learned from a real
cross-engine divergence in earlier rounds):
- regex character classes are built via chr() concatenation, never
  backslash escapes (Spark string literals collapse '\\?' to '\\?' while
  DuckDB keeps it — the url_canonical_dedup bug class);
- fractional aggregates sum INTEGERS (counts, micro-units) and divide
  once at the end — double SUM order differs between engines;
- the only transcendental used is sqrt(), which IEEE-754 requires to be
  correctly rounded (pow()/exp() are not so guaranteed across libm
  implementations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import bpe_token_count_sql, shingles_sql, words_sql
from ..sources.tables import load_table, materialize, maybe_rebalance
from .registry import register


def _intdiv(dialect: str, a: str, b: str) -> str:
    """Integer (floor-toward-zero on positives) division — exact and
    engine-portable, unlike double division + floor for large operands."""
    return f"(({a}) DIV ({b}))" if dialect == "spark" else f"(({a}) // ({b}))"


def _hex4_to_int(dialect: str, h: str) -> str:
    """First 4 hex chars of a digest → int, both dialects."""
    if dialect == "spark":
        return f"cast(conv(substr({h}, 1, 4), 16, 10) AS bigint)"
    return f"cast(('0x' || substr({h}, 1, 4)) AS bigint)"


# ---------------------------------------------------------------------------
# text normalization with round-trip verification


def _normalize_sql(dialect: str) -> str:
    """Whitespace canonicalization (collapse runs of space/tab/CR/LF to a
    single space + trim), verified by ROUND-TRIP: a deterministically
    dirtied copy of each document (doubled spaces, injected tab, trailing
    blank run) must normalize back to the original text. The whitespace
    class is assembled with chr() so the pattern parses identically in
    Java regex and RE2 (and DuckDB gets the 'g' flag — its
    regexp_replace is single-shot by default where Spark replaces every
    match)."""
    g = ", 'g'" if dialect == "duckdb" else ""
    ws_class = "concat('[', chr(9), chr(10), chr(13), ' ]+')"
    dirty = (
        "concat(chr(9), replace(text, ' ', '  '), ' ', chr(13), chr(10), ' ')"
    )
    norm = f"trim(regexp_replace({dirty}, {ws_class}, ' '{g}))"
    return f"""
SELECT doc_id,
       cast(length(text) AS bigint) AS raw_len,
       cast(length({norm}) AS bigint) AS norm_len,
       md5({norm}) AS norm_hash,
       ({norm} = text) AS roundtrip_ok,
       cast(length({dirty}) - length({norm}) AS bigint) AS n_stripped
FROM documents
"""


@register("text_normalize", oracle=_normalize_sql("duckdb"))
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text canonicalization — the first pass of every ingest
    (whitespace collapse + trim here; NFC/control-char strips slot into
    the same single codegen projection). Byte-level correctness is proven
    by md5 of the normalized text AND a round-trip property (dirtied
    input normalizes back to the clean original) — not just row counts.
    Pure per-row work: zero shuffles at any scale."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_normalize_sql("spark"))


# ---------------------------------------------------------------------------
# deterministic train/val/test split

_SPLIT_PCT = (96, 98)  # <96 train, <98 val, else test


def _split_sql(dialect: str) -> str:
    cast_s = "AS string" if dialect == "spark" else "AS varchar"
    bucket = _hex4_to_int(dialect, f"md5(cast(doc_id {cast_s}))") + " % 100"
    return f"""
SELECT doc_id, lang, source,
       cast({bucket} AS bigint) AS bucket,
       CASE WHEN {bucket} < {_SPLIT_PCT[0]} THEN 'train'
            WHEN {bucket} < {_SPLIT_PCT[1]} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@register("train_val_split", oracle=_split_sql("duckdb"))
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 96/2/2 train/val/test assignment from a content-key
    hash — reproducible across reruns, engines, and cluster sizes (the
    property rand()-based splits lack), stable under corpus growth
    (a document's split never depends on other documents). Pure per-row
    arithmetic; the split column then partitions downstream writes."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_split_sql("spark"))


# ---------------------------------------------------------------------------
# cross-split n-gram leakage (decontaminating the split itself)

_LEAK_N = 8


def _leakage_sql(dialect: str, grams_src: str | None = None) -> str:
    grams = shingles_sql(dialect, words_sql(dialect), _LEAK_N)
    ex = "explode" if dialect == "spark" else "unnest"
    # grams_src lets the Spark side substitute a materialized gram table:
    # the CTE is referenced twice (train + eval side) and SQL CTE
    # inlining would shingle the whole corpus twice
    grams_body = (
        f"SELECT doc_id, g FROM {grams_src}"
        if grams_src
        else f"SELECT doc_id, {ex}({grams}) AS g FROM documents"
    )
    return f"""
WITH split AS ({_split_sql(dialect)}),
grams AS (
    {grams_body}
),
train_grams AS (
    SELECT DISTINCT g FROM grams JOIN split USING (doc_id)
    WHERE split.split = 'train'
),
eval_grams AS (
    SELECT grams.doc_id, split.split, g FROM grams JOIN split USING (doc_id)
    WHERE split.split <> 'train'
)
SELECT e.doc_id, e.split,
       cast(count(*) AS bigint) AS n_grams,
       cast(sum(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS bigint)
           AS n_leaked,
       sum(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END)
           / cast(count(*) AS double) AS leak_frac
FROM eval_grams e LEFT JOIN train_grams t ON e.g = t.g
GROUP BY e.doc_id, e.split
"""


@register("split_leakage_check", oracle=_leakage_sql("duckdb"))
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures 8-gram leakage from the train split into every val/test
    document — contamination_check turned inward on the pipeline's own
    split (near-duplicate documents landing on opposite sides of a random
    split silently inflate eval scores). Equi-join on the gram hash keyed
    both sides — the val/test side is ~4% of the corpus, the train gram
    set shuffles once; no pairwise document work.

    Perf: the corpus repartitions before the 8-gram explode (the local
    single-row-group parquet scans as ONE task and the explode is the
    dominant cost — same note as contamination_check), and the exploded
    gram table is persisted ONCE: the CTE feeds both the train and eval
    sides, and SQL CTE inlining would otherwise shingle the corpus
    twice (measured 11.5 s → the persisted form at sf0.1)."""
    docs = maybe_rebalance(load_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("documents")
    grams_expr = shingles_sql("spark", words_sql("spark"), _LEAK_N)
    # lazy persist, deliberately: an eager localCheckpoint A/B-measured
    # +1.29 s median here (AB_r12_batch2) — the racing consumer
    # recomputes overlap across cores and beat serialized
    # materialization (contrast minhash_estimate_error, where the
    # duplicated md5+conv work dominated and the checkpoint won).
    grams = materialize(spark.sql(
        f"SELECT doc_id, explode({grams_expr}) AS g FROM documents"
    ))
    return spark.sql(_leakage_sql("spark", grams_src=grams))


# ---------------------------------------------------------------------------
# SemDeDup: semantic near-dup removal within IVF cells

_SEM_THRESHOLD = 0.98
# Coarse cell count grows as sqrt(n)/2 with a floor of 32 — the IVF
# balance rule: assignment work is n*K and within-cell pair work is
# n^2/K, so K ~ sqrt(n) keeps BOTH at n^1.5 instead of letting a fixed
# K turn the pair side quadratic (measured: fixed K=32 went 1.27 s at
# sf0.1 -> 55.9 s at sf1 for 10x the vectors). Unchanged (floor) at
# <= sf0.1, so only larger scales re-plan.
_SEM_MIN_K = 32
_SEM_K_SQL = (
    "greatest(32, cast(floor(sqrt(cast(count(*) AS double)) / 2) "
    "AS bigint))"
)


def _sem_exprs(dialect: str) -> tuple[str, str, str, str]:
    """(vec, planted, dot-template, norm) expression strings."""
    if dialect == "spark":
        vec = "transform(embedding, x -> cast(x AS double))"
        planted = "concat(array(element_at(v, 1) + cast(0.05 AS double)), slice(v, 2, size(v) - 1))"
        dot = (
            "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "cast(0 AS double), (acc, x) -> acc + x)"
        )
        nrm = "sqrt(aggregate(transform(v, x -> x * x), cast(0 AS double), (acc, x) -> acc + x))"
    else:
        vec = "list_transform(embedding, x -> cast(x AS double))"
        planted = "list_concat([v[1] + 0.05], v[2:len(v)])"
        dot = (
            "list_reduce(list_transform(list_zip({a}, {b}), pp -> pp[1] * pp[2]), "
            "(x, y) -> x + y)"
        )
        nrm = "sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b))"
    return vec, planted, dot, nrm


def _sem_norms_sql(dialect: str) -> str:
    """Standalone statement producing the (vec_id, v, nrm) table."""
    from .llmdata import PLANT_SENTINEL

    vec, planted, _, nrm = _sem_exprs(dialect)
    return f"""
WITH base AS (SELECT vec_id, {vec} AS v FROM embeddings),
withdups AS (
    SELECT * FROM base
    UNION ALL
    SELECT vec_id + {PLANT_SENTINEL} AS vec_id, {planted} AS v
    FROM base WHERE vec_id % 25 = 0
)
SELECT vec_id, v, {nrm} AS nrm FROM withdups
"""


def _sem_cells_sql(dialect: str, norms_src: str) -> str:
    """Assignment only: (vec_id, centroid_id) — the Spark side runs the
    within-cell pairwise scoring in a per-cell BLAS kernel instead of
    the SQL self-join (see semantic_dedup docstring)."""
    _, _, dot, _ = _sem_exprs(dialect)
    return f"""
WITH norms AS (SELECT vec_id, v, nrm FROM {norms_src}),
kk AS (SELECT {_SEM_K_SQL} AS k FROM norms),
cent AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
         FROM norms CROSS JOIN kk WHERE vec_id < kk.k),
assign AS (
    SELECT vec_id, centroid_id,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round({dot.format(a='v', b='cv')} / (nrm * cnrm), 6) DESC,
                        centroid_id) AS crank
    FROM norms CROSS JOIN cent
)
SELECT vec_id, centroid_id FROM assign WHERE crank = 1
"""


def _semdedup_sql(dialect: str, norms_src: str | None = None) -> str:
    from .llmdata import PLANT_SENTINEL

    vec, planted, dot, nrm = _sem_exprs(dialect)
    # norms_src lets the Spark side substitute a persisted norm table:
    # the norms CTE is referenced four times (centroid extract, the
    # assignment cross join, and both pair sides) and SQL CTE inlining
    # would re-derive the vector transforms each time
    norms_body = (
        f"SELECT vec_id, v, nrm FROM {norms_src}"
        if norms_src
        else f"SELECT vec_id, v, {nrm} AS nrm FROM withdups"
    )
    return f"""
WITH base AS (SELECT vec_id, {vec} AS v FROM embeddings),
withdups AS (
    SELECT * FROM base
    UNION ALL
    SELECT vec_id + {PLANT_SENTINEL} AS vec_id, {planted} AS v
    FROM base WHERE vec_id % 25 = 0
),
norms AS ({norms_body}),
kk AS (SELECT {_SEM_K_SQL} AS k FROM norms),
cent AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
         FROM norms CROSS JOIN kk WHERE vec_id < kk.k),
assign AS (
    SELECT vec_id, centroid_id,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round({dot.format(a='v', b='cv')} / (nrm * cnrm), 6) DESC,
                        centroid_id) AS crank
    FROM norms CROSS JOIN cent
),
cells AS (SELECT vec_id, centroid_id FROM assign WHERE crank = 1),
pairs AS (
    SELECT a.vec_id AS kept_id, b.vec_id AS removed_id, a.centroid_id,
           round({dot.format(a='x.v', b='y.v')} / (x.nrm * y.nrm), 6) AS cosine
    FROM cells a
    JOIN cells b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    JOIN norms x ON x.vec_id = a.vec_id
    JOIN norms y ON y.vec_id = b.vec_id
)
SELECT removed_id, min(kept_id) AS kept_id,
       min(centroid_id) AS cell, max(cosine) AS cosine
FROM pairs WHERE cosine >= {_SEM_THRESHOLD}
GROUP BY removed_id
"""


@register("semantic_dedup", oracle=_semdedup_sql("duckdb"))
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal that
    only compares vectors INSIDE the same coarse IVF cell — the pairwise
    cosine work is bounded to cell populations instead of O(n²), which is
    what makes embedding dedup feasible on a pretraining corpus. Planted
    perturbed duplicates (the same fixture the ANN entries use) land in
    their source's cell and are removed; the keep-rule is min vec_id.
    The cell self-join shuffles once on centroid_id.

    Perf: the (vec_id, v, nrm) table persists once — the norms CTE is
    referenced repeatedly and inlining re-derived the vector transforms
    each time. K grows as sqrt(n)/2 (floor 32) per the IVF balance rule
    — a FIXED K makes within-cell pair work quadratic in the corpus
    (measured: 1.27 s at sf0.1 → 55.9 s at sf1), sqrt-K keeps both
    assignment and pair work at n^1.5 with bounded cell sizes. The
    within-cell scoring itself runs as a per-cell applyInPandas BLAS
    matmul (vectors shuffle ONCE per cell, never per pair — the SQL
    self-join shipped two 64-dim arrays per candidate pair and that
    shuffle was the sf1 wall), with cosines rounded half-away-from-zero
    to 6 decimals exactly like the oracle's fold. At extreme scale the
    assignment side shards further via the ANN paths
    (operators/similarity.py); the oracle keeps the identical-semantics
    SQL self-join form."""
    import numpy as np
    import pandas as pd

    # gated widening: the embeddings parquet is 1-2 splits at every test
    # scale; without it the norm/assignment lambdas run on 2 of 32 cores
    # (sf1 A/B: 10.4 -> 2.4 s median)
    maybe_rebalance(
        load_table(spark, sf_dir, "embeddings")
    ).createOrReplaceTempView("embeddings")
    # eager localCheckpoint, not persist: norms feeds the cell assignment
    # AND the cell-vector join as concurrent stages (cache race — see
    # llmdata20.minhash_estimate_error); the checkpointed df is used for
    # BOTH consumers so they share the materialized blocks.
    norms = materialize(spark.sql(_sem_norms_sql("spark")), eager=True)
    cells = spark.sql(_sem_cells_sql("spark", norms_src=norms))
    cellvecs = spark.table(norms).join(cells, "vec_id")
    thr = _SEM_THRESHOLD

    def _empty_pairs() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "kept_id": pd.Series([], dtype="int64"),
                "removed_id": pd.Series([], dtype="int64"),
                "centroid_id": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _empty_pairs()
        pdf = pdf.sort_values("vec_id")  # i < j positions = id order
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        nr = pdf["nrm"].to_numpy(dtype=np.float64)
        raw = (mat @ mat.T) / np.outer(nr, nr)
        # HALF-AWAY-FROM-ZERO like F.round / DuckDB round (np.round is
        # half-to-even)
        s = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5), raw) / 1e6
        iu, ju = np.nonzero(np.triu(s >= thr, 1))
        if iu.size == 0:
            return _empty_pairs()
        return pd.DataFrame(
            {
                "kept_id": ids[iu],
                "removed_id": ids[ju],
                "centroid_id": np.full(
                    iu.size, pdf["centroid_id"].iloc[0], dtype="int64"
                ),
                "cosine": s[iu, ju],
            }
        )

    pairs = cellvecs.groupBy("centroid_id").applyInPandas(
        _cell_pairs,
        "kept_id bigint, removed_id bigint, centroid_id bigint, "
        "cosine double",
    )
    return pairs.groupBy("removed_id").agg(
        F.min("kept_id").alias("kept_id"),
        F.min("centroid_id").alias("cell"),
        F.max("cosine").alias("cosine"),
    )


# ---------------------------------------------------------------------------
# tokenizer fertility by language


def _fertility_sql(dialect: str) -> str:
    w = words_sql(dialect)
    nw = f"size({w})" if dialect == "spark" else f"len({w})"
    bpe = bpe_token_count_sql(dialect)
    return f"""
SELECT lang,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum({nw}) AS bigint) AS ws_tokens,
       cast(sum({bpe}) AS bigint) AS bpe_tokens,
       sum({bpe}) / cast(sum({nw}) AS double) AS fertility
FROM documents
GROUP BY lang
"""


@register("tokenizer_fertility", oracle=_fertility_sql("duckdb"))
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subword tokens per whitespace word) per
    language — the budgeting stat that decides how many DOCUMENTS a
    per-language token quota buys (fertility varies ~2x across languages
    for BPE vocabularies). Integer sums, one ratio at the end: exact,
    portable, one shuffle on lang with map-side partial aggregation."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_fertility_sql("spark"))


# ---------------------------------------------------------------------------
# temperature-scaled mixture planning

_TEMP_SCALE = 1_000_000_000  # sqrt micro-units: integer-summable weights


def _temperature_sql(dialect: str) -> str:
    return f"""
WITH per_src AS (
    SELECT source, cast(count(*) AS bigint) AS n_docs FROM documents
    GROUP BY source
),
tot AS (SELECT cast(sum(n_docs) AS bigint) AS n_total FROM per_src),
wts AS (
    SELECT source, n_docs, n_total,
           cast(floor(sqrt(n_docs / cast(n_total AS double))
                * {_TEMP_SCALE}) AS bigint) AS w_units
    FROM per_src CROSS JOIN tot
),
wsum AS (SELECT cast(sum(w_units) AS bigint) AS w_total FROM wts)
SELECT source, n_docs,
       n_docs / cast(n_total AS double) AS raw_frac,
       w_units / cast(w_total AS double) AS temp_frac,
       (w_units / cast(w_total AS double))
           / (n_docs / cast(n_total AS double)) AS boost
FROM wts CROSS JOIN wsum
"""


@register("mixture_temperature_plan", oracle=_temperature_sql("duckdb"))
def mixture_temperature_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (T=2: p_i ∝ p_raw^(1/2)) — the
    standard multilingual rebalancing that upsamples small sources without
    letting any dominate. sqrt() is the one IEEE-guaranteed-correctly-
    rounded transcendental, and the weights sum as INTEGER micro-units
    (double-sum order differs across engines); the result is exact and
    portable. Two 1-row broadcasts; one groupBy on source."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_temperature_sql("spark"))


# ---------------------------------------------------------------------------
# per-document n-gram novelty

_NOVELTY_N = 3


def _novelty_sql(dialect: str, grams_src: str | None = None) -> str:
    grams = shingles_sql(dialect, words_sql(dialect), _NOVELTY_N)
    ex = "explode" if dialect == "spark" else "unnest"
    grams_body = (
        f"SELECT doc_id, g FROM {grams_src}"
        if grams_src
        else f"SELECT doc_id, {ex}({grams}) AS g FROM documents"
    )
    return f"""
WITH grams AS ({grams_body}),
first_seen AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
SELECT gr.doc_id,
       cast(count(*) AS bigint) AS n_grams,
       cast(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
            AS bigint) AS n_novel,
       sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
           / cast(count(*) AS double) AS novelty_frac
FROM grams gr JOIN first_seen f ON gr.g = f.g
GROUP BY gr.doc_id
"""


@register("ngram_novelty", oracle=_novelty_sql("duckdb"))
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    3-grams whose FIRST corpus occurrence (min doc_id, standing in for
    ingest order) is that document — low-novelty documents are mostly
    recombinations of earlier content, a dedup-adjacent quality signal
    cheaper than pairwise similarity. Two hash-partitioned shuffles
    (gram → min, doc → counts), both with map-side partial agg.

    Perf: repartition ahead of the 3-gram explode (single-row-group
    local scan = one task) and persist the exploded grams once — the
    CTE feeds both the first-seen aggregate and the per-doc count, and
    inlining would run the explode twice (10.2 s → ~3 s at sf0.1)."""
    docs = maybe_rebalance(load_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("documents")
    grams_expr = shingles_sql("spark", words_sql("spark"), _NOVELTY_N)
    # lazy persist: eager localCheckpoint A/B-measured +0.56 s median
    # (AB_r12_batch2, same verdict as split_leakage_check)
    grams = materialize(spark.sql(
        f"SELECT doc_id, explode({grams_expr}) AS g FROM documents"
    ))
    return spark.sql(_novelty_sql("spark", grams_src=grams))


# ---------------------------------------------------------------------------
# corpus vocabulary growth curve (Heaps' law)


def _vocab_growth_sql(dialect: str) -> str:
    ex = "explode" if dialect == "spark" else "unnest"
    # 3-gram "terms", not single words: the synthetic corpus's word
    # vocabulary saturates within the first few documents (every curve
    # point would be bucket 1); 3-gram vocabulary keeps growing, so the
    # curve actually has shape — which is also the honest scale story,
    # since Heaps-law monitoring on a real corpus tracks n-gram types.
    grams = shingles_sql(dialect, words_sql(dialect), 3)
    return f"""
WITH terms AS (
    SELECT {ex}({grams}) AS term, doc_id FROM documents
),
first_seen AS (SELECT term, min(doc_id) AS first_doc FROM terms GROUP BY term),
bounds AS (SELECT max(doc_id) + 1 AS max_id FROM documents),
bucketed AS (
    SELECT least(cast(floor(first_doc * 10 / cast(max_id AS double)) AS int)
                 + 1, 10) AS bucket
    FROM first_seen CROSS JOIN bounds
),
per_bucket AS (
    SELECT bucket, cast(count(*) AS bigint) AS new_terms
    FROM bucketed GROUP BY bucket
)
SELECT bucket, new_terms,
       cast(sum(new_terms) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
           AS cum_vocab
FROM per_bucket
"""


@register("vocab_growth_curve", oracle=_vocab_growth_sql("duckdb"))
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth over ingest order (Heaps' law curve): distinct
    terms binned by the decile of their first appearance, cumulated —
    the sub-linear growth diagnostic that spots corpus staleness (a flat
    tail means new data adds no new language). One shuffle to find each
    term's first occurrence, ten rows out; the cumulative window runs on
    the 10-row aggregate, not the corpus. maybe_rebalance (round 9): on
    an open-vocabulary corpus nearly every 3-gram is a distinct key, so
    the explode + partial-agg stage is per-row-heavy and starves on the
    sandbox's ~2-split parquet scan — measured 50.1 -> 2.25 s at the
    ov1 scale with the widening exchange (no-op on a real cluster)."""
    maybe_rebalance(
        load_table(spark, sf_dir, "documents")
    ).createOrReplaceTempView("documents")
    return spark.sql(_vocab_growth_sql("spark"))
