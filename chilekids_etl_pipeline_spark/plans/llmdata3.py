"""Training-data pipeline operators, batch 3: model-scored quality
filtering, contamination span measurement, exact-quota stratified
sampling, RAG-style chunking, embedding quantization, and LSH-index
quality measurement (candidate recall/precision vs exact ground truth).

Same discipline as plans/llmdata.py / llmdata2.py: every operator is a
dual-dialect SQL template (Spark = JVM whole-stage codegen, DuckDB = the
oracle), inputs are the driver's documents / embeddings tables, and every
computation is explode → hash-partitioned aggregation, a per-partition
window, or pure per-row column arithmetic — never all-pairs work, no
Python in the data path.

These fill the remaining gaps a production pretraining pipeline has
beyond dedup/ANN/quality-signals (reference repo has no analog; the
operators follow the published recipes — CCNet/fastText-style quality
classification, benchmark-decontamination span rules, proportional corpus
sampling, fixed-stride context chunking, int8 storage quantization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import stop_hits_sql, words_sql
from ..sources.tables import load_table, materialize, maybe_rebalance
from ..functions.contamination import bench_grams_cte as _bench_grams_cte
from .registry import register

# ---------------------------------------------------------------------------
# model-scored quality filter (fastText/CCNet-style logistic classifier)

# Fixed "trained" weights: in production these come from a logistic
# regression fit on labeled good/bad documents; the weights broadcast as
# literals into the scoring expression, so inference is one codegen'd
# projection over the corpus — no model server, no UDF, no shuffle.
# The intercept is calibrated so the 0.5 decision boundary actually
# splits this corpus (an earlier -2.0 intercept scored every document
# 0.54-0.90 — a keep-all classifier filters nothing, and the pipeline's
# quality stage was a no-op).
_W0, _W_LOGN, _W_STOP, _W_AWL, _W_DIST = -3.2, 0.9, 3.5, -0.15, 1.2


def _clf_sql(dialect: str) -> str:
    w = words_sql(dialect)
    if dialect == "spark":
        nw, nd = "size(w)", "size(array_distinct(w))"
    else:
        nw, nd = "len(w)", "len(list_distinct(w))"
    stops = stop_hits_sql(dialect, "w", ["the", "a", "of", "and", "is", "to", "in"])
    return f"""
WITH feats AS (
    SELECT doc_id,
           {nw} AS n_words,
           {stops} / cast({nw} AS double) AS stop_ratio,
           length(text) / cast({nw} AS double) AS avg_word_len,
           {nd} / cast({nw} AS double) AS distinct_ratio
    FROM (SELECT doc_id, text, {w} AS w FROM documents)
    WHERE {nw} >= 1
),
scored AS (
    SELECT doc_id, n_words,
           {_W0} + {_W_LOGN} * ln(1 + n_words) + {_W_STOP} * stop_ratio
               + {_W_AWL} * avg_word_len + {_W_DIST} * distinct_ratio AS z
    FROM feats
)
SELECT doc_id, n_words,
       1.0 / (1.0 + exp(-z)) AS score,
       1.0 / (1.0 + exp(-z)) > 0.5 AS keep
FROM scored
"""


@register("quality_classifier_score", oracle=_clf_sql("duckdb"))
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic quality classifier over engineered features (log length,
    stopword ratio, word shape, lexical diversity) with broadcast literal
    weights — the fastText-filter pattern at corpus scale: scoring is a
    single codegen'd projection per document, embarrassingly parallel,
    zero shuffles. Feature arithmetic and the sigmoid are IEEE-identical
    in both engines, so the keep/drop decision is portable."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_clf_sql("spark"))


# ---------------------------------------------------------------------------
# contamination SPAN measurement (longest contiguous contaminated run)

_SPAN_N = 8  # must match llmdata2's benchmark gram size


def _pos_grams_sql(dialect: str) -> str:
    """Positional (non-distinct) 8-grams: (doc_id, pos, gram).

    The Spark gram is the raw ARRAY SLICE, not a concat_ws string: words
    are whitespace-split so the space-joined string and the word array
    are equality-equivalent, and skipping the per-position string build
    (8 copies per position over the whole corpus) measured 6.5 → 5.4 s
    idle at sf1. The DuckDB oracle keeps the string form — only results
    must match, and the run/span logic never looks inside the gram."""
    w = words_sql(dialect)
    if dialect == "spark":
        return f"""
    SELECT doc_id, g.pos AS pos, g.gram AS gram FROM (
        SELECT doc_id,
               explode(transform(sequence(0, size(w) - {_SPAN_N}),
                   i -> named_struct('pos', i, 'gram',
                        slice(w, i + 1, {_SPAN_N})))) AS g
        FROM (SELECT doc_id, {w} AS w FROM documents)
        WHERE size(w) >= {_SPAN_N}
    )"""
    return f"""
    SELECT doc_id, (u).pos AS pos, (u).gram AS gram FROM (
        SELECT doc_id,
               unnest(list_transform(range(0, len(w) - {_SPAN_N} + 1),
                   i -> {{'pos': i, 'gram':
                        array_to_string(w[i + 1 : i + {_SPAN_N}], ' ')}})) AS u
        FROM (SELECT doc_id, {w} AS w FROM documents)
        WHERE len(w) >= {_SPAN_N}
    )"""


def _span_sql(dialect: str) -> str:
    # the Spark bench side matches the positional grams' ARRAY form
    # (see _pos_grams_sql); DuckDB keeps the shared string CTE
    if dialect == "spark":
        w = words_sql("spark")
        bench = f"""
    SELECT DISTINCT explode(transform(sequence(0, size(w) - {_SPAN_N}),
                    i -> slice(w, i + 1, {_SPAN_N}))) AS g
    FROM (SELECT doc_id, {w} AS w FROM documents)
    WHERE cast(doc_id AS int) % 97 = 0 AND size(w) >= {_SPAN_N}"""
    else:
        bench = _bench_grams_cte(dialect)
    return f"""
WITH bench AS ({bench}),
grams AS ({_pos_grams_sql(dialect)}),
hits AS (
    SELECT gr.doc_id, gr.pos FROM grams gr
    WHERE EXISTS (SELECT 1 FROM bench b WHERE b.g = gr.gram)
),
runs AS (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM hits
),
per_run AS (
    SELECT doc_id, grp, count(*) AS run_len FROM runs GROUP BY doc_id, grp
)
SELECT doc_id,
       cast(sum(run_len) AS bigint) AS n_contam_grams,
       cast(max(run_len) AS bigint) AS max_run,
       cast(max(run_len) + {_SPAN_N - 1} AS bigint) AS max_span_words
FROM per_run GROUP BY doc_id
"""


@register("contamination_span", oracle=_span_sql("duckdb"))
def contamination_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by SPAN, not just overlap fraction: the longest
    contiguous run of benchmark-contaminated 8-grams per document (a
    50-gram verbatim quote is a removal, a few scattered hits are noise —
    the span rule published eval-decontamination recipes use). Positional
    grams semi-join the broadcastable benchmark set; runs group via the
    pos − row_number() trick inside a per-document window — one shuffle on
    doc_id, state linear in hits only. The gated scan widening keeps the
    positional-gram explode off the 2-split local scan (sf1 A/B:
    6.9 → 1.9 s, ov1 5.9 → 1.4 s — this retires most of the r8
    'measured floor' adjudication wall, which was scan starvation, not
    engine floor)."""
    maybe_rebalance(
        load_table(spark, sf_dir, "documents")
    ).createOrReplaceTempView("documents")
    return spark.sql(_span_sql("spark"))


# ---------------------------------------------------------------------------
# exact-quota stratified sampling

_QUOTA = 40  # docs kept per stratum


def _strat_sql(dialect: str) -> str:
    cast_s = "AS string" if dialect == "spark" else "AS varchar"
    return f"""
WITH ranked AS (
    SELECT doc_id, lang, source,
           row_number() OVER (PARTITION BY lang
                              ORDER BY md5(cast(doc_id {cast_s}))) AS rk
    FROM documents
)
SELECT doc_id, lang, source, rk FROM ranked WHERE rk <= {_QUOTA}
"""


@register("stratified_sample_exact", oracle=_strat_sql("duckdb"))
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-stratum quotas (here: N docs per language) via a
    hash-ordered rank inside each stratum — deterministic, reproducible
    sampling with hard guarantees, complementing dataset_mixture_sample's
    md5-coin proportional mixing (exact quota vs expected proportion).
    One shuffle on the stratum key; the md5 order makes the pick
    uniform-ish and engine-portable. At extreme per-stratum cardinality
    the rank becomes a per-stratum top-K (TakeOrdered) rather than a full
    sort — same result, bounded memory."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_strat_sql("spark"))


# ---------------------------------------------------------------------------
# fixed-stride overlapping chunk split (RAG / context-window prep)

_CHUNK_W = 8  # words per chunk
_STRIDE = 6  # stride (overlap = _CHUNK_W - _STRIDE)


def _chunks_sql(dialect: str) -> str:
    w = words_sql(dialect)
    if dialect == "spark":
        return f"""
WITH docs AS (SELECT doc_id, {w} AS w FROM documents),
chunks AS (
    SELECT doc_id, size(w) AS n_words,
           explode(transform(sequence(1, size(w), {_STRIDE}),
               s -> named_struct('s', s,
                    'cw', slice(w, s, {_CHUNK_W})))) AS c
    FROM docs WHERE size(w) > 0
)
SELECT doc_id,
       (c.s - 1) DIV {_STRIDE} AS chunk_idx,
       c.s AS start_word,
       size(c.cw) AS n_tokens,
       md5(concat_ws(' ', c.cw)) AS chunk_hash
FROM chunks
"""
    return f"""
WITH docs AS (SELECT doc_id, {w} AS w FROM documents),
chunks AS (
    SELECT doc_id, len(w) AS n_words,
           unnest(list_transform(range(1, len(w) + 1, {_STRIDE}),
               s -> {{'s': s, 'cw': w[s : s + {_CHUNK_W} - 1]}})) AS c
    FROM docs WHERE len(w) > 0
)
SELECT doc_id,
       ((c).s - 1) // {_STRIDE} AS chunk_idx,
       (c).s AS start_word,
       len((c).cw) AS n_tokens,
       md5(array_to_string((c).cw, ' ')) AS chunk_hash
FROM chunks
"""


@register("chunk_overlap_split", oracle=_chunks_sql("duckdb"))
def chunk_overlap_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride overlapping chunking (8-word windows, stride 6 —
    the RAG/context-window prep step): per-document array windowing via
    sequence + slice, exploded to one row per chunk. Work is linear in
    corpus size × overlap factor, embarrassingly parallel, no shuffle at
    all — the chunk table inherits the document partitioning, which is
    exactly what the downstream embed step wants."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_chunks_sql("spark"))


# ---------------------------------------------------------------------------
# int8 embedding quantization (vector storage compression)


def _quant_sql(dialect: str) -> str:
    if dialect == "spark":
        tf, amax, join_ = "transform", "array_max", "concat_ws"
        e = "transform(embedding, x -> cast(x AS double))"
    else:
        tf, amax = "list_transform", "list_max"
        e = "list_transform(embedding, x -> cast(x AS double))"
    q = "cast(floor(x / scale * 127 + 0.5) AS int)"
    body = f"""
WITH v AS (SELECT vec_id, {e} AS e FROM embeddings),
s AS (SELECT vec_id, e, {amax}({tf}(e, x -> abs(x))) AS scale FROM v)
SELECT vec_id, scale,
       {{qvec}} AS qvec,
       {amax}({tf}(e, x -> abs({q} * scale / 127 - x))) AS max_err
FROM s WHERE scale > 0
"""
    if dialect == "spark":
        qvec = f"concat_ws(',', transform(e, x -> cast({q} AS string)))"
    else:
        qvec = f"array_to_string(list_transform(e, x -> {q}), ',')"
    return body.format(qvec=qvec)


# ---------------------------------------------------------------------------
# URL-canonicalization dedup (crawl re-fetch elimination)


def _url_canon_sql(dialect: str) -> str:
    """Messy crawl URL per doc (tracking params, fragments, mixed-case
    scheme/host, trailing slash — synthesized deterministically, same
    shapes in both dialects), canonicalized with regexp column work:
    lowercase scheme+host, strip utm_*/fbclid tracking params, strip
    fragments, drop the trailing slash. Dedup keys on the canonical
    form."""
    cast_s = "AS string" if dialect == "spark" else "AS varchar"
    i = "cast(doc_id AS int)"
    messy = f"""concat(
        CASE WHEN {i} % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END,
        CASE WHEN {i} % 2 = 0 THEN 'WWW.Example.com' ELSE 'www.example.com' END,
        '/a', cast({i} % 50 {cast_s}),
        CASE WHEN {i} % 4 = 0 THEN '/' ELSE '' END,
        CASE WHEN {i} % 5 = 0 THEN '?utm_source=x&utm_campaign=y' ELSE '' END,
        CASE WHEN {i} % 7 = 0 THEN '#section2' ELSE '' END)"""
    g = ", 'g'" if dialect == "duckdb" else ""
    # strip fragment, then tracking params (and a dangling ? if all params
    # were tracking); DuckDB needs the 'g' flag to match Spark's
    # replace-all default (two tracking params in one URL)
    stripped = (
        f"regexp_replace(regexp_replace(regexp_replace("
        f"u, '#.*$', ''{g}), "
        f"'[?&](utm_[a-z]+|fbclid)=[^&#]*', ''{g}), "
        f"'[?]$', ''{g})"  # char class parses identically in Spark and DuckDB
    )
    # lowercase only the scheme+host (the path stays case-sensitive per
    # RFC 3986), then drop one trailing slash
    head = "lower(regexp_extract(u2, '(?i)^(https?://[^/]+)', 1))"
    tail = f"regexp_replace(u2, '(?i)^https?://[^/]+', ''{g})"
    return f"""
WITH urls AS (SELECT doc_id, {messy} AS u FROM documents),
s1 AS (SELECT doc_id, {stripped} AS u2 FROM urls),
s2 AS (
    SELECT doc_id,
           regexp_replace(concat({head}, {tail}), '/$', ''{g}) AS cu
    FROM s1
),
grp AS (
    SELECT doc_id, cu,
           min(doc_id) OVER (PARTITION BY cu) AS canonical_doc_id
    FROM s2
)
SELECT doc_id, cu AS canonical_url,
       canonical_doc_id,
       doc_id <> canonical_doc_id AS is_refetch
FROM grp
"""


@register("url_canonical_dedup", oracle=_url_canon_sql("duckdb"))
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl re-fetch elimination by URL canonicalization: tracking
    parameters, fragments, case-variant scheme/host, and trailing slashes
    all collapse to one canonical URL, and documents dedup against the
    min-doc_id canonical per group (one hash-window on the canonical URL,
    the exact-dedup shape keyed on a derived column). Complements
    url_domain_stats' caps — this removes literal re-crawls rather than
    balancing domains."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_url_canon_sql("spark"))


# ---------------------------------------------------------------------------
# curriculum length-bucketing via broadcast decile thresholds

_DECILES = [round(0.1 * i, 1) for i in range(1, 10)]


def _curriculum_sql(dialect: str) -> str:
    w = words_sql(dialect)
    nw = f"size({w})" if dialect == "spark" else f"len({w})"
    fracs = ", ".join(str(f) for f in _DECILES)
    if dialect == "spark":
        th = f"percentile(n_tokens, array({fracs}))"
        bucket = "cast(size(filter(t, x -> x < n_tokens)) AS int)"
    else:
        th = f"quantile_cont(n_tokens, [{fracs}])"
        bucket = "cast(len(list_filter(t, x -> x < n_tokens)) AS int)"
    return f"""
WITH toks AS (SELECT doc_id, {nw} AS n_tokens FROM documents),
th AS (SELECT {th} AS t FROM toks)
SELECT doc_id, n_tokens, {bucket} AS bucket
FROM toks CROSS JOIN th
"""


@register("length_curriculum_buckets", oracle=_curriculum_sql("duckdb"))
def length_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/length bucketing: every document assigned to its token-
    length decile. NOT a global ntile — that is a single-partition sort of
    the whole corpus; instead the nine exact interpolated decile
    thresholds (Spark percentile == DuckDB quantile_cont) reduce to ONE
    row, broadcast back, and each doc buckets with a strictly-less count
    against the threshold array. At extreme scale the threshold agg swaps
    to approx_percentile (t-digest) with the identical downstream shape."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_curriculum_sql("spark"))


# ---------------------------------------------------------------------------
# token-budget mixture allocation (data-mixing planning step)

_TOKEN_BUDGET = 30_000


def _budget_sql(dialect: str) -> str:
    w = words_sql(dialect)
    nw = f"size({w})" if dialect == "spark" else f"len({w})"
    return f"""
WITH toks AS (SELECT doc_id, source, {nw} AS n_tokens FROM documents),
per_src AS (
    SELECT source, count(*) AS n_docs,
           cast(sum(n_tokens) AS bigint) AS src_tokens
    FROM toks GROUP BY source
),
wts AS (
    SELECT source, n_docs, src_tokens,
           cast(1.0 + (ascii(right(source, 1)) % 5) / 2.0 AS double) AS weight
    FROM per_src
),
tot AS (SELECT cast(sum(weight) AS double) AS wsum FROM wts)
SELECT source, n_docs, src_tokens,
       cast(weight / wsum AS double) AS target_frac,
       cast(least(1.0, (weight / wsum) * {_TOKEN_BUDGET} / src_tokens)
           AS double) AS sample_rate,
       cast(least(1.0, (weight / wsum) * {_TOKEN_BUDGET} / src_tokens)
           * src_tokens AS double) AS expected_tokens
FROM wts CROSS JOIN tot
"""


@register("token_budget_allocator", oracle=_budget_sql("duckdb"))
def token_budget_allocator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture-planning step BEFORE sampling: given per-source token
    inventories and mixture weights (literals here; a config table in
    production), derive each source's target fraction, achievable
    per-source sampling rate (capped at 1 — a source cannot oversample),
    and expected token yield against the global budget. One aggregation
    per source plus a 1-row broadcast — the arithmetic
    dataset_mixture_sample then executes per document."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_budget_sql("spark"))


# ---------------------------------------------------------------------------
# boilerplate removal WITH reconstruction (C4-style line dedup, rebuilt)

_PD_CHUNK = 10  # words per pseudo-paragraph (matches llmdata2._CHUNK)


def _line_dedup_sql(dialect: str) -> str:
    """paragraph_dedup only counts corpus-duplicated paragraphs; this
    REMOVES them (keep paragraphs unique to one document) and rebuilds
    each document's text in original order — the full C4 boilerplate
    removal, not just the diagnosis."""
    w = words_sql(dialect)
    if dialect == "spark":
        paras = (
            f"explode(transform(sequence(1, cast(ceil(size(w) / {_PD_CHUNK}.0) AS int)), "
            f"i -> named_struct('pos', i, 'para', "
            f"concat_ws(' ', slice(w, (i - 1) * {_PD_CHUNK} + 1, {_PD_CHUNK})))))"
        )
        u = "u."
        nonempty = "size(w) > 0"
        rebuilt = (
            "md5(array_join(transform(array_sort(collect_list("
            "CASE WHEN keep THEN named_struct('pos', pos, 'para', para) END)), "
            "x -> x.para), ' '))"
        )
    else:
        paras = (
            f"unnest(list_transform(range(1, cast(ceil(len(w) / {_PD_CHUNK}.0) AS int) + 1), "
            f"i -> {{'pos': i, 'para': "
            f"array_to_string(w[(i - 1) * {_PD_CHUNK} + 1 : (i - 1) * {_PD_CHUNK} + {_PD_CHUNK}], ' ')}}))"
        )
        u = "(u)."
        nonempty = "len(w) > 0"
        rebuilt = (
            "md5(coalesce(string_agg(CASE WHEN keep THEN para END, ' ' ORDER BY pos), ''))"
        )
    return f"""
WITH wd AS (SELECT doc_id, {w} AS w FROM documents),
paras AS (
    SELECT doc_id, {u}pos AS pos, {u}para AS para
    FROM (SELECT doc_id, {paras} AS u FROM wd WHERE {nonempty})
),
corpus AS (
    SELECT md5(para) AS ph, count(DISTINCT doc_id) AS n_docs
    FROM paras GROUP BY md5(para)
),
flagged AS (
    SELECT p.doc_id, p.pos, p.para, c.n_docs = 1 AS keep
    FROM paras p JOIN corpus c ON md5(p.para) = c.ph
)
SELECT doc_id,
       cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS bigint) AS n_kept,
       cast(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS bigint) AS n_dropped,
       {rebuilt} AS rebuilt_hash
FROM flagged GROUP BY doc_id
"""


@register("line_dedup_rebuild", oracle=_line_dedup_sql("duckdb"))
def line_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate REMOVAL with reconstruction: paragraphs
    appearing in more than one document are dropped, and each document's
    surviving text is rebuilt in original order (hash-verified against
    the oracle's ordered string_agg). One shuffle on the paragraph hash
    for the corpus counts, one on doc_id for the rebuild; the rebuild's
    collect_list is per-document (bounded by doc length), never global."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_line_dedup_sql("spark"))


# ---------------------------------------------------------------------------
# ViT-style patch grid plan (image preprocessing plumbing)

_PATCH = 32  # patch side (pixels)


def _patch_sql(dialect: str) -> str:
    """Typed image metadata (width/height synthesized deterministically —
    the corpus has no real images, exactly as media_frame_plan does for
    video) → exploded per-patch coordinate plan."""
    if dialect == "spark":
        grid = (
            f"explode(flatten(transform(sequence(0, width DIV {_PATCH} - 1), "
            f"i -> transform(sequence(0, height DIV {_PATCH} - 1), "
            f"j -> named_struct('px', i * {_PATCH}, 'py', j * {_PATCH})))))"
        )
        intdiv = "DIV"
    else:
        grid = (
            f"unnest(flatten(list_transform(range(0, width // {_PATCH}), "
            f"i -> list_transform(range(0, height // {_PATCH}), "
            f"j -> {{'px': i * {_PATCH}, 'py': j * {_PATCH}}}))))"
        )
        intdiv = "//"
    u = "u." if dialect == "spark" else "(u)."
    return f"""
WITH media AS (
    SELECT doc_id,
           224 + (doc_id % 5) * {_PATCH} AS width,
           224 + (doc_id % 3) * {_PATCH} AS height
    FROM documents
),
p AS (SELECT doc_id, width, height, {grid} AS u FROM media)
SELECT doc_id, width, height, {u}px AS px, {u}py AS py,
       ({u}px {intdiv} {_PATCH}) * (height {intdiv} {_PATCH})
           + ({u}py {intdiv} {_PATCH}) AS patch_id
FROM p
"""


@register("vit_patch_plan", oracle=_patch_sql("duckdb"))
def vit_patch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-side multimodal plumbing: typed (width, height) metadata →
    the exploded per-patch coordinate plan a ViT-style preprocessor
    consumes (patch_id, pixel offsets). The actual pixel crop stays with
    the decode stubs (no codecs in this runtime); this proves the plan
    arithmetic, the nested-sequence explode shape, and its determinism in
    both engines. Work is linear in patches, no shuffle — the patch table
    inherits the image partitioning, which is what the embed step wants."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_patch_sql("spark"))


# ---------------------------------------------------------------------------
# the whole pretraining-data flow as ONE composed DAG

_PIPE_BIN = 256  # packing bin size (tokens)


def _pipeline_dedup_sql(dialect: str) -> str:
    """Stages 1-2: quality filter + exact dedup (the survivors table the
    later stages consume TWICE — gram explosion and the anti join)."""
    w = words_sql(dialect)
    nw = f"size({w})" if dialect == "spark" else f"len({w})"
    nd = (
        f"size(array_distinct({w}))"
        if dialect == "spark"
        else f"len(list_distinct({w}))"
    )
    stops = stop_hits_sql(
        dialect, w, ["the", "a", "of", "and", "is", "to", "in"]
    )
    score = f"""1.0 / (1.0 + exp(-({_W0} + {_W_LOGN} * ln(1 + {nw})
               + {_W_STOP} * ({stops} / cast({nw} AS double))
               + {_W_AWL} * (length(text) / cast({nw} AS double))
               + {_W_DIST} * ({nd} / cast({nw} AS double)))))"""
    if dialect == "spark":
        # doc_id is unique in documents, so the scored-join form below
        # is a filter in disguise — fusing it removes one full scan of
        # documents plus the join (r12; the oracle keeps the join form,
        # results identical by key uniqueness)
        kept = f"""kept AS (
    SELECT doc_id, text, lang, source FROM documents
    WHERE {nw} >= 1 AND ({score}) > 0.5
)"""
    else:
        kept = f"""scored AS (
    SELECT doc_id, {score} AS score
    FROM documents WHERE {nw} >= 1
),
kept AS (
    SELECT d.doc_id, d.text, d.lang, d.source
    FROM documents d JOIN scored s ON d.doc_id = s.doc_id
    WHERE s.score > 0.5
)"""
    return f"""
WITH {kept},
canon AS (
    SELECT doc_id, text, lang, source,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept
)
SELECT doc_id, text, lang, source FROM canon WHERE rn = 1
"""


def _pipeline_rest_sql(dialect: str, dedup_ref: str, lead_cte: str = "") -> str:
    """Stages 3-5 over the dedup survivors: contamination screen, exact
    per-language quotas, per-source sequence packing."""
    w = words_sql(dialect)
    nw = f"size({w})" if dialect == "spark" else f"len({w})"
    from ..functions.text import shingles_sql

    g8 = shingles_sql(dialect, w, _SPAN_N)
    gram_sel = f"explode({g8})" if dialect == "spark" else f"unnest({g8})"
    cast_s = "AS string" if dialect == "spark" else "AS varchar"
    intdiv = "DIV" if dialect == "spark" else "//"
    return f"""
WITH {lead_cte}bench AS ({_bench_grams_cte(dialect)}),
doc_grams AS (SELECT doc_id, {gram_sel} AS g FROM {dedup_ref}),
contam AS (
    SELECT dg.doc_id,
           count(*) AS n_grams,
           sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
    FROM doc_grams dg LEFT JOIN bench b ON dg.g = b.g
    GROUP BY dg.doc_id
),
dirty AS (SELECT doc_id FROM contam WHERE n_hits * 10 > n_grams),
clean AS (
    SELECT d.* FROM {dedup_ref} d
    WHERE NOT EXISTS (SELECT 1 FROM dirty x WHERE x.doc_id = d.doc_id)
),
quota AS (
    SELECT doc_id, text, lang, source,
           row_number() OVER (PARTITION BY lang
                              ORDER BY md5(cast(doc_id {cast_s}))) AS rk
    FROM clean
),
sampled AS (SELECT doc_id, text, lang, source FROM quota WHERE rk <= {_QUOTA}),
toks AS (SELECT doc_id, lang, source, {nw} AS n_tokens FROM sampled),
packed AS (
    SELECT doc_id, lang, source, n_tokens,
           cast(coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS bigint) AS start_offset
    FROM toks
)
SELECT doc_id, lang, source, cast(n_tokens AS bigint) AS n_tokens,
       start_offset,
       start_offset {intdiv} {_PIPE_BIN} AS start_bin,
       CASE WHEN n_tokens = 0 THEN start_offset {intdiv} {_PIPE_BIN}
            ELSE (start_offset + n_tokens - 1) {intdiv} {_PIPE_BIN}
       END AS end_bin
FROM packed
"""


def _pipeline_oracle() -> str:
    return _pipeline_rest_sql(
        "duckdb", "dedup", lead_cte=f"dedup AS ({_pipeline_dedup_sql('duckdb')}),\n"
    )


@register("training_data_pipeline", oracle=_pipeline_oracle)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pretraining-data flow as one composed Catalyst DAG —
    quality-classifier filter, exact dedup (hash-window canonical),
    benchmark contamination screen (8-gram broadcast join + NOT EXISTS
    anti join), exact per-language quotas, and per-source sequence
    packing — the training-data twin of elt_end_to_end. Catalyst prunes
    columns/pushes filters across stage boundaries, and the stages shuffle
    on different keys exactly once each (content hash → doc_id → lang →
    source). The dedup survivors table is consumed TWICE (gram explosion
    and the keep side of the anti join); CTEs inline in Spark, so it is
    materialized once via persist — without it the quality+dedup stages
    run twice over the corpus. This is the shape a 100 TB curation job
    actually runs as."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    # repartition before persisting: the single-row-group parquet scan
    # yields one split, and the persisted survivors inherit partitioning —
    # without the rebalance the whole gram-explosion stage runs on one
    # task (at cluster scale, file layout provides this)
    # lazy persist (eager localCheckpoint A/B-measured slower here,
    # AB_r12_batch2 — racing recomputes overlap; see dedup_minhash_lsh)
    dedup = materialize(maybe_rebalance(spark.sql(_pipeline_dedup_sql("spark"))))
    return spark.sql(_pipeline_rest_sql("spark", dedup))


# ---------------------------------------------------------------------------
# LSH index quality: candidate recall/precision vs exact Jaccard truth

# The exact ground-truth side is quadratic in audit-corpus size by design,
# so the audit runs on a deterministic stratified sample: keep base ids
# with (id % DENOM) == 0, normalizing planted-twin ids (id % PLANT_SENTINEL,
# the plant offset) so every twin stays in the same stratum as its source
# and planted pairs survive sampling intact at any sentinel (ADVICE r11 #4). At sf1 this cuts the all-shared-shingle join
# ~DENOM² (the r5 sweep's only red row: DuckDB spilled 70 GB on the full
# corpus); at 100 TB the same stratum bound is what makes the QA runnable.
_RECALL_SAMPLE_DENOM = 5

# Sample-relative stop-gram cap: the full-corpus index drops shingles with
# df > _MINHASH_DF_ABS, so on a 1/DENOM stratified sample the equivalent
# bound is ceil(cap / DENOM) — a shingle at the full-corpus threshold has
# ~cap/DENOM occurrences in the sample. Applying the absolute 256 to the
# sample would be DENOM× laxer than the shipped filter (r9 advice).
def _recall_df_cap() -> int:
    from .llmdata import _MINHASH_DF_ABS

    return -(-_MINHASH_DF_ABS // _RECALL_SAMPLE_DENOM)


def _lsh_recall_oracle() -> str:
    """Composed lazily from llmdata's shared CTE templates (same corpus
    augmentation, shingles, MinHash bands) so the two measurement sides
    are definitionally the same data the production entries use."""
    from .llmdata import _DOCS_AUG_DUCK, _SH_DUCK, _W_DUCK, PLANT_SENTINEL

    return f"""
WITH {_DOCS_AUG_DUCK.lstrip()},
audit AS (SELECT doc_id, text FROM docs WHERE (doc_id % {PLANT_SENTINEL}) % {_RECALL_SAMPLE_DENOM} = 0),
wd AS (SELECT doc_id, {_W_DUCK} AS w FROM audit),
sh0 AS (SELECT doc_id, unnest({_SH_DUCK}) AS shingle FROM wd),
hot AS (
    SELECT shingle FROM sh0 GROUP BY shingle
    HAVING count(*) > {_recall_df_cap()}
),
sh AS (
    SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)
),
hd AS (
    SELECT doc_id,
           cast(('0x' || substr(md5(shingle), 1, 15)) AS bigint) AS h1,
           cast(('0x' || substr(md5(shingle), 16, 13)) AS bigint) AS h2
    FROM sh
),
mh AS (
    SELECT doc_id, seed, min(h1 + seed * h2) AS mh
    FROM hd CROSS JOIN range(0, 12) t(seed)
    GROUP BY doc_id, seed
),
bands AS (
    SELECT doc_id, seed // 3 AS band,
           md5(string_agg(cast(mh AS varchar), '|' ORDER BY seed)) AS band_sig
    FROM mh GROUP BY doc_id, seed // 3
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                AND a.doc_id < b.doc_id
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
exact AS (
    SELECT doc_a, doc_b
    FROM common
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE c / (ca.n + cb.n - c) >= 0.5
)
SELECT (SELECT count(*) FROM exact) AS n_exact,
       (SELECT count(*) FROM cand) AS n_cand,
       (SELECT count(*) FROM exact e JOIN cand c
            ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b) AS n_hits,
       (SELECT count(*) FROM exact e JOIN cand c
            ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
           / cast((SELECT count(*) FROM exact) AS double) AS recall,
       (SELECT count(*) FROM exact e JOIN cand c
            ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
           / cast((SELECT count(*) FROM cand) AS double) AS precision
"""


@register("dedup_lsh_recall", oracle=_lsh_recall_oracle)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index QA for the MinHash-LSH dedup path: recall (what fraction of
    true Jaccard-≥0.5 pairs become band-bucket candidates) and precision
    (what fraction of candidates are true pairs) against the exact
    shingle-join ground truth on the same augmented corpus. This is the
    measurement a production pipeline runs on a sample before trusting the
    index at full scale — the exact side is the expensive all-shared-
    shingle join, which is why it runs on a deterministic stratified sample (base-id stratum, twin ids normalized so planted pairs stay whole - see _RECALL_SAMPLE_DENOM). Counts
    reduce to one row; the three scalars broadcast-combine.

    Audits the construction dedup_minhash_lsh SHIPS: both the band
    index and the exact ground truth read the stop-gram-filtered
    shingle table (the round-9-restart mega-bucket fix), so recall
    answers "does the banded index find what the verify stage would
    accept" under the shipped filtered-Jaccard semantics. The cap is
    sample-relative — ceil(256 / DENOM) on the 1/DENOM stratum, the
    expected sample count of a shingle at the full-corpus threshold —
    so the audited filter matches the shipped df>256 full-corpus filter
    in expectation (r9 advice: the absolute 256 applied to the sample
    was DENOM× laxer). A no-op on the gate corpora (no shingle reaches
    the cap there)."""
    from ..operators.dedup import (
        drop_hot_shingles,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_bands,
        shingle_rows,
    )
    from .llmdata import _docs_aug_spark, PLANT_SENTINEL

    audit = _docs_aug_spark(spark, sf_dir).filter(
        (F.col("doc_id") % PLANT_SENTINEL) % _RECALL_SAMPLE_DENOM == 0
    )
    sh = spark.table(materialize(
        drop_hot_shingles(shingle_rows(audit), df_cap_abs=_recall_df_cap())
    ))
    exact = jaccard_pairs(sh, 0.5).select("doc_a", "doc_b")
    cand = lsh_candidate_pairs(minhash_bands(sh, num_hashes=12, band_size=3))
    hits = exact.join(cand, ["doc_a", "doc_b"])
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_exact.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_exact",
            "n_cand",
            "n_hits",
            (F.col("n_hits") / F.col("n_exact").cast("double")).alias("recall"),
            (F.col("n_hits") / F.col("n_cand").cast("double")).alias("precision"),
        )
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization (vector storage compression)


@register("embedding_quantize_int8", oracle=_quant_sql("duckdb"))
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization with a per-vector max-abs scale — the
    4x storage/bandwidth compression step of a large vector index, plus
    the reconstruction-error bound per vector. Pure per-row array
    arithmetic (one codegen projection, no shuffle); rounding uses
    floor(x + 0.5) because SQL round() tie-breaks differently across
    engines. qvec is emitted as a CSV string: both engines print int
    arrays differently, the string form hash-compares cleanly."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(_quant_sql("spark"))
