"""Training-data pipeline operators, batch 5: containment-similarity
dedup (subset duplication), exact-duplicate cluster profiling, audio
chunk planning (the audio leg of the multimodal triple), sequence-packing
efficiency QA, Deequ-style column profiling and data-quality expectation
checks, and corpus drift measurement between ingest halves.

Same discipline as plans/llmdata.py..llmdata4.py: dual-dialect SQL
templates (Spark = JVM whole-stage codegen, DuckDB = the oracle), inputs
are the driver's documents / orders / lineitem tables, and every
computation is explode → hash-partitioned aggregation, a bounded window,
or pure per-row arithmetic. The only pairwise work (containment pairs)
is bounded by a document-frequency cap on the join key — the standard
stop-gram filter that keeps inverted-index joins from exploding on
boilerplate shingles.

This module must not import other plan modules: registry insertion order
is the external correctness gate's sampling order, and pulling in an
already-verified module here would rotate unverified entries out of the
first-50 window (tests/test_registry_order.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.text import shingles_sql, words_sql
from ..sources.tables import load_table, materialize, maybe_rebalance
from .registry import register


def _intdiv(dialect: str, a: str, b: str) -> str:
    """Integer division, exact and portable on non-negative operands
    (Spark DIV truncates toward zero, DuckDB // floors — identical only
    when both operands are >= 0, which every use below guarantees)."""
    return f"(({a}) DIV ({b}))" if dialect == "spark" else f"(({a}) // ({b}))"


# ---------------------------------------------------------------------------
# containment-similarity pairs (subset duplication)

_CONTAIN_N = 5  # shingle width
_CONTAIN_PREFIX_WORDS = 12
_CONTAIN_THRESHOLD = 0.8
_CONTAIN_DF_PCT = 20  # keep shingles with df <= n_docs / 20 (5%)
# Absolute stop-gram bound in addition to the relative cap (round 11,
# same defect class as dedup_ngram_jaccard's decade-step quadratic: the
# n/20 ceiling grows with the corpus, so near-cap shingles contribute
# df² join rows — see plans/llmdata.py _JACCARD_DF_ABS). Measured no-op
# at gate scales (max 3-gram df at sf0.1 is 29; 5-grams are rarer).
_CONTAIN_DF_ABS = 256


def _contain_docs_cte(dialect: str) -> str:
    """Corpus + planted 12-word-prefix twins (id + 2·PLANT_SENTINEL,
    every 40th doc) whose shingles are all contained in their source."""
    from .llmdata import PLANT_SENTINEL

    w = words_sql(dialect)
    if dialect == "spark":
        prefix = f"array_join(slice({w}, 1, {_CONTAIN_PREFIX_WORDS}), ' ')"
    else:
        prefix = f"array_to_string(list_slice({w}, 1, {_CONTAIN_PREFIX_WORDS}), ' ')"
    return f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {2 * PLANT_SENTINEL} AS doc_id, {prefix} AS text
    FROM documents WHERE doc_id % 40 = 0
"""


def _containment_sql(dialect: str, sh_src: str | None = None) -> str:
    """Containment C = |A∩B| / min(|A|,|B|) over stop-gram-filtered
    distinct shingle sets. Jaccard misses a short document embedded in a
    long one (union dominates); containment is the detector for quote
    farms / boilerplate wrappers / prefix crawls. sh_src lets the Spark
    side substitute a persisted shingle table (the CTE is referenced by
    the df filter, both pair sides, and the size table — inlining would
    shingle the corpus four times)."""
    grams = shingles_sql(dialect, words_sql(dialect), _CONTAIN_N)
    ex = "explode" if dialect == "spark" else "unnest"
    sh_body = (
        f"SELECT doc_id, g FROM {sh_src}"
        if sh_src
        else f"SELECT doc_id, {ex}({grams}) AS g FROM docs"
    )
    return f"""
WITH docs AS ({_contain_docs_cte(dialect)}),
sh AS ({sh_body}),
df AS (SELECT g, count(*) AS n_docs FROM sh GROUP BY g),
corpus AS (SELECT count(*) AS n FROM docs),
keep AS (
    SELECT g FROM df CROSS JOIN corpus
    WHERE n_docs * {_CONTAIN_DF_PCT} <= n AND n_docs <= {_CONTAIN_DF_ABS}
),
shf AS (SELECT sh.doc_id, sh.g FROM sh JOIN keep ON sh.g = keep.g),
sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, cast(n_common AS bigint) AS n_common,
       cast(sa.n AS bigint) AS n_a, cast(sb.n AS bigint) AS n_b,
       n_common / cast(least(sa.n, sb.n) AS double) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / cast(least(sa.n, sb.n) AS double) >= {_CONTAIN_THRESHOLD}
"""


@register("minhash_containment", oracle=_containment_sql("duckdb"))
def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-similarity pairs: the subset-duplication detector
    Jaccard dedup misses (a tweet quoted inside an article, a prefix
    crawl of a page). Inverted-index equi-join on the shingle, with a
    document-frequency cap on the key (df <= 5% of corpus) so no shingle
    bucket can explode into O(corpus²) pairs — the same stop-gram filter
    web-scale containment systems use; at 100 TB the df table is the
    only corpus-wide aggregate and the pair work stays bounded by the
    cap. At production scale the exact intersection count is estimated
    from the same MinHash signatures the LSH entry computes (containment
    = jaccard·(|A|+|B|)/((1+jaccard)·min(|A|,|B|))).

    Perf: repartition ahead of the 5-gram explode (single-row-group
    local scan = one task; the explode dominates) and persist the
    shingle table once — the sh CTE is referenced four times and SQL
    inlining would shingle the corpus four times (9.8 s → ~2 s at
    sf0.1)."""
    docs = maybe_rebalance(load_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("documents")
    grams_expr = shingles_sql("spark", words_sql("spark"), _CONTAIN_N)
    # eager localCheckpoint, not persist: the four sh consumers run as
    # CONCURRENT stages of one job and each raced the not-yet-built
    # cache into a full re-shingle (r12 stage profile: 23.8 + 10.3
    # executor-seconds duplicated); checkpointed blocks are referenced
    # structurally, so the explode runs once. The pair join stays on the
    # shingle strings: see similarity_histogram's comment for why a
    # dense-integer re-key does not pay.
    sh = materialize(spark.sql(
        f"WITH docs AS ({_contain_docs_cte('spark')}) "
        f"SELECT doc_id, explode({grams_expr}) AS g FROM docs"
    ), eager=True)
    return spark.sql(_containment_sql("spark", sh_src=sh))


# ---------------------------------------------------------------------------
# exact-duplicate cluster profile

_CLUSTER_ORACLE_TEMPLATE = """
WITH docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 300000, text FROM documents WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 600000, text FROM documents WHERE doc_id % 60 = 0
),
clusters AS (
    SELECT md5(text) AS h, count(*) AS cluster_size FROM docs GROUP BY md5(text)
)
SELECT cast(cluster_size AS bigint) AS cluster_size,
       cast(count(*) AS bigint) AS n_clusters,
       cast(cluster_size * count(*) AS bigint) AS n_docs,
       cast((cluster_size - 1) * count(*) AS bigint) AS n_removable
FROM clusters
GROUP BY cluster_size
"""


@register("exact_dup_clusters", oracle=_CLUSTER_ORACLE_TEMPLATE)
def exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile of the corpus: histogram of exact-duplicate
    cluster sizes (planted copies at ids +300000/+600000 give size-2 and
    size-3 clusters). The per-size removable count is the number the
    dedup stage will delete — the first diagnostic run on any new crawl
    dump, and the denominator for dedup-stage progress reporting. Two
    hash aggregations with map-side partial agg; output is one row per
    distinct cluster size."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_CLUSTER_ORACLE_TEMPLATE)


# ---------------------------------------------------------------------------
# audio chunk planning (multimodal: the audio leg)

_AUDIO_CHUNK_SECONDS = 2
_AUDIO_STRIDE_SECONDS = 1
_AUDIO_MAX_CHUNKS = 6


def _audio_sql(dialect: str) -> str:
    """Typed audio metadata synthesized deterministically from the
    documents table (sample_rate cycles 8/16/24 kHz, n_samples proxied
    from n_chars), then a fixed-duration overlapping chunk plan: 2 s
    windows at 1 s stride, capped at 6 chunks per clip. All integer
    arithmetic on non-negative operands."""
    ex = (
        "explode(sequence(0, n_chunks - 1))"
        if dialect == "spark"
        else "unnest(generate_series(0, n_chunks - 1))"
    )
    nchunks = _intdiv(dialect, "n_samples - chunk_len", "stride")
    return f"""
WITH meta AS (
    SELECT doc_id,
           cast(8000 * (1 + doc_id % 3) AS bigint) AS sample_rate,
           cast(n_chars * 100 AS bigint) AS n_samples
    FROM documents
),
plan AS (
    SELECT doc_id, sample_rate, n_samples,
           sample_rate * {_AUDIO_CHUNK_SECONDS} AS chunk_len,
           sample_rate * {_AUDIO_STRIDE_SECONDS} AS stride
    FROM meta
),
counted AS (
    SELECT doc_id, sample_rate, n_samples, chunk_len, stride,
           CASE WHEN n_samples <= chunk_len THEN 1
                ELSE least(1 + {nchunks}, {_AUDIO_MAX_CHUNKS}) END AS n_chunks
    FROM plan
)
SELECT doc_id, sample_rate, n_samples,
       cast(n_chunks AS bigint) AS n_chunks,
       {ex} AS chunk_idx
FROM counted
"""


def _audio_final_sql(dialect: str) -> str:
    return f"""
WITH chunks AS ({_audio_sql(dialect)})
SELECT doc_id, sample_rate, n_samples, n_chunks,
       cast(chunk_idx AS bigint) AS chunk_idx,
       cast(chunk_idx * sample_rate * {_AUDIO_STRIDE_SECONDS} AS bigint)
           AS start_sample,
       cast(least(chunk_idx * sample_rate * {_AUDIO_STRIDE_SECONDS}
                  + sample_rate * {_AUDIO_CHUNK_SECONDS}, n_samples) AS bigint)
           AS end_sample
FROM chunks
"""


@register("audio_chunk_plan", oracle=_audio_final_sql("duckdb"))
def audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-side multimodal plumbing, completing the image (vit_patch_plan)
    / video (media_frame_plan) / audio triple: typed sample-rate metadata
    → overlapping fixed-duration chunk boundaries, exploded one row per
    chunk with exact sample offsets. The decode/feature-extract step on
    the resulting (start_sample, end_sample) spans is the same stubbed
    mapInPandas as the other media ops (no codecs in this runtime); the
    Spark-side plan — schema, explode shape, boundary arithmetic — is
    real and oracle-verified. Pure per-row work, zero shuffles."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_audio_final_sql("spark"))


# ---------------------------------------------------------------------------
# sequence-packing efficiency QA

_PACK_BIN = 256  # must match sequence_packing's bin for comparable stats


def _packing_eff_sql(dialect: str) -> str:
    w = words_sql(dialect)
    nw = f"size({w})" if dialect == "spark" else f"len({w})"
    nbins = _intdiv(dialect, f"total_tokens + {_PACK_BIN - 1}", str(_PACK_BIN))
    sbin = _intdiv(dialect, "start_offset", str(_PACK_BIN))
    ebin = _intdiv(dialect, "start_offset + n_tokens - 1", str(_PACK_BIN))
    return f"""
WITH toks AS (
    SELECT doc_id, source, cast({nw} AS bigint) AS n_tokens FROM documents
),
packed AS (
    SELECT doc_id, source, n_tokens,
           cast(coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS bigint) AS start_offset
    FROM toks
),
per_source AS (
    SELECT source,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_tokens) AS bigint) AS total_tokens,
           cast(sum(CASE WHEN n_tokens > 0
                         AND {sbin} <> {ebin}
                    THEN 1 ELSE 0 END) AS bigint) AS n_boundary_docs
    FROM packed
    GROUP BY source
)
SELECT source, n_docs, total_tokens,
       cast({nbins} AS bigint) AS n_bins,
       total_tokens / cast({nbins} * {_PACK_BIN} AS double) AS fill_frac,
       n_boundary_docs,
       n_boundary_docs / cast(n_docs AS double) AS boundary_frac
FROM per_source
"""


@register("packing_efficiency", oracle=_packing_eff_sql("duckdb"))
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA over the sequence-packing layout (same concat-and-chunk layout
    as the sequence_packing entry, {bin}-token bins): per source, the bin
    count, fill fraction (wasted pad = 1 - fill), and how many documents
    straddle a bin boundary (each straddle is a truncated attention span
    — the metric packing strategies trade off against padding). One
    window prefix-sum per source partition plus a groupBy: the same
    shuffle the packing itself needs, nothing extra."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_packing_eff_sql("spark"))


# ---------------------------------------------------------------------------
# Deequ-style column profiling

_PROFILE_COLS: list[tuple[str, str]] = [
    # (column, min/max cast recipe key)
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
]


def _profile_cast(dialect: str, kind: str, expr: str) -> str:
    s = "varchar" if dialect == "duckdb" else "string"
    if kind == "int":
        return f"cast({expr} AS {s})"
    if kind == "money":
        # doubles → decimal(18,2) → string: both engines round-to-nearest
        # and print two fixed decimals, so '1234.50' matches byte-for-byte
        return f"cast(cast({expr} AS decimal(18, 2)) AS {s})"
    if kind == "date":
        return f"cast(cast({expr} AS date) AS {s})"
    return expr


def _profile_sql(dialect: str) -> str:
    aggs = ["cast(count(*) AS bigint) AS n_rows"]
    rows = []
    for col, kind in _PROFILE_COLS:
        aggs.append(f"cast(count({col}) AS bigint) AS nn_{col}")
        aggs.append(f"cast(count(DISTINCT {col}) AS bigint) AS nd_{col}")
        aggs.append(_profile_cast(dialect, kind, f"min({col})") + f" AS mn_{col}")
        aggs.append(_profile_cast(dialect, kind, f"max({col})") + f" AS mx_{col}")
        rows.append(
            f"SELECT '{col}' AS column_name, n_rows,"
            f" n_rows - nn_{col} AS n_null, nd_{col} AS n_distinct,"
            f" mn_{col} AS min_value, mx_{col} AS max_value FROM s"
        )
    body = "\nUNION ALL\n".join(rows)
    return f"""
WITH s AS (SELECT {', '.join(aggs)} FROM orders)
{body}
"""


@register("dq_profile", oracle=_profile_sql("duckdb"))
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the Deequ/great-expectations 'analyze' pass) over
    the orders table: per column, null count, exact distinct count, and
    min/max rendered through portable casts. Everything computes in ONE
    scan — a single multi-aggregate over the table, unpivoted from the
    1-row result; at 100 TB this is one pass with partial aggregation,
    not six. (Exact distinct forces the one shuffle; the scale knob is
    swapping count(DISTINCT) for approx_count_distinct with the same
    output shape.)"""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_profile_sql("spark"))


# ---------------------------------------------------------------------------
# data-quality expectation checks


def _expectations_sql(dialect: str) -> str:
    return """
WITH o AS (
    SELECT cast(count(*) AS bigint) AS n,
           cast(count(*) - count(DISTINCT o_orderkey) AS bigint) AS pk_dups,
           cast(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bigint)
               AS nonpos_price,
           cast(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                    THEN 1 ELSE 0 END) AS bigint) AS bad_status,
           cast(sum(CASE WHEN o_orderdate >= timestamp '2001-01-01 00:00:00'
                    THEN 1 ELSE 0 END) AS bigint) AS late_dates
    FROM orders
),
l AS (
    SELECT cast(count(*) AS bigint) AS n,
           cast(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                    THEN 1 ELSE 0 END) AS bigint) AS bad_qty
    FROM lineitem
),
ri_cust AS (
    SELECT cast(count(*) AS bigint) AS viol
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey IS NULL
),
ri_ord AS (
    SELECT cast(count(*) AS bigint) AS viol
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderkey IS NULL
)
SELECT 'orders_pk_unique' AS check_name, n AS n_checked,
       pk_dups AS n_violations, pk_dups = 0 AS passed FROM o
UNION ALL
SELECT 'orders_totalprice_positive', n, nonpos_price, nonpos_price = 0 FROM o
UNION ALL
SELECT 'orders_status_in_domain', n, bad_status, bad_status = 0 FROM o
UNION ALL
SELECT 'orders_date_before_2001', n, late_dates, late_dates = 0 FROM o
UNION ALL
SELECT 'orders_custkey_references_customer', o.n, ri_cust.viol,
       ri_cust.viol = 0 FROM o CROSS JOIN ri_cust
UNION ALL
SELECT 'lineitem_quantity_in_range', n, bad_qty, bad_qty = 0 FROM l
UNION ALL
SELECT 'lineitem_orderkey_references_orders', l.n, ri_ord.viol,
       ri_ord.viol = 0 FROM l CROSS JOIN ri_ord
"""


@register("dq_expectations", oracle=_expectations_sql("duckdb"))
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (Deequ 'verify' pass): PK
    uniqueness, value ranges, domain membership, a date-window check that
    genuinely FAILS on this data (orders extend past 2001 — proving the
    violation counter counts), and two referential-integrity checks as
    left joins. Each table is scanned once for all its row-local checks;
    the RI checks are the only joins (dimension side broadcastable).
    Output: one row per check with checked/violation counts — the shape a
    pipeline gate consumes."""
    for t in ("orders", "lineitem", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_expectations_sql("spark"))


# ---------------------------------------------------------------------------
# corpus drift between ingest halves


def _drift_sql(dialect: str) -> str:
    w = words_sql(dialect)
    ex = "explode" if dialect == "spark" else "unnest"
    ln = "ln"
    return f"""
WITH bounds AS (SELECT max(doc_id) + 1 AS max_id FROM documents),
words AS (
    SELECT CASE WHEN doc_id * 2 < max_id THEN 0 ELSE 1 END AS half,
           {ex}({w}) AS word
    FROM documents CROSS JOIN bounds
),
counts AS (
    SELECT word,
           cast(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS bigint) AS c0,
           cast(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS bigint) AS c1
    FROM words GROUP BY word
),
tot AS (
    SELECT cast(sum(c0) AS bigint) AS t0, cast(sum(c1) AS bigint) AS t1
    FROM counts
),
terms AS (
    SELECT word, c0, c1,
           c0 / cast(t0 AS double) AS p, c1 / cast(t1 AS double) AS q
    FROM counts CROSS JOIN tot
)
SELECT cast(min(t0) AS bigint) AS tokens_early,
       cast(min(t1) AS bigint) AS tokens_late,
       cast(sum(CASE WHEN c0 > 0 THEN 1 ELSE 0 END) AS bigint) AS vocab_early,
       cast(sum(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS bigint) AS vocab_late,
       cast(sum(CASE WHEN c0 > 0 AND c1 > 0 THEN 1 ELSE 0 END) AS bigint)
           AS vocab_shared,
       0.5 * sum(CASE WHEN p > 0 THEN p * {ln}(2 * p / (p + q)) ELSE 0 END)
       + 0.5 * sum(CASE WHEN q > 0 THEN q * {ln}(2 * q / (p + q)) ELSE 0 END)
           AS js_divergence
FROM terms CROSS JOIN tot
"""


@register("corpus_drift_js", oracle=_drift_sql("duckdb"))
def corpus_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the first and second half of the corpus
    (by ingest order): Jensen-Shannon divergence of the unigram
    distributions, plus vocabulary overlap counts — the monitoring stat
    that flags a crawl snapshot whose language shifted (spam influx,
    domain mix change) before it poisons a training mix. One explode +
    one groupBy on the word (map-side combined); the JS sum reduces the
    vocab-sized term table to a single row. Float note: the JS term sum
    is a double reduction (order differs across engines) — its error is
    ~1e-13 relative, far inside the 6-dp comparison, and no integer
    reformulation exists for p·ln(p/m)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_drift_sql("spark"))


# ---------------------------------------------------------------------------
# BM25 retrieval scoring

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("join", "window", "merge")


def _bm25_sql(dialect: str) -> str:
    w = words_sql(dialect)
    nw = f"size({w})" if dialect == "spark" else f"len({w})"
    ex = "explode" if dialect == "spark" else "unnest"
    qlist = ", ".join(f"'{t}'" for t in _BM25_QUERY)
    k1 = f"cast({_BM25_K1} AS double)"
    b = f"cast({_BM25_B} AS double)"
    return f"""
WITH doclen AS (
    SELECT doc_id, cast({nw} AS bigint) AS dl FROM documents
),
corpus AS (
    SELECT cast(count(*) AS bigint) AS n,
           sum(dl) / cast(count(*) AS double) AS avgdl
    FROM doclen
),
hits AS (
    SELECT doc_id, {ex}({w}) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, cast(count(*) AS bigint) AS tf
    FROM hits WHERE term IN ({qlist})
    GROUP BY doc_id, term
),
df AS (
    SELECT term, cast(count(*) AS bigint) AS df FROM tf GROUP BY term
),
scored AS (
    SELECT t.doc_id, t.term,
           ln(cast(1 AS double) + (c.n - d.df + cast(0.5 AS double))
              / (d.df + cast(0.5 AS double)))
           * (t.tf * ({k1} + 1))
           / (t.tf + {k1} * (1 - {b} + {b} * l.dl / c.avgdl)) AS term_score
    FROM tf t
    JOIN df d ON t.term = d.term
    JOIN doclen l ON t.doc_id = l.doc_id
    CROSS JOIN corpus c
)
SELECT doc_id,
       cast(count(*) AS bigint) AS n_match_terms,
       sum(term_score) AS bm25
FROM scored GROUP BY doc_id
"""


@register("bm25_score", oracle=_bm25_sql("duckdb"))
def bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring of the corpus against a fixed query-term
    set — the retrieval primitive behind search-based decontamination
    and retrieval-augmented data curation (find the training docs an
    eval question would retrieve). The term filter pushes into the
    explode so only query-term hits survive to the aggregation; idf and
    the corpus stats are 1-row broadcasts; per-doc scoring is one
    groupBy. Float note: the final per-doc sum adds ≤3 doubles — the
    same bounded-reduction tolerance bigram_lm_score has carried green
    for three rounds."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_bm25_sql("spark"))


# ---------------------------------------------------------------------------
# inverted-index build (posting lists)

_INDEX_MIN_DF = 100
_INDEX_POSTING_CAP = 10


def _index_sql(dialect: str) -> str:
    w = words_sql(dialect)
    ex = "explode" if dialect == "spark" else "unnest"
    if dialect == "spark":
        postings = (
            f"concat_ws(',', transform(slice(sort_array(collect_set(doc_id)),"
            f" 1, {_INDEX_POSTING_CAP}), x -> cast(x AS string)))"
        )
    else:
        postings = (
            f"array_to_string(list_slice(list_sort(list(DISTINCT doc_id)),"
            f" 1, {_INDEX_POSTING_CAP}), ',')"
        )
    return f"""
WITH hits AS (
    SELECT DISTINCT {ex}({w}) AS term, doc_id FROM documents
)
SELECT term,
       cast(count(*) AS bigint) AS df,
       {postings} AS posting_head
FROM hits
GROUP BY term
HAVING count(*) >= {_INDEX_MIN_DF}
"""


@register("inverted_index_build", oracle=_index_sql("duckdb"))
def inverted_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: term → document frequency + the head
    of the sorted posting list (capped, rendered as CSV so the value
    hash is engine-stable — raw array columns stringify differently
    across engines). This is the build side of every retrieval/
    decontamination system; the posting list is exactly a groupBy on
    the term with map-side partial sets, and the df floor prunes the
    hapax tail that dominates vocabulary size. At 100 TB the cap
    becomes per-shard posting files; the shuffle shape is identical."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_index_sql("spark"))
