"""Training-data pipeline operators, batch 20 (round 7): content-defined
chunking dedup and MinHash estimator-error audit.

Public recipes as declarative Spark plans:

- Content-defined chunking (Muthitacharoen et al. 2001 LBFS; FastCDC
  2016): cut documents where a rolling fingerprint hits a boundary
  pattern, so chunk boundaries survive insertions/deletions — the
  storage-dedup technique a crawl archive uses to store near-identical
  page revisions once. Measured here: chunk-level dedup ratio across
  the corpus with planted revisions.
- MinHash estimator-error audit (Broder 1997's resemblance estimator):
  |signature-agreement estimate − exact Jaccard| over the candidate
  pairs — the measurement that says whether 12 hashes are enough
  BEFORE trusting banded LSH at corpus scale.

Dual-dialect SQL templates; the word-level rolling fingerprint and the
Carter-Wegman MinHash both reduce to md5-derived integers, identical in
any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.text import shingles_sql, words_sql
from ..sources.tables import load_table, materialize, maybe_rebalance
from .registry import register


def _idiv(dialect: str) -> str:
    return "DIV" if dialect == "spark" else "//"


def _h32(dialect: str, expr: str) -> str:
    if dialect == "spark":
        return f"cast(conv(substr(md5({expr}), 1, 8), 16, 10) AS bigint)"
    return f"cast(('0x' || substr(md5({expr}), 1, 8)) AS bigint)"


# ---------------------------------------------------------------------------
# content-defined chunking dedup


_CDC_MASK = 8  # boundary when fingerprint % 8 == 0 → ~8-word chunks
_CDC_W = 4  # fingerprint window (words)


def _cdc_docs_cte(dialect: str) -> str:
    # corpus + planted REVISIONS: every 25th doc with its first 2 words
    # dropped — the page-revision shape CDC exists to deduplicate
    # (fixed-size chunking would misalign every chunk after the edit)
    w = words_sql(dialect)
    if dialect == "spark":
        tail = f"concat_ws(' ', slice({w}, 3, size({w})))"
    else:
        tail = f"array_to_string(list_slice({w}, 3, len({w})), ' ')"
    return f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 800000 AS doc_id, {tail} AS text
    FROM documents WHERE doc_id % 25 = 0
"""


def _cdc_sql(dialect: str) -> str:
    idiv = _idiv(dialect)
    w = words_sql(dialect)
    if dialect == "spark":
        # is_cut computed INLINE in the token explode (r12, guide §2.4):
        # the separate wins-explode + cuts + (doc_id, i)-keyed flag join
        # re-walked every token a second time only to mark ~1/8 of the
        # positions; the fingerprint of the window starting at token i is
        # an expression over (w, i) already in scope here, and the guard
        # `1 <= i <= size(w) - 4` reproduces wins' explode range exactly
        # (a shorter-than-4-word tail window must NOT hash)
        win = (
            "concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), "
            "element_at(w, i + 3), element_at(w, i + 4))"
        )
        toks = f"""
toks AS (
    SELECT doc_id, pe.i, pe.tok,
           CASE WHEN pe.i >= 1 AND pe.i <= size(w) - {_CDC_W}
                     AND ({_h32("spark", win)}) % {_CDC_MASK} = 0
                THEN 1 ELSE 0 END AS is_cut
    FROM docs_w LATERAL VIEW posexplode(w) pe AS i, tok
)"""
        agg_chunk = "concat_ws(' ', collect_list(tok))"
    else:
        toks = """
toks AS (
    SELECT doc_id, u.i, w[u.i + 1] AS tok
    FROM docs_w, LATERAL (SELECT unnest(range(0, len(w))) AS i) u
)"""
        win = ("w[u.i + 1] || ' ' || w[u.i + 2] || ' ' || w[u.i + 3] "
               "|| ' ' || w[u.i + 4]")
        wins = f"""
wins AS (
    SELECT doc_id, u.i, {win} AS window4
    FROM docs_w, LATERAL (SELECT unnest(range(0, len(w) - {_CDC_W - 1}))
                          AS i) u
    WHERE len(w) >= {_CDC_W}
)"""
        agg_chunk = "string_agg(tok, ' ' ORDER BY i)"
    h = _h32(dialect, "window4")
    if dialect == "spark":
        # order-proof chunk text: collect (i, tok) structs, sort, join
        chunk_text = (
            "concat_ws(' ', transform(sort_array(collect_list("
            "struct(i, tok))), s -> s.tok))"
        )
    else:
        chunk_text = agg_chunk
    if dialect == "spark":
        pre = f"{toks.strip()},"
        assigned_src = "toks"
    else:
        assigned_src = "flagged"
        pre = f"""{toks.strip()},
{wins.strip()},
-- a position STARTS a new chunk if the 4-word fingerprint ending there
-- hits the boundary pattern (i >= 1; position 0 always starts chunk 0)
cuts AS (
    SELECT doc_id, i FROM wins
    WHERE ({h}) % {_CDC_MASK} = 0 AND i >= 1
),
-- chunk id of a token = running count of cuts at or before its
-- position (flag join + prefix-sum window, both partitioned by doc)
flagged AS (
    SELECT t.doc_id, t.i, t.tok,
           CASE WHEN c.i IS NULL THEN 0 ELSE 1 END AS is_cut
    FROM toks t LEFT JOIN cuts c
        ON c.doc_id = t.doc_id AND c.i = t.i
),"""
    return f"""
WITH docs AS ({_cdc_docs_cte(dialect)}),
docs_w AS (SELECT doc_id, {w} AS w FROM docs),
{pre}
assigned AS (
    SELECT doc_id, i, tok,
           sum(is_cut) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS chunk_no
    FROM {assigned_src}
),
chunks AS (
    SELECT doc_id, chunk_no, {chunk_text} AS chunk_text,
           cast(count(*) AS bigint) AS chunk_words
    FROM assigned GROUP BY doc_id, chunk_no
),
hashed AS (
    SELECT doc_id, chunk_no, chunk_words, md5(chunk_text) AS chash
    FROM chunks
)
SELECT cast(count(*) AS bigint) AS total_chunks,
       cast(count(DISTINCT chash) AS bigint) AS unique_chunks,
       cast(sum(chunk_words) AS bigint) AS total_words,
       (count(DISTINCT chash) * 1000000) {idiv} count(*)
           AS unique_frac_micro,
       cast(min(chunk_words) AS bigint) AS min_chunk_words,
       cast(max(chunk_words) AS bigint) AS max_chunk_words
FROM hashed
"""


@register("cdc_chunk_dedup", oracle=_cdc_sql("duckdb"))
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup ratio: documents cut where the
    4-word rolling fingerprint hits the boundary pattern (~8-word
    chunks), chunks hashed, corpus-wide unique fraction measured against
    planted head-edited revisions — the storage-dedup measurement where
    CDC beats fixed-size chunking (an edit shifts every fixed chunk but
    only the chunk containing it under CDC). Execution: token and window
    explodes are linear; the cut-count subquery compiles to an equi-join
    + aggregation on (doc, position) — everything partitions by doc_id
    and the chunk rebuild is an order-proof sorted collect within (doc,
    chunk). Companions: line_dedup_rebuild / paragraph_dedup (structural
    units), exact_substring_dedup (suffix content), doc_fingerprint
    (whole-doc rolling hash)."""
    docs = maybe_rebalance(load_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("documents")
    return spark.sql(_cdc_sql("spark"))


# ---------------------------------------------------------------------------
# MinHash estimator-error audit


_MH_HASHES = 12
_ME_N = 5  # shingle width — 3-grams over this corpus's ~30-word vocab
           # have df ~75, and pairs-sharing-a-shingle blows past 10^8 at
           # sf1; 5-grams (similarity_histogram's width) keep df ~1
_ME_DF_MULT = 20
# Absolute stop-gram bound on top of the relative cap (round 10): on the
# open-vocabulary corpus, boilerplate 5-grams have df ∝ n (a constant
# FRACTION below 1/20, so the relative cap never fires) and the
# pairs-sharing-a-gram join goes quadratic — measured α 0.709 on the
# ov0.1→ov1 decade but 1.326 on the ov1→ov1p8 step above it (the bend
# r9's three sub-ov1 points could not see). Same fix class as
# _MINHASH_DF_ABS / _YC_DF_ABS: any df ∝ n crosses a fixed bound
# eventually. A no-op on the driver gate corpora (no 5-gram df nears
# 256 there), so gate values are unchanged; the audited semantics stay
# honest — the estimator is measured on stop-gram-filtered candidates,
# the same discipline the shipped index applies.
_ME_DF_ABS = 256


def _sigw_chain(n_hashes: int) -> str:
    """sigw(doc_id, m0..m{n_hashes-1}): the minhash minima as AGGREGATE
    COLUMNS of ONE groupBy(doc_id) over hd(doc_id, h1, h2) — the simhash
    lesson applied to the estimator audits (round 10). The previous
    sig(doc_id, k, mh) row form (a) materialized n_hashes × shingle-rows
    intermediate rows ahead of the partial aggregation and (b) made the
    per-pair agreement a (doc, k)-keyed join + re-aggregation of
    n_hashes rows per candidate pair; at the sf1p8 document anchor that
    shape ran a 2 GiB heap out of GC headroom (memory probe: both
    estimator audits died under the cap). The column form shuffles
    n_docs rows once and scores each pair in a single integer
    projection — no per-k join exists at any scale. Same SQL in both
    dialects, so the gate keeps proving value-equality."""
    mins = ", ".join(f"min(h1 + {k} * h2) AS m{k}" for k in range(n_hashes))
    return f"""sigw AS (
    SELECT doc_id, {mins}
    FROM hd GROUP BY doc_id
)"""


def _match_sum(n_hashes: int, pred: str) -> str:
    """Integer match count over the signature columns of pair sides a/b:
    one CASE per column, summed in a projection (exact, order-free)."""
    return " + ".join(
        f"(CASE WHEN {pred.format(a=f'a.m{k}', b=f'b.m{k}')} "
        f"THEN 1 ELSE 0 END)"
        for k in range(n_hashes)
    )


def _mh_err_sql(dialect: str, shf_src: str | None = None) -> str:
    """``shf_src`` lets the Spark side materialize the df-capped shingle
    table once: the template references ``shf`` from FOUR consumers
    (signature generation, per-doc sizes, both sides of the pair join),
    and SQL inlining re-runs the explode + cap join per reference — the
    same CTE-inlining lesson as dedup_yield_curve's sh_src seam."""
    idiv = _idiv(dialect)
    grams = shingles_sql(dialect, words_sql(dialect), _ME_N)
    ex = "explode" if dialect == "spark" else "unnest"
    if dialect == "spark":
        h1 = "cast(conv(substr(md5(g), 1, 15), 16, 10) AS bigint)"
        h2 = "cast(conv(substr(md5(g), 16, 13), 16, 10) AS bigint)"
    else:
        h1 = "cast(('0x' || substr(md5(g), 1, 15)) AS bigint)"
        h2 = "cast(('0x' || substr(md5(g), 16, 13)) AS bigint)"
    # Everything downstream of hd uses ONLY the (doc_id, h1, h2) integer
    # rows — the raw 5-gram strings never reach a shuffle. The pair join
    # and the per-doc sizes both read hd (round 10): sort/join buffers
    # hold 24-byte fixed-width rows instead of ~60-byte strings, which
    # is what let the 2 GiB / 24-thread memory probe pass (strings-form
    # OOMed in the pair-join sort), and at crawl scale it is the only
    # sane shuffle payload. Identical results: shingles are distinct
    # per doc, and both engines derive the same md5 integers, so even a
    # (~2^-60-improbable) h1,h2 collision would alter both sides
    # identically.
    hd_chain = f"""sh AS (SELECT doc_id, {ex}({grams}) AS g FROM docs),
df AS (SELECT g, count(*) AS n_docs FROM sh GROUP BY g),
corpus AS (SELECT count(*) AS n FROM docs),
keep AS (
    SELECT g FROM df CROSS JOIN corpus
    WHERE n_docs * {_ME_DF_MULT} <= n AND n_docs <= {_ME_DF_ABS}
),
shf AS (SELECT sh.doc_id, sh.g FROM sh JOIN keep ON sh.g = keep.g),
hd AS (
    SELECT doc_id, {h1} AS h1, {h2} AS h2
    FROM shf
),
""" if shf_src is None else f"""hd AS (SELECT doc_id, h1, h2 FROM {shf_src}),
"""
    if dialect == "spark":
        # Fused audit tail (r12): per-doc sizes are ONE MORE aggregate
        # column of the signature groupBy (sigagg), not a second
        # aggregation pass over hd — and the pair table then joins ONE
        # doc-keyed table per side instead of two (sizes + sigw were
        # each joined twice). Same integer arithmetic on the same
        # operands, so results are value-identical; the oracle keeps
        # the two-table shape.
        mins = ", ".join(
            f"min(h1 + {k} * h2) AS m{k}" for k in range(_MH_HASHES)
        )
        jac = "((i.i * 1000000) DIV ((a.sz + b.sz) - i.i))"
        tail = f"""sigagg AS (
    SELECT doc_id, count(*) AS sz, {mins}
    FROM hd GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM hd a JOIN hd b ON a.h1 = b.h1 AND a.h2 = b.h2
                       AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
errs AS (
    SELECT abs((cast({_match_sum(_MH_HASHES, "{a} = {b}")} AS bigint)
                * 1000000) DIV {_MH_HASHES} - {jac}) AS err_micro,
           {jac} AS jac_micro
    FROM inter i
    JOIN sigagg a ON a.doc_id = i.doc_a
    JOIN sigagg b ON b.doc_id = i.doc_b
)"""
    else:
        tail = f"""{_sigw_chain(_MH_HASHES)},
sizes AS (SELECT doc_id, count(*) AS sz FROM hd GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM hd a JOIN hd b ON a.h1 = b.h1 AND a.h2 = b.h2
                       AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
exact AS (
    SELECT i.doc_a, i.doc_b,
           (i.i * 1000000) {idiv} (sa.sz + sb.sz - i.i) AS jac_micro
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
),
errs AS (
    SELECT abs((cast({_match_sum(_MH_HASHES, "{a} = {b}")} AS bigint)
                * 1000000) {idiv} {_MH_HASHES} - e.jac_micro) AS err_micro,
           e.jac_micro
    FROM exact e
    JOIN sigw a ON a.doc_id = e.doc_a
    JOIN sigw b ON b.doc_id = e.doc_b
)"""
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents),
{hd_chain}
-- 12-hash Carter-Wegman MinHash signature: ONE md5 per shingle
-- (h1, h2), permutation k evaluated as h1 + k*h2 (Broder; bounds
-- h1 < 2^60, h2 < 2^52 keep 64-bit arithmetic overflow-free) — the
-- same construction dedup_minhash_lsh ships, so this audits the
-- production estimator at production cost
{tail}
SELECT jac_micro {idiv} 250000 AS jac_band,
       cast(count(*) AS bigint) AS n_pairs,
       cast(sum(err_micro) AS bigint) {idiv} count(*) AS mean_err_micro,
       cast(max(err_micro) AS bigint) AS max_err_micro
FROM errs
GROUP BY 1
ORDER BY jac_band
"""


@register("minhash_estimate_error", oracle=_mh_err_sql("duckdb"))
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator quality: |12-hash signature agreement − exact
    Jaccard| over the df-capped candidate pairs, banded by true
    similarity — the audit that says whether the signature width behind
    dedup_minhash_lsh is adequate (expected error ~ sqrt(j(1−j)/12))
    BEFORE trusting banded LSH corpus-wide. Signatures use the Broder
    construction the dedup entries ship (one md5 per shingle, pairwise-
    independent h1 + k·h2 permutations, grouped min), so the audit
    measures the production estimator at production cost. Pair work is bounded by the same
    inverted-index join as similarity_histogram. Perf: the df-capped
    HASH table (doc_id, h1, h2 — strings already dropped) has FOUR
    consumers in the template (sig gen, sizes, both pair-join sides) —
    materialized once Spark-side via the shf_src seam (round-9
    same-session idle A/B at the ov1 scale: inlined median 18.6 s ->
    persisted 15.2 s, n=3 each; the standing CTE-inlining lesson).
    Round 10 moved the pair join itself onto the integer hashes and the
    signature minima into aggregate COLUMNS (see _sigw_chain /
    hd_chain notes): the strings-and-rows form OOMed the 2 GiB /
    24-thread memory probe at the sf1p8 document anchor; this form
    completes it.
    Companions: dedup_lsh_recall (candidate recall), lsh_band_tuning
    (S-curve), ndv_profile_error (the sketch-audit pattern for distinct
    counts)."""
    docs = maybe_rebalance(load_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("documents")
    grams = shingles_sql("spark", words_sql("spark"), _ME_N)
    h1 = "cast(conv(substr(md5(sh.g), 1, 15), 16, 10) AS bigint)"
    h2 = "cast(conv(substr(md5(sh.g), 16, 13), 16, 10) AS bigint)"
    # the raw shingle explode feeds TWO subtrees of the hd build (the df
    # aggregation and the kept-rows join side); the r12 stage profile
    # showed both racing the full explode (18.0 + 25.6 executor-seconds
    # pre-checkpoint), so it is materialized once too
    sh = materialize(spark.sql(
        f"WITH docs AS (SELECT doc_id, text FROM documents) "
        f"SELECT doc_id, explode({grams}) AS g FROM docs"
    ), eager=True)
    hd = spark.sql(f"""
WITH df AS (SELECT g, count(*) AS n_docs FROM {sh} GROUP BY g),
corpus AS (SELECT count(*) AS n FROM documents),
keep AS (
    SELECT g FROM df CROSS JOIN corpus
    WHERE n_docs * {_ME_DF_MULT} <= n AND n_docs <= {_ME_DF_ABS}
)
SELECT sh.doc_id, {h1} AS h1, {h2} AS h2
FROM {sh} sh JOIN keep ON sh.g = keep.g
""")
    # localCheckpoint, not persist: the consumer query's four subtrees
    # (sigw, sizes, both pair-join sides) become runnable stages
    # CONCURRENTLY, and the r12 stage profile showed each of them
    # recomputing the full explode+md5+conv pipeline (18.5 + 10.9 +
    # 10.7 executor-seconds for one 5.5 MB table) — the persist's cache
    # entry was not substituted into the executed consumer plan. An
    # eager localCheckpoint materializes ONCE, and consumers reference
    # the checkpointed blocks structurally (LogicalRDD) — no plan
    # matching to miss.
    hd = materialize(hd, eager=True)
    return spark.sql(_mh_err_sql("spark", shf_src=hd))
