"""Training-data pipeline operators, batch 19 (round 7): dedup yield
curve.

Public recipe: threshold planning for near-dup removal (the sweep every
dedup paper reports — e.g. Lee et al. 2022 "Deduplicating training data
makes language models better" tables): for a grid of Jaccard thresholds,
how many candidate pairs fire, how many documents would be dropped under
keep-lowest-id survivorship, and how many tokens that deletes. Run on
the measured pair distribution BEFORE committing a corpus-wide dedup.

Dual-dialect SQL template sharing similarity_histogram's df-capped
inverted-index candidate bound (no all-pairs work anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.text import shingles_sql, words_sql
from ..sources.tables import (
    above_size_gate,
    load_table,
    materialize,
    maybe_rebalance,
)
from .registry import register


def _idiv(dialect: str) -> str:
    return "DIV" if dialect == "spark" else "//"


_YC_N = 3  # shingle width (matches the dedup family)
_YC_DF_MULT = 5  # relative df-cap: drop shingles in > corpus/5 docs (20%)
# ABSOLUTE df-cap (BFF/WIMBD-style stop-gram bound), round 9: the
# open-vocabulary scaling corpus measured this entry superlinear
# (α=1.64, 2.5→110 s over a 10× step) with the relative cap alone —
# on any realistic token distribution the head shingles ("the of and"
# 3-grams) sit at a FIXED per-doc probability well under 20%, so their
# buckets grow ∝ n and their pair contribution ∝ n². Capping every
# bucket at an absolute df bounds per-shingle pairs at cap²/2, making
# total candidate work linear in the shingle count — the same guard
# operators/dedup.jaccard_pairs exposes as df_cap_abs. Both dialects
# share the clause, so the gate stays exact.
_YC_DF_ABS = 128
_YC_GRID = ("0.5", "0.6", "0.7", "0.8", "0.9")


def _yield_docs_cte(dialect: str) -> str:
    # corpus + planted near-dups (first-3-words drop of every 30th doc),
    # the similarity_histogram population — the curve needs a real
    # high-similarity mode to be worth reading. 7·PLANT_SENTINEL keeps
    # planted ids out of the natural range at any sentinel (matching
    # llmdata8's similarity_histogram twin — ADVICE r11 #2: the old
    # hardcoded +700000 collided with natural ids on sentinel-10⁶
    # corpora).
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


def _yield_sql(
    dialect: str,
    sh_src: str | None = None,
    jac_src: str | None = None,
    toks_src: str | None = None,
) -> str:
    """``jac_src`` lets the Spark side materialize the scored-pairs table
    once: the template references ``jac`` from BOTH the dropped and
    pair_counts CTEs, and SQL inlining re-runs the shingle self-join —
    by far the most expensive stage — per reference (idle sf1 A/B in the
    entry docstring)."""
    idiv = _idiv(dialect)
    w = words_sql(dialect)
    grams = shingles_sql(dialect, w, _YC_N)
    ex = "explode" if dialect == "spark" else "unnest"
    grid = ", ".join(_YC_GRID)
    t_rows = (
        f"LATERAL VIEW explode(array({grid})) tt AS t"
        if dialect == "spark"
        else f", LATERAL (SELECT unnest([{grid}]) AS t) tt"
    )
    sh_body = (
        f"SELECT doc_id, g FROM {sh_src}"
        if sh_src
        else f"SELECT doc_id, {ex}({grams}) AS g FROM docs"
    )
    jac_body = (
        f"SELECT doc_a, doc_b, j FROM {jac_src}" if jac_src else """
    SELECT i.doc_a, i.doc_b,
           i.i / cast(sa.sz + sb.sz - i.i AS double) AS j
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b"""
    )
    # with jac supplied externally the shingle/pair CTE chain is unused —
    # and must be OMITTED, not just left dangling: a temp view built from
    # this same template nests CTEs with identical names, which trips
    # Spark's InlineCTE rule ("plan became unresolved") when the outer
    # query repeats them
    pair_chain = f"""sh AS ({sh_body}),
df AS (SELECT g, count(*) AS n_docs FROM sh GROUP BY g),
corpus AS (SELECT count(*) AS n FROM docs),
keep AS (
    SELECT g FROM df CROSS JOIN corpus
    WHERE n_docs * {_YC_DF_MULT} <= n AND n_docs <= {_YC_DF_ABS}
),
shf AS (SELECT sh.doc_id, sh.g FROM sh JOIN keep ON sh.g = keep.g),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
""" if not jac_src else ""
    # toks_src (r12): the per-doc word-count table is referenced by
    # drop_stats AND corpus_words (and, when set, replaces the corpus
    # doc count — count(*) over toks is count(*) over docs by
    # construction: exactly one toks row per doc). Materializing it
    # keeps the plan from re-running the docs-union tokenize per
    # reference (r12 plan audit: 20 documents scans inlined).
    toks_body = (
        f"SELECT doc_id, n_words FROM {toks_src}"
        if toks_src
        else f"""SELECT doc_id,
                cast({"size" if dialect == "spark" else "len"}({w}) AS bigint)
                    AS n_words
         FROM docs"""
    )
    if toks_src:
        pair_chain = pair_chain.replace(
            "corpus AS (SELECT count(*) AS n FROM docs)",
            "corpus AS (SELECT count(*) AS n FROM toks)",
        )
    return f"""
WITH docs AS ({_yield_docs_cte(dialect)}),
toks AS ({toks_body}),
{pair_chain}jac AS (
    {jac_body}
),
-- keep-lowest-id survivorship: at threshold t a doc is dropped iff it
-- is the HIGHER id of any pair with j >= t
dropped AS (
    SELECT tt.t, jac.doc_b
    FROM jac {t_rows}
    WHERE jac.j >= tt.t
    GROUP BY tt.t, jac.doc_b
),
pair_counts AS (
    SELECT tt.t, cast(count(*) AS bigint) AS n_pairs
    FROM jac {t_rows}
    WHERE jac.j >= tt.t
    GROUP BY tt.t
),
drop_stats AS (
    SELECT d.t, cast(count(*) AS bigint) AS docs_dropped,
           cast(sum(tk.n_words) AS bigint) AS words_dropped
    FROM dropped d JOIN toks tk ON d.doc_b = tk.doc_id
    GROUP BY d.t
),
corpus_words AS (
    SELECT cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_words) AS bigint) AS n_words
    FROM toks
)
SELECT p.t AS threshold, p.n_pairs, s.docs_dropped, s.words_dropped,
       (s.docs_dropped * 1000000) {idiv} c.n_docs AS doc_frac_micro,
       (s.words_dropped * 1000000) {idiv} c.n_words AS word_frac_micro
FROM pair_counts p
JOIN drop_stats s ON p.t = s.t
CROSS JOIN corpus_words c
ORDER BY p.t
"""


@register("dedup_yield_curve", oracle=_yield_sql("duckdb"))
def dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold planning: for Jaccard thresholds 0.5–0.9, the
    candidate pairs that fire, the documents dropped under keep-lowest-id
    survivorship, and the token budget that deletes — the yield table a
    curation review reads next to similarity_histogram before committing
    a corpus-wide dedup run. Candidates come from the same df-capped
    inverted-index join as the histogram (hot shingles dropped before the
    self-join, so pair work is bounded by real co-occurrence, never
    all-pairs); the threshold grid is a lateral explode over the pair
    table. Perf: the shingle CTE is referenced repeatedly — materialized
    once Spark-side (the standing CTE-inlining lesson); persisting the
    scored-pair table as well was A/B-tested and REJECTED (see the
    in-body note — ReusedExchange already shares the self-join between
    its two consumers). Scaling note (round 9): the relative cap alone
    measured SUPERLINEAR (α=1.64) on the open-vocabulary scaling corpus
    — head shingles at a fixed per-doc probability under 20% grow their
    buckets ∝ n — so candidates are now ALSO bounded by the absolute
    stop-gram cap _YC_DF_ABS (see its comment); re-measured α=linear-or-
    better on both corpora after the fix (SCALING_openvocab.json).
    Companions: similarity_histogram (the distribution),
    lsh_band_tuning (index sizing), dedup_minhash_lsh (the dedup
    itself)."""
    docs = maybe_rebalance(load_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("documents")
    grams_expr = shingles_sql("spark", words_sql("spark"), _YC_N)
    # eager localCheckpoint, not persist: sh's consumers run as
    # concurrent stages and raced the not-yet-built cache into duplicate
    # re-shingles (r12 stage profile: 23.5 + 8.8 executor-seconds);
    # checkpointed blocks are referenced structurally, so the explode
    # runs once. (r12 A/B: wash at sf0.1, kept for the structural
    # guarantee.)
    sh = materialize(spark.sql(
        f"WITH docs AS ({_yield_docs_cte('spark')}) "
        f"SELECT doc_id, explode({grams_expr}) AS g FROM docs"
    ), eager=True)
    # toks materialized too (r12): drop_stats, corpus_words, and the
    # df-cap's corpus count each re-ran the docs-union tokenize when
    # inlined (20 documents scans in the audited plan); the checkpointed
    # table is two integers per doc.
    w = words_sql("spark")
    toks = materialize(spark.sql(
        f"WITH docs AS ({_yield_docs_cte('spark')}) "
        f"SELECT doc_id, cast(size({w}) AS bigint) AS n_words FROM docs"
    ), eager=True)
    # SIZE-GATED (r13): on large inputs the pair join — by far the
    # dominant stage (19.9 executor-seconds) — runs on the two
    # md5-derived bigints per shingle instead of the shingle STRING,
    # and the df-cap becomes a broadcast ANTI-join against the tiny
    # `hot` set instead of a SortMergeJoin against the vocabulary-sized
    # `keep` set (the string plan shuffles the full shingle table BY
    # STRING twice for it, once per jac consumer). Sort/join buffers
    # hold 24-byte fixed-width rows — the same narrow-payload form
    # minhash_estimate_error adopted in r10 (§2.3 shuffle fewer bytes).
    # Exactness: i_hash >= i_true and the per-doc sizes count ROWS
    # (string-distinct by construction), and the 0.5 cut is evaluated as
    # the division-free 3·i >= sz_a+sz_b (monotone in i under ANY
    # collision pattern), so the hash-scored pairs are a SUPERSET of
    # the true >= 0.5 pairs (the grid's minimum); every survivor is
    # re-verified with exact string Jaccard on shingle sets re-read
    # from the checkpointed string table for JUST those docs. Output
    # provably identical; no hash-collision exposure reaches the
    # result. Each side of the gate wins on its own scale (4 cores, 5
    # alternating pairs, medians): at sf0.1 the four extra checkpoint
    # jobs cost more than they save (string join 5.54 s, hash path
    # 7.11 s); at sf1 the narrow join wins (hash path 101.4 s, string
    # join 111.6 s).
    if not above_size_gate(load_table(spark, sf_dir, "documents")):
        return spark.sql(_yield_sql("spark", sh_src=sh, toks_src=toks))
    hot = materialize(spark.sql(f"""
        WITH df AS (SELECT g, count(*) AS n_docs FROM {sh} GROUP BY g),
        corpus AS (SELECT count(*) AS n FROM {toks})
        SELECT g FROM df CROSS JOIN corpus
        WHERE n_docs * {_YC_DF_MULT} > n OR n_docs > {_YC_DF_ABS}
    """), eager=True)
    hx = materialize(spark.sql(f"""
        SELECT /*+ BROADCAST(h) */ sh.doc_id,
               cast(conv(substr(md5(sh.g), 1, 15), 16, 10) AS bigint) AS h1,
               cast(conv(substr(md5(sh.g), 16, 13), 16, 10) AS bigint) AS h2
        FROM {sh} sh
        LEFT ANTI JOIN {hot} h ON sh.g = h.g
    """), eager=True)
    cand = materialize(spark.sql(f"""
        WITH sizes AS (SELECT doc_id, count(*) AS sz
                       FROM {hx} GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM {hx} a
            JOIN {hx} b ON a.h1 = b.h1 AND a.h2 = b.h2
                       AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE 3 * i.i >= sa.sz + sb.sz
    """), eager=True)
    # exact string re-verify, pruned to the candidate docs: shingle
    # strings come back from the checkpointed explode (no re-scan), the
    # same stop-gram filter applies, and the Jaccard quotient is the
    # oracle's exact string form
    jac = materialize(spark.sql(f"""
        WITH ids AS (
            SELECT doc_a AS doc_id FROM {cand}
            UNION
            SELECT doc_b FROM {cand}
        ),
        docsets AS (
            SELECT /*+ BROADCAST(ids), BROADCAST(h) */
                   sh.doc_id, collect_list(sh.g) AS gs, count(*) AS sz
            FROM {sh} sh
            LEFT SEMI JOIN ids ON sh.doc_id = ids.doc_id
            LEFT ANTI JOIN {hot} h ON sh.g = h.g
            GROUP BY sh.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               size(array_intersect(a.gs, b.gs))
                 / cast(a.sz + b.sz - size(array_intersect(a.gs, b.gs))
                        AS double) AS j
        FROM {cand} c
        JOIN docsets a ON a.doc_id = c.doc_a
        JOIN docsets b ON b.doc_id = c.doc_b
        WHERE size(array_intersect(a.gs, b.gs))
                / cast(a.sz + b.sz - size(array_intersect(a.gs, b.gs))
                       AS double) >= 0.5
    """), eager=True)
    return spark.sql(_yield_sql("spark", jac_src=jac, toks_src=toks))
