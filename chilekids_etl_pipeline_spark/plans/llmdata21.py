"""Training-data pipeline operators, batch 21 (round 10): IVF-PQ ANN
scoring and b-bit MinHash resemblance estimation.

Public recipes as declarative Spark plans:

- IVF-PQ / ADC (Jégou, Douze, Schmid 2011 "Product Quantization for
  Nearest Neighbor Search"; the FAISS IndexIVFPQ architecture): corpus
  vectors are assigned to coarse IVF cells, then compressed to m=8
  one-byte-ish codes (nearest codeword per 8-dim subspace). Queries
  probe their 2 nearest cells and score candidates with Asymmetric
  Distance Computation — exact query subvectors against the candidate's
  CODEWORDS, i.e. an 8-term table lookup per pair instead of a 64-dim
  dot against raw floats. This is the memory architecture that makes
  billion-vector ANN fit: ~8 bytes/vector of code instead of 256 bytes
  of float32, with the codebook (128 subvectors here) broadcast.
  Deterministic stand-ins mirror the catalog's ann_ivf_cosine: coarse
  centroids = the first sqrt-K vectors, codewords = the first 16
  vectors' subvectors (k-means would train both on a sample at
  production scale; determinism is what makes the result
  oracle-checkable). No residual encoding (classic IVFADC quantizes
  r = x − centroid; PQ on raw vectors is the documented simpler variant
  and keeps every quantity cross-engine exact).
- b-bit minwise hashing (Li & König 2010, CACM 2011): store only the
  lowest b=1 bit of each of 48 minhashes — 48 BITS per document of
  signature instead of the 768 (12 × 64-bit) the full signatures cost —
  and recover resemblance from the bit-collision rate with the
  unbiased estimator R = 2·P − 1 (for b=1 and a large hash universe the
  chance-collision floor C is 1/2). The audit measures |estimate −
  exact Jaccard| for BOTH estimators on the same df-capped candidate
  pairs, banded by true similarity, so the storage/accuracy trade is a
  table, not a claim. At 100 TB the b-bit table is what a dedup index
  actually persists (16x smaller signature store at comparable error in
  the high-similarity bands that dedup acts on).

Dual-dialect SQL templates (house rules: every cross-row sum is over
exact integer micros so aggregation order cannot change a bit; doubles
appear only inside single-expression reductions and the final
scalar arithmetic, where IEEE ops on identical inputs are identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import (
    above_size_gate,
    load_table,
    materialize,
    maybe_rebalance,
    rebalance_if_big,
)
from .llmdata20 import (
    _ME_DF_ABS,
    _ME_DF_MULT,
    _ME_N,
    _match_sum,
    _sigw_chain,
)
from .registry import register


def _idiv(dialect: str) -> str:
    return "DIV" if dialect == "spark" else "//"


# ---------------------------------------------------------------------------
# IVF-PQ with ADC scoring

_PQ_M = 8        # subspaces (64-dim embeddings -> 8-dim subvectors)
_PQ_K = 16       # codewords per subspace (deterministic stand-in)
_PQ_NPROBE = 2   # coarse cells probed per query


def _pq_sql(
    dialect: str,
    emit: str = "full",
    assign_src: str | None = None,
    codes_src: str | None = None,
) -> str:
    """``emit='assign'``/``'codes'`` return just the coarse-assignment /
    PQ-encoding pipelines so the Spark entry can materialize each ONCE:
    in the fully-inlined plan the n x k-centroid window (assign: feeds
    cells AND probes) and the n x 128-codeword window (codes: feeds adc
    AND pqn) each ran twice, and embeddings was scanned 14 times
    (PLAN_AUDIT_r12.json). ``assign_src``/``codes_src`` splice the
    materialized views into the full template; the default emission is
    byte-identical to the pre-seam SQL, which is what the oracle uses."""
    spark = dialect == "spark"
    cast_v = (
        "transform(embedding, x -> cast(x AS double))"
        if spark
        else "list_transform(embedding, x -> cast(x AS double))"
    )
    size = "size" if spark else "len"
    idiv = _idiv(dialect)

    def dot(a: str, b: str) -> str:
        if spark:
            return (
                f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                f"0D, (p, q) -> p + q)"
            )
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"pp -> pp[1] * pp[2]), (x, y) -> x + y)"
        )

    def l2sq(a: str, b: str) -> str:
        if spark:
            return (
                f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
                f"0D, (p, q) -> p + q)"
            )
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"pp -> (pp[1] - pp[2]) * (pp[1] - pp[2])), (x, y) -> x + y)"
        )

    def sub(v: str, s: str) -> str:
        # subvector s of _PQ_M equal slices (1-based positions)
        sd = f"({size}({v}) {idiv} {_PQ_M})"
        if spark:
            return f"slice({v}, {s} * {sd} + 1, {sd})"
        return f"{v}[{s} * {sd} + 1 : ({s} + 1) * {sd}]"

    s_rows = (
        f"LATERAL VIEW explode(sequence(0, {_PQ_M - 1})) sx AS s"
        if spark
        else f"CROSS JOIN range(0, {_PQ_M}) sx(s)"
    )
    micro = "CAST(floor({x} * 1000000 + 0.5) AS BIGINT)"

    assign_cte = f"""assign AS (
    SELECT vec_id, centroid_id,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round({dot('v', 'cv')} / (nrm * cnrm), 6) DESC,
                        centroid_id) AS crank
    FROM norms CROSS JOIN cent
)"""
    cb_cte = f"""cb AS (
    SELECT sx.s, b.vec_id AS c, {sub('b.v', 'sx.s')} AS cw,
           {micro.format(x=dot(sub('b.v', 'sx.s'), sub('b.v', 'sx.s')))}
               AS cwn2_micro
    FROM base b {s_rows}
    WHERE b.vec_id < {_PQ_K}
)"""
    codes_cte = f"""codes AS (
    SELECT vec_id, s, c, cwn2_micro FROM (
        SELECT b.vec_id, cb.s, cb.c, cb.cwn2_micro,
               row_number() OVER (
                   PARTITION BY b.vec_id, cb.s
                   ORDER BY round({l2sq(sub('b.v', 'cb.s'), 'cb.cw')}, 6),
                            cb.c) AS rk
        FROM base b CROSS JOIN cb
    ) t WHERE rk = 1
)"""
    base_cte = f"base AS (SELECT vec_id, {cast_v} AS v FROM embeddings)"
    norms_ctes = f"""kc AS (SELECT greatest(8, CAST(ceil(sqrt(count(*)) / 2) AS INT)) AS k FROM base),
norms AS (SELECT vec_id, v, sqrt({dot('v', 'v')}) AS nrm FROM base),
cent AS (
    SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm FROM norms
    WHERE vec_id < (SELECT k FROM kc)
)"""
    if emit == "assign":
        return f"""
WITH {base_cte},
{norms_ctes},
{assign_cte}
SELECT vec_id, centroid_id, crank FROM assign WHERE crank <= {_PQ_NPROBE}
"""
    if emit == "codes":
        return f"""
WITH {base_cte},
{cb_cte},
{codes_cte}
SELECT vec_id, s, c, cwn2_micro FROM codes
"""
    assign_block = (
        f"assign AS (SELECT vec_id, centroid_id, crank FROM {assign_src})"
        if assign_src
        else assign_cte
    )
    codes_block = (
        f"codes AS (SELECT vec_id, s, c, cwn2_micro FROM {codes_src})"
        if codes_src
        else codes_cte
    )
    return f"""
WITH {base_cte},
{norms_ctes},
{assign_block},
cells AS (SELECT vec_id, centroid_id FROM assign WHERE crank = 1),
probes AS (SELECT vec_id, centroid_id FROM assign
           WHERE crank <= {_PQ_NPROBE} AND vec_id % 50 = 0),
{cb_cte},
{codes_block},
pqn AS (SELECT vec_id, sum(cwn2_micro) AS pqn2_micro FROM codes GROUP BY vec_id),
qd AS (
    SELECT q.vec_id AS query_id, cb.s, cb.c,
           {micro.format(x=dot(sub('q.v', 'cb.s'), 'cb.cw'))} AS qd_micro
    FROM (SELECT DISTINCT vec_id FROM probes) p
    JOIN norms q ON q.vec_id = p.vec_id
    CROSS JOIN cb
),
adc AS (
    SELECT p.vec_id AS query_id, ce.vec_id AS neighbor_id,
           sum(qd.qd_micro) AS adot_micro
    FROM probes p
    JOIN cells ce ON ce.centroid_id = p.centroid_id
                 AND ce.vec_id <> p.vec_id
    JOIN codes k ON k.vec_id = ce.vec_id
    JOIN qd ON qd.query_id = p.vec_id AND qd.s = k.s AND qd.c = k.c
    GROUP BY p.vec_id, ce.vec_id
),
scored AS (
    SELECT a.query_id, a.neighbor_id,
           {micro.format(
               x="(a.adot_micro / 1000000.0) "
                 "/ (qn.nrm * sqrt(p.pqn2_micro / 1000000.0))"
           )} AS adc_cos_micro
    FROM adc a
    JOIN norms qn ON qn.vec_id = a.query_id
    JOIN pqn p ON p.vec_id = a.neighbor_id
)
SELECT query_id, neighbor_id, rank, adc_cos_micro
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_cos_micro DESC,
                                          neighbor_id) AS rank
    FROM scored
) t WHERE rank <= 5
"""


@register("ann_ivfpq_adc", oracle=_pq_sql("duckdb"))
def ann_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (Jégou et al. 2011 / FAISS IndexIVFPQ, sans residuals):
    corpus inverted into sqrt-K coarse cells (ann_ivf_cosine's adaptive
    rule), vectors compressed to m=8 per-subspace nearest-codeword codes,
    queries probe 2 cells and rank candidates by Asymmetric Distance
    Computation — the exact query subvectors dotted against the
    candidate's CODEWORDS via an 8x16 broadcast lookup table, never
    against raw corpus floats. The compressed-domain norm is the
    PQ-reconstructed norm (sum of chosen codewords' squared norms).

    Scale shape: candidate volume is bounded by the probed cells
    (nprobe/K of the corpus, the same bound ann_ivf_cosine carries), the
    per-pair cost drops from a 64-dim float dot to an 8-term integer-
    micro sum, and the per-vector storage drops ~16-32x — which is the
    entire point of PQ at 10^9 vectors. Codebook and lookup tables are
    broadcast-sized by construction (128 subvectors; nq x 128 lookups).

    Measured recall@5 vs the exact knn_topk_cosine ground truth
    (round 10): 0.641 at sf1, where near-duplicate structure exists for
    the coarse quantizer to exploit (ann_ivf_cosine scores 1.000 there —
    the 0.36 gap is pure 16-codeword quantization loss; production PQ
    uses 256 codewords/subspace trained by k-means, this catalog uses 16
    deterministic ones for oracle-checkability). On the isotropic-random
    sf0.1 vectors recall drops to 0.065 (ann_ivf 0.21): random
    high-dimensional data has NO cluster structure, so probing
    nprobe/K of the cells bounds recall near nprobe/K — a property of
    the test data violating IVF's clustered-corpus assumption, not of
    the construction. Real embedding corpora are the sf1 case.
    Every cross-row aggregation sums exact integer micros, so shuffle
    order cannot change a bit and the DuckDB twin is value-identical.
    Companions: ann_ivf_cosine (same cells, raw-float ranking — the
    recall reference), embedding_quantize_int8 (scalar quantization),
    quantization_recall_probe (the recall-vs-compression audit)."""
    # r12 tried forcing the widening exchange below the 2 MB gate (stage
    # profile showed 3 serialized single-task PQ stages at sf0.1): +0.63 s
    # median, worse in 6/6 alternating rounds — the exchange ships every
    # vector and costs more than the freed parallelism at gate-scale
    # (AB_r12_ivfpq_revert.json). Above the gate the rebalance fires anyway.
    emb = load_table(spark, sf_dir, "embeddings")
    rebalance_if_big(emb).createOrReplaceTempView("embeddings")
    # Size-gated materialization of the two windowed pipelines the
    # template references twice each (r12, guide §2.4): `assign` (n x
    # k-centroid cosine window — consumed by cells AND probes) and
    # `codes` (n x 128 codeword L2 window — consumed by adc AND pqn)
    # otherwise re-plan and re-run per reference; with the base scans
    # below them, embeddings was scanned 14 times in one plan. The gate
    # is the one plan-size break-even the rebalance above reads too, and
    # each side wins on its own scale (4 cores, 5 alternating pairs,
    # medians): at sf0.1 the eager checkpoints serialize two jobs ahead
    # of a query whose duplicated subtrees otherwise race across idle
    # cores (inline 2.53 s, checkpointed 3.06 s), while at sf1 the
    # deduped windows dominate (checkpointed 10.72 s, inline 12.79 s)
    # and the gap grows with n (the n x k window is the asymptotic
    # cost).
    if not above_size_gate(emb):
        return spark.sql(_pq_sql("spark"))
    assign = materialize(spark.sql(_pq_sql("spark", emit="assign")), eager=True)
    codes = materialize(spark.sql(_pq_sql("spark", emit="codes")), eager=True)
    return spark.sql(_pq_sql("spark", assign_src=assign, codes_src=codes))


# ---------------------------------------------------------------------------
# b-bit minwise hashing estimator audit

_BB_HASHES = 48  # 48 one-bit registers = 48 bits/doc of signature
_BB_FULL = 12    # the production full-width signature (dedup_minhash_lsh)


def _bbit_sql(dialect: str, shf_src: str | None = None) -> str:
    from ..functions.text import shingles_sql, words_sql

    idiv = _idiv(dialect)
    grams = shingles_sql(dialect, words_sql(dialect), _ME_N)
    ex = "explode" if dialect == "spark" else "unnest"
    if dialect == "spark":
        h1 = "cast(conv(substr(md5(g), 1, 15), 16, 10) AS bigint)"
        h2 = "cast(conv(substr(md5(g), 16, 13), 16, 10) AS bigint)"
    else:
        h1 = "cast(('0x' || substr(md5(g), 1, 15)) AS bigint)"
        h2 = "cast(('0x' || substr(md5(g), 16, 13)) AS bigint)"
    # Integer-hash pair join + aggregate-column minima, exactly the
    # minhash_estimate_error round-10 structure (see llmdata20's
    # hd_chain/_sigw_chain notes): strings never reach a shuffle, no
    # per-k join exists. The 2 GiB / 24-thread memory probe at sf1p8
    # killed the strings-and-rows form of both audits; this completes.
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
        # Fused audit tail (r12, same rewrite as minhash_estimate_error):
        # sizes become one more aggregate column of the signature
        # groupBy, and the pair table joins ONE doc-keyed table per side
        # instead of two. Value-identical arithmetic; the oracle keeps
        # the two-table shape.
        mins = ", ".join(
            f"min(h1 + {k} * h2) AS m{k}" for k in range(_BB_HASHES)
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
est AS (
    SELECT {jac} AS jac_micro,
           (cast({_match_sum(_BB_FULL, "{a} = {b}")} AS bigint)
            * 1000000) DIV {_BB_FULL} AS full_micro,
           greatest(
               cast(0 AS bigint),
               2 * ((cast({_match_sum(_BB_HASHES, "{a} % 2 = {b} % 2")}
                          AS bigint)
                     * 1000000) DIV {_BB_HASHES}) - 1000000
           ) AS bbit_micro
    FROM inter i
    JOIN sigagg a ON a.doc_id = i.doc_a
    JOIN sigagg b ON b.doc_id = i.doc_b
)"""
    else:
        tail = f"""{_sigw_chain(_BB_HASHES)},
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
-- both estimators over the SAME pairs and the SAME permutation family:
-- full = signature agreement over the first {_BB_FULL} 64-bit minima
-- (what dedup_minhash_lsh ships); bbit = lowest-bit collision rate over
-- all {_BB_HASHES} minima, debiased by R = 2P - 1 (Li-Konig, b=1:
-- the chance-collision floor C is 1/2 for a large hash universe)
est AS (
    SELECT e.doc_a, e.doc_b, e.jac_micro,
           (cast({_match_sum(_BB_FULL, "{a} = {b}")} AS bigint)
            * 1000000) {idiv} {_BB_FULL} AS full_micro,
           greatest(
               cast(0 AS bigint),
               2 * ((cast({_match_sum(_BB_HASHES, "{a} % 2 = {b} % 2")}
                          AS bigint)
                     * 1000000) {idiv} {_BB_HASHES}) - 1000000
           ) AS bbit_micro
    FROM exact e
    JOIN sigw a ON a.doc_id = e.doc_a
    JOIN sigw b ON b.doc_id = e.doc_b
)"""
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents),
{hd_chain}
{tail}
SELECT jac_micro {idiv} 250000 AS jac_band,
       cast(count(*) AS bigint) AS n_pairs,
       cast(sum(abs(bbit_micro - jac_micro)) AS bigint) {idiv} count(*)
           AS mean_err_bbit_micro,
       cast(sum(abs(full_micro - jac_micro)) AS bigint) {idiv} count(*)
           AS mean_err_full_micro,
       cast(max(abs(bbit_micro - jac_micro)) AS bigint) AS max_err_bbit_micro
FROM est
GROUP BY 1
ORDER BY jac_band
"""


@register("minhash_bbit_estimate", oracle=_bbit_sql("duckdb"))
def minhash_bbit_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing audit (Li & König 2010): keep only the
    LOWEST BIT of each of 48 minhash minima — 48 bits/doc instead of the
    768 bits the production 12x64-bit signatures cost — and estimate
    resemblance as R = 2P - 1 from the bit-collision rate P (b=1 large-
    universe debias). Measured against exact df-capped Jaccard on the
    same candidate pairs AND against the full 12-hash estimator, banded
    by true similarity, so the 16x-smaller signature store's error in
    the high-similarity bands (where dedup acts) is a committed table
    rather than a claim. Same Carter-Wegman construction, shingle width
    and df cap as minhash_estimate_error — one extra CASE set per pair,
    no new shuffle shape; the df-capped integer-hash table (strings
    already dropped) is materialized once Spark-side (four template
    consumers, the standing CTE-inlining lesson). Integer-micro
    arithmetic end-to-end.
    Companions: minhash_estimate_error (full-width audit),
    dedup_minhash_lsh (the index this would shrink),
    embedding_quantize_int8 / ann_ivfpq_adc (the same
    compression-vs-fidelity trade for vectors)."""
    from ..functions.text import shingles_sql, words_sql

    docs = maybe_rebalance(load_table(spark, sf_dir, "documents"))
    docs.createOrReplaceTempView("documents")
    grams = shingles_sql("spark", words_sql("spark"), _ME_N)
    h1 = "cast(conv(substr(md5(sh.g), 1, 15), 16, 10) AS bigint)"
    h2 = "cast(conv(substr(md5(sh.g), 16, 13), 16, 10) AS bigint)"
    # the raw shingle explode feeds both the df aggregation and the
    # kept-rows join side of the hd build — materialized once, like
    # llmdata20.minhash_estimate_error (r12: the two subtrees raced the
    # full explode pre-checkpoint)
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
    # eager localCheckpoint, not persist: the consumer's subtrees (sigw,
    # sizes, both pair-join sides) run as CONCURRENT stages and each
    # recomputed the explode+md5+conv pipeline under the racing cache
    # (r12 stage profile: 16.4 + 12.1 + 11.2 executor-seconds); the
    # checkpointed blocks are referenced structurally, so the pipeline
    # runs exactly once (see llmdata20.minhash_estimate_error).
    hd = materialize(hd, eager=True)
    return spark.sql(_bbit_sql("spark", shf_src=hd))
