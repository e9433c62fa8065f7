"""Training-data pipeline operators, batch 12 (round 7): fill-in-middle
split planning, multi-turn chat validation, data-constrained epoch
allocation, an exact-integer PCA power-iteration step, and perceptual
dHash near-dup detection for image columns.

Reference scope note: these extend the engine beyond the reference's ETL
surface, following public recipes — FIM transformation (Bavarian et al.
2022), data-constrained scaling / repeated-epoch value decay
(Muennighoff et al. 2023), power iteration (classic), and dHash
(the standard difference-hash image fingerprint) — re-expressed as
declarative Spark plans.

Dual-dialect SQL templates, no Python UDFs; every comparison-relevant
quantity is integer arithmetic (micros, bit counts, char offsets) so the
engines hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import HEX, words_sql
from ..operators.dedup import hamming_near_pairs
from ..sources.tables import load_table, materialize
from .registry import register


def _idiv(dialect: str) -> str:
    return "DIV" if dialect == "spark" else "//"


def _h32(dialect: str, expr: str) -> str:
    """First 8 md5 hex digits of ``expr`` as a non-negative bigint —
    the deterministic 'random' both engines agree on."""
    if dialect == "spark":
        return f"cast(conv(substr(md5({expr}), 1, 8), 16, 10) AS bigint)"
    return f"cast(('0x' || substr(md5({expr}), 1, 8)) AS bigint)"


def _s(dialect: str) -> str:
    return "string" if dialect == "spark" else "varchar"


# ---------------------------------------------------------------------------
# fill-in-middle split plan


_FIM_RATE_PCT = 50  # fraction of docs FIM-transformed (deterministic)


def _fim_sql(dialect: str) -> str:
    s = _s(dialect)
    h = _h32(dialect, f"concat(cast(doc_id AS {s}), ':fim')")
    ha = _h32(dialect, f"concat(cast(doc_id AS {s}), ':a')")
    hb = _h32(dialect, f"concat(cast(doc_id AS {s}), ':b')")
    return f"""
WITH base AS (
    SELECT doc_id, length(text) AS n,
           {h} AS hsel, {ha} AS hcut_a, {hb} AS hcut_b
    FROM documents
),
cuts AS (
    SELECT doc_id, n,
           hsel % 100 < {_FIM_RATE_PCT} AS fim_applied,
           -- PSM vs SPM document ordering, 50/50 among transformed docs
           CASE WHEN (hsel {_idiv(dialect)} 100) % 2 = 0
                THEN 'psm' ELSE 'spm' END AS mode,
           least(hcut_a % (n + 1), hcut_b % (n + 1)) AS cut_lo,
           greatest(hcut_a % (n + 1), hcut_b % (n + 1)) AS cut_hi
    FROM base
)
SELECT doc_id, fim_applied,
       CASE WHEN fim_applied THEN mode ELSE 'none' END AS mode,
       CASE WHEN fim_applied THEN cut_lo ELSE n END AS prefix_len,
       CASE WHEN fim_applied THEN cut_hi - cut_lo ELSE 0 END AS middle_len,
       CASE WHEN fim_applied THEN n - cut_hi ELSE 0 END AS suffix_len,
       n AS total_len
FROM cuts
"""


@register("fim_split_plan", oracle=_fim_sql("duckdb"))
def fim_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-middle transformation plan (the FIM recipe: split a doc
    into prefix/middle/suffix at two uniform cut points, reorder to PSM
    or SPM, train on the permuted sequence): per document, whether it is
    transformed (deterministic ~50% by id hash), the mode, and the three
    span lengths — always summing to the doc length, a probe test pins
    it. The plan is char-offset metadata the dataloader consumes
    (the causal-LM twin of span_corruption_plan's denoising plan);
    byte-slicing happens at load time. Row-local integer arithmetic,
    scan-bound, no shuffle — identical cost per row at any corpus
    size."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_fim_sql("spark"))


# ---------------------------------------------------------------------------
# multi-turn chat validation


_CHAT_BUDGET = 120  # token budget for truncation accounting


def _chat_sql(dialect: str) -> str:
    w = words_sql(dialect)
    nw = f"size({w})" if dialect == "spark" else f"len({w})"
    idiv = _idiv(dialect)
    return f"""
WITH turns AS (
    -- conversations synthesized from the corpus: 4 consecutive docs =
    -- one conversation, alternating roles; every 7th doc is dropped to
    -- plant realistic missing-turn / role-alternation violations
    SELECT doc_id {idiv} 4 AS conv_id,
           cast(doc_id % 4 AS int) AS turn_idx,
           CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           cast({nw} AS bigint) AS n_tokens
    FROM documents
    WHERE doc_id % 7 <> 0
),
seq AS (
    SELECT conv_id, turn_idx, role, n_tokens,
           lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS prev_role,
           sum(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens,
           row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS pos,
           count(*) OVER (PARTITION BY conv_id) AS n_turns_w,
           min(turn_idx) OVER (PARTITION BY conv_id) AS first_idx,
           max(turn_idx) OVER (PARTITION BY conv_id) AS last_idx
    FROM turns
)
SELECT conv_id,
       cast(max(n_turns_w) AS bigint) AS n_turns,
       cast(sum(n_tokens) AS bigint) AS total_tokens,
       -- validation flags: a trainable conversation starts with user,
       -- ends with assistant, and strictly alternates roles
       max(first_idx) % 2 = 0 AS starts_user,
       max(last_idx) % 2 = 1 AS ends_assistant,
       cast(sum(CASE WHEN prev_role IS NOT NULL AND prev_role = role
                     THEN 1 ELSE 0 END) AS bigint) AS n_role_repeats,
       -- truncation accounting at the packing budget: turns that fit
       cast(sum(CASE WHEN cum_tokens <= {_CHAT_BUDGET} THEN 1 ELSE 0 END)
            AS bigint) AS n_turns_in_budget
FROM seq
GROUP BY conv_id
"""


@register("chat_turn_validate", oracle=_chat_sql("duckdb"))
def chat_turn_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-turn conversation validation — the SFT-data QC pass run
    before chat fine-tuning: per conversation, turn count, token total,
    starts-with-user / ends-with-assistant / strict-alternation flags
    (violations planted by dropping every 7th turn), and how many turns
    fit the packing budget (prefix-truncation accounting). One
    conversation-keyed window pass + aggregation: shuffles once on
    conv_id exactly like any sessionization, state is O(1) per turn —
    the same shape at 4-turn toy scale and 1000-turn agent-trace
    scale."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_chat_sql("spark"))


# ---------------------------------------------------------------------------
# data-constrained epoch allocation (repeat planning)


_EPOCH_MAX = 4  # epochs considered per source (value decays 2^-k)
_BUDGET_NUM, _BUDGET_DEN = 2, 1  # budget = 2x total unique tokens


def _epoch_sql(dialect: str) -> str:
    w = words_sql(dialect)
    nw = f"size({w})" if dialect == "spark" else f"len({w})"
    seq = (
        f"explode(sequence(0, {_EPOCH_MAX - 1}))" if dialect == "spark"
        else f"unnest(range(0, {_EPOCH_MAX}))"
    )
    shr = (
        "shiftright(unique_tokens, cast(k AS int))" if dialect == "spark"
        else "(unique_tokens >> cast(k AS int))"
    )
    return f"""
WITH src AS (
    SELECT cast(doc_id % 5 AS int) AS source_id,
           cast(sum({nw}) AS bigint) AS unique_tokens
    FROM documents GROUP BY cast(doc_id % 5 AS int)
),
budget AS (
    SELECT cast((sum(unique_tokens) * {_BUDGET_NUM})
               {_idiv(dialect)} {_BUDGET_DEN} AS bigint) AS b
    FROM src
),
-- candidate (source, epoch k): cost = unique tokens, value = unique>>k
-- (the Muennighoff-style diminishing return of the k-th repeat, as an
-- exact power-of-two decay). Greedy-by-marginal-value = ordering by
-- (k asc, value desc): every source's k-th epoch has the same per-token
-- value 2^-k, so rounds allocate breadth-first.
cand AS (
    SELECT s.source_id, ks.k, s.unique_tokens,
           {shr} AS epoch_value
    FROM src s
    CROSS JOIN (SELECT {seq} AS k FROM (SELECT 1 AS one) t) ks
),
ordered AS (
    SELECT *,
           sum(unique_tokens) OVER (ORDER BY k, unique_tokens DESC,
                                    source_id
                                    ROWS UNBOUNDED PRECEDING) AS cum_cost
    FROM cand
)
SELECT o.source_id,
       cast(max(o.unique_tokens) AS bigint) AS unique_tokens,
       cast(sum(CASE WHEN o.cum_cost <= b.b THEN 1 ELSE 0 END) AS bigint)
           AS epochs,
       cast(sum(CASE WHEN o.cum_cost <= b.b THEN o.unique_tokens
                     ELSE 0 END) AS bigint) AS tokens_used,
       cast(sum(CASE WHEN o.cum_cost <= b.b THEN o.epoch_value
                     ELSE 0 END) AS bigint) AS effective_value
FROM ordered o CROSS JOIN budget b
GROUP BY o.source_id
"""


@register("epoch_repeat_plan", oracle=_epoch_sql("duckdb"))
def epoch_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation: when the token budget exceeds
    the unique corpus, how many EPOCHS of each source to train on —
    the repeat-planning companion to token_budget_allocator's sampling
    rates. The k-th repeat of a source is worth unique>>k (exact
    power-of-two decay, the diminishing-returns shape of repeated data),
    so greedy-by-marginal-value reduces to one cumulative-sum window
    over candidates ordered (k, size desc) against the budget — no
    driver loop, ~5 sources x 4 epochs of metadata. The corpus scan
    reduces to per-source token sums (mergeable partial aggs); the
    planning arithmetic is constant-size regardless of corpus scale."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_epoch_sql("spark"))


# ---------------------------------------------------------------------------
# PCA power-iteration step (exact integer accumulation)


def _pca_sql(dialect: str) -> str:
    s = _s(dialect)

    # deterministic Rademacher start vector: sign from md5(dim) parity.
    # The per-row dot product x·v0 is a LEFT-TO-RIGHT lambda fold in both
    # engines (aggregate / list_reduce), so its double is bit-identical —
    # a grouped SUM would not be (engine-chosen addition order).
    def sign(j: str) -> str:
        pos = "position" if dialect == "spark" else "strpos"
        args = (
            f"substr(md5(cast({j} AS {s})), 1, 1), '{HEX}'"
            if dialect == "spark"
            else f"'{HEX}', substr(md5(cast({j} AS {s})), 1, 1)"
        )
        return (
            f"(CASE WHEN ({pos}({args}) - 1) % 2 = 0 "
            f"THEN 1.0 ELSE -1.0 END)"
        )

    if dialect == "spark":
        to_d = "transform(embedding, x -> cast(x AS double))"
        dot_v0 = (
            "aggregate(zip_with(v, sequence(0, size(v) - 1), "
            f"(x, j) -> x * {sign('j')}), cast(0 AS double), "
            "(a, x) -> a + x)"
        )
        contrib = """
contrib AS (
    SELECT pe.j, cast(floor(pe.xj * d * 1000000) AS bigint) AS q
    FROM dotted LATERAL VIEW posexplode(v) pe AS j, xj
)"""
    else:
        to_d = "list_transform(embedding, x -> cast(x AS double))"
        dot_v0 = (
            "list_reduce(list_transform(list_zip(v, range(0, len(v))), "
            f"p -> p[1] * {sign('p[2]')}), (a, x) -> a + x)"
        )
        contrib = """
contrib AS (
    SELECT u.j, cast(floor(v[u.j + 1] * d * 1000000) AS bigint) AS q
    FROM dotted, LATERAL (SELECT unnest(range(0, len(v))) AS j) u
)"""
    return f"""
WITH rows_d AS (SELECT vec_id, {to_d} AS v FROM embeddings),
dotted AS (SELECT vec_id, v, {dot_v0} AS d FROM rows_d),
{contrib.strip()},
sums AS (
    SELECT j, cast(sum(q) AS bigint) AS s_micro FROM contrib GROUP BY j
),
norm AS (
    SELECT sqrt(sum(cast(s_micro AS double) * cast(s_micro AS double)))
        AS nrm
    FROM sums
)
SELECT cast(s.j AS int) AS dim, s.s_micro,
       round(s.s_micro / n.nrm, 6) AS component
FROM sums s CROSS JOIN norm n
"""


@register("embedding_pca_power", oracle=lambda: _pca_sql("duckdb"))
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact power-iteration step toward the corpus's top principal
    direction: v1 = Σ_i (x_i · v0) x_i with a deterministic Rademacher
    start v0 (sign from md5(dim) parity). Per-row contributions are
    FLOOR-QUANTIZED to integer micros before the cross-row sum, so the
    64 per-dimension accumulators are exact bigints — engine addition
    order (Spark partial aggs vs DuckDB's scan order) cannot change the
    result, which is what makes a distributed PCA step oracle-checkable
    at all. One scan, one 64-group aggregation (mergeable partials);
    at 100 TB this is the per-iteration cost of any distributed power/
    Lanczos method, and iterating just re-runs the same plan with v0 :=
    the returned component."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_pca_sql("spark"))


# ---------------------------------------------------------------------------
# perceptual dHash near-dup detection (image columns)


def _dhash_sql(dialect: str, sigs_only: bool = False) -> str:
    from .llmdata import PLANT_SENTINEL

    s = _s(dialect)
    idiv = _idiv(dialect)
    # fake decode: pixel (r, c) of the 8x9 grayscale downsample derives
    # from md5(content_hash:r:c) — deterministic in both engines. A real
    # deployment swaps ONLY this expression for a decoder UDF; everything
    # downstream (bit extraction, nibble assembly, blocked hamming join)
    # is the production path.
    if dialect == "spark":
        pix = (
            f"(position(substr(md5(concat(ch, ':', cast(r AS {s}), ':', "
            f"cast(c AS {s}))), 1, 1), '{HEX}') - 1)"
        )
        grid = ("LATERAL VIEW explode(sequence(0, 7)) rr AS r "
                "LATERAL VIEW explode(sequence(0, 8)) cc AS c")
        blk = "LATERAL VIEW explode(sequence(0, 3)) bb AS blk"
        assemble = (
            f"array_join(transform(array_sort(collect_list("
            f"struct(nib, nv))), x -> substr('{HEX}', "
            f"cast(x.nv AS int) + 1, 1)), '')"
        )
        ham = " + ".join(
            f"bit_count((position(substr(sig_a, {i + 1}, 1), '{HEX}') - 1)"
            f" ^ (position(substr(sig_b, {i + 1}, 1), '{HEX}') - 1))"
            for i in range(16)
        )
    else:
        pix = (
            f"(strpos('{HEX}', substr(md5(concat(ch, ':', "
            f"cast(r AS {s}), ':', cast(c AS {s}))), 1, 1)) - 1)"
        )
        grid = (", LATERAL (SELECT unnest(range(0, 8)) AS r) rr"
                ", LATERAL (SELECT unnest(range(0, 9)) AS c) cc")
        blk = ", LATERAL (SELECT unnest(range(0, 4)) AS blk) bb"
        assemble = f"string_agg(substr('{HEX}', nv + 1, 1), '' ORDER BY nib)"
        ham = " + ".join(
            f"bit_count(xor((strpos('{HEX}', substr(sig_a, {i + 1}, 1)) - 1)"
            f", (strpos('{HEX}', substr(sig_b, {i + 1}, 1)) - 1)))"
            for i in range(16)
        )
    chain = f"""
WITH imgs AS (
    -- the image corpus: every image-typed doc plus planted exact copies
    -- of each 10th (same bytes, new id) — the near-dup ground truth
    SELECT doc_id, md5(text) AS ch FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + {PLANT_SENTINEL}, md5(text) FROM documents
    WHERE doc_id % 3 = 0 AND doc_id % 10 = 0
),
pixels AS (
    SELECT doc_id, r, c, {pix} AS p
    FROM imgs {grid}
),
-- dHash bit (r, c): pixel brighter than its right neighbor; 8x8 bits
bits AS (
    SELECT a.doc_id, a.r * 8 + a.c AS pos,
           CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
    FROM pixels a
    JOIN pixels b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
    WHERE a.c < 8
),
nibbles AS (
    SELECT doc_id, pos {idiv} 4 AS nib,
           cast(sum(bit * (CASE pos % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                           WHEN 2 THEN 2 ELSE 1 END)) AS int) AS nv
    FROM bits GROUP BY doc_id, pos {idiv} 4
),
sigs AS (
    SELECT doc_id, {assemble} AS dhash
    FROM nibbles GROUP BY doc_id
)"""
    if sigs_only:
        return chain + "\nSELECT doc_id, dhash FROM sigs"
    return chain + f""",
blocked AS (
    SELECT doc_id, dhash, blk, substr(dhash, 1 + 4 * blk, 4) AS key
    FROM sigs {blk}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.dhash AS sig_a, b.dhash AS sig_b
    FROM blocked a
    JOIN blocked b ON b.blk = a.blk AND b.key = a.key
                  AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, cast({ham} AS int) AS hamming
FROM cand
WHERE {ham} <= 3
"""


@register("image_dhash_dedup", oracle=_dhash_sql("duckdb"))
def image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup detection for image columns: 64-bit dHash
    (each bit compares a downsampled pixel to its right neighbor, the
    standard difference-hash) → hamming-≤3 pairing via the pigeonhole
    block-PAIR equi-join (operators.dedup.hamming_near_pairs) — the
    image twin of dedup_simhash_pairs, completing the multimodal dedup
    story (exact bytes → multimodal_meta's content hash; perceptual →
    this). Round 11 retired the 4×16-bit single-block join: real image
    dHashes have correlated bits (flat regions → runs of equal
    comparisons), the same skew that gave SimHash data-dependent
    mega-buckets, and even uniform bits carry the 4·n²/2¹⁷ birthday
    floor — the ~26-bit block-pair keys cut that ~500× (measured on the
    simhash twin). Blocking is candidate generation only, so the DuckDB
    oracle keeps the single-block form: both enumerate exactly the
    hamming ≤ 3 pair set. The 8x9 grayscale downsample is a
    deterministic fake decode from the content hash (this runtime ships
    no codecs — operators/multimodal.py documents the seam); swapping
    in a real decoder changes ONE CTE, while the signature assembly and
    the blocked O(bucket) pair join — the parts that must survive 100 TB
    of images — are the production path, never an all-pairs scan."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    # the signature table feeds both sides of the block-pair equi-join;
    # lazy persist so the per-doc hashing pipeline runs once (same
    # measured rationale as dedup_simhash_pairs' sig persist)
    sigs = spark.table(materialize(
        spark.sql(_dhash_sql("spark", sigs_only=True))
        .withColumnRenamed("dhash", "simhash")
    ))
    return hamming_near_pairs(sigs, max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("int")
    )
