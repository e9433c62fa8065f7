"""Deduplication operators for large-scale document corpora.

Exact (hash-groupBy), n-gram Jaccard (shingle-join), MinHash+LSH
(signature → band buckets → candidate pairs → verify), SimHash.

Everything is built-in column expressions + joins — no Python UDFs, no
cross joins. Scale design:
- exact dedup is a single hash-partitioned window (map-side partial agg);
- Jaccard never enumerates O(n²) pairs: only docs sharing a shingle meet,
  via an equi-join on the shingle string;
- MinHash/LSH bounds candidate generation to band-bucket collisions,
  the standard 100 TB-corpus recipe (signatures are ~100 bytes/doc);
- SimHash is one explode + two aggregations, all shuffles on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import HEX, words_sql


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc content hash, canonical (minimum) id per hash group, dup flag."""
    hashed = docs.withColumn("text_hash", F.md5(F.col(text_col)))
    w = Window.partitionBy("text_hash")
    return (
        hashed.withColumn("canonical_doc_id", F.min(id_col).over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_doc_id"))
        .select(id_col, "text_hash", "canonical_doc_id", "is_dup")
    )


def shingle_rows(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) rows, distinct within doc.

    The words array is materialized in its own projection BELOW the Generate
    node, so split() runs once per row and the gram lambda only does
    element_at lookups (if the split were inlined into the lambda, codegen
    would re-evaluate it per gram — measured 5x slower). Distinctness is
    per-doc ``array_distinct``, which needs NO shuffle — unlike a global
    .distinct() — because shingle sets are per-document by construction.
    Measured 2.3x faster than the posexplode + lead-window form at sf0.1.
    """
    w = docs.select(F.col(id_col), F.expr(words_sql("spark", text_col)).alias("w"))
    gram = ", ".join(f"element_at(w, i + {j + 1})" for j in range(n))
    return w.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"array_distinct(CASE WHEN size(w) >= {n} THEN "
                f"transform(sequence(0, size(w) - {n}), i -> concat_ws(' ', {gram})) "
                f"ELSE array() END)"
            )
        ).alias("shingle"),
    )


def jaccard_pairs(
    sh: DataFrame,
    min_jaccard: float,
    id_col: str = "doc_id",
    df_cap_denom: int | None = None,
    df_cap_abs: int | None = None,
) -> DataFrame:
    """All-pairs Jaccard ≥ threshold via shingle equi-join (no cross join).

    ``df_cap_denom`` caps shingle document frequency before the self-join:
    shingles appearing in more than ``n_docs / df_cap_denom`` documents are
    dropped from BOTH the pair join and the per-doc set sizes (stop-gram-
    filtered Jaccard). Without the cap, one boilerplate shingle shared by k
    docs contributes k² join rows — a job-killer at crawl scale (VERDICT r5
    #2); with it, no bucket exceeds (n_docs/denom)² and the pair work stays
    bounded. The hot set is tiny by construction (few shingles can exceed
    the cap), so it is removed with a broadcast anti-join — no shuffle is
    added to the hot path. ``None`` keeps exact uncapped semantics for
    bounded audit corpora (dedup_lsh_recall's ground truth).

    ``df_cap_abs`` additionally drops shingles above an ABSOLUTE document
    frequency. The relative cap alone leaves pair work superlinear when
    shingle df grows with the corpus (any shingle sitting at a fixed
    df/n fraction under 1/denom contributes O(n²) pairs — the round-8
    scaling curve measured 113× pair-row growth over a 10× step on the
    saturated-vocabulary test corpus). An absolute cap bounds every
    bucket at df_cap_abs² pairs, making total pair work linear in the
    shingle count — the BFF/WIMBD-style guard a crawl-scale run should
    set (e.g. 256); it is OFF by default because it changes the filtered-
    Jaccard semantics. Do NOT assume open-vocabulary token statistics
    make it unnecessary: head-of-Zipf trigrams DO grow their df with
    the corpus, and the round-11 full-decade step (ov1 50k docs →
    ovd10 500k) measured the relative-cap-only join at 3 s → >35 min
    (alpha > 2.8) before dedup_ngram_jaccard adopted both caps.
    """
    if df_cap_denom is not None or df_cap_abs is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        cond = F.lit(False)
        if df_cap_denom is not None:
            # the corpus count (an extra full pass) is only needed for the
            # relative cap; an absolute-cap-only run skips it entirely
            corpus = sh.agg(
                F.count_distinct(F.col(id_col)).alias("n_corpus")
            )
            dfreq = dfreq.join(F.broadcast(corpus))
            cond = cond | (F.col("df") * df_cap_denom > F.col("n_corpus"))
        if df_cap_abs is not None:
            cond = cond | (F.col("df") > df_cap_abs)
        hot = dfreq.filter(cond).select("shingle")
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            # raw double, not round(): both engines derive the identical
            # IEEE quotient, but SQL round() tie-breaks half-way values
            # differently (see plans/llmdata.py note); the harness rounds
            # uniformly on compare.
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_bands(
    sh: DataFrame,
    num_hashes: int = 12,
    band_size: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, band, band_sig): Carter-Wegman min-hash per permutation,
    grouped into bands of ``band_size`` and re-hashed to a band signature.

    The shingle is digested ONCE (md5 → two bigints h1, h2); permutation
    ``s`` is the pairwise-independent family h1 + s·h2 evaluated as 64-bit
    arithmetic — the standard Broder construction. Versus hashing the
    shingle once per seed, the per-shingle cost drops from num_hashes
    digests to one digest + num_hashes adds, which at corpus scale is the
    difference between hours and minutes of CPU. Bounds: h1 < 2^60
    (15 hex digits), h2 < 2^52 (13 hex digits), so h1 + 11·h2 < 2^61 —
    no 64-bit overflow in either engine (ANSI-safe).

    All ``num_hashes`` permutations are min-aggregated as separate columns
    of ONE groupBy(doc_id) — map-side partial aggregation shrinks each
    partition to one signature row per doc before the only shuffle. (The
    naive explode-by-seed form shuffles num_hashes× the shingle volume and
    needs a second aggregation; measured ~2× slower at sf0.1 and far worse
    at scale.)
    """
    digested = sh.withColumn("__h", F.md5("shingle")).withColumns(
        {
            "__h1": F.expr("cast(conv(substr(__h, 1, 15), 16, 10) AS bigint)"),
            "__h2": F.expr("cast(conv(substr(__h, 16, 13), 16, 10) AS bigint)"),
        }
    )
    mins = [
        F.min(F.col("__h1") + F.lit(s) * F.col("__h2")).alias(f"mh{s}")
        for s in range(num_hashes)
    ]
    sig = digested.groupBy(id_col).agg(*mins)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                )
            ).alias("band_sig"),
        )
        for b in range(num_hashes // band_size)
    ]
    return sig.select(
        id_col, F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "b.band", "b.band_sig")


def lsh_candidate_pairs(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding in at least one band."""
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "band_sig")
    b = bands.select(F.col(id_col).alias("doc_b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def verify_jaccard(cand: DataFrame, sh: DataFrame, min_jaccard: float, id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard for candidate pairs only (the LSH 'verify' stage).

    Shape: fold each doc's (already per-doc-distinct) shingles into ONE
    array row, join the two arrays onto the pair table by doc id, and
    count the overlap with ``array_intersect`` inside codegen. The
    join-the-shingle-rows form (cand ⋈ sh on doc_a ⋈ sh on (doc_b,
    shingle) → groupBy pair) materializes |pairs| x |shingles/doc| rows
    through two shuffles plus a wide aggregation — at sf1 that is ~100M
    intermediate rows and was 52s of a 68s pipeline; the array form
    shuffles |docs| array rows + |pairs| rows and measured 8x faster,
    and its advantage grows with corpus size. A doc's shingle set is
    bounded by document length, so the array rows stay executor-safe at
    any corpus scale."""
    docsets = sh.groupBy(id_col).agg(
        F.collect_list("shingle").alias("shs"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    da = docsets.select(
        F.col(id_col).alias("doc_a"), F.col("shs").alias("sa"),
        F.col("n_sh").alias("na"),
    )
    db = docsets.select(
        F.col(id_col).alias("doc_b"), F.col("shs").alias("sb"),
        F.col("n_sh").alias("nb"),
    )
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("common", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            # raw double, not round(): both engines derive the identical
            # IEEE quotient, but SQL round() tie-breaks half-way values
            # differently (see plans/llmdata.py note); the harness rounds
            # uniformly on compare.
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def drop_hot_shingles(sh: DataFrame, df_cap_abs: int) -> DataFrame:
    """Remove shingles above an ABSOLUTE document frequency before
    signature generation — the BFF/WIMBD-style stop-gram bound applied
    at the MinHash input.

    Why this exists (round-9 restart, measured on the open-vocabulary
    scaling corpus): any shingle whose df grows with the corpus —
    boilerplate phrases, license headers, saturated head n-grams —
    eventually supplies ALL the minhashes of some band for every doc
    that carries it, so those docs collide into ONE bucket whose size
    grows ∝ n and whose candidate pairs grow ∝ n². Measured at ov1 →
    ov1.8 (realistic Zipf token statistics, 10 boilerplate phrases at
    df ≈ n/10): candidate pairs 30.1M → 98.7M over a 1.8× step (pure
    n²; 99.2%% of pairs from buckets > 100 docs; verify yield 4839
    pairs — 0.016%% precision), wall α = 1.553. With the cap the same
    corpora produce 252k → 495k candidates (120× fewer, ~linear) and
    the mega-buckets vanish (max bucket 3814 → 186). An absolute cap is
    chosen over a relative df/n one because it subsumes it
    asymptotically — any df ∝ n type crosses a fixed bound — without
    the extra corpus-count pass and 1-row broadcast join. The hot set
    is tiny by construction (few types can exceed the cap), so it is
    removed with a broadcast anti-join — no shuffle added.

    The resulting semantics are stop-gram-filtered Jaccard, the same
    discipline as ``jaccard_pairs(df_cap_denom=...)``: signatures AND
    verification should both read the filtered shingle table. A pair of
    exact duplicates still shares every surviving shingle (J = 1), and
    near-dup similarity is measured on content, not boilerplate — which
    is what a crawl-scale dedup wants. On the driver gate corpora
    (sf0.001/0.01/0.1) NO shingle type reaches df 256, so the filter is
    a measured no-op there and gate results are unchanged.
    """
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap_abs)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(doc_id, component) for every node of the near-dup pair graph —
    component = smallest doc_id reachable. This is the cluster step of
    corpus dedup: after pair generation (MinHash/SimHash/embedding), every
    cluster keeps one canonical doc and drops the rest.

    Min-label propagation: each round every node takes the min of its own
    and its neighbors' labels; converges in graph-diameter rounds (near-dup
    clusters are shallow — a handful of rounds). The loop is
    driver-coordinated like any Spark iterative algorithm, but all data
    work is distributed joins/aggregations; each round is one shuffle on
    the edge key. At extreme scale the same loop upgrades to the
    large-star/small-star algorithm (Kiveris et al.) without changing the
    contract.
    """
    edges = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .unionByName(pairs.select(F.col(b_col).alias("a"), F.col(a_col).alias("b")))
        .distinct()
        .persist()
    )
    # localCheckpoint (not persist) so per-round lineage is truncated —
    # iterative plans otherwise grow until the JVM stack-overflows.
    labels = edges.select(F.col("a").alias("doc_id")).distinct().withColumn(
        "component", F.col("doc_id")
    ).localCheckpoint(eager=True)
    try:
        for _ in range(max_iter):
            nbr = (
                edges.join(labels, edges.b == labels.doc_id)
                .groupBy("a")
                .agg(F.min("component").alias("nbr_min"))
            )
            new_labels = (
                labels.join(nbr, labels.doc_id == nbr.a, "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                    ).alias("component"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
        else:
            # Partial labels would silently split clusters — fail loudly.
            raise RuntimeError(
                f"connected_components did not converge within {max_iter} "
                f"rounds (graph diameter too large); raise max_iter or use "
                f"connected_components_star"
            )
        return labels.select("doc_id", "component")
    finally:
        edges.unpersist()


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, component) via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    Same contract as ``connected_components`` but converges in O(log² n)
    rounds regardless of graph DIAMETER — the upgrade path the min-label
    docstring promises for deep chain-shaped clusters, where min-label
    needs diameter rounds. Each round is two grouped min-joins over the
    edge set (shuffles on the edge key only); the fixpoint is a forest of
    stars centered at each component's minimum node, from which labels
    read off directly.

    - large-star: every neighbor v > u re-links to min(Γ(u) ∪ {u})
    - small-star: orient edges (u = max, v = min); u and all its smaller
      neighbors link to the smallest of them
    Both preserve connectivity; edges monotonically contract onto centers.

    Each round the edge set is ``localCheckpoint``-ed: iterative plans
    otherwise accumulate lineage (plan depth grows per round and the JVM
    eventually stack-overflows just printing the tree); checkpointing
    truncates the plan so every round starts from materialized blocks.
    """
    edges0 = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # orient (a = max, b = min) so round outputs are comparable as sets
    edges = edges0.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).distinct().localCheckpoint(eager=True)
    # derive nodes from the CHECKPOINTED edges (same node set: orientation
    # keeps both endpoints) — deriving from edges0 would re-run the whole
    # upstream pair pipeline (e.g. the MinHash-LSH candidate join) a
    # second time when nodes is first evaluated (round-9 A/B: the second
    # LSH pass was ~40% of dedup_components' wall on the open-vocab corpus)
    nodes = (
        edges.select(F.col("a").alias("doc_id"))
        .union(edges.select("b"))
        .distinct()
        .persist()
    )
    try:
        for _ in range(max_iter):
            sym = edges.union(
                edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            lmin = sym.groupBy("a").agg(F.min("b").alias("mn")).select(
                "a", F.least("a", "mn").alias("m")
            )
            large = (
                sym.join(lmin, "a")
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct()
            )
            oriented = large.select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            smin = oriented.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                oriented.join(smin, "u")
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .union(smin.select(F.col("u").alias("a"), F.col("m").alias("b")))
                .filter(F.col("a") != F.col("b"))
                .distinct()
                .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            changed = (
                small.subtract(edges).union(edges.subtract(small)).limit(1).count()
            )
            edges.unpersist()
            edges = small
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components_star did not converge within {max_iter} rounds"
            )
        return (
            edges.select(F.col("a").alias("doc_id"), F.col("b").alias("component"))
            .union(nodes.select("doc_id", F.col("doc_id").alias("component")))
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
        )
    finally:
        nodes.unpersist()


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit idf-weighted SimHash over the token multiset, as 16-hex.

    bit_i(md5(token)) contributes ±(count × weight) to position i; the
    sign of each positional sum is the signature bit. The weight is an
    INTEGER idf class — min(7, floor(log2(n_docs / df)) + 1) — so
    ubiquitous tokens barely move the majority vote. Unweighted simhash
    measured quadratic on realistic token statistics (round-9 restart,
    ov 1.8× step): the Zipf-head tokens appearing in most documents
    dominate every equal-weight vote, whole sources collide into the
    same 16-bit pigeonhole blocks (max block bucket 3611 ∝ n), and the
    block join produces n² candidates (35.1M → 113.9M over a 1.8× step).
    Weighted, the max bucket is 8 and candidates sit at the 16-bit
    birthday floor (the ~n²/2¹⁷ random-collision term every fixed-width
    blocking carries; see hamming_near_pairs for the scale disposition).
    This is the production construction — Manku et al.'s near-duplicate
    simhash weights features by idf for exactly this reason.

    Scale/portability notes: only tokens with df > n/64 can have weight
    < 7, so the weight table is bounded by 64 × tokens-per-doc entries
    and is BROADCAST — no token-keyed shuffle of the big table exists
    (a hot token's rows stay distributed; the weighting is a map-side
    lookup with default 7). All arithmetic is integer (order-independent
    sums — float idf would make the sign of a near-zero positional sum
    depend on reduction order and break cross-engine equality). The 64
    positional sums are 64 aggregate columns of ONE groupBy(doc) — the
    earlier positions-explode form shuffled 64× more rows and tipped
    into spill above sf1 (measured α=1.256 from pure execution effects).
    """
    toks = docs.select(
        id_col, F.explode(F.expr(words_sql("spark", text_col))).alias("tok")
    ).groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    n_docs = docs.count()
    hot_w = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") * 64 > F.lit(n_docs))
        .withColumn(
            "w",
            F.expr(
                f"CASE WHEN {n_docs} DIV df >= 32 THEN 6 "
                f"WHEN {n_docs} DIV df >= 16 THEN 5 "
                f"WHEN {n_docs} DIV df >= 8 THEN 4 "
                f"WHEN {n_docs} DIV df >= 4 THEN 3 "
                f"WHEN {n_docs} DIV df >= 2 THEN 2 ELSE 1 END"
            ),
        )
        .select("tok", "w")
    )
    tw = (
        toks.join(F.broadcast(hot_w), "tok", "left")
        .withColumn("cw", F.col("cnt") * F.coalesce(F.col("w"), F.lit(7)))
        .withColumn("th", F.md5(F.col("tok")))
    )
    nibs = tw.select(
        id_col,
        "cw",
        *[
            F.expr(f"(position(substr(th, {j + 1}, 1), '{HEX}') - 1)").alias(
                f"nb{j}"
            )
            for j in range(16)
        ],
    )
    sums = nibs.groupBy(id_col).agg(
        *[
            F.sum(
                F.expr(f"cw * (2 * ((nb{i // 4} DIV {8 >> (i % 4)}) % 2) - 1)")
            ).alias(f"s{i}")
            for i in range(64)
        ]
    )
    hex_chars = [
        "substr('%s', CAST(%s AS INT) + 1, 1)"
        % (
            HEX,
            " + ".join(
                f"(CASE WHEN s{4 * j + k} > 0 THEN {8 >> k} ELSE 0 END)"
                for k in range(4)
            ),
        )
        for j in range(16)
    ]
    return sums.select(
        id_col, F.expr("concat(" + ", ".join(hex_chars) + ")").alias("simhash")
    )


def hamming_near_pairs(sigs: DataFrame, max_hamming: int, id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on block PAIRS.

    Pigeonhole, one block wider than the classic construction: distance
    ≤ k flips bits in at most k of k+2 blocks, so every qualifying pair
    agrees EXACTLY on at least one of the C(k+2, 2) block pairs —
    candidates come from equi-joins on compound ~2·64/(k+2)-bit keys
    (k=3: 10 probes on 25–26-bit keys). The classic k+1-single-block
    form joins on 16-bit keys, whose random-collision (birthday) term
    is 4·n²/2¹⁷ — measured as the dominant candidate source once the
    idf weighting removed the data-dependent mega-buckets (147k of the
    152k candidates at ov1 were 16-bit coincidences). Widening the key
    to ~26 bits cuts that floor ~500× (10·n²/2²⁷); at n ≥ 10⁹ widen
    again (k+3 blocks, C(k+3,3) triple probes — Manku et al.'s table
    construction generalizes). Candidate completeness is blocking-
    independent, so the DuckDB oracle keeps its 4×16 single-block form:
    both engines enumerate exactly the hamming ≤ k pair set.
    """
    nb = max_hamming + 2
    widths = [64 // nb + (1 if i < 64 % nb else 0) for i in range(nb)]
    starts = [1 + sum(widths[:i]) for i in range(nb)]
    bin64 = "concat(" + ", ".join(
        f"lpad(bin(position(substr(simhash, {j + 1}, 1), '{HEX}') - 1), 4, '0')"
        for j in range(16)
    ) + ")"
    combos = [(i, j) for i in range(nb) for j in range(i + 1, nb)]
    blocked = sigs.withColumn("b64", F.expr(bin64)).select(
        id_col,
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(ci).alias("blk"),
                    F.expr(
                        f"concat(substr(b64, {starts[i]}, {widths[i]}), "
                        f"substr(b64, {starts[j]}, {widths[j]}))"
                    ).alias("key"),
                )
                for ci, (i, j) in enumerate(combos)
            ])
        ).alias("b"),
    ).select(id_col, "simhash", "b.blk", "b.key")
    a = blocked.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "blk", "key")
    b = blocked.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "blk", "key")
    nib_dist = " + ".join(
        f"bit_count((position(substr(sig_a, {i + 1}, 1), '{HEX}') - 1) ^ "
        f"(position(substr(sig_b, {i + 1}, 1), '{HEX}') - 1))"
        for i in range(16)
    )
    return (
        a.join(b, ["blk", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
        .withColumn("hamming", F.expr(nib_dist))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
