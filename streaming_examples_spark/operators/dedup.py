"""Document deduplication operators for training-data pipelines.

Five strategies over the ``documents`` table, each with a distinct
scale/recall profile:

  * ``exact_dedup``            — byte-identical text (hash groupBy)
  * ``normalized_dedup``       — canonical signature (sorted distinct
                                 words): catches reordered/whitespace
                                 variants
  * ``minhash_lsh_pairs``      — MinHash+LSH banding → candidate
                                 buckets → exact-Jaccard verify; THE
                                 scale path (equi-join on band keys,
                                 never a cross product)
  * ``simhash64``              — 64-bit SimHash per doc + near-dup
                                 pairs by Hamming distance (banded)
  * ``embedding_near_dup``     — cosine ≥ τ pairs over embeddings,
                                 blocked to keep the pair space bounded

Scale notes: every strategy is shuffle-on-key; none materializes the
n² pair space. MinHash bucket-join candidate volume is governed by
the banding layout (functions/hashing.py); skewed buckets (a viral
boilerplate shingle) are exactly what AQE skew-join splitting handles.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, functions as F

from streaming_examples_spark.functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    jaccard,
    shingle_base_hashes,
    word_shingles,
)
from streaming_examples_spark.functions.vectors import as_double, cosine


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one surviving id per distinct text. Group on a
    256-bit digest, not the text itself — at 100 TB the shuffle moves
    32-byte keys instead of documents."""
    return (
        docs.groupBy(F.sha2(F.col(text_col), 256).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select("keep_id", "n_docs")
    )


def normalized_signature(text: Column) -> Column:
    """Canonical text signature: sorted distinct lowercase tokens."""
    return F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower(text), " "))), " "
    )


def normalized_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Dedup after normalization — catches token-reordered copies."""
    return (
        docs.groupBy(F.sha2(normalized_signature(F.col(text_col)), 256).alias("sig"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .select("keep_id", "n_docs")
    )


def _cap_buckets(frame: DataFrame, key_cols: list[str], cap: int | None) -> DataFrame:
    """Viral-bucket guard shared by the LSH family: drop candidate
    buckets holding more than ``cap`` members before the self-join (a
    bucket of n contributes n²/2 pairs; boilerplate keys explode the
    join at corpus scale). One count-agg on the key shuffle the join
    performs anyway + a semi-join — O(buckets) extra state, never
    O(pairs). ``None`` disables (the small-SF / oracle default)."""
    if cap is None:
        return frame
    sane = (
        frame.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= cap)
        .select(*key_cols)
    )
    return frame.join(sane, key_cols, "left_semi")


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact verification.

    shingle → per-band minhash signature → bucket equi-join on
    (band_idx, band_key) → distinct candidate pairs → exact Jaccard
    filter ≥ threshold. Returns (d1, d2, jaccard) with d1 < d2.

    Deterministic (md5-based minhashes): the DuckDB oracle runs the
    identical algorithm and must match bit-for-bit.

    ``max_bucket_size`` is the viral-bucket guard for web-scale runs: a
    boilerplate band key shared by n docs contributes n²/2 candidate
    pairs (one 100k-doc template bucket → 5 × 10⁹ pairs), so production
    MinHash dedup caps the bucket size and skips buckets above it —
    the docs still pair through their OTHER (more selective) bands, so
    recall degrades gracefully instead of the join exploding. None (the
    default, used by the driver-checked catalog entry at test SF)
    disables the cap; at 100 TB set **256** — measured, not guessed:
    legitimate-cluster recall is exactly 1.0 at cap 256 across
    1×/10×/50× corpora while the planted viral template's quadratic
    pair term (1.09 M pairs at 2k copies, growing n²) is suppressed
    99 % (SCALE_NOTES.md, "Dedup/curation capstones": the
    recall-vs-cap curve).
    Skipped-bucket volume is observable via the band-count aggregate
    this adds.
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    ).filter(F.size("sh") > 0)
    # the shingle frame feeds three branches (bucketing + both sides of
    # the verify join); localCheckpoint so tokenization runs once. Not
    # persist: (a) two of the consumers are a self-join, and persist's
    # canonicalized-plan cache lookup is fragile under self-join
    # attribute rewrites (the CC edges lesson, measured 62 s of silent
    # recompute there); (b) checkpoint blocks free when this frame is
    # GC'd, so repeated operator calls cannot accumulate CacheManager
    # entries forever (persist here had no unpersist path). On a real
    # cluster this is checkpoint() to durable storage.
    sh = sh.localCheckpoint(eager=True)
    # base hashes computed once per doc; the Generate (explode) below
    # is an optimizer barrier, so per-band expressions reference the
    # materialized `hs` attribute instead of re-inlining the md5 pass
    # (CollapseProject would otherwise duplicate it per permutation —
    # measured 15× slower)
    hashed = sh.select("doc_id", shingle_base_hashes(F.col("sh")).alias("hs"))
    exploded = hashed.select(
        "doc_id", "hs", F.explode(F.array(*[F.lit(b) for b in range(bands)])).alias("band_idx")
    )
    from streaming_examples_spark.functions.hashing import MERSENNE_P, perm_constants

    a_arr = F.array(*[F.lit(perm_constants(i)[0]) for i in range(bands * rows)])
    b_arr = F.array(*[F.lit(perm_constants(i)[1]) for i in range(bands * rows)])

    def perm_min(r: int):
        idx = F.col("band_idx") * rows + F.lit(r) + 1  # element_at is 1-based
        a, b = F.element_at(a_arr, idx), F.element_at(b_arr, idx)
        return F.array_min(
            F.transform(F.col("hs"), lambda h: (a * h + b) % F.lit(MERSENNE_P))
        )

    buckets = exploded.select(
        "doc_id",
        "band_idx",
        F.concat_ws("|", *[perm_min(r) for r in range(rows)]).alias("band_key"),
    # localCheckpoint so the band self-join below reads the stored
    # signatures instead of computing the bands×rows minhash
    # permutations once PER SIDE — self-joins evaluate each side's
    # lineage independently, and at 250k docs the second signature pass
    # was ~half the pair-gen wall. Blocks free on GC (no unpersist-path
    # leak across calls, unlike persist).
    ).localCheckpoint(eager=True)
    buckets = _cap_buckets(buckets, ["band_idx", "band_key"], max_bucket_size)
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sh1 = sh.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    sh2 = sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    return (
        cand.join(sh1, "d1")
        .join(sh2, "d2")
        .withColumn("jaccard", F.round(jaccard(F.col("sh1"), F.col("sh2")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    *,
    id_cols: tuple[str, str] = ("d1", "d2"),
    max_iters: int = 25,
    stats_out: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected pair list via min-label
    propagation: every node converges to the minimum doc id reachable
    from it. Returns ``(doc_id, component)``.

    Each iteration is one shuffle join + map-side-combinable min-agg;
    lineage is truncated per iteration (``localCheckpoint`` — on a real
    cluster, ``checkpoint`` to durable storage) so the plan stays flat.
    Iteration count is the graph diameter; duplicate clusters are
    near-cliques, so 2-4 rounds in practice. The convergence probe is a
    single scalar aggregate (labels only ever decrease, so an unchanged
    sum is a fixpoint) — no per-row collect. For graphs with long-chain
    / giant components use :func:`connected_components_star` (same join
    primitives, alternating large-star/small-star edge rewrites,
    O(log n) rounds regardless of diameter).
    """
    a, b = id_cols
    edges_raw = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        # EVERY iteration joins against edges, and round 1's join is a
        # SELF-join (labels derives from edges). localCheckpoint, not
        # persist: self-join disambiguation rewrites attribute ids and
        # misses the cache, so a persist here re-ran the whole upstream
        # pair pipeline (MinHash banding over the corpus) once per
        # consumer — measured 62s vs 0.2s for round 1 at 100k docs.
        # On a real cluster this is checkpoint() to durable storage.
        .localCheckpoint(eager=True)
    )
    n_edges = edges_raw.count()  # cheap post-checkpoint; sizes the loop
    # adaptive parallelism for the iteration frames: the label frame is
    # O(nodes) ≤ O(edges); spreading a few hundred edges over 32+
    # shuffle partitions makes each round's fixed job overhead dominate.
    # ~50k edges per partition keeps partitions comfortably in memory
    # at any scale while collapsing small graphs to a handful of tasks.
    spark = pairs.sparkSession
    max_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    nparts = max(1, min(max_parts, n_edges // 50_000 + 1))
    edges = edges_raw.repartition(nparts, "src").localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    if stats_out is not None:
        stats_out.update(n_edges=n_edges, n_partitions=nparts, round_wall_s=[])
    prev_sum: object = object()
    iters = 0
    converged = False
    for _ in range(max_iters):
        t0 = time.time()
        nbr_min = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("nbr_node"))
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["nbr_node"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        # labels only ever decrease, so an unchanged sum IS a fixpoint
        label_sum = labels.agg(F.sum("label")).collect()[0][0]
        iters += 1
        if stats_out is not None:
            stats_out["round_wall_s"].append(round(time.time() - t0, 3))
        if label_sum == prev_sum:
            converged = True
            break
        prev_sum = label_sum
    if not converged:
        # never mask non-convergence: with rounds = graph diameter, a
        # component wider than max_iters returns labels that have not
        # finished propagating — the caller must raise max_iters or
        # switch to connected_components_star (O(log n) rounds)
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint within {max_iters} "
            "iterations (graph diameter exceeds the round budget); "
            "labels may split true components — raise max_iters or use "
            "cc_algorithm='star'",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats_out is not None:
        stats_out.update(iterations=iters, converged=converged)
    # edges is a checkpointed RDD; its blocks free when the ref is GC'd
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def connected_components_star(
    pairs: DataFrame,
    *,
    id_cols: tuple[str, str] = ("d1", "d2"),
    max_iters: int = 25,
    stats_out: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star edge
    rewrites (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the giant-component scale path the min-label variant's
    docstring points at.

    Min-label propagation (:func:`connected_components`) needs O(graph
    diameter) rounds: fine for near-clique duplicate clusters (diameter
    2-4), pathological for chain-shaped graphs (diameter n — e.g. a
    boilerplate template drifting one revision at a time, each revision
    near-dup ONLY to its neighbors). Star contraction halves long paths
    every other round → O(log n) rounds regardless of shape.

    Per round, same primitives as the label variant (one
    map-side-combinable min-agg + one equi-join, lineage truncated per
    round):

      large-star: every neighbor v > u re-points to m = min(Γ(u) ∪ u)
      small-star: every neighbor v ≤ u re-points to m  (u too)

    Fixpoint = edge multiset stable under both rewrites (checked with a
    scalar checksum, no collect of the edges). Returns (doc_id,
    component) with component = min doc id, identical to the label
    variant (pytest asserts equivalence on random + chain graphs).
    """
    a, b = id_cols
    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _rewrite(e: DataFrame, large: bool) -> DataFrame:
        sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        joined = sym.join(m, "u")
        kept = joined.filter(F.col("v") > F.col("u")) if large else joined.filter(
            F.col("v") <= F.col("u")
        )
        out = kept.select(F.col("v").alias("u"), F.col("m").alias("v"))
        if not large:
            # small-star also re-points u itself to m
            out = out.union(m.select(F.col("u"), F.col("m").alias("v")))
        return out.filter(F.col("u") != F.col("v")).distinct()

    if stats_out is not None:
        stats_out.update(round_wall_s=[])
    prev_sig: object = object()
    converged = False
    iters = 0
    for _ in range(max_iters):
        t0 = time.time()
        edges = _rewrite(edges, large=True)
        edges = _rewrite(edges, large=False).localCheckpoint(eager=True)
        # scalar fixpoint probe: (count, bit_xor over xxhash64(u, v)) —
        # an order-insensitive digest of the edge set (edges are
        # distinct, so xor never self-cancels; sum would overflow
        # ANSI-mode longs). A plain (count, sum(u), sum(v)) tuple can
        # collide on two DIFFERENT edge sets (swap mass between edges
        # keeping both column sums), silently ending the loop
        # unconverged; a 64-bit hash per edge makes that a ~2^-64 event.
        sig = tuple(
            edges.agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))
            ).collect()[0]
        )
        iters += 1
        if stats_out is not None:
            stats_out["round_wall_s"].append(round(time.time() - t0, 3))
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if stats_out is not None:
        stats_out.update(iterations=iters, converged=converged)
    if not converged:
        # never mask non-convergence: the min-agg below still returns
        # A component labeling, but it may not be the true component
        # minimum — the caller should raise max_iters (or use the
        # label variant) rather than trust this silently
        import warnings

        warnings.warn(
            f"connected_components_star: no fixpoint within {max_iters} "
            "iterations; falling back to min-agg over a possibly "
            "unconverged edge set",
            RuntimeWarning,
            stacklevel=2,
        )
    # at fixpoint every edge is (node, root): root = min of its component
    nodes = (
        pairs.select(F.col(a).alias("doc_id"))
        .union(pairs.select(F.col(b).alias("doc_id")))
        .distinct()
    )
    # min-agg guards the max_iters-hit case where a node still carries
    # more than one outgoing edge (fully converged stars have exactly one)
    comp = edges.groupBy(F.col("u").alias("doc_id")).agg(F.min("v").alias("component"))
    return (
        nodes.join(comp, "doc_id", "left")
        .select("doc_id", F.coalesce("component", F.col("doc_id")).alias("component"))
    )


def dedup_groups(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    cc_algorithm: str = "label",
    max_bucket_size: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """Full-corpus duplicate-cluster map: MinHash-LSH near-dup pairs →
    connected components → one row per document with its cluster id
    (min doc id of the cluster), cluster size, and a keep flag on the
    canonical document. This is the dedup *endgame* a training-data
    pipeline actually consumes: ``filter(keep = 1)`` yields the
    deduplicated corpus.

    ``cc_algorithm`` picks the component solver: ``"label"`` (min-label
    propagation, O(diameter) rounds — the default; dup clusters are
    near-cliques with diameter 2-4) or ``"star"`` (alternating
    large/small-star contraction, O(log n) rounds — choose when the dup
    graph has long chains, e.g. a template drifting one revision at a
    time). Both return identical components (pytest-asserted).

    ``max_bucket_size``: production default **256** (pass it; None here
    only because the driver oracle is bit-exact uncapped at test SF) —
    the recall-vs-cap curve (SCALE_NOTES.md, "Dedup/curation
    capstones") measured legitimate-cluster recall 1.0 at 256 across
    1×/10×/50× while a planted viral template's quadratic pair term is
    suppressed.

    Docs in no near-dup pair are their own singleton cluster (left join
    + coalesce). The component and size frames are NOT broadcast-hinted:
    at web-corpus dup rates (30-50 % of docs in some cluster) both are
    O(corpus), far beyond executor memory at 100 TB. Plain shuffle joins
    on (doc_id) / (component) let AQE broadcast them only when runtime
    stats say they actually fit.
    """
    if cc_algorithm not in ("label", "star"):
        raise ValueError(f"cc_algorithm must be 'label' or 'star', got {cc_algorithm!r}")
    pairs = minhash_lsh_pairs(
        docs,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )
    if stats_out is None:
        stats_out = {}
    if cc_algorithm == "label":
        comp = connected_components(pairs, stats_out=stats_out)
        if not stats_out.get("converged", True):
            # self-heal: a dup graph with a giant-diameter component
            # (template drifting revision-by-revision) outran the label
            # solver's round budget — its half-propagated labels would
            # SPLIT true clusters. Star contraction converges in
            # O(log n) rounds regardless of shape; escalate rather than
            # return a wrong-but-plausible clustering.
            stats_out["escalated_to_star"] = True
            comp = connected_components_star(pairs, stats_out=stats_out)
    else:
        comp = connected_components_star(pairs, stats_out=stats_out)
    full = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .select("doc_id", F.coalesce("component", F.col("doc_id")).alias("component"))
    )
    sizes = full.groupBy("component").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        full.join(sizes, "component")
        .select(
            "doc_id",
            "component",
            "n_docs",
            (F.col("doc_id") == F.col("component")).cast("int").alias("keep"),
        )
    )


SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed BIGINT


def simhash64(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per document (15 md5 hex chars keep the feature
    hash inside a signed BIGINT).

    Features are 3-word shingles (unigrams are not discriminative on
    low-vocabulary corpora — every doc shares most of the vocabulary;
    shingles make near-dup hamming ≈ 0 vs background ≈ 20+). Per
    feature: md5 → 60-bit hash; per bit position, sum ±1 across
    features; the sign vector packs into a BIGINT. All JVM-side
    expressions (conv/bitwise), no UDF.
    """
    features = word_shingles(F.lower(F.col(text_col)), 3)
    token_hash = lambda t: F.conv(F.substring(F.md5(t), 18, 15), 16, 10).cast("long")  # noqa: E731
    # Stage 1: shingle + hash, materialized behind a lazy checkpoint.
    # Fusing the shingle subtree with the vote folds into ONE projection
    # produced a codegen unit so large its first execution cost 8-13 s
    # at sf0.1 (compile + interpreted fallback); split, each stage runs
    # ≈1 s (r12). The stored rows are (doc_id, ~shingle-count longs).
    hashed = docs.select(
        F.col(id_col).alias("doc_id"), F.transform(features, token_hash).alias("_h")
    ).localCheckpoint(eager=False)

    # Stage 2: one fold accumulates the per-bit ±1 vote VECTOR (the
    # former per-bit formulation built 60 independent aggregate folds,
    # each re-walking the shingle array — a 60×-replicated expression
    # tree that also dominated plan analysis). h & (1<<j) != 0 is the
    # same predicate as (h >> j) & 1 == 1, votes and the packed hash
    # are bit-identical.
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)])
    votes = F.aggregate(
        F.col("_h"),
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            masks,
            acc,
            lambda m, a: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return hashed.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    *,
    max_hamming: int = 8,
    n_blocks: int = 6,
    max_bucket_size: int | None = None,
    **kw,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Block-and-verify: split the hash into ``n_blocks`` blocks; by
    pigeonhole any pair within distance < n_blocks shares at least one
    exact block → candidates come from an equi-join on (block_idx,
    block_value), then exact popcount verifies. For max_hamming ≥
    n_blocks this is a heuristic recall tradeoff (as in practice);
    for < n_blocks it is exact.
    """
    # localCheckpoint the (doc_id, simhash) frame: it feeds the block
    # explode AND both sides of the self-join — without it
    # CollapseProject inlines the 60-vote expression tree into every
    # reference (the MinHash band-key trap; measured ~7× recompute).
    # Two narrow columns, so the stored blocks are tiny even at corpus
    # scale, and they free on GC (persist had no unpersist path).
    sh = simhash64(docs, **kw).localCheckpoint(eager=True)
    width = SIMHASH_BITS // n_blocks
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    for i in range(n_blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    blocks = _cap_buckets(blocks, ["block_idx", "block_val"], max_bucket_size)
    cand = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def embedding_near_dup(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    block_col: str | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs over an embedding column.

    With ``block_col`` the pair space is restricted to equal blocking
    keys (label, cluster id, LSH bucket …) — the scale pattern; without
    it this is the small-corpus brute force.
    """
    e = emb.select(
        F.col(id_col).alias("id"),
        as_double(F.col(vec_col)).alias("v"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    a, b = e.alias("a"), e.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
        joined = a.join(b, cond)
    else:
        joined = a.join(b, cond)
    return (
        joined.withColumn("cos", F.round(cosine(F.col("a.v"), F.col("b.v")), 4))
        .filter(F.col("cos") >= threshold)
        .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"), "cos")
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup with LSH-table blocking — the 100 TB path.

    Candidate pairs = vectors sharing a random-hyperplane bucket in ANY
    of ``n_tables`` independent tables; exact cosine verifies each
    candidate. The pair space is a bucket equi-join (never the a.id <
    b.id cross product): sum over buckets of n_b² instead of N².
    Recall/cost dial: planes per table shrink buckets (at 100 TB raise
    ``n_planes`` so the expected bucket size stays bounded), tables
    raise recall. Hyperplanes are md5-derived literals — identical in
    every engine, so an oracle can replicate the exact blocking.

    Plan shape: posexplode of the per-table bucket array is the
    Generate barrier that keeps the 32 dot products from being inlined
    into every downstream reference (same CollapseProject trap as
    MinHash band keys), then one shuffle on (tbl, bkt).
    """
    from streaming_examples_spark.functions.vectors import dot, norm
    from streaming_examples_spark.operators.similarity import lsh_bucket

    e = emb.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    buckets = F.array(
        *[
            lsh_bucket(F.col("v"), dim, n_planes, salt_base=t * 1000)
            for t in range(n_tables)
        ]
    )
    # localCheckpoint: both sides of the bucket self-join read the
    # stored (id, v, nrm, tbl, bkt) rows instead of re-running the
    # n_tables×n_planes hyperplane dot products per side (self-join
    # sides evaluate their lineage independently); blocks free on GC so
    # repeated calls don't accumulate cache entries. The vector NORM is
    # precomputed here, once per vector: the verify stage below scores
    # every candidate pair, and cosine() inline would re-fold each
    # side's norm per PAIR — 3 interpreted O(dim) folds per candidate
    # instead of 1 (HOFs never codegen). Same doubles, same divide, so
    # scores are bit-identical; measured r12 at sf0.1 (821 k candidate
    # pairs): warm 1.6 s → 0.88 s.
    b = e.select(
        "id", "v", norm(F.col("v")).alias("nrm"), F.posexplode(buckets).alias("tbl", "bkt")
    ).localCheckpoint(eager=True)
    b = _cap_buckets(b, ["tbl", "bkt"], max_bucket_size)
    a, bb = b.alias("a"), b.alias("b")
    # cos BEFORE the pair dedup: the distinct then shuffles the narrow
    # (d1, d2, cos) rows — 20 B — instead of two dim-double vectors per
    # pair (guide §2.2, shuffle fewer bytes). cos is deterministic per
    # pair, so filter→distinct ≡ distinct→filter, rows identical.
    cand = a.join(
        bb,
        (F.col("a.tbl") == F.col("b.tbl"))
        & (F.col("a.bkt") == F.col("b.bkt"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("d1"),
        F.col("b.id").alias("d2"),
        F.round(
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 4
        ).alias("cos"),
    )
    return (
        cand.filter(F.col("cos") >= threshold).select("d1", "d2", "cos").distinct()
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    *,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_overlap: int = 1,
) -> DataFrame:
    """Eval-set decontamination: flag training docs that share any
    k-word shingle with an evaluation/benchmark set (the GPT-3/PaLM
    n-gram-overlap rule, k configurable).

    Shape: the eval side collapses to a distinct shingle set and is
    **broadcast** — eval sets are tiny next to the corpus, so the
    corpus is scanned once with no shuffle for the probe; the only
    shuffle is the per-doc overlap count on doc_id. Never a doc×doc
    pair space. Docs shorter than k words surface with 0 shingles,
    not dropped — a decontamination report must cover every doc.
    """
    sh = word_shingles(F.col(text_col), k)
    tr = train.select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("g"))
    ev = eval_docs.select(F.explode(sh).alias("g")).distinct()
    hits = (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        train.select(F.col(id_col).alias("doc_id"), F.size(sh).alias("n_shingles"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )
