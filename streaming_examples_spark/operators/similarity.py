"""Similarity search over embedding columns.

  * ``brute_force_topk`` — exact top-k cosine neighbors for a query
    set: broadcast the (small) query side against the corpus, rank
    per query. The corpus is scanned once, never shuffled; ranking
    shuffles only (n_queries × corpus_partition) partial top-ks.
  * ``lsh_ann_topk``     — approximate: random-hyperplane LSH signs
    bucket the corpus; queries probe only their own bucket (and
    optionally multi-probe neighbors). The 100 TB path: turns the
    cross product into an equi-join on bucket keys.

Hyperplanes are derived deterministically from md5 of (plane, dim) —
reproducible across runs and engines, no RNG state to ship.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from streaming_examples_spark.functions.vectors import (
    as_double,
    cosine,
    lit_double_array,
)


def _exact_rank(cand: DataFrame, k: int) -> DataFrame:
    """THE exact-cosine ranking contract, shared by ``brute_force_topk``
    and the PQ re-rank stage so the two can never drift: cand carries
    (query_id, qv, neighbor_id, cv); output is top-k per query as
    (query_id, neighbor_id, rank, cos), tie-broken on neighbor id,
    cos rounded to 4. The full-width-rerank == brute-force pytest
    equivalence depends on this being one piece of code."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("cos", cosine(F.col("cv"), F.col("qv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cos"))
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query vector (cosine).

    Returns (query_id, neighbor_id, rank, cos). Deterministic
    tie-break on neighbor id.
    """
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    cand = corpus.join(F.broadcast(qs), F.col("neighbor_id") != F.col("query_id"))
    return _exact_rank(cand, k)


def ivf_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-style ANN: partition the corpus into Voronoi cells around
    ``n_centroids`` seed centroids; a query scans only its ``n_probe``
    nearest cells.

    Centroids are the first ``n_centroids`` corpus vectors (a
    deterministic seeding — production would k-means-refine them; the
    cell-assign / probe machinery is identical). Fully deterministic →
    DuckDB oracle runs the same algorithm.

    Scale shape: assignment is a broadcast of k centroids against the
    corpus (one scan, no shuffle of the corpus); the probe is an
    equi-join on cell id. Cost ≈ corpus/k · n_probe per query instead
    of the full corpus.
    """
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    cents = (
        emb.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("centv"))
    )
    # cell assignment: nearest centroid (deterministic tie-break on cid)
    w_assign = Window.partitionBy("neighbor_id").orderBy(F.desc("ccos"), F.asc("cid"))
    cells = (
        corpus.join(F.broadcast(cents))
        .withColumn("ccos", cosine(F.col("cv"), F.col("centv")))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("neighbor_id", "cv", "cid")
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cid"))
    probes = (
        qs.join(F.broadcast(cents))
        .withColumn("qcos", cosine(F.col("qv"), F.col("centv")))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "cid")
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        probes.join(cells, "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine(F.col("cv"), F.col("qv")))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cos"))
    )


def _hyperplane(plane: int, dim: int) -> float:
    """Deterministic pseudo-random coefficient in [-1, 1) from md5 —
    same value every run, no RNG dependency."""
    import hashlib

    h = int(hashlib.md5(f"{plane}_{dim}".encode()).hexdigest()[:8], 16)
    return (h / float(1 << 31)) - 1.0


def _plane_array(salt: int, dim: int) -> Column:
    """Hyperplane as a literal array<double> — the dot product then
    runs as a zip_with/aggregate fold (a runtime loop), keeping the
    generated code tiny instead of unrolling dim×planes scalar ops
    past the JVM's 64 KB method limit."""
    return lit_double_array([_hyperplane(salt, d) for d in range(dim)])


def lsh_bucket(vec: Column, dim: int, n_planes: int = 12, salt_base: int = 0) -> Column:
    """Random-hyperplane signature: bit p = sign(v · h_p). Returns a
    bucket id in [0, 2^n_planes)."""
    from streaming_examples_spark.functions.vectors import dot as vdot

    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        d = vdot(vec, _plane_array(salt_base + p, dim))
        bit = F.when(d > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(F.shiftleft(bit, p))
    return bucket


def _exact_rerank(
    emb: DataFrame,
    queries: DataFrame,
    shortlist: DataFrame,
    *,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-cosine re-rank of an ANN shortlist — the standard second
    stage of a PQ index: compressed codes produce the candidate set,
    the RAW vectors decide the final order (recall within a tight
    cluster needs resolution the code budget doesn't carry; see the
    clustered sweep in SCALE_NOTES.md, "ANN recall-vs-cost dial
    sweep"). Returns (query_id, neighbor_id,
    rank, cos).

    Scale shape: the shortlist (#queries × R rows, bounded) and query
    vectors broadcast; the corpus is joined on neighbor_id in one scan
    with no corpus shuffle; ranking is the SAME ``_exact_rank`` core
    brute_force_topk uses (one piece of code, so full-width rerank ==
    brute force by construction).
    """
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    cand = corpus.join(F.broadcast(shortlist), "neighbor_id").join(
        F.broadcast(qs), "query_id"
    )
    return _exact_rank(cand, k)


def lsh_table_buckets(
    vec: Column, dim: int, n_planes: int = 4, n_tables: int = 8
) -> Column:
    """One bucket id per LSH table for a vector: the multi-table
    bucketing convention ``lsh_ann_topk`` candidates come from (plane
    salt ``t*1000 + p`` gives each table an independent hyperplane
    set). Public so cost probes measure candidates from the SAME index
    the operator queries — a drifted re-implementation would silently
    pair recall from one bucketing with cost from another
    (SCALE_NOTES.md, "ANN recall-vs-cost dial sweep")."""
    return F.array(
        *[lsh_bucket(vec, dim, n_planes, salt_base=t * 1000) for t in range(n_tables)]
    )


def lsh_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent LSH tables; a
    query's candidates = union of its buckets across tables; exact
    cosine rank within candidates.

    Recall/cost dial: more planes → smaller buckets (fewer candidates,
    lower recall); more tables → higher recall. At corpus scale the
    bucket join replaces the brute-force cross product.
    """
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )

    def buckets_for(col: Column) -> Column:
        return lsh_table_buckets(col, dim, n_planes, n_tables)

    c_b = corpus.select(
        "neighbor_id", "cv", F.posexplode(buckets_for(F.col("cv"))).alias("tbl", "bkt")
    )
    q_b = qs.select(
        "query_id", "qv", F.posexplode(buckets_for(F.col("qv"))).alias("tbl", "bkt")
    )
    cand = (
        c_b.join(q_b, ["tbl", "bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("cos", cosine(F.col("cv"), F.col("qv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cos"))
    )


def kmeans_centroids(
    emb: DataFrame,
    *,
    k: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Lloyd's k-means over an embedding column, returning k centroids.

    Deterministic: init = the first k vectors by id (no RNG), fixed
    iteration count. Centroids live driver-side (k×dim floats — MLlib
    does the same): the assignment step is then a pure *expression*
    over centroid literals — argmin via array_min over (dist, cid)
    structs — so each iteration costs ONE shuffle (the per-cluster
    per-dimension mean), no join. At 100 TB: assignment is map-only
    over literals; the mean is a map-side-combinable avg of k×dim
    cells. This is the training step for ivf_ann_topk's cell index.
    """
    pts = emb.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    cents = [
        [float(x) for x in r["v"]]
        for r in pts.orderBy("id").limit(k).collect()
    ]
    for _ in range(iters):
        assigned = pts.select(
            "id", "v", _argmin_centroid(F.col("v"), cents).alias("cluster")
        )
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.transform("pm", lambda s: s["m"]).alias("c"))
            .collect()
        )
        by_cluster = {r["cluster"]: [float(x) for x in r["c"]] for r in means}
        # empty clusters keep their previous centroid
        cents = [by_cluster.get(j, cents[j]) for j in range(k)]
    return cents


def _argmin_centroid(v: Column, cents: list[list[float]]) -> Column:
    """Index of the nearest centroid (squared L2), ties → lowest id.
    Pure expression over a k×dim literal array: no join, no shuffle.
    The per-centroid distances run inside ONE transform() lambda at
    runtime rather than k unrolled struct expressions at analysis time
    — the struct-array argmin form cost Catalyst tens of seconds of
    analysis/codegen at 16×64 (same trap _books_literal documents);
    first-min array_position keeps the identical lowest-index
    tie-break."""
    carr = lit_double_array(cents)
    dists = F.transform(carr, lambda c: _sqdist(v, c))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def kmeans_assign(
    emb: DataFrame,
    *,
    k: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Final cluster assignment after k-means training: (vec_id,
    cluster, sqdist). The batch form of an IVF index build."""
    cents = kmeans_centroids(emb, k=k, iters=iters, vec_col=vec_col, id_col=id_col)
    pts = emb.select(F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v"))
    cluster = _argmin_centroid(F.col("v"), cents)

    def sqdist_to(j_col: Column) -> Column:
        # recompute distance to the chosen centroid via the same struct array
        scored = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(F.col("v"), F.array(*[F.lit(x) for x in c]),
                                   lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    F.lit(j).alias("j"),
                )
                for j, c in enumerate(cents)
            ]
        )
        return F.array_min(scored)["d"]

    return pts.select(
        "vec_id",
        cluster.alias("cluster"),
        F.round(sqdist_to(cluster), 4).alias("sqdist"),
    )


def _books_literal(books: list[list[list[float]]]) -> Column:
    """The full m x k x sub codebook as ONE literal column — the
    per-centroid work then happens inside transform() lambdas at
    RUNTIME instead of k expression copies at ANALYSIS time (the
    struct-array argmin form took Catalyst ~13s per iteration to
    analyze at 8x32; this form is sub-second)."""
    return lit_double_array(books)


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _argmin_book(book_arr: Column, v: Column) -> Column:
    """Index of the nearest codeword (first-min tie-break, matching
    _argmin_centroid's lowest-index rule)."""
    dists = F.transform(book_arr, lambda c: _sqdist(v, c))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _l2_normalize(v: Column) -> Column:
    norm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return F.transform(v, lambda x: x / norm)


def pq_codebooks(
    emb: DataFrame,
    *,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the (L2-normalized) vector
    into ``m`` subspaces and train an independent k-means codebook per
    subspace. Returns ``m x k_codes x (dim/m)`` floats — the whole index
    is KB-sized and lives driver-side, like the IVF centroids.

    Vectors are normalized first so squared-L2 ranking = cosine ranking
    (||a-b||^2 = 2-2cos on the unit sphere) — comparable with the other
    ANN operators.

    ALL m codebooks train simultaneously: vectors explode into
    (id, subspace, subvector) rows once, each Lloyd iteration is ONE
    map-side-combinable shuffle over every (subspace, cluster, dim)
    cell — not m independent k-means drivers (m x iters tiny jobs was
    measured ~8x slower). At 100 TB codebooks train on a deterministic
    sample; encoding is the map-only corpus pass.
    """
    dim = len(emb.select(as_double(F.col(vec_col)).alias("v")).first()["v"])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub = dim // m
    # normalize=False is the residual path (ivf_pq): residuals are NOT
    # unit vectors and re-normalizing them would destroy the geometry
    vexpr = as_double(F.col(vec_col))
    normed = emb.select(
        F.col(id_col).alias("vid"),
        (_l2_normalize(vexpr) if normalize else vexpr).alias("nv"),
    )
    slices = F.array(*[F.slice(F.col("nv"), j * sub + 1, sub) for j in range(m)])
    pts = normed.select("vid", F.posexplode(slices)).toDF("vid", "j", "sv").persist()

    # deterministic init: subslices of the first k_codes vectors by id
    seed = normed.orderBy("vid").limit(k_codes).collect()
    books = [
        [[float(x) for x in r["nv"][j * sub : (j + 1) * sub]] for r in seed]
        for j in range(m)
    ]
    for _ in range(iters):
        bl = _books_literal(books)
        cluster = _argmin_book(F.element_at(bl, F.col("j") + 1), F.col("sv"))
        # two selects: a generator in the same projection as complex
        # extraction expressions confuses the analyzer's resolution
        means = (
            pts.select("j", cluster.alias("c"), "sv")
            .select("j", "c", F.posexplode("sv"))
            .toDF("j", "c", "pos", "x")
            .groupBy("j", "c", "pos")
            .agg(F.avg("x").alias("mval"))
            .collect()  # bounded: m x k_codes x sub floats
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            got.setdefault((r["j"], r["c"]), {})[r["pos"]] = float(r["mval"])
        for j in range(m):
            for c in range(k_codes):
                cell = got.get((j, c))
                if cell:  # empty clusters keep their previous centroid
                    books[j][c] = [cell[p] for p in range(sub)]
    pts.unpersist()
    return books


def pq_encode(
    emb: DataFrame,
    books: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    normalize: bool = True,
) -> DataFrame:
    """Encode every vector as ``m`` codebook indices: (vec_id, codes
    ARRAY<INT>). Map-only over codebook literals — 64 floats become m
    small ints (the 100 TB memory story: a 256-byte embedding → 8
    bytes). No shuffle, no join."""
    m = len(books)
    sub = len(books[0][0])
    bl = _books_literal(books)
    # explode to one row per (vector, subspace), argmin per row, then
    # reassemble. The Generate is a projection BARRIER: the normalized
    # vector is computed once per input row — inlining the normalize
    # into every codeword distance (the single-projection form) was
    # measured ~40x slower (CollapseProject re-inlines aggressively;
    # same trap as the MinHash band keys).
    nv = (
        _l2_normalize(as_double(F.col(vec_col)))
        if normalize
        else as_double(F.col(vec_col))
    )
    slices = F.array(*[F.slice(nv, j * sub + 1, sub) for j in range(m)])
    per_sub = (
        emb.select(F.col(id_col).alias("vec_id"), F.posexplode(slices))
        .toDF("vec_id", "j", "sv")
        .select(
            "vec_id",
            "j",
            _argmin_book(F.element_at(bl, F.col("j") + 1), F.col("sv")).alias("c"),
        )
    )
    return per_sub.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "c"))), lambda x: x["c"]
        ).alias("codes")
    )


def pq_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """ANN top-k by asymmetric distance computation (ADC) over PQ codes:
    per query, the distance to every codeword of every subspace is
    precomputed into a lookup table (m × k_codes floats, driver-side),
    and a document's approximate distance is the SUM of m table lookups
    on its codes — no vector arithmetic per document at query time.

    Returns (query_id, neighbor_id, rank, approx_sqdist). The corpus is
    scanned once; queries (with their LUTs) broadcast; ranking is a
    per-query window over k rows. Recall vs exact cosine is
    pytest-asserted.

    ``books`` — pass pretrained codebooks (the production shape: train
    offline on a sample, apply everywhere) to skip the k-means step.
    With frozen books the whole operator is non-iterative, so a SQL
    oracle can replay encode + ADC bit-for-bit from the same literals
    (functions/pq_frozen.py); with books=None the codebooks are trained
    in-line (iterative — rows-only at any SQL oracle gate).

    ``rerank=R`` — two-stage production shape: keep the top R by ADC,
    then exact-cosine re-rank the shortlist on the raw vectors and
    return top k as (query_id, neighbor_id, rank, cos). The ADC code
    budget resolves BETWEEN clusters but not within one (measured:
    recall ~0.21 on clustered data at m=8 regardless of probes); the
    re-rank recovers the within-cluster order at the cost of R raw-row
    fetches per query.
    """
    if books is None:
        books = pq_codebooks(
            emb, m=m, k_codes=k_codes, iters=iters, vec_col=vec_col, id_col=id_col
        )
    m = len(books)
    sub = len(books[0][0])
    encoded = pq_encode(emb, books, vec_col=vec_col, id_col=id_col).withColumnRenamed(
        "vec_id", "neighbor_id"
    )

    # per-query LUT: lut[j][c] = ||q_j − books[j][c]||² (python floats —
    # m × k_codes per query, the classic ADC table)
    q_rows = queries.select(
        F.col(id_col).alias("qid"), _l2_normalize(as_double(F.col(vec_col))).alias("nv")
    ).collect()
    lut_rows = []
    for r in q_rows:
        qv = r["nv"]
        lut = [
            [
                sum((qv[j * sub + t] - c[t]) ** 2 for t in range(sub))
                for c in books[j]
            ]
            for j in range(m)
        ]
        lut_rows.append((r["qid"], lut))
    luts = emb.sparkSession.createDataFrame(
        lut_rows, "query_id long, lut array<array<double>>"
    )

    scored = (
        encoded.join(F.broadcast(luts), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "approx_sqdist",
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.col("lut"),
                    lambda c, sub_lut: F.element_at(sub_lut, c + 1),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_sqdist"), F.asc("neighbor_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank is not None:
        if rerank < k:
            raise ValueError(
                f"rerank={rerank} < k={k}: the shortlist would silently "
                "truncate the top-k; use rerank >= k (typically 5-10x)"
            )
        shortlist = ranked.filter(F.col("rank") <= rerank).select(
            "query_id", "neighbor_id"
        )
        return _exact_rerank(
            emb, queries, shortlist, k=k, vec_col=vec_col, id_col=id_col
        )
    return (
        ranked.filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("approx_sqdist", 4).alias("approx_sqdist")
        )
    )


def _ivf_residuals(normed: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(neighbor_id, cell, rv): nearest-centroid cell id + the residual
    vector vs that cell's centroid. Map-only over centroid literals."""
    cents_lit = lit_double_array(cents)
    with_cell = normed.select(
        "neighbor_id", "nv", _argmin_centroid(F.col("nv"), cents).alias("cell")
    )
    return with_cell.select(
        "neighbor_id",
        "cell",
        F.zip_with(
            F.col("nv"),
            F.element_at(cents_lit, F.col("cell") + 1),
            lambda a, b: a - b,
        ).alias("rv"),
    )


def ivf_pq_train(
    emb: DataFrame,
    *,
    n_centroids: int = 16,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the IVF-PQ index artifacts: coarse centroids (k-means over
    the normalized corpus) + per-subspace residual codebooks. Both are
    KB-sized driver-side values — at 100 TB they train on a
    deterministic sample and are then shipped as literals.

    ``centroids`` short-circuits the coarse step (used by the freeze
    tool so the residual books are trained against the exact rounded
    centroids the frozen operator will apply)."""
    nv = _l2_normalize(as_double(F.col(vec_col)))
    normed = emb.select(F.col(id_col).alias("neighbor_id"), nv.alias("nv"))
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(
            normed, k=n_centroids, iters=iters, vec_col="nv", id_col="neighbor_id"
        )
    )
    resid = _ivf_residuals(normed, cents)
    books = pq_codebooks(
        resid, m=m, k_codes=k_codes, iters=iters,
        vec_col="rv", id_col="neighbor_id", normalize=False,
    )
    return cents, books


def ivf_pq_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ: the billion-vector composition — a coarse k-means
    quantizer routes vectors into cells, product quantization encodes
    each vector's RESIDUAL (vector − its cell centroid), and a query
    ADC-scans only its ``n_probe`` nearest cells.

    This is the standard large-index layout (inverted lists + residual
    codes): memory is 8 bytes/vector + KB of centroids/codebooks, and
    query cost is (corpus/n_centroids)·n_probe table lookups instead of
    a full scan. Residual encoding matters: residuals concentrate near
    zero so a 4-bit-per-subspace codebook spends its precision where
    the vectors actually are, beating plain PQ at equal code budget.

    Scale shape: centroids + codebooks are driver-side literals (like
    IVF/PQ alone); cell-assign and encode are map-only corpus passes;
    the probe is an equi-join on cell id against broadcast per-(query,
    cell) LUTs; ranking is a per-query window over the probed subset.
    Deterministic end to end (seeded k-means, no RNG). With frozen
    ``centroids``/``books`` (functions/pq_frozen.py) the operator is
    non-iterative and a SQL oracle replays it bit-for-bit; trained
    in-line it is rows-only at any SQL oracle gate (recall is
    pytest-asserted either way).
    """
    nv = _l2_normalize(as_double(F.col(vec_col)))
    normed = emb.select(F.col(id_col).alias("neighbor_id"), nv.alias("nv"))
    if centroids is not None and books is not None:
        cents = centroids
    else:
        cents, books = ivf_pq_train(
            emb, n_centroids=n_centroids, m=m, k_codes=k_codes, iters=iters,
            vec_col=vec_col, id_col=id_col, centroids=centroids,
        )
    n_centroids = len(cents)
    m = len(books)
    sub = len(books[0][0])
    resid = _ivf_residuals(normed, cents)
    # inline encode that CARRIES the cell id through the explode →
    # groupBy (cell is functionally dependent on neighbor_id, so
    # grouping on both is free): one corpus pass builds the inverted
    # lists directly. The earlier pq_encode + join-back-on-id shape
    # duplicated the whole assign+residual expression tree into two
    # plan branches — 2× the (literal-heavy) codegen and 2× the scan.
    bl = _books_literal(books)
    slices = F.array(*[F.slice(F.col("rv"), j * sub + 1, sub) for j in range(m)])
    per_sub = resid.select(
        "neighbor_id", "cell", F.posexplode(slices)
    ).toDF("neighbor_id", "cell", "j", "sv")
    inv_lists = (
        per_sub.select(
            "neighbor_id",
            "cell",
            "j",
            _argmin_book(F.element_at(bl, F.col("j") + 1), F.col("sv")).alias("c"),
        )
        .groupBy("neighbor_id", "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "c"))), lambda x: x["c"]
            ).alias("codes")
        )
        # localCheckpoint: the inverted lists ARE the index artifact a
        # production deployment materializes once and probes many times
        # — and planting the literal-heavy encode subtree directly under
        # the probe join measured 25× slower than the same subtree
        # standalone (0.3 s → 7.5 s per execution at sf0.1, r12: the
        # re-planned/codegen'd join-side tree evaluates the codebook
        # literals per row on one task). Materialized it is m small ints
        # + a cell id per vector — tiny at any corpus size; blocks free
        # on GC.
        .localCheckpoint(eager=False)
    )

    # query side: probe cells + per-(query, cell) ADC LUTs, driver-side
    # (bounded query batches — same contract as pq_ann_topk)
    q_rows = queries.select(
        F.col(id_col).alias("qid"), _l2_normalize(as_double(F.col(vec_col))).alias("nv")
    ).collect()
    lut_rows = []
    for r in q_rows:
        qv = [float(x) for x in r["nv"]]
        by_dist = sorted(
            range(n_centroids),
            key=lambda c: (sum((qv[t] - cents[c][t]) ** 2 for t in range(len(qv))), c),
        )
        for cell in by_dist[:n_probe]:
            rq = [qv[t] - cents[cell][t] for t in range(len(qv))]
            lut = [
                [
                    sum((rq[j * sub + t] - cw[t]) ** 2 for t in range(sub))
                    for cw in books[j]
                ]
                for j in range(m)
            ]
            lut_rows.append((r["qid"], cell, lut))
    luts = emb.sparkSession.createDataFrame(
        lut_rows, "query_id long, cell int, lut array<array<double>>"
    )

    scored = (
        inv_lists.join(F.broadcast(luts), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "approx_sqdist",
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.col("lut"),
                    lambda c, sub_lut: F.element_at(sub_lut, c + 1),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_sqdist"), F.asc("neighbor_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank is not None:
        if rerank < k:
            raise ValueError(
                f"rerank={rerank} < k={k}: the shortlist would silently "
                "truncate the top-k; use rerank >= k (typically 5-10x)"
            )
        # same two-stage shape as pq_ann_topk(rerank=R): the residual
        # codes shortlist, the raw vectors decide the final order
        shortlist = ranked.filter(F.col("rank") <= rerank).select(
            "query_id", "neighbor_id"
        )
        return _exact_rerank(
            emb, queries, shortlist, k=k, vec_col=vec_col, id_col=id_col
        )
    return (
        ranked
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank",
            F.round("approx_sqdist", 4).alias("approx_sqdist"),
        )
    )
