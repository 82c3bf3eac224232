"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and a random-
hyperplane LSH bucketed variant as the 100 TB scale path (bucket join
instead of cross join).  All dot products run JVM-side via
``zip_with``/``aggregate`` higher-order functions — no Python in the
hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DOT_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v)"
)
NORM_EXPR = "sqrt(aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.expr(NORM_EXPR.format(a="embedding")))


def _corpus_side(df: DataFrame) -> DataFrame:
    """The vector corpus as every search operator scans it: spread when
    under-parallel (the per-vector dot products against broadcast
    queries or pivots are the heavy JVM work — see
    :func:`~gumbo_pp_spark.plans.partitioning.ensure_min_parallelism`;
    a no-op at corpus scale), normed, zero vectors dropped."""
    from gumbo_pp_spark.plans.partitioning import ensure_min_parallelism

    return with_norm(ensure_min_parallelism(df)).where(F.col("norm") > 0)


def _query_side(queries: DataFrame, *extra) -> DataFrame:
    """The query vectors as every search operator probes with them:
    (query_id, q_vec, q_norm, *extra), zero vectors dropped."""
    return with_norm(queries).where(F.col("norm") > 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("norm").alias("q_norm"),
        *extra,
    )


def _top_k(candidates: DataFrame) -> DataFrame:
    """Per query, the :data:`TOP_K` candidate vectors of highest cosine (ties
    to the smaller vec_id), the query itself excluded.  ``candidates``
    pairs corpus rows (vec_id, embedding, norm) with query rows
    (query_id, q_vec, q_norm).  Returns (query_id, neighbor_id,
    rank)."""
    from pyspark.sql.window import Window

    dot = DOT_EXPR.format(a="embedding", b="q_vec")
    scored = candidates.where(F.col("vec_id") != F.col("query_id")).withColumn(
        "cos", F.expr(dot) / (F.col("norm") * F.col("q_norm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            F.col("query_id").cast("bigint"),
            F.col("vec_id").cast("bigint").alias("neighbor_id"),
            F.col("rank").cast("bigint"),
        )
    )


def _recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """One row (n_queries, n_exact, n_hit, recall_e4): how many of the
    exact neighbors the approximate search also returned."""
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.agg(
            F.countDistinct("query_id").alias("nq"),
            F.count(F.lit(1)).alias("n_exact"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            F.col("nq").cast("bigint").alias("n_queries"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.round(F.col("n_hit") * 10000.0 / F.col("n_exact")).cast("bigint").alias("recall_e4"),
        )
    )


def cosine_topk(df: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-:data:`TOP_K` cosine neighbors per query vector.

    The query set is broadcast (small dim table pattern) so the big
    side is never shuffled FOR THE JOIN; the only wide exchange is the
    final per-query top-k, which is a partial top-k per partition
    under AQE.  (An unsplittable under-parallel input is first spread
    across cores by :func:`_corpus_side`.)  Returns (query_id,
    neighbor_id, rank).
    """
    return _top_k(_corpus_side(df).crossJoin(F.broadcast(_query_side(queries))))


#: embedding width the hyperplane sketches are drawn for
DIM = 64
#: hyperplanes of :func:`cosine_near_dup_pairs`' blocking bucket
NEAR_DUP_PLANES = 4
#: cosine at which two embeddings are near-duplicates
#: (:func:`cosine_near_dup_pairs`, :func:`semantic_dedup`), tuned to the
#: synthetic random-vector corpus, whose max pairwise cosine is ≈ 0.44
NEAR_DUP_COSINE = 0.35
#: neighbors per query of every top-k search and recall@k audit
TOP_K = 3
#: inverted lists an IVF query probes
IVF_NPROBE = 2


def cosine_near_dup_pairs(df: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos_e6) with
    a < b and cosine ≥ ``NEAR_DUP_COSINE``.

    Candidates are blocked by the REAL scale path (round 3; previously
    a documented modulus stand-in): the deterministic hyperplane-LSH
    bucket (:func:`hyperplane_sketch_expr`, plan-time literal signs)
    with hamming-1 MULTI-PROBE on the smaller-id side — each pair is
    examined when the two buckets differ in at most one plane, so the
    join key is a bucket id, never a cross join, and a's probe buckets
    are distinct so no pair is emitted twice.  Survivors are scored
    with a JVM-side dot product; cosine is e6-scaled so the DuckDB
    oracle (which recomputes the identical buckets/probes) compares
    exactly."""
    sk = hyperplane_sketch_expr(DIM, NEAR_DUP_PLANES)
    base = _corpus_side(df).withColumn("bucket", F.expr(sk))
    probes = ", ".join(f"bucket ^ {2 ** p}" for p in range(NEAR_DUP_PLANES))
    a = base.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("va"),
        F.col("norm").alias("na"),
        F.explode(F.expr(f"array(bucket, {probes})")).alias("block"),
    )
    b = base.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"), F.col("bucket").alias("block"),
    )
    dot = DOT_EXPR.format(a="va", b="vb")
    return (
        a.join(b, ["block"])
        .where(F.col("a") < F.col("b"))
        .withColumn("cos", F.expr(dot) / (F.col("na") * F.col("nb")))
        .where(F.col("cos") >= NEAR_DUP_COSINE)
        .select(
            F.col("a").cast("bigint"),
            F.col("b").cast("bigint"),
            F.round(F.col("cos") * 1e6).cast("bigint").alias("cos_e6"),
        )
    )


def plane_signs(p: int, dim: int) -> list[float]:
    """Deterministic ±1 weights of hyperplane ``p``: sign = parity of
    the first hex digit of md5('<p>|<i>') — computed ONCE here at plan
    time, never at runtime (the round-1 version evaluated 256 md5 calls
    per row; the signs are constants and belong in the plan)."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{p}|{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
        for i in range(dim)
    ]


def hyperplane_sketch_expr(dim: int, n_planes: int) -> str:
    """Random-hyperplane LSH sketch as pure SQL: the ±1 sign matrix is
    emitted as array literals, so the per-row work is one zip_with dot
    product per plane (JVM-side, no hashing).  Returns an int bucket in
    [0, 2^n_planes)."""
    bits = []
    for p in range(n_planes):
        lits = ", ".join(f"{s}D" for s in plane_signs(p, dim))
        dot = (
            f"aggregate(zip_with(embedding, array({lits}), "
            "(x, s) -> CAST(x AS DOUBLE) * s), 0D, (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {2 ** p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def lsh_cosine_topk(df: DataFrame, queries: DataFrame, n_planes: int = 6) -> DataFrame:
    """Approximate variant: candidates restricted to the query's LSH
    bucket (equi-join on bucket → co-partitioned shuffle instead of a
    cross join).  At 100 TB the bucket column is what you bucket/
    cluster the table by, making the probe side a bucket-pruned scan.

    Each query also probes every bucket at hamming distance 1 from its
    own (flip each of the ``n_planes`` bits) — the standard
    multi-probe LSH recall boost that costs
    ``n_planes`` extra probe rows per query instead of more tables.
    """
    sk = hyperplane_sketch_expr(DIM, n_planes)
    base = _corpus_side(df).withColumn("bucket", F.expr(sk))
    q = _query_side(queries, F.expr(sk).alias("bucket"))
    probes = ", ".join(f"bucket ^ {2 ** p}" for p in range(n_planes))
    q = q.withColumn("bucket", F.explode(F.expr(f"array(bucket, {probes})")))
    return _top_k(base.join(F.broadcast(q), "bucket"))


def lsh_recall_vs_exact(df: DataFrame, queries: DataFrame, n_planes: int = 6) -> DataFrame:
    """Measured recall@:data:`TOP_K` of the LSH path against the exact
    baseline — one row (n_queries, n_exact, n_hit, recall_e4).  This is the
    metric that gates an ANN rollout at scale; both sides are
    deterministic so the oracle recomputes it bit-for-bit."""
    return _recall(
        cosine_topk(df, queries),
        lsh_cosine_topk(df, queries, n_planes=n_planes),
    )


# ----------------------------------------------------------------------
# IVF-Flat scale path.  The coarse quantizer is a deterministic sample
# of the corpus itself (every ``pivot_mod``-th vector) instead of
# trained k-means centroids — the training step is a separate offline
# fit at scale, while the QUERY path (assign → nprobe probe-lists →
# in-list exact scoring) is exactly IVF-Flat and fully deterministic,
# so the DuckDB oracle recomputes it bit-for-bit.  Scale shape: the
# pivot table is tiny and broadcast twice (assignment + probe); base
# assignment is a broadcast nested-loop over K pivots whose groupBy
# key (vec_id) is already co-located, so map-side combine collapses
# the K candidate rows to one before the exchange; the search join is
# an equi-join on pivot_id — at 100 TB pivot_id is the table's
# bucketing/cluster column and the probe becomes a bucket-pruned scan.


def _pivot_side(pivots: DataFrame) -> DataFrame:
    """Normalized pivot projection shared by assignment and probe
    sides — one definition so their filtering/norm semantics cannot
    diverge."""
    return with_norm(pivots).where(F.col("norm") > 0).select(
        F.col("vec_id").alias("pivot_id"),
        F.col("embedding").alias("p_vec"),
        F.col("norm").alias("p_norm"),
    )


def ivf_assignments(
    df: DataFrame,
    pivots: DataFrame,
) -> DataFrame:
    """Assign every vector to its nearest pivot by cosine (ties break
    to the smallest pivot_id).  Returns (id, vec, norm, pivot_id)."""
    base = _corpus_side(df)
    p = _pivot_side(pivots)
    dot = DOT_EXPR.format(a="embedding", b="p_vec")
    scored = base.crossJoin(F.broadcast(p)).withColumn(
        "pcos", F.expr(dot) / (F.col("norm") * F.col("p_norm"))
    )
    best = scored.groupBy("vec_id").agg(
        F.max(F.struct(F.col("pcos"), (-F.col("pivot_id")).alias("npid"))).alias("m"),
        F.first("embedding").alias("embedding"),
        F.first("norm").alias("norm"),
    )
    return best.select(
        "vec_id", "embedding", "norm", (-F.col("m.npid")).cast("bigint").alias("pivot_id")
    )


def ivf_topk(df: DataFrame, queries: DataFrame, pivots: DataFrame) -> DataFrame:
    """IVF-Flat approximate top-:data:`TOP_K`: per query, exact cosine
    search restricted to the inverted lists of its :data:`IVF_NPROBE`
    nearest pivots.
    Returns (query_id, neighbor_id, rank)."""
    from pyspark.sql.window import Window

    assigned = ivf_assignments(df, pivots)
    p = _pivot_side(pivots)
    q = _query_side(queries)
    qdot = DOT_EXPR.format(a="q_vec", b="p_vec")
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.col("pivot_id"))
    probes = (
        q.crossJoin(F.broadcast(p))
        .withColumn("qcos", F.expr(qdot) / (F.col("q_norm") * F.col("p_norm")))
        .withColumn("prank", F.row_number().over(wq))
        .where(F.col("prank") <= IVF_NPROBE)
        .select("query_id", "q_vec", "q_norm", "pivot_id")
    )
    return _top_k(assigned.join(F.broadcast(probes), "pivot_id"))


def ivf_recall_vs_exact(df: DataFrame, queries: DataFrame, pivots: DataFrame) -> DataFrame:
    """Measured recall@:data:`TOP_K` of the IVF path (:data:`IVF_NPROBE`
    probe lists) against the exact baseline — one row (n_queries,
    n_exact, n_hit, recall_e4), the IVF analogue of
    :func:`lsh_recall_vs_exact`."""
    return _recall(
        cosine_topk(df, queries),
        ivf_topk(df, queries, pivots),
    )


def semantic_dedup(df: DataFrame, pivots: DataFrame) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster every embedding to its nearest pivot
    (the IVF coarse assignment — broadcast pivots, map-side argmax),
    compare cosines ONLY within a cluster, and keep each document iff
    it has no lower-id near-duplicate (cosine ≥ ``NEAR_DUP_COSINE``)
    in its cluster.

    Returns (vec_id, pivot_id, keep) for every nonzero vector.

    Scale shape: the pairwise stage is an equi-join on ``pivot_id`` —
    never a cross join.  With K pivots sized so clusters hold ~N/K
    vectors (SemDeDup uses K ≈ sqrt(N)·c), each cluster's quadratic
    compare is bounded and AQE splits skewed clusters; at 100 TB
    ``pivot_id`` is the table's bucketing column so the self-join is
    co-located.  The keep policy (drop the larger id of any
    over-threshold pair) is the paper's deterministic one-survivor
    rule restricted to clusters, exactly mirrorable in SQL — no
    transitive closure needed because every member of a dup group
    shares the group's minimum id as a lower-id neighbor only through
    in-cluster pairs, which is the SemDeDup contract (cross-cluster
    dups are accepted misses, measured separately by the recall
    queries)."""
    assigned = ivf_assignments(df, pivots)
    a = assigned.select(
        "pivot_id",
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("va"),
        F.col("norm").alias("na"),
    )
    b = assigned.select(
        "pivot_id",
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"),
    )
    dot = DOT_EXPR.format(a="va", b="vb")
    dropped = (
        a.join(b, ["pivot_id"])
        .where(F.col("a") < F.col("b"))
        .where(F.expr(dot) / (F.col("na") * F.col("nb")) >= NEAR_DUP_COSINE)
        .select(F.col("b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return assigned.join(dropped, ["vec_id"], "left").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("pivot_id").cast("bigint").alias("pivot_id"),
        F.col("_dropped").isNull().alias("keep"),
    )
