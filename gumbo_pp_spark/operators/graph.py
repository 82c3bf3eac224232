"""Iterative graph algorithms over edge DataFrames — PageRank.

Companion to the connected-components resolver in ``dedup.py``:
where components answer "which docs are the same", PageRank answers
"which hosts/docs matter" — the classic crawl-prioritization and
quality-prior signal for a web corpus.

All arithmetic is exact-integer (ranks are fixed-scale bigints,
damping is a percent, divisions are floor DIV), so results are
bit-identical across engines and partitionings — integer sums commute,
float PageRank does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: PageRank damping, in percent
DAMPING_E2 = 85
#: fixed-point scale of a PageRank rank
RANK_SCALE = 10**9
#: rounds of :func:`pagerank` and :func:`hits`
N_ITER = 3
#: fixed-point scale of a HITS hub or authority score
HITS_SCALE = 10**6


def pagerank(edges: DataFrame) -> DataFrame:
    """Simplified (dangling mass dropped, the usual web-graph variant)
    integer PageRank:  rank'(v) = (1−d)·S + d · Σ_{u→v} rank(u) DIV
    outdeg(u), d = :data:`DAMPING_E2`/100.  Input (src, dst); returns
    (node, rank) with rank a bigint scaled by S = :data:`RANK_SCALE`,
    after :data:`N_ITER` rounds.

    Scale shape per iteration: one join of the edge table with the
    node-sized rank table on ``src`` (at 10^12 edges the edge table is
    pre-partitioned/bucketed on src so the join co-locates; the rank
    side is node-sized, often broadcastable at host granularity) and
    one map-side-combined groupBy on ``dst``.  Each round reads the
    previous ranks once, so the plan grows linearly in :data:`N_ITER`
    and no round is checkpointed: a per-round ``localCheckpoint``
    forced an RDD round-trip that cost ~3× the rank math at bench
    scale (1.38 s → 0.49 s for 3 rounds without it).  Never a
    driver-side edge materialization."""
    src_nodes = edges.select(F.col("src").cast("bigint").alias("node"))
    dst_nodes = edges.select(F.col("dst").cast("bigint").alias("node"))
    nodes = src_nodes.union(dst_nodes).distinct()
    outdeg = edges.groupBy(F.col("src").cast("bigint").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    e = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
    )
    base = (100 - DAMPING_E2) * RANK_SCALE // 100
    ranks = nodes.withColumn("rank", F.lit(RANK_SCALE).cast("bigint"))
    for _ in range(N_ITER):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank DIV deg").alias("c"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(sums, nodes["node"] == sums["dst"], "left")
            .selectExpr(
                "node",
                f"CAST({base} + ({DAMPING_E2} * coalesce(s, 0)) DIV 100 AS BIGINT) AS rank",
            )
        )
    return ranks.select(F.col("node").cast("bigint"), F.col("rank").cast("bigint"))


def hits(edges: DataFrame) -> DataFrame:
    """Integer-exact HITS (Kleinberg): per round the authority pass
    ``a'(v) = Σ_{u→v} h(u)`` then the hub pass ``h'(u) = Σ_{u→v}
    a(v)``, each MAX-normalized — ``x·scale DIV max(x')`` — instead of
    the float L2 norm, so every value stays a bigint, the fixed point
    is bit-exact (oracle-checkable), and rankings are unchanged
    (normalization is monotone).  Runs :data:`N_ITER` rounds and
    returns (node, hub, authority) as ``scale``-scaled bigints in
    [0, scale], ``scale`` = :data:`HITS_SCALE`.

    Bounds: the normalization product ``s·scale`` must fit int64 —
    with the 1e6 scale that allows hub/authority in-degrees up
    to ~9·10⁶ (document-graph hubs at web scale sit well under this at
    host granularity; raise rounds/precision only with the bound
    in mind — the DuckDB oracle errors loudly on overflow while Spark
    would wrap, so the suite family also guards the bound).

    Scale shape per round: two edge⋈rank joins (rank tables
    node-sized) + two map-side-combined aggs; each max is a 1-row
    broadcast cross join.  Each pass's raw sums are read twice (the
    node join and the max), so they are local-checkpointed once per
    pass: the plan stays the same size at every round count, where two
    reads of an unmaterialized plan doubled it every pass (18, 90 and
    378 joins for 1, 2 and 3 rounds)."""
    e = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    scale = HITS_SCALE
    h = nodes.withColumn("h", F.lit(scale).cast("bigint"))

    def _norm(raw, key, val):
        raw = raw.localCheckpoint(eager=False)
        m = raw.agg(F.coalesce(F.max(val), F.lit(1)).alias("_m"))
        return (
            nodes.join(raw, nodes["node"] == raw[key], "left")
            .crossJoin(F.broadcast(m))
            .selectExpr(
                "node",
                f"CAST(coalesce({val}, 0) * {scale} DIV _m AS BIGINT) AS {val}",
            )
        )

    a = None
    for _ in range(N_ITER):
        a_raw = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
        )
        a = _norm(a_raw, "dst", "a")
        h_raw = (
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
        )
        h = _norm(h_raw, "src", "h")
    return (
        nodes.join(h, "node")
        .join(a, "node")
        .select(
            F.col("node").cast("bigint"),
            F.col("h").cast("bigint").alias("hub"),
            F.col("a").cast("bigint").alias("authority"),
        )
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """(direction, degree, n_nodes): in/out-degree histogram of the
    link graph — the monitoring view for crawl-graph health (a fat
    out-degree tail is link farms, a fat in-degree tail is hubs to cap
    before ranking).  Two map-side-combined aggs per direction over
    the edge table, then node-sized histogram rollups."""
    def hist(col, label):
        deg = edges.groupBy(F.col(col).cast("bigint").alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        return deg.groupBy("degree").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes")
        ).select(F.lit(label).alias("direction"),
                 F.col("degree").cast("bigint"), "n_nodes")

    return hist("src", "out").unionByName(hist("dst", "in"))
