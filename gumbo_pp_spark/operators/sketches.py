"""Distributed frequency sketches — Count-Min heavy hitters.

A Count-Min sketch is the classic one-pass, fixed-memory frequency
summary (Cormode & Muthukrishnan 2005): ``CMS_DEPTH`` hash rows of
``CMS_WIDTH`` counters; est(word) = min over rows of the counter its hash
lands in, and est ≥ true count always (collisions only ever inflate).

Scale shape: the build is one map-side-combined groupBy over
(row, bucket) — the shuffle carries at most depth·width groups per
partition no matter how many tokens went in, and the finished sketch
is depth·width rows TOTAL (KBs), independent of corpus size.  Query-
side estimation therefore broadcasts the sketch and never shuffles
the candidate stream by word — the whole point versus an exact
groupBy(word) at 10^12 rows.  Hashing is the repo-standard md5 idiom
(row-salted: md5('<r>|' || word)) so the DuckDB oracle recomputes the
identical counters bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import split_words

U32 = "CAST(conv(substring(md5({x}), 1, 8), 16, 10) AS BIGINT)"

#: Count-Min sketch shape and the heavy-hitter estimate floor
CMS_WIDTH = 16
CMS_DEPTH = 3
CMS_MIN_COUNT = 100
#: smallest hashes a KMV sketch keeps
KMV_K = 16


def _bucket_expr(r: int, width: int) -> str:
    salted = U32.format(x=f"concat('{r}|', word)")
    return f"CAST({salted} % {width} AS BIGINT)"


def _row_buckets(width: int, depth: int):
    # one (row, bucket) struct per hash row of a `word` column, exploded
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("bigint").alias("row"),
                    F.expr(_bucket_expr(r, width)).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
    ).alias("rb")


def _counters(words: DataFrame, width: int, depth: int) -> DataFrame:
    # the sketch of a (word) stream: (row, bucket, cnt)
    return words.select(_row_buckets(width, depth)).groupBy("rb.row", "rb.bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def cms_heavy_hitters(df: DataFrame) -> DataFrame:
    """Heavy hitters by CMS estimate: (word, est) for every distinct
    word whose sketch estimate reaches ``CMS_MIN_COUNT``, est = min over
    the ``CMS_DEPTH`` row counters.  est ≥ true count (one-sided error),
    so no true heavy hitter is ever missed; collision-inflated light
    words are the documented false-positive mass, bounded by
    width/depth sizing.

    The candidate side here is the corpus' own distinct words (a
    monitoring query); in production the sketch is the broadcast
    artifact and candidates arrive from outside (alert lists, probe
    vocab) without touching the corpus again.  One token stream feeds
    both the sketch and the candidates."""
    width, depth = CMS_WIDTH, CMS_DEPTH
    toks = split_words(df, explode=True)
    probes = toks.distinct().select("word", _row_buckets(width, depth)).select(
        "word", "rb.row", "rb.bucket"
    )
    est = (
        probes.join(F.broadcast(_counters(toks, width, depth)), ["row", "bucket"])
        .groupBy("word")
        .agg(F.min("cnt").cast("bigint").alias("est"))
    )
    return est.where(F.col("est") >= CMS_MIN_COUNT).select("word", "est")


def kmv_distinct(df: DataFrame) -> DataFrame:
    """KMV / bottom-k distinct-count sketch (Bar-Yossef et al. 2002):
    keep the k = ``KMV_K`` smallest 32-bit word hashes; if the k-th smallest
    is h_k, the hashes are ~uniform on [0, 2^32) and
    est = (k−1)·2^32 / h_k.  One row: (k_used, kth_hash, est_distinct)
    — exact integers, so the oracle matches bit-for-bit.

    Scale shape: dedup happens by partial aggregation on the hash (the
    shuffle carries at most |vocab| rows per partition, never the
    token stream) and the bottom-k is Spark's TakeOrderedAndProject —
    a per-partition k-heap merged on the driver, the same merge a
    production KMV union does.  The sketch is k numbers; unions of
    per-shard sketches merge by re-taking the k smallest."""
    h = (
        split_words(df, explode=True)
        .select(F.expr(U32.format(x="word")).alias("h"))
        .distinct()
    )
    botk = h.orderBy("h").limit(KMV_K)
    return botk.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.max("h").cast("bigint").alias("kth_hash"),
    ).selectExpr(
        "k_used",
        "kth_hash",
        f"CAST((k_used - 1) * {1 << 32} DIV kth_hash AS BIGINT) AS est_distinct",
    )


#: default quantile probes, in percent
PROBS_E2 = (25, 50, 75, 90, 99)


def length_quantiles(df: DataFrame) -> DataFrame:
    """Exact corpus quantiles of document token length WITHOUT a
    global sort or driver collect: (p_e2, value) for each
    :data:`PROBS_E2` probe, where value is the smallest length whose
    cumulative count covers p% of documents (type-1 quantile) —
    :func:`grouped_length_quantiles` over one constant group."""
    return grouped_length_quantiles(df, "0").drop("grp")


def grouped_length_quantiles(
    df: DataFrame,
    group_col: str = "source",
    probs_e2: tuple[int, ...] = PROBS_E2,
) -> DataFrame:
    """(grp, p_e2, value): exact per-group token-length quantiles
    (per-source length profiles are how mixture policies get
    calibrated); ``group_col`` is a selectExpr entry.

    Scale shape: the length distribution collapses to one row per
    (group, DISTINCT length) in ONE map-side-combined groupBy —
    thousands of rows per group at any corpus size, the same trick as
    the frequency histogram; the cumulative windows and the probe run
    per group over that tiny table, so the only corpus-sized stage is
    the first map+partial-agg.  The cumulative count and the group total
    share one ordered window spec (different frames), so one sort and
    one Window operator serve both.  This is the exact-histogram cousin of a
    t-digest: for integer-valued statistics the histogram IS the
    sketch, no approximation needed."""
    from pyspark.sql import Window

    lens = (
        split_words(df, keep=(f"{group_col} AS grp",))
        .select("grp", F.size("ws").alias("len"))
        .groupBy("grp", "len")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("grp").orderBy("len")
    cum = lens.select(
        "grp",
        "len",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("total"),
    )
    probs = ", ".join(str(p) for p in probs_e2)
    probed = cum.crossJoin(
        F.broadcast(
            df.sparkSession.range(1).selectExpr(f"explode(array({probs})) AS p_e2")
        )
    ).where(F.col("cum") * 100 >= F.col("p_e2") * F.col("total"))
    return (
        probed.groupBy("grp", "p_e2")
        .agg(F.min("len").alias("value"))
        .select("grp", F.col("p_e2").cast("bigint"), F.col("value").cast("bigint"))
    )
