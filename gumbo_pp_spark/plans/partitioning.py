"""Partitioning plans for skew and byte-balance (SURVEY.md §4: the
custom logic Catalyst does not provide for a map-only UDF stage).

At 10^12 pages the parse stage's cost per row is proportional to
``length(html)`` and hosts are Zipf-distributed, so naive
hash-by-host partitioning leaves stragglers.  Two explicit plans:

* **host-skew salting** — detect heavy-hitter keys with a cheap
  aggregate, split each across ``ceil(share·n)`` salted sub-keys;
* **size-balanced bins** — greedy first-fit-decreasing packing of
  per-key byte totals into bins of :data:`BIN_TARGET_BYTES`, applied as a
  broadcast-joined bin id used as the repartition key.

Both compute a small driver-side plan (heavy keys / bin map are tiny
relative to the corpus) and apply it with one shuffle.

Ordered running sums (sequence packing, the token-budget boundary,
frontier ranks) go through :func:`running_sum`, the one two-phase
prefix sum: rows are cut into blocks, contiguous ranges of the order
key (the range-partitioning idea of Global Range Encoding, EDBT 2018),
so no window partition spans more than one block.

Input parallelism is decided once, where the data is read
(``sources.pages.read_pages``, ``sources.pages.load_documents``), and
at a few JVM operator entries whose per-row work is heavy: the word
tokenizer ``operators.textstats.split_words`` (every per-word, n-gram, window
and shingle operator of ``textstats``, ``dedup`` and ``sketches``
takes its words from it), the vector-search entry
``operators.similarity._corpus_side``, and two per-row passes over
SQL forms the oracles mirror (``textstats.host_quality_stats``,
``dedup.simhash``).  Those are the only callers of
:func:`ensure_min_parallelism`; ``tests/test_physical_plans.py`` pins
the set.  The per-document Python map operators (every
``plans.arrowmap.map_rows`` caller, ``extract_main_text``,
``explode_nodes``) do not call it: they run one task per input
partition and add no exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window, functions as F

# try_parse_url: plain parse_url THROWS on malformed urls under ANSI
# mode (guaranteed input at crawl scale); the NULL it returns is then
# coalesced to a sentinel because a NULL key would break the plan maps
# built below (F.create_map rejects null keys; null lookups leave the
# salt/bin columns null).
HOST_EXPR = "coalesce(try_parse_url(url, 'HOST'), '__null__')"

#: floor of the scan split size :func:`tune_input_splits` chooses
MIN_SPLIT_BYTES = 256 << 10
#: ``openCostInBytes`` set by :func:`tune_input_splits`
OPEN_COST = 64 << 10
#: partitions :func:`salt_skewed_keys` spreads to, and the multiple of
#: the mean partition load above which a key is salted
SALT_PARTITIONS = 64
SKEW_FACTOR = 2.0
#: html bytes per :func:`size_balanced_bins` bin
BIN_TARGET_BYTES = 64 << 20


def salt_skewed_keys(df: DataFrame) -> DataFrame:
    """Add ``part_key`` (the url's host, :data:`HOST_EXPR`) and ``salt``
    columns and repartition into :data:`SALT_PARTITIONS` partitions so
    no key's rows exceed ~:data:`SKEW_FACTOR`× the mean partition load.

    Heavy-hitter sketch: one map-side-combined count per key (the key
    cardinality — hosts — is orders of magnitude below row count, so
    this aggregate is cheap and exact).  Heavy keys are split into
    ``ceil(count / target)`` salts via a deterministic row hash.
    """
    n_partitions = SALT_PARTITIONS
    keyed = df.withColumn("part_key", F.expr(HOST_EXPR))
    counts = keyed.groupBy("part_key").count()
    total = df.count()
    mean = max(1.0, total / n_partitions)
    threshold = SKEW_FACTOR * mean
    # fanout targets the MEAN partition load so each salted sub-key is
    # an average-sized unit even after hash collisions
    heavy = {
        r["part_key"]: int(-(-r["count"] // mean))  # ceil
        for r in counts.where(F.col("count") > threshold).collect()
    }
    if not heavy:
        salted = keyed.withColumn("salt", F.lit(0))
    else:
        fanout = F.create_map(
            *[F.lit(x) for kv in heavy.items() for x in kv]
        )
        salted = keyed.withColumn(
            "salt",
            F.when(
                fanout[F.col("part_key")].isNotNull(),
                F.pmod(F.xxhash64("url"), fanout[F.col("part_key")]),
            ).otherwise(F.lit(0)).cast("int"),
        )
    return salted.repartition(n_partitions, "part_key", "salt")


def size_balanced_bins(df: DataFrame) -> DataFrame:
    """Repartition so each partition carries ≈``target_bytes`` =
    :data:`BIN_TARGET_BYTES` of html, keeping each url host
    (:data:`HOST_EXPR`) whole unless it alone exceeds ``target_bytes``.

    Scale-safe plan (no whole-key-set collect — at CC scale there are
    ~10^8 hosts and a driver-side FFD over all of them is a bottleneck):

    * pass 1 aggregates bytes per key (map-side combined, JVM);
    * only the HEAVY TAIL (keys with ≥ ``target_bytes``) is collected —
      a tiny set by Zipf's law — and each heavy key is split by row
      hash across ``ceil(bytes/target)`` dedicated bins;
    * the light majority is never collected: light keys are hashed into
      ``ceil(light_bytes/target)`` bins (one extra 1-row aggregate for
      the total).  Expected spread of hashed byte-sums over bins is
      tight because every key in them is < target_bytes.

    Arrow batches inside the parse UDF then see bounded byte budgets
    regardless of document-size heavy tails.
    """
    target_bytes = BIN_TARGET_BYTES
    keyed = df.withColumn("part_key", F.expr(HOST_EXPR)).withColumn(
        "doc_bytes", F.length("html").cast("bigint")
    )
    totals = keyed.groupBy("part_key").agg(F.sum("doc_bytes").alias("b"))
    # one job: light byte total + the (small) heavy-key list together
    plan_row = totals.agg(
        F.coalesce(
            F.sum(F.when(F.col("b") < target_bytes, F.col("b"))), F.lit(0)
        ).alias("light_total"),
        F.collect_list(
            F.when(F.col("b") >= target_bytes, F.struct("part_key", "b"))
        ).alias("heavy"),
    ).collect()[0]
    heavy_rows = plan_row["heavy"]
    n_light_bins = max(1, -(-int(plan_row["light_total"]) // target_bytes))
    assign: dict[str, tuple[int, int]] = {}  # heavy key -> (first_bin, n_subbins)
    next_bin = n_light_bins
    for r in sorted(heavy_rows, key=lambda r: -r["b"]):
        n_sub = -(-int(r["b"]) // target_bytes)
        assign[r["part_key"]] = (next_bin, n_sub)
        next_bin += n_sub
    light_bin = F.pmod(F.xxhash64("part_key"), F.lit(n_light_bins))
    if assign:
        first = F.create_map(*[F.lit(x) for k, (f0, _) in assign.items() for x in (k, f0)])
        nsub = F.create_map(*[F.lit(x) for k, (_, ns) in assign.items() for x in (k, ns)])
        bin_col = F.when(
            first[F.col("part_key")].isNotNull(),
            first[F.col("part_key")] + F.pmod(F.xxhash64("url"), nsub[F.col("part_key")]),
        ).otherwise(light_bin)
    else:
        bin_col = light_bin
    binned = keyed.withColumn("size_bin", bin_col.cast("int"))
    return binned.repartition(max(next_bin, 1), "size_bin")


def running_sum(df: DataFrame, part: str, block: str, order: tuple[str | Column, ...],
                value: str, out: str) -> DataFrame:
    """``df`` plus ``out``: the sum of ``value`` over the earlier rows of
    the same ``part`` in (``block``, *``order``) order, excluding the
    row itself (0 for the first row).  Each caller's ``block`` is a
    prefix of its ``order`` (every row of a block sorts before every row
    of a later block), so that is the running sum in ``order`` alone.

    Two-phase, so no window partition holds more than one
    (``part``, ``block``):

    * per-(part, block) totals of ``value``;
    * block offsets, a window over that block table;
    * a within-block ROWS window (unbounded preceding to 1 preceding),
      plus the block's offset.

    The offsets are joined back by a plain equi-join on (part, block),
    the clustering the within-block window needs, so the rows are
    exchanged once.  No broadcast is forced: adaptive execution
    broadcasts an offset table whose measured size is within
    ``spark.sql.autoBroadcastJoinThreshold`` and shuffles a larger one.
    Integer ``value`` sums over ROWS frames are exact, so the result
    equals the single window over ``part``.

    NULL contract: rows with a NULL ``part`` or ``block`` have no place
    in the order and are dropped; ``out`` of the other rows is that of
    the input without them.
    """
    keys = [part, block]
    rows = df.where(F.col(part).isNotNull() & F.col(block).isNotNull())
    before = Window.unboundedPreceding, -1
    tot = F.sum("_rs_tot").over(Window.partitionBy(part).orderBy(block).rowsBetween(*before))
    offsets = rows.groupBy(*keys).agg(F.sum(value).alias("_rs_tot")).select(
        *keys, F.coalesce(tot, F.lit(0)).alias("_rs_off"))
    within = F.sum(value).over(Window.partitionBy(*keys).orderBy(*order).rowsBetween(*before))
    return rows.join(offsets, keys).withColumn(
        out, (F.col("_rs_off") + F.coalesce(within, F.lit(0))).cast("bigint")).drop("_rs_off")


def ensure_min_parallelism(df: DataFrame, waves: int = 2) -> DataFrame:
    """Guarded round-robin repartition before CPU-heavy per-row work.

    A scan of a small or unsplittable input (one parquet file with a
    single row group, a gzip member, a tiny dimension table) yields
    fewer partitions than the session has cores, and every
    map-side-heavy stage downstream (per-word hashing, signature
    aggregation) then runs on that handful of tasks no matter how many
    executors exist — the sf0.1 documents table is one 0.6 MB row
    group, so the minhash signature aggregate ran single-threaded.
    When the input's partition count is below the session parallelism,
    repartition to ``waves × cores``; otherwise return the input
    unchanged.  At corpus scale splits ≫ cores and this is a no-op —
    no shuffle is ever added to an already-parallel plan.

    Call this with scan-stage inputs (the partition-count probe builds
    the physical RDD; on a map-only plan that runs no jobs), and only
    from the sites the module docstring lists: the readers
    (``read_pages``, ``load_documents``), the word
    tokenizer ``textstats.split_words``, the vector-search entry
    ``similarity._corpus_side``, and the per-row passes
    ``textstats.host_quality_stats`` and ``dedup.simhash``, whose SQL
    forms split the text themselves.  A new JVM operator that explodes
    words takes them from ``split_words``; map operators do not spread
    at all — their input parallelism is the reader's decision.
    """
    sc = df.sparkSession.sparkContext
    target = max(1, sc.defaultParallelism)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(max(target, target * waves))


def input_stats(spark, input_dir: str) -> tuple[int, int]:
    """(total_bytes, n_files) of a scan input, via the Hadoop
    FileSystem API (works for hdfs/s3a paths too); local os.walk as a
    fallback.  Data files only (``_SUCCESS``/dotfiles excluded)."""
    try:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(input_dir)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        summary = fs.getContentSummary(path)
        return int(summary.getLength()), int(summary.getFileCount())
    except Exception:
        total = n = 0
        for root, _dirs, files in os.walk(input_dir):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                total += os.path.getsize(os.path.join(root, f))
                n += 1
        return total, n


def tune_input_splits(
    spark,
    input_dir: str,
    waves: int = 3,
    max_split_bytes: int = 128 << 20,
    cores: int | None = None,
) -> int:
    """Level-aware scan split tuning: size ``maxPartitionBytes`` off
    the input's ON-DISK bytes so the scan yields ≈``waves`` task waves
    per core at the session's actual parallelism.

    Why this exists (round-6): a fixed ``maxPartitionBytes`` is sized
    for one parallelism level.  The round-5 bench ran 437 MB *logical*
    html that is only ~46 MB of snappy parquet on disk; with the
    default 4 MB ``openCostInBytes`` the 128 small files bin-packed
    into ~32 splits at EVERY level, so local[32] ran a single task
    wave — its wall clock was the single slowest task, with zero
    straggler amortization (exactly what a steal-spiky VM punishes),
    while local[8] got 4 waves.  Sizing splits as
    ``disk_bytes / (waves × defaultParallelism)`` restores ≥2-3 waves
    at every level.  At cluster scale (TBs across many executors) the
    computed size hits the ``max_split_bytes`` clamp and splits ≫
    cores anyway — the tuner only matters where input ÷ cores is
    small.

    ``openCostInBytes`` is lowered to :data:`OPEN_COST` (64 KB)
    because the 4 MB default makes packing file-count-bound for small
    files, capping the split count regardless of ``maxPartitionBytes``.

    Sets the two SQL confs on the session (runtime-settable; they take
    effect for subsequent scan *planning*) and returns the chosen
    ``maxPartitionBytes``.  Call BEFORE ``spark.read``.

    ``cores`` overrides the session's parallelism — a scaling
    MEASUREMENT (the N vs 4N gate) must size the split plan ONCE for
    the largest level and reuse it at every level, or the smaller
    level gets fewer, cheaper tasks and the efficiency ratio measures
    per-task overhead instead of scaling.
    """
    total, n_files = input_stats(spark, input_dir)
    if cores is None:
        cores = max(1, spark.sparkContext.defaultParallelism)
    target_splits = max(1, cores * waves)
    capacity = (total + n_files * OPEN_COST) // target_splits + 1
    capacity = max(MIN_SPLIT_BYTES, min(max_split_bytes, capacity))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(int(capacity)))
    spark.conf.set("spark.sql.files.openCostInBytes", str(OPEN_COST))
    return int(capacity)
