"""Structured Streaming ingest variant of the extraction pipeline.

The reference is batch-only (SURVEY.md §2.5: no streams); this module
is the engine's forward-looking ingest path for a continuously-crawled
corpus: a file-source stream of page parquet drops runs the SAME
``extract_main_text`` map stage per micro-batch (mapInArrow works
unchanged on streaming DataFrames), plus a watermarked windowed
aggregation for late-arriving events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """readStream(files) → parse/extract → writeStream(parquet).
    Returns the started query; use trigger availableNow + awaitTermination
    for drain-and-stop semantics in tests/backfills."""
    from ..operators.extract import extract_main_text

    pages = spark.readStream.schema(schema).parquet(input_dir)
    out = extract_main_text(pages, passthrough=("doc_id", "url"))
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_hourly_counts(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (late rows
    beyond the watermark are dropped; append-mode compatible)."""
    ev = spark.readStream.schema(schema).parquet(input_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("w.start", "w.end", "event_type", "n")
    )


def stream_contamination_alerts(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    evals: DataFrame,
    n: int = 13,
) -> DataFrame:
    """Continuous contamination MONITOR: every (doc_id, gram) hit of an
    incoming document stream against a STATIC eval set, as an
    append-mode stream (route it to a quarantine/alerts sink).

    Shape: stream-static inner join — the eval n-grams are a batch
    DataFrame broadcast into every micro-batch, the stream side is the
    same map-only n-gram explode as the batch operator.  Stateless: no
    watermark, no streaming state, each micro-batch is independent.
    (The clean-stream variant runs the batch anti-join per micro-batch
    via ``foreachBatch`` — see :func:`stream_decontaminate`.)"""
    from ..operators.textstats import _ngram_expr, eval_ngrams, split_words

    grams = eval_ngrams(evals, n)  # static side, broadcast
    docs = spark.readStream.schema(schema).parquet(input_dir)
    return (
        split_words(docs, keep=("doc_id",), min_words=n)
        .select("doc_id", F.explode(F.expr(_ngram_expr(n))).alias("gram"))
        .join(F.broadcast(grams), "gram")
        .select("doc_id", "gram")
    )


def decontaminate_batch(batch_df: DataFrame, grams: DataFrame, n: int = 13) -> DataFrame:
    """Per-micro-batch clean transform: the batch operator's JVM shape
    (map-only n-gram explode → broadcast hash join on the gram table →
    left-anti on doc_id).  No Python UDF anywhere in the plan — this is
    the streaming mirror of the input_hint's "no per-row Python" rule
    (tests/test_multimodal_streaming.py pins the plan)."""
    from ..operators.textstats import decontaminate

    return decontaminate(batch_df, None, n, grams=grams)


def stream_decontaminate(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    evals: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n: int = 13,
):
    """Continuously decontaminate a document stream: write out only
    documents sharing NO word ``n``-gram with the static eval set.
    Returns the started streaming query (availableNow trigger — call
    ``awaitTermination`` for drain-and-stop semantics).

    A streaming plan cannot express "drop the parent row of any
    matching child" directly (stream-static joins support inner/left,
    not the left-anti this needs), and the round-6 fallback — a
    broadcast gram SET probed per row inside a pandas_udf — rebuilt
    every window string in Python on the hot path.  ``foreachBatch``
    removes the restriction: each micro-batch is a normal batch
    DataFrame, so the existing batch operator runs as-is, JVM-side
    (:func:`decontaminate_batch`).  The eval gram table is derived and
    cached ONCE here; every micro-batch broadcast-joins the same
    in-memory relation.

    Sink discipline — EXACTLY-ONCE effective: each micro-batch writes
    to its own ``batch=<batch_id>`` subdirectory with mode
    ``overwrite``.  The file-source checkpoint makes a replayed batch
    id carry the SAME input files, so a retry after a crash rewrites
    the same directory with the same rows instead of appending
    duplicates — the standard idempotent-foreachBatch pattern (and the
    same commit-by-rename idea as the lineage ledger; an Iceberg table
    with replace-where on batch_id is the cluster upgrade).  Read the
    result with ``spark.read.parquet(out_dir)`` — ``batch`` surfaces
    as a partition column; drop it if unwanted."""
    from ..operators.textstats import eval_ngrams

    grams = eval_ngrams(evals, n).cache()
    grams.count()  # materialize once, before the first micro-batch

    def _write_clean(batch_df: DataFrame, batch_id: int) -> None:
        decontaminate_batch(batch_df, grams, n).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch={batch_id}")

    docs = spark.readStream.schema(schema).parquet(input_dir)
    return (
        docs.writeStream.foreachBatch(_write_clean)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_warc_extract(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Incremental crawl-archive ingestion: a ``binaryFile`` file-source
    stream over a WARC drop directory — each newly-landed ``.warc.gz``
    is one micro-batch input — through the WARC record parser and the
    flagship extraction, checkpointed to parquet.  The batch reader's
    per-member robustness carries over (a corrupt member is an error
    row, never a poisoned micro-batch); exactly-once comes from the
    file-source + checkpoint contract (a file is processed once per
    checkpoint lineage).

    Scale shape: identical to the batch ``read_warc`` (file-per-task,
    CC's ~1 GB granularity) — a crawler dropping ~N files/hour keeps
    every micro-batch embarrassingly parallel."""
    from ..operators.extract import extract_main_text
    from ..sources.warc import WARC_FIELDS, parse_content_batches

    files = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed by the format, but the streaming
        # source requires it stated explicitly (no inference pass)
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.warc.gz")
        .load(warc_dir)
        .select("content")
    )
    pages = files.mapInArrow(parse_content_batches, WARC_FIELDS).filter("warc_ok")
    out = extract_main_text(pages, passthrough=("url",))
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_host_blocklist(stream: DataFrame, blocked_hosts: DataFrame) -> DataFrame:
    """Apply a precomputed domain blocklist (e.g.
    :func:`~gumbo_pp_spark.operators.textstats.host_quality_gate`'s
    blocked set, refreshed by a periodic batch job) to a document
    stream — the streaming-sane split of the two-pass host gate: the
    aggregate lives in batch, the stream pays only a stateless
    stream-static LEFT ANTI join against the hosts-sized static side
    (broadcast; no state store, no watermark)."""
    blocked = F.broadcast(
        blocked_hosts.select(F.col("host").alias("_blocked_host")).distinct()
    )
    return stream.join(
        blocked, F.col("host") == F.col("_blocked_host"), "left_anti"
    )
