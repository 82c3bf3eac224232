"""Stateful streaming operator: exactly-once URL dedup for a
continuously-crawled pages stream (Spark's native streaming
``dropDuplicates``).

A crawl stream re-fetches urls; downstream extraction should parse a
url once.  State = the set of url digests already seen, one 16-byte
``unhex(md5(url))`` key per url, kept by Spark's state store and
partitioned by the key's shuffle, so it scales horizontally.  Each
micro-batch reads and writes only the keys it touches: the state grows
by the new urls, never rewrites what earlier batches stored.  Without a
watermark no key ever expires, so a url is emitted at most once over
the whole stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def stream_dedup_urls(
    spark: SparkSession,
    input_dir: str,
    schema: str,
) -> DataFrame:
    """readStream(files) → first-seen filter on the url digest.
    Returns the deduped streaming DataFrame (doc_id, url).

    Which row wins: a url already emitted by an earlier micro-batch is
    dropped; among duplicates inside one micro-batch some one of them
    is emitted, in no promised order (as the rows arrive after the
    shuffle).  All NULL urls share one key, so at most one is emitted.
    A checkpoint is tied to this state layout: one written by another
    dedup operator cannot be resumed."""
    pages = spark.readStream.schema(schema).parquet(input_dir)
    return (
        pages.select("doc_id", "url", F.unhex(F.md5("url")).alias("_url_md5"))
        .dropDuplicates(["_url_md5"])
        .drop("_url_md5")
    )
