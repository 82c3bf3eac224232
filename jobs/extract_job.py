"""spark-submit entry point for the flagship extraction pipeline.

Packaging (north_rule: "run via spark-submit --py-files"):

    cd /root/repo && zip -qr /tmp/gumbo_pp_spark.zip gumbo_pp_spark
    spark-submit --master local[32] \
        --py-files /tmp/gumbo_pp_spark.zip \
        jobs/extract_job.py \
        --pages <pages parquet dir> --out <output dir> \
        [--n-splits 256] [--salt] [--size-bins] [--transcode]

Resumable: re-running with the same --out skips ledger-committed
splits (plans/lineage.py).  The output is readable via
``gumbo_pp_spark.plans.lineage.read_extracted``.

Prints one JSON line of run metrics, with the engine funnel of this
run (``rows`` = ``c_docs`` + ``py_docs``, and ``parse_errors``) as
tallied during the extraction pass — the output is never re-scanned.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from gumbo_pp_spark.sources.pages import read_pages


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="input pages parquet dir")
    ap.add_argument("--out", required=True, help="output dir (data + ledger)")
    ap.add_argument("--n-splits", type=int, default=256)
    ap.add_argument("--salt", action="store_true", help="salt skewed hosts first")
    ap.add_argument("--size-bins", action="store_true", help="byte-balanced repartition")
    ap.add_argument("--max-splits", type=int, default=None, help="fault-injection/test cap")
    ap.add_argument(
        "--transcode", action="store_true",
        help="WHATWG charset sniff ahead of the parse (non-UTF-8 crawls)",
    )
    args = ap.parse_args()

    # Build the C parse engine ONCE on the driver before the first
    # action: on a fresh checkout with a shared filesystem, every
    # executor python worker would otherwise race gcc on first import
    # (correct via atomic replace, but a 32-way thundering herd).  With
    # --py-files, build the .so first and ship it inside the zip.
    from gumbo_pp_spark.parser import cengine

    cengine.available()

    spark = (
        SparkSession.builder.appName("gumbo-extract")
        .config("spark.sql.adaptive.enabled", "true")
        # Arrow batches much smaller than a task's partition keep the
        # JVM scan/serialize side and the Python parse side pipelined
        # (one-batch-per-task means no overlap; see bench.py).  4096
        # rows per batch retuned for the C parse engine (round 5) —
        # with parse ~10x faster, 1024-row batches were per-batch
        # overhead-bound.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .getOrCreate()
    )

    from gumbo_pp_spark.plans.lineage import extract_with_resume

    pages = read_pages(spark, args.pages, salt=args.salt, size_bins=args.size_bins)

    passthrough = ("doc_id", "url") if "doc_id" in pages.columns else ("url",)
    if args.transcode:
        from gumbo_pp_spark.operators.encoding import sniff_and_transcode

        pages = sniff_and_transcode(
            pages.select(*passthrough, "html"), passthrough=passthrough
        )
    metrics = extract_with_resume(
        spark,
        pages.select(*passthrough, "html"),
        args.out,
        n_splits=args.n_splits,
        max_splits_this_run=args.max_splits,
        passthrough=passthrough,
    )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
