"""spark-submit entry point for the end-to-end training-corpus
pipeline: pages → extract → quality/repetition gates → exact + near
dedup → PII scrub → fingerprinted parquet corpus.

Packaging (same as jobs/extract_job.py):

    cd /root/repo && zip -qr /tmp/gumbo_pp_spark.zip gumbo_pp_spark
    spark-submit --master local[32] \
        --py-files /tmp/gumbo_pp_spark.zip \
        jobs/corpus_job.py \
        --pages <pages parquet dir> --out <output dir> \
        [--near-dup-policy pairs|components] \
        [--embeddings <embeddings parquet dir>] \
        [--ann-recall-floor-e4 9000 | --ann-report-only] \
        [--min-tokens 20] [--near-dup-min-equal 7]
        [--strip-boilerplate] [--host-gate]
        [--extend-from <prior corpus parquet dir>]

Every other threshold is a constant: ``MIN_ALPHA_RATIO_E4``,
``MAX_TOP_WORD_FRAC_E4``, ``HOST_GATE_MIN_DOCS`` and
``HOST_GATE_MAX_BAD_FRAC_E4`` of ``gumbo_pp_spark.pipelines``, and
``BOILERPLATE_MIN_DOCS`` of ``gumbo_pp_spark.operators.textstats``; the recall audit queries the 16 lowest
``vec_id`` values.  Robots and charset stages are not part of this
job: apply ``robots_filter`` or ``sniff_and_transcode`` to the pages
first.

Prints one JSON line of run metrics (rows, caches_released,
ann_recall_e4/ok when the audit is enabled).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from gumbo_pp_spark.sources.pages import read_pages


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="input pages parquet dir")
    ap.add_argument("--out", required=True, help="output corpus parquet dir")
    ap.add_argument(
        "--near-dup-policy", choices=("pairs", "components"), default="pairs",
        help="near-dup drop rule: cheap pairwise (default) or "
        "component-exact one-per-cluster",
    )
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--near-dup-min-equal", type=int, default=7)
    ap.add_argument(
        "--embeddings", default=None,
        help="embeddings parquet dir — enables the in-pipeline ANN recall audit",
    )
    ap.add_argument("--ann-recall-floor-e4", type=int, default=None)
    ap.add_argument(
        "--strip-boilerplate", action="store_true",
        help="strip per-host segments repeated in BOILERPLATE_MIN_DOCS docs "
        "before quality scoring",
    )
    ap.add_argument(
        "--host-gate", action="store_true",
        help="drop whole hosts whose bad-document fraction exceeds "
        "HOST_GATE_MAX_BAD_FRAC_E4",
    )
    ap.add_argument(
        "--extend-from", default=None,
        help="prior corpus parquet dir — incremental mode: build over "
        "--pages, drop content the prior corpus already carries (exact "
        "digest anti-join + cross-corpus LSH), write only the append set",
    )
    ap.add_argument(
        "--ann-report-only", action="store_true",
        help="run the recall audit without a pass/fail floor",
    )
    args = ap.parse_args()
    if (args.ann_recall_floor_e4 is not None or args.ann_report_only) and not args.embeddings:
        ap.error("--ann-recall-floor-e4 / --ann-report-only require --embeddings "
                 "(without it no recall audit runs at all)")
    if args.extend_from and args.embeddings:
        ap.error("--extend-from writes an append set; the ANN recall audit "
                 "belongs to full-corpus builds (drop --embeddings)")

    # driver-side C engine prebuild — same rationale as extract_job.py
    from gumbo_pp_spark.parser import cengine

    cengine.available()

    spark = (
        SparkSession.builder.appName("gumbo-corpus")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .getOrCreate()
    )

    from gumbo_pp_spark.pipelines import ANN_RECALL_FLOOR_E4, run_training_corpus
    # the run's one input-parallelism decision, as in extract_job.py
    pages = read_pages(spark, args.pages)

    kwargs: dict = dict(
        min_tokens=args.min_tokens,
        near_dup_min_equal=args.near_dup_min_equal,
        near_dup_policy=args.near_dup_policy,
        strip_boilerplate=args.strip_boilerplate,
        host_gate=args.host_gate,
    )

    if args.extend_from:
        from pyspark.sql import Observation, functions as F

        from gumbo_pp_spark.operators.dedup import cache_scope
        from gumbo_pp_spark.pipelines import extend_training_corpus

        prior = spark.read.parquet(args.extend_from)
        with cache_scope() as scope:
            ext = extend_training_corpus(pages, prior, **kwargs)
            obs = Observation("append_rows")
            ext = ext.observe(obs, F.count(F.lit(1)).alias("rows"))
            ext.write.mode("overwrite").parquet(args.out)
            n = int(obs.get["rows"])
        print(json.dumps({
            "mode": "extend", "rows": n, "out_dir": args.out,
            "prior": args.extend_from, "caches_released": scope.released,
        }))
        spark.stop()
        return
    if args.embeddings:
        kwargs["embeddings"] = spark.read.parquet(args.embeddings)
        if args.ann_report_only:
            kwargs["ann_recall_floor_e4"] = None
        elif args.ann_recall_floor_e4 is not None:
            kwargs["ann_recall_floor_e4"] = args.ann_recall_floor_e4
        else:
            kwargs["ann_recall_floor_e4"] = ANN_RECALL_FLOOR_E4

    metrics = run_training_corpus(pages, args.out, **kwargs)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
