"""Batch operators over ``readStream``: the stateless map-only gates run
unchanged on a streaming DataFrame, with output byte-equal to the
batch run on the same files."""

from gumbo_pp_spark.sources.pages import synth_pages

from .conftest import SF_SMOKE


def test_quality_classifier_streams_stateless(spark, tmp_path):
    """The hashed classifier gate is a pure map stage, so the SAME
    operator code runs unchanged over readStream — scores byte-equal
    to the batch run on the same files."""
    from pyspark.sql import functions as F

    from gumbo_pp_spark.operators.textstats import quality_classifier

    docs = synth_pages(spark, SF_SMOKE).select(
        "doc_id", F.col("text")
    ).limit(60)
    src = str(tmp_path / "qc_in")
    docs.write.parquet(src)

    batch = {r["doc_id"]: (r["score"], r["label"])
             for r in quality_classifier(spark.read.parquet(src)).collect()}
    stream_in = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    q = (
        quality_classifier(stream_in)
        .writeStream.format("memory")
        .queryName("qc_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "qc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["doc_id"]: (r["score"], r["label"])
           for r in spark.sql("SELECT * FROM qc_stream").collect()}
    assert got == batch and len(got) == 60


def test_gopher_rules_stream_stateless(spark, tmp_path):
    """The Gopher panel is one map-only projection — the SAME operator
    code runs unchanged over readStream, verdicts byte-equal to the
    batch run on the same files."""
    from pyspark.sql import functions as F

    from gumbo_pp_spark.operators.textstats import gopher_rules

    docs = synth_pages(spark, SF_SMOKE).select(
        "doc_id", F.col("text")
    ).limit(60)
    src = str(tmp_path / "gr_in")
    docs.write.parquet(src)

    batch = {r["doc_id"]: (r["n_words"], r["gopher_pass"])
             for r in gopher_rules(spark.read.parquet(src)).collect()}
    stream_in = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    q = (
        gopher_rules(stream_in)
        .writeStream.format("memory")
        .queryName("gr_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gr_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["doc_id"]: (r["n_words"], r["gopher_pass"])
           for r in spark.sql("SELECT * FROM gr_stream").collect()}
    assert got == batch and len(got) == 60
