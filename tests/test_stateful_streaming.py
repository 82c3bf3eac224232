"""Stateful streaming dedup (native streaming dropDuplicates on the url
digest): duplicates within and across micro-batches are dropped via
per-key state."""

from gumbo_pp_spark.sources.pages import synth_pages
from gumbo_pp_spark.streaming.stateful import stream_dedup_urls

from .conftest import SF_SMOKE


def test_stream_dedup_first_seen_only(spark, tmp_path):
    pages = synth_pages(spark, SF_SMOKE).select("doc_id", "url").limit(100)
    src = str(tmp_path / "in")
    # two file drops with full overlap: every url appears twice
    pages.write.parquet(src)
    pages.write.mode("append").parquet(src)
    assert spark.read.parquet(src).count() == 200

    out = stream_dedup_urls(spark, src, "doc_id bigint, url string")
    q = (
        out.writeStream.format("memory")
        .queryName("deduped_urls")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM deduped_urls")
    assert got.count() == 100
    assert got.select("url").distinct().count() == 100


def test_stream_dedup_within_and_across_micro_batches(spark, tmp_path, monkeypatch):
    import glob
    import os

    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import DataStreamReader

    src = str(tmp_path / "in")
    schema = "doc_id bigint, url string"
    # file 1 repeats u1 inside itself; file 2 repeats u1 and u2 across
    # files and is dated later, so one file per trigger reads it second
    spark.createDataFrame([(1, "u1"), (2, "u1"), (3, "u2")], schema) \
        .coalesce(1).write.parquet(src)
    first = set(glob.glob(f"{src}/*.parquet"))
    spark.createDataFrame([(4, "u2"), (5, "u1"), (6, "u3")], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    (second,) = set(glob.glob(f"{src}/*.parquet")) - first
    os.utime(second, (os.path.getmtime(second) + 60,) * 2)

    monkeypatch.setattr(SparkSession, "readStream", property(
        lambda s: DataStreamReader(s).option("maxFilesPerTrigger", 1)))
    out = stream_dedup_urls(spark, src, schema)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_two_triggers")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [3, 3]
    rows = spark.sql("SELECT * FROM dedup_two_triggers").collect()
    assert sorted(r.url for r in rows) == ["u1", "u2", "u3"]
    # u1 and u2 keep a first-file row; u3 is new in the second file
    assert {r.url: r.doc_id for r in rows if r.url != "u1"} == {"u2": 3, "u3": 6}
    assert {r.doc_id for r in rows if r.url == "u1"} <= {1, 2}
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert "StreamingDeduplicate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan


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


def test_stream_host_blocklist_stateless(spark, tmp_path):
    """Stream-static anti join: blocked hosts vanish from the stream,
    output equals the batch anti join on the same files."""
    from gumbo_pp_spark.streaming.ingest import stream_host_blocklist

    rows = [(i, f"h{i % 4}.example", f"doc {i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, host string, text string")
    src = str(tmp_path / "bl_in")
    docs.write.parquet(src)
    blocked = spark.createDataFrame(
        [("h1.example",), ("h3.example",)], "host string"
    )

    stream_in = spark.readStream.schema(
        "doc_id bigint, host string, text string"
    ).parquet(src)
    q = (
        stream_host_blocklist(stream_in, blocked)
        .writeStream.format("memory")
        .queryName("bl_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "bl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.doc_id for r in spark.sql("SELECT * FROM bl_stream").collect()}
    assert got == {i for i in range(40) if i % 4 in (0, 2)}
