"""Multimodal binary-column plumbing + Structured Streaming ingest."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gumbo_pp_spark.operators.multimodal import (
    audio_features,
    decode_image,
    image_features,
    resize_images,
    sample_frames,
    synth_media,
)
from gumbo_pp_spark.sources.pages import synth_pages
from gumbo_pp_spark.streaming.ingest import stream_extract, stream_hourly_counts

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, SF_SMOKE).cache()


class TestMultimodal:
    def test_fake_decode_deterministic(self):
        a = decode_image(b"payload", 16, 8)
        b = decode_image(b"payload", 16, 8)
        assert a.shape == (8, 16, 3) and a.dtype == np.uint8
        assert (a == b).all()
        assert not (a == decode_image(b"other", 16, 8)).all()

    def test_image_features_schema_and_determinism(self, spark, media):
        feats = image_features(media)
        rows = feats.orderBy("media_id").collect()
        n_images = media.where("kind = 'image'").count()
        assert len(rows) == n_images
        again = {r.media_id: r.phash for r in image_features(media).collect()}
        for r in rows:
            assert 0 <= r.sum_r <= 255 * r.n_px
            assert r.n_px > 0
            assert again[r.media_id] == r.phash
            assert r.phash >= 0

    def test_resize_batch_shape(self, spark, media):
        thumbs = resize_images(media, out_w=8, out_h=8).collect()
        for r in thumbs:
            assert len(bytes(r.thumb)) == 8 * 8 * 3

    def test_frame_sampling_explodes(self, spark, media):
        frames = sample_frames(media, every_ms=250)
        per_vid = frames.groupBy("media_id").count()
        joined = per_vid.join(
            media.where("kind = 'video'").select("media_id", "duration_ms"), "media_id"
        ).collect()
        assert joined
        for r in joined:
            assert r["count"] == -(-r.duration_ms // 250)

    def test_audio_features(self, spark, media):
        rows = audio_features(media).collect()
        assert rows
        for r in rows:
            assert 0.0 < r.rms < 1.0
            assert 0.0 <= r.zcr <= 1.0

    def test_kernels_run_in_map_in_arrow(self, spark, media):
        for stage in (image_features, resize_images, sample_frames, audio_features):
            plan = stage(media)._jdf.queryExecution().executedPlan().toString()
            assert "MapInArrow" in plan and "MapInPandas" not in plan, plan

    @pytest.mark.parametrize("stage, kind", [
        (image_features, "image"), (resize_images, "image"),
        (sample_frames, "video"), (audio_features, "audio"),
    ])
    def test_null_payload_is_empty_payload(self, spark, stage, kind):
        # a NULL payload row decodes as b"" among valid rows instead of
        # aborting the task
        rows = [(1, None), (2, bytearray(b"")), (3, bytearray(b"clip three"))]
        media = spark.createDataFrame(
            [(i, kind, p, 16, 16, 8000, 500, "fake") for i, p in rows],
            "media_id bigint, kind string, payload binary, width int, "
            "height int, sample_rate int, duration_ms int, codec string",
        )
        out = {}
        for r in stage(media).collect():
            out.setdefault(r.media_id, []).append(tuple(r)[1:])
        assert sorted(out) == [1, 2, 3]
        assert out[1] == out[2] != out[3]

    @pytest.mark.parametrize("stage, kind, meta", [
        (image_features, "image", ("width", "height")),
        (resize_images, "image", ("width", "height")),
        (sample_frames, "video", ("width", "height", "duration_ms")),
        (audio_features, "audio", ("sample_rate", "duration_ms")),
    ])
    def test_null_metadata_row(self, spark, stage, kind, meta):
        # a NULL decode size never reaches the decoder: a 1→1 kernel
        # emits the row with NULL features, sample_frames no frames
        cols = ("width", "height", "sample_rate", "duration_ms")
        rows = [(1, {}), *((2 + i, {c: None}) for i, c in enumerate(meta))]
        good = {"width": 16, "height": 16, "sample_rate": 8000, "duration_ms": 500}
        media = spark.createDataFrame(
            [(i, kind, bytearray(b"clip"), *({**good, **m}[c] for c in cols), "fake")
             for i, m in rows],
            "media_id bigint, kind string, payload binary, width int, "
            "height int, sample_rate int, duration_ms int, codec string",
        )
        out = {}
        for r in stage(media).collect():
            out.setdefault(r.media_id, []).append(tuple(r)[1:])
        assert all(v is not None for row in out.pop(1) for v in row)
        if stage is sample_frames:
            assert out == {}
        else:
            n_out = len(stage(media).columns) - 1
            assert out == {i: [(None,) * n_out] for i, _ in rows[1:]}


class TestStreaming:
    def test_stream_extract_matches_batch(self, spark, tmp_path):
        from gumbo_pp_spark.operators.extract import extract_main_text

        pages = synth_pages(spark, SF_SMOKE).limit(50)
        src = str(tmp_path / "in")
        pages.select("doc_id", "url", "html").write.parquet(src)
        out_dir = str(tmp_path / "out")
        q = stream_extract(
            spark,
            src,
            "doc_id bigint, url string, html binary",
            out_dir,
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out_dir).select("doc_id", "text")
        batch = extract_main_text(pages, passthrough=("doc_id",)).select("doc_id", "text")
        assert got.count() == 50
        assert got.exceptAll(batch).count() == 0

    def test_stream_windowed_counts_match_batch(self, spark, tmp_path):
        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        src = str(tmp_path / "ev")
        ev.write.parquet(src)
        agg = stream_hourly_counts(spark, src, (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        ), watermark="2 hours")
        q = (
            agg.writeStream.format("memory")
            .queryName("hourly_counts")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT start, event_type, n FROM hourly_counts")
        # append mode emits only windows closed by the watermark: every
        # emitted window must match the batch aggregation exactly
        batch = (
            ev.groupBy(F.date_trunc("hour", "ts").alias("start"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert got.count() > 0  # events span many hours → windows closed
        assert got.exceptAll(batch).count() == 0
        # everything except the watermark tail was emitted
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        import datetime

        cutoff = max_ts - datetime.timedelta(hours=3)
        expected_closed = batch.where(F.col("start") < cutoff)
        assert got.count() >= expected_closed.count()


class TestStreamingDecontamination:
    SCHEMA = "doc_id bigint, text string"
    W = " ".join(f"w{i}" for i in range(20))

    def _src(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [(1, self.W + " tail"), (2, "totally unrelated words " * 6)],
            self.SCHEMA,
        )
        src = str(tmp_path / "docs")
        docs.write.parquet(src)
        return src

    def test_alert_stream_matches_batch_contamination(self, spark, tmp_path):
        from gumbo_pp_spark.streaming.ingest import stream_contamination_alerts

        src = self._src(spark, tmp_path)
        evals = spark.createDataFrame([(self.W,)], "text string")
        alerts = stream_contamination_alerts(spark, src, self.SCHEMA, evals, n=13)
        q = (
            alerts.writeStream.format("memory")
            .queryName("contam_alerts")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT doc_id, gram FROM contam_alerts").collect()
        assert {r.doc_id for r in got} == {1}
        assert len(got) == 8  # W has 8 distinct 13-grams, all in doc 1

    def test_decontaminated_stream_passes_clean_docs_only(self, spark, tmp_path):
        from gumbo_pp_spark.operators.textstats import decontaminate
        from gumbo_pp_spark.streaming.ingest import stream_decontaminate

        src = self._src(spark, tmp_path)
        evals = spark.createDataFrame([(self.W,)], "text string")
        out = str(tmp_path / "clean")
        ckpt = str(tmp_path / "ckpt")
        q = stream_decontaminate(spark, src, self.SCHEMA, evals, out, ckpt, n=13)
        q.awaitTermination(120)
        got = spark.read.parquet(out).drop("batch")
        assert [r.doc_id for r in got.collect()] == [2]
        # byte-identical to the batch operator over the same input
        batch = decontaminate(spark.read.parquet(src), evals, n=13)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
        # exactly-once: rewriting the SAME batch id (simulated retry)
        # replaces its directory instead of appending duplicates
        from gumbo_pp_spark.streaming.ingest import decontaminate_batch
        from gumbo_pp_spark.operators.textstats import eval_ngrams

        grams = eval_ngrams(evals, n=13)
        decontaminate_batch(spark.read.parquet(src), grams, n=13).write.mode(
            "overwrite"
        ).parquet(f"{out}/batch=0")
        again = spark.read.parquet(out).drop("batch")
        assert sorted(map(tuple, again.collect())) == sorted(map(tuple, batch.collect()))

    def test_per_batch_plan_has_no_python_udf(self, spark):
        # the streaming mirror of the input_hint's "no per-row Python"
        # rule: the per-micro-batch transform must be the batch JVM
        # shape — gram explode, broadcast hash join, left-anti — with
        # zero Python evaluation nodes (the round-6 pandas_udf set-probe
        # filter is gone)
        from gumbo_pp_spark.operators.textstats import eval_ngrams
        from gumbo_pp_spark.streaming.ingest import decontaminate_batch

        evals = spark.createDataFrame([(self.W,)], "text string")
        grams = eval_ngrams(evals, n=13)
        batch = spark.createDataFrame(
            [(1, self.W + " tail"), (2, "unrelated words " * 8)], self.SCHEMA
        )
        clean = decontaminate_batch(batch, grams, n=13)
        plan = clean._jdf.queryExecution().executedPlan().toString()
        for py_node in ("EvalPython", "InPandas", "PythonUDF", "MapInArrow"):
            assert py_node not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert [r.doc_id for r in clean.collect()] == [2]
