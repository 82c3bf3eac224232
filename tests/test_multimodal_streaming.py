"""Multimodal binary-column plumbing: the fake image decode and the
image feature kernel."""

import numpy as np
import pytest

from gumbo_pp_spark.operators.multimodal import decode_image, image_features, synth_media

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
        # one image per third document, with the columns the kernel reads
        assert media.columns == ["media_id", "payload", "width", "height"]
        assert media.where("media_id % 3 != 0").count() == 0
        assert len(rows) == media.count() > 0
        again = {r.media_id: r.phash for r in image_features(media).collect()}
        for r in rows:
            assert 0 <= r.sum_r <= 255 * r.n_px
            assert r.n_px > 0
            assert again[r.media_id] == r.phash
            assert r.phash >= 0

    def test_kernels_run_in_map_in_arrow(self, spark, media):
        plan = image_features(media)._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan

    @pytest.mark.parametrize("stage, kind", [
        (image_features, "image"),
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
    ])
    def test_null_metadata_row(self, spark, stage, kind, meta):
        # a NULL decode size never reaches the decoder: the row is
        # emitted with NULL features
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
        n_out = len(stage(media).columns) - 1
        assert out == {i: [(None,) * n_out] for i, _ in rows[1:]}
