"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched kernels.

The Spark-side contract (schemas, partitioning, UDF signatures, Arrow
batch shapes, 1→N frame explosion) is real and tested; the codec layer
is STUBBED because no image/audio libraries exist in this container:

* ``decode_image``/``decode_audio`` are DETERMINISTIC FAKES — they
  synthesize arrays from an md5 keystream of the payload, so every
  downstream kernel (features, resize, phash, frame sampling) is fully
  exercised and reproducible;
* swap in a real codec by replacing the two ``_fake_*`` functions (the
  signatures are the integration point), or raise
  ``NotImplementedError`` where a real decode is mandatory.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..plans.arrowmap import map_rows

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "width int, height int, sample_rate int, duration_ms int, codec string"
)


def _keystream(payload: bytes, n: int) -> np.ndarray:
    """Deterministic uint8 stream from an md5-CTR over the payload.

    The chain is hex-string based (block c = md5(md5hex(payload) ||
    '|' || str(c)), bytes = hex pairs) so a SQL oracle can recompute it
    with VARCHAR md5 in any engine — DuckDB 1.0 has no BLOB md5."""
    seed = hashlib.md5(payload).hexdigest()
    blocks = []
    for c in range(-(-n // 16)):
        blocks.append(hashlib.md5(f"{seed}|{c}".encode()).hexdigest())
    return np.frombuffer(bytes.fromhex("".join(blocks))[:n], dtype=np.uint8)


def decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB DECODE (deterministic fake): (height, width, 3) uint8.
    Replace with a real codec (PIL/opencv) when available."""
    return _keystream(payload, width * height * 3).reshape(height, width, 3)


def decode_audio(payload: bytes, sample_rate: int, duration_ms: int) -> np.ndarray:
    """STUB DECODE (deterministic fake): float32 mono PCM in [-1, 1]."""
    n = max(1, sample_rate * duration_ms // 1000)
    raw = _keystream(payload, n)
    return (raw.astype(np.float32) - 127.5) / 127.5


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents (payload =
    UTF-8 text bytes; metadata derived from doc fields)."""
    from ..plans.partitioning import ensure_min_parallelism

    docs = ensure_min_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), waves=1
    )
    return docs.selectExpr(
        "CAST(doc_id AS BIGINT) AS media_id",
        "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind",
        "CAST(encode(text, 'UTF-8') AS BINARY) AS payload",
        # multiples of 8 -> the 8x8 phash grid has EQUAL block sizes,
        # keeping the feature math integer-exact (oracle-reproducible)
        "CAST(16 + (n_chars % 8) * 8 AS INT) AS width",
        "CAST(16 + (n_chars % 5) * 8 AS INT) AS height",
        "CAST(8000 AS INT) AS sample_rate",
        "CAST(200 + (n_chars % 10) * 100 AS INT) AS duration_ms",
        "'fake' AS codec",
    )


def _media_map(df: DataFrame, kind: str, meta: tuple[str, ...], out_ddl: str, kernel,
               null_meta: list[tuple]) -> DataFrame:
    """One :func:`~gumbo_pp_spark.plans.arrowmap.map_rows` stage over
    the ``kind`` rows of ``df``: ``kernel(payload, *meta)`` returns the
    output tuples (after ``media_id``) of one media object.  One task
    per input partition: :func:`synth_media` spreads the one-row-group
    documents scan where it reads it.

    NULL contract:

    * a NULL ``payload`` is decoded as the empty payload ``b""`` (as
      ``extract_main_text`` parses a NULL html as the empty document),
      so the row yields the outputs of an empty media object;
    * a NULL in any ``meta`` column (the decode size) yields
      ``null_meta`` instead of running the kernel: the 1→1 kernels
      emit the row with NULL feature columns, :func:`sample_frames`
      emits no frames.

    Neither aborts the task."""

    def row(payload, *vals):
        if None in vals:
            return null_meta
        return kernel(b"" if payload is None else payload, *vals)

    return map_rows(df.where(f"kind = '{kind}'"), ("payload", *meta), out_ddl, row,
                    ("media_id",))


def image_features(df: DataFrame) -> DataFrame:
    """Per-image features via Arrow batches: per-channel SUMS (integer
    — exact, so the SQL oracle reproduces them bit-for-bit; a mean is
    one division away) and an 8x8 average-hash packed into a BIGINT.

    phash rule (all-integer): grid cell = sum of (r+g+b) over an equal
    h/8 × w/8 pixel block; bit i set iff 2*grid[i] > (s31 + s32) where
    s31/s32 are the two middle values of the sorted grid (the median×2
    — avoids float division).  Bit 63 kept clear for signed int64."""

    def row(payload, w, h):
        img = decode_image(payload, w, h).astype(np.int64)
        sums = img.reshape(-1, 3).sum(axis=0).tolist()
        # equal 8x8 blocks (w, h are multiples of 8 by contract)
        grid = img.sum(axis=2).reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3)).ravel()
        srt = np.sort(grid)
        med2 = int(srt[31]) + int(srt[32])
        bits = (2 * grid > med2).astype(np.uint64)
        phash = int((bits[:63] << np.arange(63, dtype=np.uint64)).sum())
        return [(*sums, w * h, phash)]

    return _media_map(
        df, "image", ("width", "height"),
        "sum_r bigint, sum_g bigint, sum_b bigint, n_px bigint, phash bigint", row,
        [(None,) * 5],
    )


def resize_images(df: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Block-mean resize; emits raw RGB bytes of the target size (the
    batch contract a real thumbnailer would use)."""

    def row(payload, w, h):
        img = decode_image(payload, w, h).astype(np.float64)
        ys = np.array_split(np.arange(img.shape[0]), out_h)
        xs = np.array_split(np.arange(img.shape[1]), out_w)
        small = np.array(
            [[img[np.ix_(y, x)].mean(axis=(0, 1)) for x in xs] for y in ys]
        ).astype(np.uint8)
        return [(small.tobytes(),)]

    return _media_map(df, "image", ("width", "height"), "thumb binary", row, [(None,)])


def sample_frames(df: DataFrame, every_ms: int = 250) -> DataFrame:
    """Video frame sampling: 1→N row explosion inside the Arrow batch
    (each frame is a fake-decoded image keyed by (payload, ts))."""

    def row(payload, w, h, dur):
        payload = bytes(payload)
        return [
            (i, ts, decode_image(payload + ts.to_bytes(4, "big"), w, h).tobytes())
            for i, ts in enumerate(range(0, dur, every_ms))
        ]

    return _media_map(
        df, "video", ("width", "height", "duration_ms"),
        "frame_idx int, ts_ms int, frame binary", row, [],
    )


def audio_features(df: DataFrame) -> DataFrame:
    """Per-clip RMS/zero-crossing stats over the fake PCM stream."""

    def row(payload, sr, dur):
        pcm = decode_audio(payload, sr, dur)
        return [(float(np.sqrt((pcm ** 2).mean())),
                 float((np.diff(np.signbit(pcm)) != 0).mean()))]

    return _media_map(
        df, "audio", ("sample_rate", "duration_ms"), "rms double, zcr double", row,
        [(None, None)],
    )
