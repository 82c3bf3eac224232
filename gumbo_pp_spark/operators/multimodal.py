"""Multimodal column plumbing: images as an opaque binary column with
typed metadata, processed by an Arrow-batched kernel.

The Spark-side contract (schemas, partitioning, the row kernel's
signature, Arrow batch shapes) is real and tested; the codec layer is
STUBBED because the project depends on no image codec library:

* ``decode_image`` is a DETERMINISTIC FAKE — it synthesizes pixels
  from an md5 keystream of the payload, so the downstream kernel
  (channel sums, phash) is fully exercised and reproducible;
* swap in a real codec by replacing ``decode_image`` (its signature
  is the integration point), or raise ``NotImplementedError`` where a
  real decode is mandatory.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..plans.arrowmap import map_rows

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


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic image table derived from documents: one image per
    document with ``doc_id % 3 = 0`` (payload = UTF-8 text bytes;
    decode size derived from ``n_chars``), with the columns
    :func:`image_features` reads."""
    from ..sources.pages import load_documents

    return load_documents(spark, sf_dir).where("doc_id % 3 = 0").selectExpr(
        "CAST(doc_id AS BIGINT) AS media_id",
        "CAST(encode(text, 'UTF-8') AS BINARY) AS payload",
        # multiples of 8 -> the 8x8 phash grid has EQUAL block sizes,
        # keeping the feature math integer-exact (oracle-reproducible)
        "CAST(16 + (n_chars % 8) * 8 AS INT) AS width",
        "CAST(16 + (n_chars % 5) * 8 AS INT) AS height",
    )


def image_features(df: DataFrame) -> DataFrame:
    """Per-image features via Arrow batches: per-channel SUMS (integer
    — exact, so the SQL oracle reproduces them bit-for-bit; a mean is
    one division away) and an 8x8 average-hash packed into a BIGINT.

    phash rule (all-integer): grid cell = sum of (r+g+b) over an equal
    h/8 × w/8 pixel block; bit i set iff 2*grid[i] > (s31 + s32) where
    s31/s32 are the two middle values of the sorted grid (the median×2
    — avoids float division).  Bit 63 kept clear for signed int64.

    One :func:`~gumbo_pp_spark.plans.arrowmap.map_rows` stage over the
    rows of ``df`` (each an image), one task per input partition:
    :func:`synth_media` reads the documents through
    :func:`~gumbo_pp_spark.sources.pages.load_documents`, which spreads
    the one-row-group scan.  NULL contract (neither aborts the task):

    * a NULL ``payload`` is decoded as the empty payload ``b""`` (as
      ``extract_main_text`` parses a NULL html as the empty document);
    * a NULL ``width`` or ``height`` (the decode size) never reaches the
      decoder: the row is emitted with NULL feature columns."""

    def row(payload, w, h):
        if w is None or h is None:
            return [(None,) * 5]
        img = decode_image(b"" if payload is None else payload, w, h).astype(np.int64)
        sums = img.reshape(-1, 3).sum(axis=0).tolist()
        # equal 8x8 blocks (w, h are multiples of 8 by contract)
        grid = img.sum(axis=2).reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3)).ravel()
        srt = np.sort(grid)
        med2 = int(srt[31]) + int(srt[32])
        bits = (2 * grid > med2).astype(np.uint64)
        phash = int((bits[:63] << np.arange(63, dtype=np.uint64)).sum())
        return [(*sums, w * h, phash)]

    return map_rows(
        df, ("payload", "width", "height"),
        "sum_r bigint, sum_g bigint, sum_b bigint, n_px bigint, phash bigint", row,
        ("media_id",),
    )
