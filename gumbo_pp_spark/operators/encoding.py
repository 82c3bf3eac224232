"""Charset sniff + transcode stage: crawl bytes → UTF-8 pages.

Sits between a byte source (WARC reader, binaryFile scan) and the
parse stage: every page's encoding is sniffed per the WHATWG rules
(BOM → ≤1024-byte meta prescan → windows-1252 default; kernel in
:mod:`gumbo_pp_spark.parser.encoding`) and non-UTF-8 pages are
transcoded so the parser's UTF-8 contract holds on a real crawl
(the reference, like libgumbo, takes pre-transcoded UTF-8 —
reference ``src/gumbo_pp.cpp`` — leaving this stage to the caller;
here the caller side is implemented).

Scale shape: map-only ``mapInArrow`` (zero shuffle, composes into the
same narrow stage as the parse that follows); the dominant utf-8 case
never round-trips — sniff is a bounded 1024-byte prescan and the
buffer passes through unchanged.  Per-page Python is justified the
same way the parse stage's is: this IS the byte-level kernel work,
Arrow-batched, not row-at-a-time SQL avoidance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..parser.encoding import to_utf8
from ..plans.arrowmap import map_rows

ENC_FIELDS = "html binary, encoding string, enc_src string"


def sniff_and_transcode(
    df: DataFrame,
    passthrough: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Replace ``html`` with UTF-8 bytes; append ``encoding`` (the
    sniffed WHATWG name) and ``enc_src`` (``bom | meta | detected |
    default``).  A NULL ``html`` is sniffed as the empty page
    ``b""``."""

    def row(raw):
        return [to_utf8(b"" if raw is None else bytes(raw))]

    return map_rows(df, ("html",), ENC_FIELDS, row, passthrough)
