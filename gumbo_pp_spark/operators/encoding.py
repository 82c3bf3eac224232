"""Charset sniff + transcode stage: crawl bytes → UTF-8 pages.

Sits between a byte source (WARC reader, binaryFile scan) and the
parse stage: every page's encoding is sniffed per the WHATWG rules
(BOM → transport label → ≤1024-byte meta prescan → windows-1252
default; kernel in :mod:`gumbo_pp_spark.parser.encoding`) and
non-UTF-8 pages are transcoded so the parser's UTF-8 contract holds
on a real crawl (the reference, like libgumbo, takes pre-transcoded
UTF-8 — reference ``src/gumbo_pp.cpp`` — leaving this stage to the
caller; here the caller side is implemented).

Scale shape: map-only ``mapInArrow`` (zero shuffle, composes into the
same narrow stage as the parse that follows); the dominant utf-8 case
never round-trips — sniff is a bounded 1024-byte prescan and the
buffer passes through unchanged.  Per-page Python is justified the
same way the parse stage's is: this IS the byte-level kernel work,
Arrow-batched, not row-at-a-time SQL avoidance.
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import DataFrame

from ..parser.encoding import to_utf8

ENC_FIELDS = "html binary, encoding string, enc_src string"


def sniff_and_transcode(
    df: DataFrame,
    html_col: str = "html",
    passthrough: tuple[str, ...] = ("doc_id",),
    transport_col: str | None = None,
) -> DataFrame:
    """Replace ``html_col`` with UTF-8 bytes; append ``encoding`` (the
    sniffed WHATWG name) and ``enc_src`` (``bom | transport | meta |
    default``).  ``transport_col`` optionally names a column carrying
    the HTTP Content-Type charset label (the transport layer of the
    precedence order)."""
    import pyarrow as pa

    schema_parts = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in passthrough
    ]
    out_schema = ", ".join([*schema_parts, ENC_FIELDS])
    cols = [*passthrough, html_col] + ([transport_col] if transport_col else [])

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            raw = batch.column(html_col)
            labels = (
                batch.column(transport_col).to_pylist()
                if transport_col
                else [None] * batch.num_rows
            )
            utf8: list[bytes] = []
            encs: list[str] = []
            srcs: list[str] = []
            for blob, label in zip(raw, labels):
                data = blob.as_py() or b""
                u, e, s = to_utf8(data, label)
                utf8.append(u)
                encs.append(e)
                srcs.append(s)
            yield pa.RecordBatch.from_arrays(
                [
                    *(batch.column(c) for c in passthrough),
                    pa.array(utf8, pa.binary()),
                    pa.array(encs, pa.string()),
                    pa.array(srcs, pa.string()),
                ],
                [*passthrough, html_col, "encoding", "enc_src"],
            )

    return df.select(*cols).mapInArrow(fn, out_schema)
