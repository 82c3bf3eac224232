"""WARC source/sink — Common-Crawl-style page ingestion (BASELINE.json
north rule: "Iceberg tables of Common-Crawl-style web pages"; the
upstream of any such table is a WARC crawl archive).

Format is written and parsed FROM THE SPEC (ISO 28500 / WARC 1.1,
public): ``WARC/1.1`` header block, CRLF header lines,
``Content-Length``-delimited block, two CRLF record separators.  The
Common Crawl layout is mirrored exactly where it matters for scale:

* **one gzip member per record** (spec annex D / CC practice) — a
  member is independently decompressible, so a reader holding a byte
  offset can ranged-GET one record out of a 1 GB file without touching
  the rest;
* a **CDX-style sidecar index** per file (``url, offset, length,
  id`` TSV — a deliberately minimal cut of CC's CDXJ) written by the
  same task that wrote the file, enabling the split/ranged read path;
* response records carry an **HTTP/1.1 envelope** around the html
  payload, as in a real crawl.

The reader, :func:`read_warc_cdx`, reads the (tiny) sidecar indexes
distributed, buckets records into fixed-size range groups, and each
task seek-reads only its members (local seek here; ranged GET on an
object store — same access pattern).  Task size is
:data:`RECORDS_PER_TASK` records regardless of file sizes, so one fat file cannot
skew the scan (``binaryFile``, which reads a whole file per task,
would).

Robustness contract (mirrors ``operators/pdf.py``): a corrupt member
yields ONE error row (``warc_ok = false``) and never poisons the task;
parsing resumes at the next member when the gzip framing survives.
"""

from __future__ import annotations

import gzip
import os
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

CRLF = b"\r\n"

# reader output shape == input_hint page shape (url, warc_ts, html)
WARC_FIELDS = "url string, warc_ts timestamp, html binary, warc_ok boolean"
#: WARC files :func:`write_warc_corpus` writes, and the records one
#: :func:`read_warc_cdx` task fetches
N_WARC_FILES = 8
RECORDS_PER_TASK = 2000


# ----------------------------------------------------------------------
# record construction (writer side)
# ----------------------------------------------------------------------
def _warc_date(ts) -> str:
    # WARC-Date: UTC, ISO 8601 with Z (spec §5.4)
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def make_response_record(url: str, date: str, html: bytes, rec_id: int) -> bytes:
    """One uncompressed WARC/1.1 response record: WARC headers, an
    HTTP/1.1 envelope, the html payload, two CRLF separators."""
    http = (
        b"HTTP/1.1 200 OK" + CRLF
        + b"Content-Type: text/html; charset=UTF-8" + CRLF
        + b"Content-Length: " + str(len(html)).encode() + CRLF
        + CRLF + html
    )
    headers = (
        b"WARC/1.1" + CRLF
        + b"WARC-Type: response" + CRLF
        # deterministic record id (no uuid4 — resumable jobs must
        # rewrite identical bytes; see plans/lineage.py)
        + b"WARC-Record-ID: <urn:gumbo-pp-spark:" + str(rec_id).encode() + b">" + CRLF
        + b"WARC-Date: " + date.encode() + CRLF
        + b"WARC-Target-URI: " + url.encode() + CRLF
        + b"Content-Type: application/http;msgtype=response" + CRLF
        + b"Content-Length: " + str(len(http)).encode() + CRLF
        + CRLF
    )
    return headers + http + CRLF + CRLF


def make_warcinfo(filename: str) -> bytes:
    body = b"software: gumbo-pp-spark\r\nformat: WARC file version 1.1\r\n"
    return (
        b"WARC/1.1" + CRLF
        + b"WARC-Type: warcinfo" + CRLF
        + b"WARC-Filename: " + filename.encode() + CRLF
        + b"Content-Type: application/warc-fields" + CRLF
        + b"Content-Length: " + str(len(body)).encode() + CRLF
        + CRLF + body + CRLF + CRLF
    )


def gzip_member(record: bytes) -> bytes:
    # mtime=0 → byte-deterministic output (idempotent re-writes)
    return gzip.compress(record, 9, mtime=0)


# ----------------------------------------------------------------------
# record parsing (reader side)
# ----------------------------------------------------------------------
def _split_members(blob: bytes) -> Iterator[tuple[bytes, int, bool]]:
    """Yield ``(record_bytes, member_length, ok)`` per gzip member (or
    the whole blob once if the file is uncompressed WARC)."""
    if blob[:5] == b"WARC/":
        yield blob, len(blob), True
        return
    pos, n = 0, len(blob)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        try:
            rec = d.decompress(blob[pos:])
            if not d.eof:
                raise zlib.error("truncated gzip member")
        except zlib.error:
            # framing lost — one error signal for the file remainder
            yield b"", n - pos, False
            return
        consumed = (n - pos) - len(d.unused_data)
        yield rec, consumed, True
        pos += consumed


def parse_record(rec: bytes) -> tuple[dict, bytes]:
    """(warc_headers, block) for one uncompressed record; raises
    ValueError on malformed framing."""
    head_end = rec.find(CRLF + CRLF)
    if not rec.startswith(b"WARC/") or head_end < 0:
        raise ValueError("not a WARC record")
    headers: dict[str, str] = {}
    for line in rec[:head_end].split(CRLF)[1:]:
        k, _, v = line.partition(b":")
        headers[k.decode("latin-1").strip().lower()] = v.decode("latin-1").strip()
    length = int(headers["content-length"])
    block = rec[head_end + 4 : head_end + 4 + length]
    if len(block) != length:
        raise ValueError("short block")
    return headers, block


def http_payload(block: bytes) -> bytes:
    """Strip the HTTP/1.1 envelope: payload begins after the first
    blank line (spec: msgtype=response blocks are full HTTP messages)."""
    sep = block.find(CRLF + CRLF)
    return block[sep + 4 :] if sep >= 0 else block


def _iter_file_records(blob: bytes) -> Iterator[tuple[str, object, bytes, bool]]:
    """(url, warc_ts, html, ok) rows from one WARC file's bytes —
    shared by both readers.  Non-response records (warcinfo, …) are
    skipped; a corrupt member is one error row, not a task failure."""
    from datetime import datetime

    def rows(rec: bytes) -> Iterator[tuple[str, object, bytes, bool]]:
        # an uncompressed file holds many records back-to-back
        pos = 0
        while pos < len(rec):
            try:
                headers, block = parse_record(rec[pos:])
            except ValueError:
                yield None, None, None, False
                return
            consumed = (
                rec.find(CRLF + CRLF, pos) - pos + 4 + int(headers["content-length"]) + 4
            )
            if headers.get("warc-type") == "response":
                ts = datetime.strptime(headers["warc-date"], "%Y-%m-%dT%H:%M:%SZ")
                yield headers.get("warc-target-uri"), ts, http_payload(block), True
            pos += consumed

    for member, _length, ok in _split_members(blob):
        if not ok:
            yield None, None, None, False
            return
        yield from rows(member)


# ----------------------------------------------------------------------
# distributed sink
# ----------------------------------------------------------------------
def write_warc_corpus(pages: DataFrame, out_dir: str) -> None:
    """Write ``(doc_id, url, warc_ts, html)`` as ``n_files`` =
    :data:`N_WARC_FILES` WARC files + CDX sidecars.  File assignment is
    ``doc_id % n_files`` (content-
    deterministic, NOT partition-id-dependent — re-running the job
    rewrites byte-identical files, the lineage/resume property).  Each
    file is written tmp+rename so readers never observe a torn file.
    """
    n_files = N_WARC_FILES
    os.makedirs(out_dir, exist_ok=True)
    cols = pages.select("doc_id", "url", "warc_ts", "html") \
        .withColumn("_f", F.pmod(F.col("doc_id"), F.lit(n_files)))

    def write_partition(rows) -> None:
        by_file: dict[int, list] = {}
        for r in rows:
            by_file.setdefault(r._f, []).append(r)
        for fno, rs in by_file.items():
            rs.sort(key=lambda r: r.doc_id)
            name = f"part-{fno:05d}.warc.gz"
            body = bytearray(gzip_member(make_warcinfo(name)))
            index = []
            for r in rs:
                member = gzip_member(
                    make_response_record(r.url, _warc_date(r.warc_ts), bytes(r.html), r.doc_id)
                )
                index.append(f"{r.url}\t{len(body)}\t{len(member)}\t{r.doc_id}\n")
                body += member
            tmp = os.path.join(out_dir, f".{name}.tmp")
            with open(tmp, "wb") as f:
                f.write(body)
            os.replace(tmp, os.path.join(out_dir, name))
            tmp_idx = os.path.join(out_dir, f".{name}.cdx.tmp")
            with open(tmp_idx, "w") as f:
                f.writelines(index)
            os.replace(tmp_idx, os.path.join(out_dir, name.replace(".warc.gz", ".cdx")))

    # one shuffle keyed on the file number: each file's records land in
    # one task (hash collisions merging two file groups into one task
    # are fine — the writer splits by _f again)
    cols.repartition(n_files, "_f").foreachPartition(write_partition)


# ----------------------------------------------------------------------
# distributed source
# ----------------------------------------------------------------------
def _records_batch(rows):
    """WARC_FIELDS Arrow batch from ``_iter_file_records`` rows."""
    import pyarrow as pa

    urls, tss, htmls, oks = zip(*rows)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(urls, pa.string()),
            pa.array(tss, pa.timestamp("us")),
            pa.array(htmls, pa.binary()),
            pa.array(oks, pa.bool_()),
        ],
        ["url", "warc_ts", "html", "warc_ok"],
    )


def read_warc_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Skew-proof ranged-read WARC source: distribute the CDX sidecars,
    bucket records into :data:`RECORDS_PER_TASK` groups, and seek-read only
    the addressed gzip members (ranged GET on an object store).  Task
    size is independent of WARC file sizes."""
    idx = (
        spark.read.format("text").load(f"{path}/*.cdx")
        .select(
            F.input_file_name().alias("cdx"),
            F.split("value", "\t").alias("p"),
        )
        .select(
            F.regexp_replace("cdx", r"\.cdx$", ".warc.gz").alias("file"),
            F.col("p")[1].cast("bigint").alias("offset"),
            F.col("p")[2].cast("bigint").alias("length"),
        )
        # fixed-size range groups *within* each file: offset-ordered
        # window over the (tiny) index, not over page bytes
        .withColumn(
            "grp",
            F.floor(
                (F.row_number().over(
                    Window.partitionBy("file").orderBy("offset")
                ) - 1) / RECORDS_PER_TASK
            ),
        )
    )

    def fetch(batches) -> Iterator:
        from urllib.parse import urlparse

        for rb in batches:
            # each file's members in offset order, files in first-seen order
            members: dict[str, list[tuple[int, int]]] = {}
            for file, off, length in zip(*(rb.column(c).to_pylist()
                                           for c in ("file", "offset", "length"))):
                members.setdefault(file, []).append((off, length))
            rows = []
            for file, spans in members.items():
                local = urlparse(file).path  # binary local path; ranged GET off-sandbox
                with open(local, "rb") as f:
                    for off, length in sorted(spans):
                        f.seek(off)
                        rows += _iter_file_records(f.read(length))
            if rows:
                yield _records_batch(rows)

    # one shuffle on (file, grp) — each task fetches ~RECORDS_PER_TASK
    # members; no full-file reads anywhere on this path
    n = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    return idx.repartition(n, "file", "grp").mapInArrow(fetch, WARC_FIELDS)
