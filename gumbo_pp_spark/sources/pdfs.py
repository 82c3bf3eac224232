"""Deterministic synthetic PDF corpus (north rule: "PDF/layout
parse" beside the HTML path).

These are REAL PDFs — COS objects, xref table, trailer, FlateDecode
(zlib, stdlib) content streams with BT/ET text blocks positioned via
Td/TD — generated from the documents table so the extracted text has
a closed-form SQL oracle.  No PDF library exists in the sandbox in
either direction; the generator writes the format from the spec and
``operators.pdf`` parses it back from the spec.

Layout: page 1 carries the title line at y=720 and body lines of 8
words stepping y by −14; every 7th document splits its body onto a
second page.  Extracted text is therefore
``'Doc <id>' + '\\n' + <body words in lines of 8>`` regardless of the
page split — the split only changes ``n_pages``.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.arrowmap import map_rows

WORDS_PER_LINE = 8


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _content_stream(lines: list[str]) -> bytes:
    parts = ["BT", "/F1 12 Tf", "72 720 Td"]
    for i, ln in enumerate(lines):
        if i:
            parts.append("0 -14 TD")
        parts.append(f"({_esc(ln)}) Tj")
    parts.append("ET")
    return "\n".join(parts).encode("latin-1")


def body_lines(text: str) -> list[str]:
    words = text.split(" ")
    return [
        " ".join(words[i : i + WORDS_PER_LINE])
        for i in range(0, len(words), WORDS_PER_LINE)
    ]


def make_pdf(doc_id: int, text: str, compress: bool = True) -> bytes:
    """One deterministic PDF: title page (+ body), or a 2-page split
    for every 7th doc.  Streams are FlateDecode when ``compress``."""
    lines = [f"Doc {doc_id}"] + body_lines(text)
    two_page = doc_id % 7 == 0 and len(lines) > 1
    page_lines = [[lines[0]], lines[1:]] if two_page else [lines]

    objects: dict[int, bytes] = {}
    n_pages = len(page_lines)
    page_ids = [4 + 2 * i for i in range(n_pages)]
    kids = " ".join(f"{p} 0 R" for p in page_ids)
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    objects[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    for i, pl in enumerate(page_lines):
        pid, cid = page_ids[i], page_ids[i] + 1
        objects[pid] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> /Contents {cid} 0 R >>"
        ).encode()
        data = _content_stream(pl)
        if compress:
            data = zlib.compress(data)
            head = f"<< /Length {len(data)} /Filter /FlateDecode >>"
        else:
            head = f"<< /Length {len(data)} >>"
        objects[cid] = head.encode() + b"\nstream\n" + data + b"\nendstream"

    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    xref_at = len(out)
    maxnum = max(objects)
    out += f"xref\n0 {maxnum + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, maxnum + 1):
        off = offsets.get(num, 0)
        out += f"{off:010d} {0 if num in offsets else 65535:05d} {'n' if num in offsets else 'f'} \n".encode()
    out += (
        f"trailer\n<< /Size {maxnum + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def synth_pdfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url, pdf binary) built from the documents table — the
    PDF sibling of ``synth_pages``.  Generation is a vectorized map
    stage (Arrow batches), like every decode path here."""
    from .pages import load_documents

    def row(doc_id, text):
        return [(f"https://pdfs.example/{doc_id}.pdf", make_pdf(doc_id, text))]

    # load_documents spreads the one-row-group documents scan, so the
    # generation stage (and a parse stage fused after it) runs one
    # task per core
    return map_rows(load_documents(spark, sf_dir), ("doc_id", "text"),
                    "url string, pdf binary", row, ("doc_id",))
