"""PDF text extraction with layout ordering (north rule: "PDF/layout
parse").

A from-spec minimal PDF reader — no library, none exists in the
sandbox: COS object scan, page tree in document order, FlateDecode
(zlib) stream decoding, and a content-stream tokenizer covering the
text-showing subset real extractors key on: BT/ET blocks, Tf, the
positioning operators Td/TD/Tm/T*, and the show operators Tj/TJ/'/"
(TJ kerning numbers ignored for text purposes).  String syntax:
literal ``(...)`` with nesting + ``\\``-escapes (incl. octal and
line-continuation) and hex ``<...>``.

Layout parse, not stream order: every show op records its device
(x, y); lines are grouped by y (descending — PDF y grows upward),
chunks within a line ordered by x, exactly the heuristic pdfminer
et al. apply.  Extraction is a map-only Arrow-batch stage like the
HTML path — no shuffle, no driver round-trips.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame

from ..plans.arrowmap import map_rows

_OBJ_START_RE = re.compile(rb"(\d+)\s+0\s+obj\b")
_STREAM_RE = re.compile(rb"stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b")
_REF_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[((?:\s*\d+\s+0\s+R)+)\s*\]")
_NUM_RE = re.compile(rb"(\d+)\s+0\s+R")

_OCTAL = re.compile(rb"[0-7]{1,3}")


def _objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """num → (dict head, raw stream bytes or None).

    Stream extents come from /Length, NEVER from searching for
    ``endstream``/``endobj`` markers — compressed bytes may contain
    either marker (and may legitimately end in EOL bytes, so even an
    rstrip corrupts ~1/128 of Flate streams)."""
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    for m in _OBJ_START_RE.finditer(data):
        num, i = int(m.group(1)), m.end()
        sm = _STREAM_RE.search(data, i)
        em = data.find(b"endobj", i)
        if sm is not None and (em == -1 or sm.start() < em):
            head = data[i : sm.start()]
            start = sm.end()
            lm = _LENGTH_RE.search(head)
            if lm:
                raw = data[start : start + int(lm.group(1))]
            else:  # damaged /Length: fall back, stripping ONE EOL
                es = data.find(b"endstream", start)
                raw = data[start : es if es >= 0 else len(data)]
                if raw.endswith(b"\r\n"):
                    raw = raw[:-2]
                elif raw.endswith((b"\n", b"\r")):
                    raw = raw[:-1]
            objs[num] = (head, raw)
        else:
            objs[num] = (data[i : em if em >= 0 else len(data)], None)
    return objs


def _decode_stream(head: bytes, raw: bytes) -> bytes:
    return zlib.decompress(raw) if b"/FlateDecode" in head else raw


def _page_content_ids(objs: dict[int, tuple[bytes, bytes | None]]) -> list[int]:
    """Content-object ids in page-tree order (document order)."""
    pages = []
    # find the Pages node (has /Kids); fall back to scanning /Type /Page
    for head, _ in objs.values():
        km = _KIDS_RE.search(head)
        if km and b"/Type" in head and b"/Pages" in head:
            for nm in _NUM_RE.finditer(km.group(1)):
                pages.append(int(nm.group(1)))
            break
    if not pages:
        pages = [
            n
            for n, (head, _) in sorted(objs.items())
            if b"/Type" in head and b"/Page" in head and b"/Pages" not in head
        ]
    out = []
    for p in pages:
        head, _ = objs.get(p, (b"", None))
        cm = _REF_RE.search(head)
        if cm:
            out.append(int(cm.group(1)))
    return out


def _lex_string(s: bytes, i: int) -> tuple[str, int]:
    """Literal string starting at '(' — returns (decoded, next index)."""
    assert s[i : i + 1] == b"("
    i += 1
    depth = 1
    out = bytearray()
    n = len(s)
    while i < n:
        c = s[i : i + 1]
        if c == b"\\":
            nxt = s[i + 1 : i + 2]
            if nxt in b"nrtbf":
                out += {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f"}[nxt]
                i += 2
            elif nxt in (b"(", b")", b"\\"):
                out += nxt
                i += 2
            elif nxt == b"\n":
                i += 2  # line continuation
            else:
                m = _OCTAL.match(s, i + 1)
                if m:
                    out.append(int(m.group(0), 8) & 0xFF)
                    i = m.end()
                else:
                    i += 1  # lone backslash: dropped per spec
            continue
        if c == b"(":
            depth += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                return out.decode("latin-1"), i + 1
        out += c
        i += 1
    return out.decode("latin-1"), i


_TOKEN = re.compile(
    rb"\(|<(?!<)[0-9A-Fa-f\s]*>|\[|\]|/[^\s\[\]()<>/]*|[-+]?[0-9]*\.?[0-9]+|[A-Za-z'\"*]+"
)


def _extract_chunks(content: bytes) -> list[tuple[float, float, str]]:
    """(y, x, text) per show operator, tracking Td/TD/Tm/T*."""
    chunks: list[tuple[float, float, str]] = []
    stack: list[object] = []
    x = y = 0.0
    leading = 0.0
    i, n = 0, len(content)
    while i < n:
        m = _TOKEN.search(content, i)
        if not m:
            break
        tok = m.group(0)
        if tok == b"(":
            s, i = _lex_string(content, m.start())
            stack.append(s)
            continue
        i = m.end()
        if tok.startswith(b"<"):
            hx = re.sub(rb"\s", b"", tok[1:-1])
            if len(hx) % 2:
                hx += b"0"
            stack.append(bytes.fromhex(hx.decode()).decode("latin-1"))
        elif tok in (b"[", b"]"):
            continue  # TJ arrays: strings/numbers already on the stack
        elif tok.startswith(b"/"):
            stack.append(tok)
        elif tok[:1].isdigit() or tok[:1] in b"-+." or (len(tok) > 1 and tok[1:2].isdigit()):
            try:
                stack.append(float(tok))
            except ValueError:
                stack.append(tok)
        elif tok in (b"Td", b"TD"):
            if len(stack) >= 2 and isinstance(stack[-1], float) and isinstance(stack[-2], float):
                dx, dy = stack[-2], stack[-1]
                x += dx
                y += dy
                if tok == b"TD":
                    leading = -dy
            stack.clear()
        elif tok == b"Tm":
            if len(stack) >= 2 and isinstance(stack[-1], float) and isinstance(stack[-2], float):
                x, y = stack[-2], stack[-1]
            stack.clear()
        elif tok == b"T*":
            y -= leading
            stack.clear()
        elif tok == b"Tj":
            if stack and isinstance(stack[-1], str):
                chunks.append((y, x, stack[-1]))
            stack.clear()
        elif tok in (b"'", b'"'):
            y -= leading
            if stack and isinstance(stack[-1], str):
                chunks.append((y, x, stack[-1]))
            stack.clear()
        elif tok == b"TJ":
            txt = "".join(v for v in stack if isinstance(v, str))
            if txt:
                chunks.append((y, x, txt))
            stack.clear()
        elif tok == b"BT":
            x = y = 0.0
            leading = 0.0
            stack.clear()
        elif tok in (b"ET", b"Tf", b"Tc", b"Tw", b"Tz", b"TL", b"Ts", b"Tr"):
            stack.clear()
    return chunks


def pdf_text_bytes(data: bytes) -> tuple[str, int]:
    """(extracted text, n_pages) — pages in tree order, lines by
    descending y, chunks within a line by x, space-joined; lines and
    pages joined by newline."""
    objs = _objects(data)
    cids = _page_content_ids(objs)
    page_texts = []
    for cid in cids:
        head, raw = objs.get(cid, (b"", None))
        if raw is None:
            continue
        content = _decode_stream(head, raw)
        chunks = _extract_chunks(content)
        lines: dict[float, list[tuple[float, str]]] = {}
        for cy, cx, txt in chunks:
            lines.setdefault(round(cy, 3), []).append((cx, txt))
        ordered = []
        for cy in sorted(lines, reverse=True):
            ordered.append(" ".join(t for _, t in sorted(lines[cy], key=lambda p: p[0])))
        if ordered:
            page_texts.append("\n".join(ordered))
    return "\n".join(page_texts), len(cids)


def extract_pdf_text(
    df: DataFrame, passthrough: tuple[str, ...] = ("doc_id", "url")
) -> DataFrame:
    """(passthrough..., text, n_pages, parse_ok) — map-only Arrow-batch
    stage, the PDF sibling of ``extract_main_text``.

    Resilient per document: a truncated file, corrupt Flate stream, or
    any other malformed input yields (text='', n_pages=0,
    parse_ok=false) as an ERROR RECORD instead of poisoning the task —
    one bad object in 10^12 must not kill a 4-hour job; the parse_ok
    column is the dirty-tail accounting (no silent drops).  The input
    projection is pruned to passthrough + ``pdf``, so a parquet
    scan reads only those columns.

    NULL contract: a NULL ``pdf`` is an error record, like any other
    input ``pdf_text_bytes`` cannot read."""

    def row(raw):
        try:
            # bytes(None) raises: a NULL pdf takes the error branch
            return [(*pdf_text_bytes(bytes(raw)), True)]
        except Exception:
            return [("", 0, False)]

    return map_rows(df, ("pdf",), "text string, n_pages bigint, parse_ok boolean", row,
                    passthrough)
