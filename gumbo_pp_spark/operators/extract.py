"""Arrow-batched parse → select → extract stage (the engine's core
map operator; SURVEY.md §3 lifecycle E1-E3 at corpus scale).

The reference runs parse (``gumbo_range``, src/gumbo_pp.cpp:33-34),
query (std::find_if + matchers) and extraction (gumbo_text.h) per
document, single-threaded.  Here the same three phases run inside a
``mapInArrow`` stage: Spark streams Arrow batches of page rows into a
Python worker, each document is parsed once into a preorder NodeTable,
an extraction *program* (plain Python over numpy node arrays — the
per-document work is vectorized columnar kernels, no per-node Python
closures) emits the output columns, and results stream back as Arrow.
The flagship main-text stage runs the parse and its kernel for a whole
Arrow batch in one C call (:func:`main_text_batch`), with the Python
kernel as the reference for the rows the C engine does not take.

Embarrassingly parallel across documents → map-only stage, no shuffle;
Catalyst prunes the scan to exactly the input columns the stage needs
(html + passthrough), verified in tests via ``.explain``.
"""

from __future__ import annotations

import functools
import re
from typing import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..nodetable import CDATA, ELEMENT, TEXT, WHITESPACE, NodeTable
from ..parser.html5 import parse_html
from ..parser.tags import TAG_IDS
from ..plans.arrowmap import map_rows, passthrough_ddl, row_values

# Boilerplate chrome subtrees dropped by the flagship main-content
# program — all tags are in the reference vocabulary
# (gumbo_matchers.h:926-1077).
BOILERPLATE_TAGS = frozenset(
    "script style nav header footer aside form noscript iframe template "
    "select option button svg".split()
)
# int16 tag-id comparisons beat object-string compares in the hot path
_BOILERPLATE_IDS = np.array(sorted(TAG_IDS[t] for t in BOILERPLATE_TAGS), dtype=np.int16)
# boolean lookup table: `lut[tag_id]` is ~30x cheaper per document than
# np.isin (whose setup overhead dominates at ~100 nodes/doc); the last
# slot stays False so the -1 ids of non-elements gather safely
_BOILER_LUT = np.zeros(max(TAG_IDS.values()) + 2, dtype=bool)
_BOILER_LUT[_BOILERPLATE_IDS] = True
_BODY_ID = TAG_IDS["body"]
_A_ID = TAG_IDS["a"]

_TEXTUAL = (TEXT, CDATA, WHITESPACE)
# boolean LUT over node-type codes: one gather replaces three compares
# + two ORs per document in the hot kernel
_TEXTUAL_LUT = np.zeros(8, dtype=bool)
_TEXTUAL_LUT[list(_TEXTUAL)] = True

# the C fast path takes the boilerplate tag-id list as an argument so
# BOILERPLATE_TAGS above stays the single source of truth (no parallel
# C-side list to drift)
_BOILER_ID_BYTES = _BOILERPLATE_IDS.tobytes()


# ----------------------------------------------------------------------
# generic program runner
# ----------------------------------------------------------------------
def run_program(
    df: DataFrame,
    program: Callable[[NodeTable], dict],
    out_fields: str,
    passthrough: tuple[str, ...] = ("doc_id", "url"),
) -> DataFrame:
    """Run ``program`` over every page.  ``program(nt) -> dict`` of the
    columns declared in ``out_fields`` (DDL fragment).  Passthrough
    columns are carried unchanged; the input projection is pruned to
    passthrough + html so parquet scans read only what is needed.  A
    NULL html is parsed as the empty document ``b""``.

    One :func:`~gumbo_pp_spark.plans.arrowmap.map_rows` stage: the
    html column reaches the parse as zero-copy memoryview slices of the
    Arrow buffer, and the passthrough columns stay Arrow arrays.

    Parallelism contract: the stage runs one task per partition of
    ``df`` and adds no exchange.  A narrow input — one row group, one
    small file — is spread where the data is read
    (:func:`~gumbo_pp_spark.sources.pages.read_pages`,
    :func:`~gumbo_pp_spark.sources.pages.load_documents`).
    """
    names = StructType.fromDDL(out_fields).fieldNames()

    def row(raw):
        res = program(parse_html(b"" if raw is None else raw))
        return [tuple(res[c] for c in names)]

    return map_rows(df, ("html",), out_fields, row, passthrough)


# ----------------------------------------------------------------------
# per-batch engine: one C call per Arrow batch, main_text_program rows
# for every row the C call does not produce
# ----------------------------------------------------------------------
@functools.cache
def _spans_type():
    """Arrow type of the ``spans`` column (:data:`MAIN_TEXT_FIELDS`),
    shared by the C-built column and the main_text_program rows."""
    import pyarrow as pa

    return pa.list_(pa.struct([
        ("node_id", pa.int32()), ("tag", pa.string()), ("start", pa.int64()),
        ("end", pa.int64()), ("start_byte", pa.int64()), ("end_byte", pa.int64()),
    ]))


def main_text_batch(rb, stage_metrics: bool = False):
    """Main text for one Arrow batch: the whole per-batch body of
    :func:`extract_main_text`'s worker.  The last column of ``rb`` is
    the html (binary or string; a string column is read as binary, the
    two share a layout), the columns before it pass through.

    One ``cextract_batch`` call parses and extracts the whole column
    and hands back batch-level buffers in Arrow layout (text and
    parent-tag columns as one UTF-8 blob plus int32 offsets, wrapped
    zero-copy) — the engaged rows build no per-document Python
    objects.  Every row that call does not produce is
    ``main_text_program(parse_html(html))``:

    * its designed bail rows;
    * NULL rows, parsed as the empty document ``b""``;
    * every row when the C engine is off (``GUMBO_PP_CENGINE=0``, or
      ``html5._cparse_fast`` is None) or the call declines the batch
      (over 1 GiB of text: int32 offset overflow).

    Those rows are built as one Arrow column each and merged into the
    C-built ``text`` and ``spans`` columns with one ``take``.

    With ``stage_metrics``, ``c_engine`` is 1 iff the C engine parsed
    the row, and ``parse_us`` carries the row's whole parse + kernel
    time (``kernel_us`` is 0: the two are fused)."""
    import time

    import pyarrow as pa

    from ..parser import cengine, html5

    clk = time.perf_counter
    n_pt = rb.num_columns - 1
    htmls = rb.column(n_pt)
    if pa.types.is_string(htmls.type):
        htmls = htmls.view(pa.binary())
    elif pa.types.is_large_string(htmls.type):
        htmls = htmls.view(pa.large_binary())
    n = len(htmls)
    spans_t = _spans_type()
    res = None
    if n:
        is64 = pa.types.is_large_binary(htmls.type)
        dt = np.int64 if is64 else np.int32
        bufs = htmls.buffers()
        data = bufs[2] or b""
        off = np.frombuffer(bufs[1], dt, n + 1, htmls.offset * np.dtype(dt).itemsize)
        if html5._cparse_fast is not None and cengine._cextract_batch is not None:
            res = cengine._cextract_batch(data, off, int(is64), _BOILER_ID_BYTES)
    if res is None:
        text_arr, spans = pa.array([], pa.string()), pa.array([], spans_t)
        nn, pe, tot = np.zeros(n, np.int32), np.zeros(n, np.int32), np.zeros(n, np.int64)
        py_rows = np.arange(n)
    else:
        (txt, toff, sid, s0, s1, b0, b1, cnt, ptg, poff, nn, pe, tot, py_rows) = res
        text_arr = pa.StringArray.from_buffers(n, pa.py_buffer(toff), pa.py_buffer(txt))
        tag_arr = pa.StringArray.from_buffers(len(sid), pa.py_buffer(poff), pa.py_buffer(ptg))
        # byte columns computed in C: identity for pure-ASCII CR-free
        # docs, exact char→byte map for CRLF / multibyte-UTF-8 docs
        struct = pa.StructArray.from_arrays(
            [pa.array(sid), tag_arr, pa.array(s0), pa.array(s1), pa.array(b0), pa.array(b1)],
            fields=list(spans_t.value_type),
        )
        loff = np.empty(n + 1, np.int32)
        loff[0] = 0
        np.cumsum(cnt, out=loff[1:])
        spans = pa.ListArray.from_arrays(pa.array(loff), struct)
        if htmls.null_count:
            # NULL rows never depend on what a null slot's bytes hold
            nulls = np.nonzero(htmls.is_null().to_numpy(zero_copy_only=False))[0]
            py_rows = np.union1d(py_rows, nulls)
    c_eng = np.ones(n, np.int8)
    if len(py_rows):
        data_mv = memoryview(data)
        valid = htmls.is_valid().to_numpy(zero_copy_only=False)
        texts, span_rows = [], []
        for k in py_rows.tolist():
            t0 = clk()
            c0 = html5._cstats["c"]
            row = main_text_program(parse_html(data_mv[off[k]: off[k + 1]] if valid[k] else b""))
            texts.append(row["text"])
            span_rows.append(row["spans"])
            nn[k] = row["n_nodes"]
            pe[k] = row["parse_errors"]
            tot[k] = int((clk() - t0) * 1e6)
            # parse_html counts each document its C dispatch accepted
            c_eng[k] = html5._cstats["c"] > c0
        # output row k: its C row, or its main_text_program row, which
        # follows the len(text_arr) C rows
        idx = np.arange(n)
        idx[py_rows] = len(text_arr) + np.arange(len(py_rows))
        text_arr = pa.concat_arrays([text_arr, pa.array(texts, pa.string())]).take(idx)
        spans = pa.concat_arrays([spans, pa.array(span_rows, spans_t)]).take(idx)
    cols = [rb.column(i) for i in range(n_pt)]
    cols += [text_arr, spans, pa.array(nn), pa.array(pe)]
    names = [*rb.schema.names[:n_pt], "text", "spans", "n_nodes", "parse_errors"]
    if stage_metrics:
        cols += [pa.array(tot), pa.array(np.zeros(n, np.int64)), pa.array(c_eng)]
        names += ["parse_us", "kernel_us", "c_engine"]
    return pa.RecordBatch.from_arrays(cols, names=names)


# ----------------------------------------------------------------------
# kernel: boilerplate-stripped main text + spans
# ----------------------------------------------------------------------
def _excluded_mask(nt: NodeTable, bad_roots: np.ndarray) -> np.ndarray:
    """Paint subtree intervals [i, subtree_end) of bad roots."""
    diff = np.zeros(nt.n + 1, dtype=np.int32)
    np.add.at(diff, bad_roots, 1)
    np.subtract.at(diff, nt.subtree_end[bad_roots], 1)
    return np.cumsum(diff[:-1]) > 0


def _main_text_columns(nt: NodeTable):
    """The main-text kernel, the one Python copy (``extract_doc_into``
    in _cext/chtml.c is pinned column-identical to it): body-subtree
    window, boilerplate-subtree exclusion, textual nodes in document
    order.  Returns ``(text, tids, ptags, s0, s1, b0, b1)``: the
    concatenated text and, per kept TEXT node, its preorder id, parent
    tag name, char span and byte span (numpy columns; ``ptags`` a
    list)."""
    tag_id = nt.tag_id
    body = int(np.argmax(tag_id == _BODY_ID))
    lo, hi = nt.subtree(body) if tag_id[body] == _BODY_ID else (0, nt.n)
    bad = np.nonzero(_BOILER_LUT[tag_id])[0]
    t = nt.type
    keep = _TEXTUAL_LUT[t]
    keep[:lo] = False
    keep[hi:] = False
    if len(bad):
        keep &= ~_excluded_mask(nt, bad)
    ids = np.nonzero(keep)[0]
    tids = ids[t[ids] == TEXT]
    par = nt.parent[tids]
    ptags = np.where(par >= 0, nt.tag_name[par], "").tolist()
    s0, s1 = nt.src_start[tids], nt.src_end[tids]
    return ("".join(nt.text[ids].tolist()), tids, ptags, s0, s1,
            nt.byte_offsets(s0), nt.byte_offsets(s1))


def main_text_program(nt: NodeTable) -> dict:
    """Flagship extraction (SURVEY.md §7 M2): drop boilerplate chrome
    subtrees and comments, keep remaining body text in document order
    (content_text concatenation semantics — no separators), and emit
    per-node span offsets.

    SPAN OFFSET CONTRACT: ``start``/``end`` index the PARSER INPUT
    STRING — ``html.decode('utf-8', 'replace')`` with ``\\r\\n``/``\\r``
    normalized to ``\\n`` (WHATWG input-stream preprocessing).
    ``start_byte``/``end_byte`` are TRUE BYTE offsets into the raw
    ``html`` binary (gumbo's offset model, gumbo_util.h:121-146) — a
    consumer can slice the original bytes of a non-ASCII/CRLF page and
    get the span's raw source (parser/bytemap.py).  On ASCII CR-free
    pages the two coincide."""
    text, tids, ptags, s0, s1, b0, b1 = _main_text_columns(nt)
    # one gather per column, then zip — a per-element listcomp over
    # numpy scalars paid ~100us/doc in indexing + int()/str()
    spans = [
        {"node_id": i, "tag": g, "start": a, "end": b,
         "start_byte": c, "end_byte": d}
        for i, g, a, b, c, d in zip(
            tids.tolist(), ptags, s0.tolist(), s1.tolist(), b0.tolist(), b1.tolist(),
        )
    ]
    return {
        "text": text,
        "spans": spans,
        "n_nodes": int(nt.n),
        "parse_errors": int(nt.parse_errors),
    }


MAIN_TEXT_FIELDS = (
    "text string, spans array<struct<node_id:int,tag:string,start:bigint,end:bigint,"
    "start_byte:bigint,end_byte:bigint>>, "
    "n_nodes int, parse_errors int"
)


def main_text_ddl(df: DataFrame, passthrough, stage_metrics: bool = False) -> str:
    """DDL of :func:`extract_main_text`'s output over ``df``: the
    ``passthrough`` columns with their ``df`` types, then
    :data:`MAIN_TEXT_FIELDS`, then with ``stage_metrics`` the
    ``parse_us``/``kernel_us``/``c_engine`` columns."""
    schema = passthrough_ddl(df, passthrough, MAIN_TEXT_FIELDS)
    if stage_metrics:
        schema += ", parse_us bigint, kernel_us bigint, c_engine tinyint"
    return schema


def extract_main_text(
    df: DataFrame, passthrough=("doc_id", "url"), stage_metrics: bool = False
) -> DataFrame:
    """Flagship stage: ``mapInArrow`` over the pruned ``passthrough +
    html`` projection, each Arrow batch run through
    :func:`main_text_batch` (one C call per batch; each row the C call
    does not produce is a :func:`main_text_program` row).
    ``plans/lineage.py`` runs the same per-batch body inside its split
    writer.

    Output ``spans`` follow :func:`main_text_program`'s offset
    contract: ``start``/``end`` index the decoded, newline-normalized
    parser input, ``start_byte``/``end_byte`` the raw ``html`` bytes.

    NULL contract: a NULL ``html`` is parsed as the empty document —
    its row is exactly the row of ``b""`` (never an error, never
    dropped).

    Parallelism contract: as :func:`run_program`, one task per
    partition of ``df`` and no exchange; a narrow input is spread
    where it is read."""

    def fn(batches) -> "Iterator[pa.RecordBatch]":
        for rb in batches:
            yield main_text_batch(rb, stage_metrics)

    return df.select(*passthrough, "html").mapInArrow(
        fn, main_text_ddl(df, passthrough, stage_metrics))


# ----------------------------------------------------------------------
# kernel: the reference table_scrape structural query at corpus scale
# ----------------------------------------------------------------------
def table_scrape_program(div_id: str) -> Callable[[NodeTable], dict]:
    """tests/src/table_scrape.cpp:43-71 semantics: find
    div#<id> → first tbody from there (anchored DFS, not subtree
    bounded) → per-<tr> per-<td> content_text, comma-joined lines.

    Kernel shape: the anchor div is the first ``<div>`` whose ``id``
    equals ``div_id``, looked up at the div nodes only
    (``NodeTable.attr_values("id", divs)``), and tbody/tr/td masks are
    int16 ``tag_id`` compares instead of object-string equality."""
    _div = TAG_IDS["div"]
    _tbody = TAG_IDS["tbody"]
    _tr = TAG_IDS["tr"]
    _td = TAG_IDS["td"]

    def program(nt: NodeTable) -> dict:
        tag_id = nt.tag_id
        divs = np.flatnonzero(tag_id == _div)
        hits = np.flatnonzero(nt.attr_values("id", divs) == div_id)
        if len(hits) == 0:
            return {"csv": None}
        div = int(divs[hits[0]])  # divs ascend in preorder → first match
        tbody = nt.first_match(tag_id == _tbody, start=div)
        if tbody < 0:
            return {"csv": None}
        lines = []
        lo, hi = nt.child_range_dfs(tbody)
        tr_mask = tag_id == _tr
        td_mask = tag_id == _td
        for tr in nt.matches_in(tr_mask, lo, hi):
            tlo, thi = nt.child_range_dfs(int(tr))
            cells = nt.matches_in(td_mask, tlo, thi)
            lines.append(",".join(nt.content_text_many(cells)))
        return {"csv": "\n".join(lines) + "\n" if lines else ""}

    return program


def scrape_tables(df: DataFrame, div_id: str) -> DataFrame:
    return run_program(df, table_scrape_program(div_id), "csv string", ("doc_id",))


# ----------------------------------------------------------------------
# kernel: selector-program extraction (first match / all matches)
# ----------------------------------------------------------------------
def select_first_program(
    matcher,
    projections: dict[str, str | Callable[[NodeTable, int], object]],
) -> Callable[[NodeTable], dict]:
    """First node matching ``matcher`` (std::find_if semantics), then
    one output column per projection: 'content' | 'inner' | 'outer' |
    'attr:<name>' | 'start' | 'end' | 'node_id' | callable(nt, i)."""

    def project(nt: NodeTable, i: int, spec) -> object:
        if callable(spec):
            return spec(nt, i)
        if spec == "content":
            return nt.content_text(i)
        if spec == "inner":
            return nt.inner_text(i)
        if spec == "outer":
            return nt.outer_text(i)
        if spec == "start":
            return int(nt.src_start[i])
        if spec == "end":
            return int(nt.src_end[i])
        if spec == "start_byte":
            return int(nt.byte_offsets(int(nt.src_start[i])))
        if spec == "end_byte":
            return int(nt.byte_offsets(int(nt.src_end[i])))
        if spec == "inner_start":
            return int(nt.tag_end[i])
        if spec == "inner_end":
            return int(nt.endtag_start[i])
        if spec == "node_id":
            return int(i)
        if spec.startswith("attr:"):
            a = nt.attrs[i]
            return a.get(spec[5:]) if a is not None else None
        raise ValueError(spec)

    def program(nt: NodeTable) -> dict:
        i = nt.first_match(matcher(nt))
        if i < 0:
            return {c: None for c in projections}
        return {c: project(nt, i, spec) for c, spec in projections.items()}

    return program


NODES_FIELDS = (
    "node_id int, parent_id int, subtree_end int, node_type tinyint, "
    "tag string, ns tinyint, attrs map<string,string>, text string, "
    "index_within_parent int, src_start bigint, src_end bigint, "
    "src_start_byte bigint, src_end_byte bigint"
)


def explode_nodes(df: DataFrame) -> DataFrame:
    """Surface the per-document preorder node table as ROWS, keyed by
    ``doc_id`` — the
    dataset level of SURVEY.md §2's mappings: every traversal/query
    becomes plain DataFrame algebra (subtree containment = range
    predicates on node_id/subtree_end, direct children =
    parent_id equality, first match = min(node_id) per doc).

    Debug/interop surface; the in-UDF kernels remain the fast path.
    """
    import pyarrow as pa

    passthrough = ("doc_id",)
    n_pt = len(passthrough)

    def fn(batches):
        for rb in batches:
            htmls = rb.column(n_pt)
            counts = np.empty(rb.num_rows, dtype=np.int64)
            node_id, parent_id, subtree_end, ntype = [], [], [], []
            tag, ns, attrs, text, iwp, s0, s1 = [], [], [], [], [], [], []
            b0, b1 = [], []
            for row, raw in enumerate(row_values(htmls)):
                nt = parse_html(b"" if raw is None else raw)
                counts[row] = nt.n
                b0.append(nt.byte_offsets(nt.src_start))
                b1.append(nt.byte_offsets(nt.src_end))
                node_id.append(np.arange(nt.n, dtype=np.int32))
                parent_id.append(nt.parent)
                subtree_end.append(nt.subtree_end)
                ntype.append(nt.type)
                tag.extend(nt.tag_name.tolist())
                ns.append(nt.ns)
                attrs.extend(a if a else None for a in nt.attrs)
                text.extend(nt.text.tolist())
                iwp.append(nt.index_within_parent)
                s0.append(nt.src_start)
                s1.append(nt.src_end)
            # passthrough replication: one Arrow take() per column with
            # np.repeat'ed row indices — no per-row .as_py() loop, and
            # the passthrough values never round-trip through Python.
            rep_idx = pa.array(np.repeat(np.arange(rb.num_rows), counts))
            cols = [rb.column(j).take(rep_idx) for j in range(n_pt)]
            cols += [
                pa.array(np.concatenate(node_id) if node_id else np.array([], np.int32)),
                pa.array(np.concatenate(parent_id) if parent_id else np.array([], np.int32)),
                pa.array(np.concatenate(subtree_end) if subtree_end else np.array([], np.int32)),
                pa.array(np.concatenate(ntype) if ntype else np.array([], np.int8)),
                pa.array(tag, pa.string()),
                pa.array(np.concatenate(ns) if ns else np.array([], np.int8)),
                pa.array(attrs, pa.map_(pa.string(), pa.string())),
                pa.array(text, pa.string()),
                pa.array(np.concatenate(iwp) if iwp else np.array([], np.int32)),
                pa.array(np.concatenate(s0) if s0 else np.array([], np.int64)),
                pa.array(np.concatenate(s1) if s1 else np.array([], np.int64)),
                pa.array(np.concatenate(b0) if b0 else np.array([], np.int64)),
                pa.array(np.concatenate(b1) if b1 else np.array([], np.int64)),
            ]
            names = [*passthrough, "node_id", "parent_id", "subtree_end",
                     "node_type", "tag", "ns", "attrs", "text", "index_within_parent",
                     "src_start", "src_end", "src_start_byte", "src_end_byte"]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.select(*passthrough, "html").mapInArrow(
        fn, passthrough_ddl(df, passthrough, NODES_FIELDS))


DOM_STATS_FIELDS = (
    "n_elements bigint, n_links bigint, text_chars bigint, "
    "link_text_chars bigint, max_depth bigint, link_density_e4 bigint"
)


def dom_stats_program(nt: NodeTable) -> dict:
    """Per-page DOM statistics for boilerplate heuristics (the
    link-density family used by CC-scale extraction pipelines):
    element/link counts, textual mass, text mass inside <a> subtrees,
    max tree depth, and link density (link_text/text, e4-scaled).

    All vectorized: depth is an interval-containment count (each
    node's subtree paints [i+1, subtree_end)), link text reuses the
    subtree-painting kernel from the boilerplate strip."""
    t = nt.type
    text_lens = np.where(_TEXTUAL_LUT[t], nt.text_lengths(), 0)
    a_roots = np.nonzero(nt.tag_id == _A_ID)[0]
    link_chars = 0
    if len(a_roots):
        in_a = _excluded_mask(nt, a_roots)
        link_chars = int(text_lens[in_a].sum())
    # depth[j] = number of strictly-containing intervals
    diff = np.zeros(nt.n + 1, dtype=np.int32)
    idx = np.arange(nt.n)
    np.add.at(diff, idx + 1, 1)
    np.subtract.at(diff, nt.subtree_end, 1)
    depth = np.cumsum(diff[: nt.n])
    text_chars = int(text_lens.sum())
    return {
        "n_elements": int((t == ELEMENT).sum()),
        "n_links": int(len(a_roots)),
        "text_chars": text_chars,
        "link_text_chars": link_chars,
        "max_depth": int(depth.max()) if nt.n else 0,
        # half-UP rounding (Python round() is banker's; DuckDB/Spark
        # round half away from zero — 312.5 must be 313 on both sides)
        "link_density_e4": int(10000.0 * link_chars / text_chars + 0.5) if text_chars else 0,
    }


def dom_stats(df: DataFrame) -> DataFrame:
    """Map-only DOM-statistics stage (no shuffle; scan pruned to
    doc_id+html like every run_program stage)."""
    return run_program(df, dom_stats_program, DOM_STATS_FIELDS, ("doc_id",))


def count_matches_program(matcher) -> Callable[[NodeTable], dict]:
    def program(nt: NodeTable) -> dict:
        return {"n_matches": int(matcher(nt).sum())}

    return program


def all_matches_program(matcher) -> Callable[[NodeTable], dict]:
    """Collect ``href`` into ``hrefs`` from EVERY node matching
    ``matcher`` (document order) — the find_if→find_iterator loop of
    the reference driver (reference:
    include/gumbo_pp/gumbo_algorithms.hpp find_iterator) vectorized to
    one mask + one gather."""
    import numpy as np

    def program(nt: NodeTable) -> dict:
        ids = np.nonzero(matcher(nt))[0]
        vals = []
        for i in ids:
            a = nt.attrs[int(i)]
            v = a.get("href") if a is not None else None
            if v is not None:
                vals.append(v)
        return {"hrefs": vals}

    return program


def extract_links(df: DataFrame) -> DataFrame:
    """(doc_id, url, href) — one row per anchor with an href, in
    document order.  Map-only: the per-doc program returns the href
    ARRAY (no node-table explode), and the only row-multiplying step
    is the JVM-side explode of that small array."""
    from .. import matchers as m

    out = run_program(df, all_matches_program(m.tag.A), "hrefs array<string>")
    return out.select("doc_id", "url", F.explode("hrefs").alias("href"))


def link_graph(df: DataFrame) -> DataFrame:
    """Host-level link graph from parsed anchors:
    (src_host, dst_host, n_links).  The web-graph construction stage —
    feeds :func:`gumbo_pp_spark.operators.graph.pagerank`.

    Scale shape: parse+collect is the map-only extraction stage; the
    single shuffle is the (src_host, dst_host)-keyed count with
    map-side combine (edge-type cardinality ≪ anchor cardinality, so
    partials collapse hard); skewed hub hosts are exactly the
    ``salt_skewed_keys`` case when an edge-level (not host-level)
    downstream needs balance."""
    links = extract_links(df)
    host = "https?://([^/]+)"
    return (
        links.withColumn("src_host", F.regexp_extract("url", host, 1))
        .withColumn("dst_host", F.regexp_extract("href", host, 1))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_links"))
    )


# ----------------------------------------------------------------------
# kernel: density-scored main-block selection (DOM heuristics)
# ----------------------------------------------------------------------
# the classic readability negative hints; bare "ad" deliberately needs
# a token edge ("heading" must not match)
_NEG_HINT = re.compile(
    r"nav|menu|footer|header|sidebar|aside|comment|share|promo|related"
    r"|banner|breadcrumb|(^|[-_ ])ads?([-_ ]|$)",
    re.I,
)
_CANDIDATE_TAGS = frozenset("body div main article section td".split())
_CAND_LUT = np.zeros(max(TAG_IDS.values()) + 2, dtype=bool)
_CAND_LUT[[TAG_IDS[t] for t in _CANDIDATE_TAGS]] = True
LINK_PENALTY = 5

DENSITY_FIELDS = (
    "block_tag string, block_text string, text_chars bigint, "
    "link_chars bigint, score bigint, n_candidates int"
)


def density_extract_program(nt: NodeTable) -> dict:
    """Readability/boilerpipe-family main-CONTENT-BLOCK selection (the
    north rule's "DOM heuristics" beside the fixed tag-list strip of
    ``main_text_program``), as vectorized interval kernels:

    1. EXCLUDE chrome: the flagship boilerplate tags PLUS elements
       whose class/id matches the classic negative hints
       (nav|menu|footer|sidebar|…) — subtree-painted out.
    2. SCORE every candidate block (body/div/main/article/section/td
       not excluded): ``kept_text_chars − 5 × kept_link_text_chars``
       — a link farm with much anchor text scores negative, prose
       scores its length (boilerpipe's link-density signal in integer
       form).
    3. PICK the max score; ties go to the SMALLEST subtree, then the
       latest preorder id — so a wrapper chain (body > div > main >
       article) resolves to the innermost block holding the text.

    Output text is the kept (chrome-stripped) text of the winning
    block, content_text semantics (document order, no separators).
    """
    t = nt.type
    tag_id = nt.tag_id
    textual = _TEXTUAL_LUT[t]
    text_lens = np.where(textual, nt.text_lengths(), 0)

    bad = np.nonzero(_BOILER_LUT[tag_id])[0]
    cls = nt.attr_values("class")
    idv = nt.attr_values("id")
    hinted = np.nonzero(((cls != None) | (idv != None)) & (t == ELEMENT))[0]  # noqa: E711
    if len(hinted):
        hint_bad = [
            int(i)
            for i in hinted
            if _NEG_HINT.search((cls[i] or "") + " " + (idv[i] or ""))
        ]
        if hint_bad:
            bad = np.union1d(bad, np.asarray(hint_bad, dtype=np.int64))
    excluded = _excluded_mask(nt, bad) if len(bad) else np.zeros(nt.n, dtype=bool)

    kept = np.where(excluded, 0, text_lens)
    a_roots = np.nonzero((tag_id == _A_ID) & ~excluded)[0]
    in_a = _excluded_mask(nt, a_roots) if len(a_roots) else np.zeros(nt.n, dtype=bool)
    link = np.where(in_a, kept, 0)

    ctext = np.empty(nt.n + 1, dtype=np.int64)
    ctext[0] = 0
    np.cumsum(kept, out=ctext[1:])
    clink = np.empty(nt.n + 1, dtype=np.int64)
    clink[0] = 0
    np.cumsum(link, out=clink[1:])

    cand = np.nonzero(_CAND_LUT[tag_id] & ~excluded)[0]
    empty = {
        "block_tag": None, "block_text": None, "text_chars": None,
        "link_chars": None, "score": None, "n_candidates": int(len(cand)),
    }
    if len(cand) == 0:
        return empty
    se = nt.subtree_end[cand]
    tc = ctext[se] - ctext[cand]
    lc = clink[se] - clink[cand]
    score = tc - LINK_PENALTY * lc
    order = np.lexsort((-cand, se - cand, -score))
    w = int(cand[order[0]])
    wi = int(order[0])
    if tc[wi] == 0:
        return empty
    lo, hi = w, int(nt.subtree_end[w])
    ids = np.nonzero(textual[lo:hi] & ~excluded[lo:hi])[0] + lo
    return {
        "block_tag": str(nt.tag_name[w]),
        "block_text": "".join(nt.text[ids].tolist()),
        "text_chars": int(tc[wi]),
        "link_chars": int(lc[wi]),
        "score": int(score[wi]),
        "n_candidates": int(len(cand)),
    }


def density_extract(df: DataFrame) -> DataFrame:
    """Map-only density-scored block extraction (same execution shape
    as the flagship: pruned scan → mapInArrow → columns, no shuffle)."""
    return run_program(df, density_extract_program, DENSITY_FIELDS, passthrough=("doc_id",))


# ----------------------------------------------------------------------
# head metadata: canonical link + robots directives (crawl hygiene)
# ----------------------------------------------------------------------
HEAD_META_FIELDS = "title string, canonical string, robots string"


def head_meta_program() -> Callable[[NodeTable], dict]:
    """<head> signals a CC-style pipeline reads before dedup/indexing:
    rel=canonical (mirror-cluster collapse), meta robots (index
    gating), title.  Selectors are CSS strings — the css.py front-end
    feeding a production program."""
    from ..css import css

    progs = [
        select_first_program(css("head > title"), {"title": "content"}),
        select_first_program(css('link[rel=canonical]'), {"canonical": "attr:href"}),
        select_first_program(css('meta[name=robots]'), {"robots": "attr:content"}),
    ]

    def program(nt: NodeTable) -> dict:
        out: dict = {}
        for p in progs:
            out.update(p(nt))
        return out

    return program


def extract_head_meta(df: DataFrame) -> DataFrame:
    """Map-only head-metadata extraction; adds ``indexable`` (no
    'noindex' directive — absent robots meta defaults to indexable,
    per the robots-meta convention)."""
    out = run_program(df, head_meta_program(), HEAD_META_FIELDS, passthrough=("doc_id",))
    return out.withColumn(
        "indexable",
        F.coalesce(~F.col("robots").contains("noindex"), F.lit(True)),
    )


# ----------------------------------------------------------------------
# structured page metadata: OpenGraph + JSON-LD (the webtext tier's
# provenance columns: title/type/date for filtering and dating)
# ----------------------------------------------------------------------
PAGE_META_FIELDS = (
    "og_title string, og_type string, published string, jsonld string"
)


def page_meta_program() -> Callable[[NodeTable], dict]:
    """OpenGraph <meta property=og:*> + the first ld+json script
    payload.  The JSON-LD body is extracted RAW here — parsing it is
    JVM-side ``get_json_object`` in :func:`extract_page_meta` (the
    kernel ships one string per page; Catalyst's JSON path evaluation
    stays in codegen, not Python)."""
    from ..css import css

    progs = [
        select_first_program(
            css('meta[property="og:title"]'), {"og_title": "attr:content"}
        ),
        select_first_program(
            css('meta[property="og:type"]'), {"og_type": "attr:content"}
        ),
        select_first_program(
            css('meta[property="article:published_time"]'),
            {"published": "attr:content"},
        ),
        select_first_program(
            css('script[type="application/ld+json"]'), {"jsonld": "content"}
        ),
    ]

    def program(nt: NodeTable) -> dict:
        out: dict = {}
        for p in progs:
            out.update(p(nt))
        return out

    return program


def extract_page_meta(df: DataFrame) -> DataFrame:
    """Map-only OpenGraph/JSON-LD metadata stage.  JSON-LD fields
    (`@type`, headline, datePublished) are projected with
    ``get_json_object`` — whole-stage-codegen JSON path evaluation
    over the one raw string the kernel extracted."""
    out = run_program(df, page_meta_program(), PAGE_META_FIELDS, passthrough=("doc_id",))
    return out.select(
        "doc_id",
        "og_title",
        "og_type",
        "published",
        F.get_json_object("jsonld", "$['@type']").alias("ld_type"),
        F.get_json_object("jsonld", "$.headline").alias("ld_headline"),
        F.get_json_object("jsonld", "$.datePublished").alias("ld_published"),
    )


# ----------------------------------------------------------------------
# anchor-text aggregation (per-target link text — the classic search/
# quality signal: what the WEB calls a page, not what the page calls
# itself)
# ----------------------------------------------------------------------
def anchor_texts_program(nt: NodeTable) -> dict:
    """Parallel (hrefs, texts) arrays for every <a> carrying an href,
    document order; content text via the vectorized prefix-sum kernel."""
    from .. import matchers as m

    ids = np.nonzero(m.tag.A(nt))[0]
    hrefs: list[str] = []
    keep: list[int] = []
    for i in ids:
        a = nt.attrs[i]
        h = a.get("href") if a else None
        if h is not None:
            hrefs.append(h)
            keep.append(int(i))
    return {"hrefs": hrefs, "texts": nt.content_text_many(keep)}


def extract_anchor_texts(df: DataFrame) -> DataFrame:
    """(doc_id, href, anchor_text) — one row per anchor.  The
    kernel ships two small parallel arrays per page; the only
    row-multiplying step is the JVM-side arrays_zip + explode."""
    out = run_program(
        df, anchor_texts_program,
        "hrefs array<string>, texts array<string>", ("doc_id",),
    )
    return out.select(
        "doc_id", F.explode(F.arrays_zip("hrefs", "texts")).alias("z")
    ).select(
        "doc_id",
        F.col("z.hrefs").alias("href"),
        F.col("z.texts").alias("anchor_text"),
    )


def anchor_text_stats(pairs: DataFrame) -> DataFrame:
    """Per-target anchor-text profile: ``href, n_refs, n_texts,
    min_text`` (min = deterministic representative).

    Scale shape: ONE hash shuffle on href with map-side partial
    count/min; countDistinct rewrites to a two-phase partial under
    AQE.  Hub targets (every page linking "home") collapse map-side —
    the same skew argument as canonical_url_collapse."""
    return pairs.groupBy("href").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_refs"),
        F.countDistinct("anchor_text").cast("bigint").alias("n_texts"),
        F.min("anchor_text").alias("min_text"),
    )
