"""C fast-path engine gate (parser/cengine.py + _cext/chtml.c).

Contract: whenever the C engine accepts a document it must be
column-for-column identical to the pure-Python reference engine —
tree shape, spans, attrs, text, quirks, tag ids.  Anything outside
its subset must return None (and parse_html transparently falls back),
so the 42k-case conformance suite doubles as an end-to-end check:
parse_html dispatches to C wherever it engages.

These tests additionally pin:
* full-corpus A/B equality, every document case offered once and
  engaged
* 100% engagement on the synthetic bench corpora (the flagship
  extraction path must stay on the fast engine)
* one C attempt per document in parse_html, for every input class
* the bail conditions (colgroup/frameset-content NUL, fragments)
"""

import os

import numpy as np
import pytest

from gumbo_pp_spark.parser import cengine
from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark.parser.serialize import serialize_tree

from .test_conformance import CASES

pytestmark = pytest.mark.skipif(
    not cengine.available(), reason="C engine not built in this environment"
)

INT_COLS = (
    "type", "tag_id", "parent", "index_within_parent", "subtree_end",
    "src_start", "src_end", "tag_start", "tag_end",
    "endtag_start", "endtag_end", "ns",
)


def c_attempt(doc):
    """One C attempt, as parse_html makes it: a str goes in as its
    UTF-8 bytes."""
    return cengine.cparse(doc.encode() if isinstance(doc, str) else doc)


def assert_identical(c, py, doc):
    assert serialize_tree(c) == serialize_tree(py), doc
    for col in INT_COLS:
        a, b = np.asarray(getattr(c, col)), np.asarray(getattr(py, col))
        assert a.shape == b.shape and np.array_equal(a, b), (col, doc)
    assert all((ca or {}) == (pa or {}) for ca, pa in zip(c.attrs, py.attrs)), doc
    assert all(ct == pt for ct, pt in zip(c.text, py.text)), doc
    assert all(ct == pt for ct, pt in zip(c.tag_name, py.tag_name)), doc
    assert c.quirks == py.quirks, doc
    # round 5: the C engine RECORDS benign parse errors (stray end
    # tags, duplicate attrs, implied tbody, …) — records must be
    # IDENTICAL (code string + position), not merely counted
    assert c.parse_errors == py.parse_errors, doc
    assert list(c.error_records) == list(py.error_records), doc


def test_conformance_corpus_ab():
    """Every document-mode conformance case is offered to the C engine
    once, as parse_html offers it (a str as its UTF-8 bytes), and must
    engage and be identical to the Python engine's output — trees,
    spans, attrs, text, quirks AND parse-error records."""
    import gumbo_pp_spark.parser.html5 as H

    os.environ.pop("GUMBO_PP_CENGINE", None)
    engaged = total = unencodable = 0
    for ctx, data, _ in CASES:
        if ctx is not None:
            continue
        total += 1
        try:
            c = c_attempt(data)
        except UnicodeEncodeError:
            unencodable += 1  # lone surrogates: parse_html skips C
            continue
        if c is None:
            continue
        engaged += 1
        # compare against the PURE-PYTHON result: force-disable C
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = parse_html(data)
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, data[:120])
    print(f"conformance A/B: {engaged} engaged of {total}, {unencodable} unencodable")
    assert engaged == total - unencodable, (engaged, total, unencodable)


def test_bench_corpora_fully_engaged():
    """The flagship extraction corpora must stay 100% on the C path."""
    import duckdb

    from gumbo_pp_spark.sources.pages import PAGES_SQL, TABLE_HTML_EXPR

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    pages = [r[2] for r in con.execute(PAGES_SQL).fetchall()]
    tpages = [r[0] for r in con.execute(
        f"SELECT {TABLE_HTML_EXPR} FROM documents").fetchall()]
    for corpus in (pages, tpages):
        for d in corpus:
            c = cengine.cparse(d.encode())
            assert c is not None, d[:100]


def test_bail_conditions():
    # one input path: raw bytes of every class engage — CR (lone or
    # CRLF) is normalized and multibyte or invalid UTF-8 decoded in C
    # (prep_input); a str is not input (parse_html encodes it)
    assert cengine.cparse("café".encode()) is not None
    assert cengine.cparse("中文".encode()) is not None       # CJK
    assert cengine.cparse("emoji 🎉".encode()) is not None   # astral
    assert cengine.cparse(b"caf\xe9") is not None          # invalid UTF-8
    assert cengine.cparse(b"a\rb") is not None             # lone CR
    assert cengine.cparse(b"a\r\nb") is not None          # CRLF
    with pytest.raises(TypeError):
        cengine.cparse("<p>x</p>")
    # round-6: NUL input engages everywhere — data-state drop / FFFD
    # sinks AND the tag machinery (names keep the literal NUL,
    # attr keys/values get U+FFFD, doctype/end-tag tails pass through)
    assert cengine.cparse(b"a\x00b") is not None
    assert cengine.cparse(b"<di\x00v>x") is not None     # NUL in tag name
    assert cengine.cparse(b"<div a='x\x00y'>") is not None  # NUL in attr value
    assert cengine.cparse(b"<!doctype ht\x00ml>") is not None  # NUL in doctype
    assert cengine.cparse(b"<table>\x00x<td>y") is not None  # NUL table text
    # round-7: transcoded (non-ASCII) input with NUL engages — the
    # compaction paths carry original codepoints (chars_buf ubuf and
    # the pend_ucs table-text payload); NO transcoded-NUL input class
    # bails anymore.
    assert c_attempt("中\x00文") is not None
    assert c_attempt("<table>中\x00x<td>y</td></table>") is not None
    # round-7 (late): non-ASCII tag/attr NAMES engage (TID_UNKNOWN +
    # ASCII-lowered source-slice names), and ws-DECODING charref runs
    # in classifying modes engage via decoded-token scanning; the one
    # remaining semantic bail class is colgroup/frameset-content NUL
    # (and the NUL-stripped x ws-charref intersection inside chars_buf)
    assert c_attempt("<xé>y</xé>") is not None
    assert c_attempt("<div aé=1>x</div>") is not None
    assert cengine.cparse(b"<table>&Tab;x<td>y</td></table>") is not None
    assert cengine.cparse(b"<head>&#9;x</head>") is not None
    assert cengine.cparse(b"<table><colgroup>\x00<col></colgroup></table>") is None
    assert cengine.cparse(b"<svg><rect/></svg>") is not None   # foreign: in C
    assert cengine.cparse(b"<template>x</template>") is not None  # templates: in C
    assert cengine.cparse(b"<plaintext>raw") is not None          # plaintext: in C
    assert cengine.cparse(b"<frameset><frame>") is not None  # frameset: in C
    assert cengine.cparse(b"<isindex>") is not None           # isindex: in C


def test_nul_tag_machinery_identical():
    """Round-6 (late): NUL inside the tag machinery engages — tag
    names keep the literal NUL (html5.py's _TAG_NAME_RE), attr keys
    and values get U+FFFD (html5.py:345-348), doctype bodies and
    discarded end-tag tails treat it as an ordinary char, and table
    pending-text runs carry their NUL-stripped content."""
    import gumbo_pp_spark.parser.html5 as H

    cases = [
        b"<table>\x00x<td>y</td></table>",        # foster after strip
        b"<table> \x00 <tr><td>c</td></tr></table>",  # ws after strip
        b"<table><tbody>\x00\x00</tbody></table>",    # all-NUL run
        b"<table><tr>\x00<td>a</td> \n</tr></table>",
        b"<table>\x00 <td>a</td>\x00b</table>tail",
        b"<di\x00v>x</di\x00v>",                  # NUL tag name
        b"<b\x00>x</b\x00>",                      # NUL-suffix known tag
        b"<div a\x00b='v'>t</div>",               # NUL attr key
        b"<div a='x\x00y'>t</div>",               # NUL attr value
        b"<div =a\x00b>x</div>",                  # bogus '=' key + NUL
        b"<!doctype ht\x00ml><p>q",               # NUL doctype
        b"</div \x00junk>x",                      # NUL end-tag tail
    ]
    for doc in cases:
        c = cengine.cparse(doc)
        assert c is not None, doc
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc)
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc)


def test_deep_documents_engage_identical():
    """Round-6: the >512-deep-stack bail class is removed — the open-
    element stack, AFE list, template-mode stack and pending-text runs
    all grow by doubling, so depth is bounded only by input length
    (parity with the Python engine, which has no depth limit)."""
    import gumbo_pp_spark.parser.html5 as H

    cases = [
        # 2000-deep element stack (old STACK_MAX was 512)
        "<html><body>" + "<div>" * 2000 + "x" + "</div>" * 2000,
        # 800 unclosed pairs: stack stays 1600 deep to EOF
        "<html><body>" + "<p><span>" * 800 + "y",
        # deep formatting: AFE + adoption agency at 600 entries
        "<html><body>" + "<b><i>" * 300 + "deep" + "</i></b>" * 300,
        # 100 nested templates (old tmpl_modes cap was 64)
        "<html><body>" + "<template>" * 100 + "t" + "</template>" * 100,
        # AAA with 200 open <b> around a block
        "<html><body>" + "<b>" * 200 + "<p>x</p>" + "</b>" * 200,
        # deep stack crossing into table foster-parenting territory
        "<div>" * 600 + "<table><tr><td>" + "<div>" * 600 + "z",
        # >64 pending "in table text" runs (old PEND_MAX was 64)
        "<table>" + "a<td>b</td>" * 100 + "</table>",
        # AFE churn: 400 distinct attr sets pushed and popped
        "<html><body>" + "".join(f"<a n{i}='v'>t</a>" for i in range(400)),
    ]
    for doc in cases:
        c = cengine.cparse(doc.encode())
        assert c is not None, doc[:80]
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc.encode())
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc[:80])


def test_long_names_engage_identical():
    """Round-6: the >255-char tag/attr-name bail class is removed —
    names are built straight from the source span (lowercased), so
    length is unbounded; only the KNOWN-tag lookup uses a fixed
    buffer (longest known tag ≪ 64)."""
    import gumbo_pp_spark.parser.html5 as H

    long, long2 = "x" * 300, "Y" * 1000
    cases = [
        f"<html><body><{long}>content</{long}>",
        f"<html><body><{long2} attr=1>t</{long2}>",
        f"<html><body><div {long}='v'>a</div>",       # long attr name
        f"<html><body><div ={long}>bogus</div>",      # bogus '=' name
        f"<html><body><p {long2}>x",                  # no value, EOF-ish
        f"<html><body><{'a' * 63}>b63",               # lookup-buf edge
        f"<html><body><{'a' * 64}>b64</{'a' * 64}>",
        f"<html><body><{'A' * 70} {'B' * 70}={'c' * 10}>mix</{'a' * 70}>",
        f"<svg><{long}>f</{long}></svg>",             # foreign content
    ]
    for doc in cases:
        c = cengine.cparse(doc.encode())
        assert c is not None, doc[:80]
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc.encode())
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc[:80])


def test_frameset_and_isindex_identical():
    import gumbo_pp_spark.parser.html5 as H

    cases = [
        b'<html><frameset cols="50%,50%"><frame src=a><frame src=b></frameset></html>',
        b'<frameset><frameset rows="1"><frame></frameset><noframes>alt</noframes></frameset>',
        b'<p>content<frameset>',                      # takeover blocked
        b'<head></head><frameset><frame></frameset>x',
        b"<isindex action='/s' prompt='Find:' name=q extra=1>",
        b"<form><isindex></form>",
        # r7: frameset text runs mixing dropped non-ws chars with kept
        # ws — the recorded span is the SOURCE extent of the kept ws
        # (first..last), in both engines (the corpus lacked this shape)
        b"<frameset>x \t<frame></frameset>",
        b"<frameset> \tx<frame></frameset>",
        b"<html><frameset>ab  cd \t<frame></frameset>",
        b"<frameset>\t\tzz <frame>a b</frameset> c",
    ]
    for doc in cases:
        c = cengine.cparse(doc)
        assert c is not None, doc
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc.decode())
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc)


def test_template_and_plaintext_identical():
    import gumbo_pp_spark.parser.html5 as H

    cases = [
        b"<template><p>x</p></template>ok",
        b"<body><template><td>cell</td></template>",
        b"<table><template><tr><td>c</td></tr></template></table>",
        b"<template><template>nested</template></template>tail",
        b"<template><form></template><form><input>",
        b"<p>x<plaintext><b>raw &amp; unparsed",
    ]
    for doc in cases:
        c = cengine.cparse(doc)
        assert c is not None, doc
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc.decode())
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc)


def test_aaa_and_foster_now_engage():
    """Round-5 phase 3: the full adoption agency and foster parenting
    run in C (DFS-renumber finalize), byte-identical to Python."""
    import gumbo_pp_spark.parser.html5 as H

    cases = [
        b"<b><i>bold italic</b> just italic</i> plain",
        b"<p><b>one<p>two</b>three",
        b"<a href=1>x<div>y</a>z</div>",
        b"<table>stray<tr><td>c</td></tr></table>",
        b"<table><b>bold<tr><td>c</td></tr></table>",
        b"x</body><!--tail--><p>reopened",
        b"<font color=red><p>styled</font>tail",
    ]
    for doc in cases:
        c = cengine.cparse(doc)
        assert c is not None, doc
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc.decode())
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc)


def test_dirty_web_corpus_fully_engaged():
    """A realistic messy-CC-page mix (CRLF, legacy doctypes, unclosed
    and misnested tags, stray table text, dup attrs) must stay on the
    C engine end to end."""
    import random

    import gumbo_pp_spark.parser.html5 as H

    rng = random.Random(42)
    words = "the quick brown fox jumps over lazy dog web page".split()

    def txt(n):
        return " ".join(rng.choice(words) for _ in range(n))

    eng = 0
    for i in range(80):
        parts = ['<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN">']
        parts.append("\r\n<html><head><title>P%d &amp; co</title></head><body>\r\n" % i)
        parts.append("<div id=h class=a class=b><a href='/?a=1&b=2'>x</a></div>")
        for _ in range(5):
            k = rng.randrange(6)
            if k == 0: parts.append("<p>%s" % txt(8))
            elif k == 1: parts.append("<b><i>%s</b></i>" % txt(4))
            elif k == 2: parts.append("<table>%s<tr><td>c</td></tr></table>" % txt(2))
            elif k == 3: parts.append("<p>%s</p></div>" % txt(5))
            elif k == 4: parts.append("<ul><li>%s<li>%s</ul>" % (txt(3), txt(3)))
            else: parts.append("<b>%s<p>in</p>" % txt(3))
        parts.append("</body></html><!-- t -->")
        doc = "".join(parts).encode()
        before = cengine.stats["c"]
        H.parse_html(doc)
        if cengine.stats["c"] == before + 1:
            eng += 1
    assert eng == 80, eng


def test_benign_errors_recorded_in_c():
    """Converted error paths stay on the C engine with exact records."""
    cases = [
        b"<p></div>x",                      # stray end tag, ignored
        b"<div a=1 a=2>x</div>",            # duplicate attribute
        b"<table><tr><td>x</td></tr></table>",  # implied tbody
        b"<?php echo ?>x",                  # PI -> bogus comment
        b"x</br>y",                         # </br> as <br>
        b"<image src=u>",                   # image -> img
        b"<h1>a<h2>b",                      # heading closes heading
        b"<form><form>x",                   # nested form ignored
    ]
    import gumbo_pp_spark.parser.html5 as H

    for doc in cases:
        c = cengine.cparse(doc)
        assert c is not None, doc
        assert c.parse_errors > 0, doc
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc.decode())
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc)


def test_parse_html_dispatch_and_fallback():
    """parse_html returns the same tree whether C engages or not, and
    bytes input through the C path keeps the identity byte map."""
    doc = b"<html><body><p id=x>hi &amp; bye</p></body></html>"
    nt = parse_html(doc)
    assert nt.parse_errors == 0
    p = int(np.flatnonzero(nt.tag_name == "p")[0])
    assert nt.attrs[p] == {"id": "x"}
    assert nt.content_text(p) == "hi & bye"
    assert nt.raw is None  # identity byte map: the input is not kept
    # a document outside the C subset still parses (Python fallback)
    nt2 = parse_html(b"<b><i>x</b></i>")
    assert nt2.parse_errors > 0


def test_tab_stop_option_passthrough():
    nt = parse_html("<p>x</p>", {"tab_stop": 4})
    assert nt.tab_stop == 4


def _py_parse(src):
    import gumbo_pp_spark.parser.html5 as H

    saved = H._cparse_fast
    H._cparse_fast = None
    try:
        return parse_html(src)
    finally:
        H._cparse_fast = saved


def assert_same_byte_spans(nt, py, src):
    for col in ("src_start", "src_end"):
        pos = np.asarray(getattr(nt, col))
        assert np.array_equal(nt.byte_offsets(pos), py.byte_offsets(pos)), (col, src)


# one document of each input class, and one designed bail
ONE_DISPATCH_CLASSES = [
    b"<p>plain ascii</p>",
    b"<p>line1\r\nline2</p>",
    b"<p>lone\rcr</p>",
    "<p>caf\xe9 latin</p>".encode(),
    "<p>中文内容</p>".encode(),
    "<p>emoji 🎉 done</p>".encode(),
    b"\xff<p>mojibake \xc3(</p>",
    "<p>中\x00文</p>".encode(),
    b"<table><colgroup>\x00<col>",
]


def test_one_c_attempt_per_document(monkeypatch):
    """parse_html offers each document to C exactly once, whatever its
    bytes; every class but the designed bail engages, with the Python
    engine's byte offsets."""
    calls = []
    inner = cengine._cparse

    def counted(raw):
        calls.append(raw)
        return inner(raw)

    monkeypatch.setattr(cengine, "_cparse", counted)
    for src in ONE_DISPATCH_CLASSES:
        calls.clear()
        before = cengine.stats["c"]
        nt = parse_html(src)
        assert len(calls) == 1, src
        bail = src == ONE_DISPATCH_CLASSES[-1]
        assert cengine.stats["c"] == before + (0 if bail else 1), src
        py = _py_parse(src)
        assert_identical(nt, py, src)
        assert nt.raw == py.raw, src
        assert_same_byte_spans(nt, py, src)


def test_lone_surrogate_str_skips_c_and_has_no_byte_offsets(monkeypatch):
    """A str with lone surrogates has no UTF-8 bytes: parse_html never
    offers it to C, the Python engine parses it, and byte_offsets
    raises instead of passing char offsets off as byte offsets."""
    calls = []
    monkeypatch.setattr(cengine, "_cparse", calls.append)
    before = cengine.stats["py"]
    nt = parse_html("\xe9\ud800<p>x</p>")
    assert calls == [] and cengine.stats["py"] == before + 1
    assert nt.raw is None
    assert "p" in list(nt.tag_name)
    with pytest.raises(UnicodeEncodeError):
        nt.byte_offsets(nt.src_start)


def test_cr_and_latin1_engage_in_one_dispatch():
    """CRLF and lone-CR pages and Latin-1-range text take the C path
    in the one dispatch, with byte offsets identical to the Python
    path's."""
    cases = [
        b"<p>line1\r\nline2</p>",
        b"<p>lone\rcr</p>",
        "<p>caf\xe9 latin</p>".encode(),
        b"<div class='a\r\nb'>x</div>",
        "<p>str é\r\nx</p>",
    ]
    for src in cases:
        before = cengine.stats["c"]
        nt = parse_html(src)
        assert cengine.stats["c"] == before + 1, src  # C engaged
        py = _py_parse(src)
        assert_identical(nt, py, src)
        assert nt.raw == py.raw, src
        assert_same_byte_spans(nt, py, src)


def test_cjk_and_mojibake_engage_in_one_dispatch():
    """CJK/astral and mojibake-replacement pages reach the C engine in
    the one dispatch, byte map included."""
    for src in ("<p>中文内容</p>".encode(), b"\xff<p>mojibake</p>",
                "<p>emoji 🎉 done</p>".encode()):
        before = cengine.stats["c"]
        nt = parse_html(src)
        assert cengine.stats["c"] == before + 1, src
        py = _py_parse(src)
        assert_identical(nt, py, src)
        assert_same_byte_spans(nt, py, src)


def test_unicode_fuzz_ab():
    """Transcoded-mode (kind-2/4) fuzz: unicode-rich documents with
    entities, misnesting, tables and attribute junk must be identical
    to the Python engine whenever the C engine engages.  (The
    conformance corpus is all-ASCII, so this is the dedicated gate for
    the placeholder-transcode path.)"""
    import random

    import gumbo_pp_spark.parser.html5 as H

    rng = random.Random(7)
    uni = ["中", "文", "漢字", "日本語", "é", "ü", "ß", "α", "🎉", "𝕏", "—", "…"]
    ent = ["&amp;", "&lt;", "&mdash;", "&unknown;", "&amp", "&ampx",
           "&#65;", "&#x4e2d;", "&copy 1", "&no"]
    tags = ["p", "div", "b", "i", "span", "li", "td", "tr", "table",
            "ul", "title", "a", "h2", "select", "option", "textarea",
            "script", "style", "font"]

    def frag(depth=0):
        k = rng.randrange(10)
        if k < 3:
            return rng.choice(uni) * rng.randrange(1, 4)
        if k < 5:
            return "word" + rng.choice(uni) + rng.choice(ent)
        if k == 5:
            return rng.choice(ent)
        if k == 6:
            return "<!--" + rng.choice(uni) + "-->"
        t = rng.choice(tags)
        attrs = ""
        if rng.randrange(3) == 0:
            attrs = f' title="{rng.choice(uni)}{rng.choice(ent)}" class={rng.choice(uni)}'
        inner = "".join(frag(depth + 1) for _ in range(rng.randrange(3))) if depth < 3 else "x"
        closing = f"</{t}>" if rng.randrange(4) else ""
        return f"<{t}{attrs}>{inner}{closing}"

    engaged = 0
    for _ in range(400):
        d = "".join(frag() for _ in range(rng.randrange(1, 8)))
        c = c_attempt(d)
        if c is None:
            continue
        engaged += 1
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(d)
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, d[:120])
    assert engaged >= 350, engaged


def test_foreign_content_engages():
    """Round-5: inline SVG/MathML (the largest modern-page class) runs
    in C — namespaces, integration points, breakouts, case-adjusted
    camel tags/attrs, CDATA sections."""
    import gumbo_pp_spark.parser.html5 as H

    cases = [
        b'<svg width="20" viewBox="0 0 10 10"><path d="M0 0"/></svg>tail',
        b'<p><svg><title>t</title><foreignObject><div>x</div></foreignObject></svg>',
        b'<svg><linearGradient gradientUnits="u"><stop/></linearGradient></svg>',
        b'<math><mi>x</mi><annotation-xml encoding="text/html"><p>h</p></annotation-xml></math>',
        b'<svg><g><div>breakout</div></svg>',
        b'<svg><![CDATA[cd & <x>]]></svg>after',
        b'<b><svg><g>icon</g></svg></b>y',
    ]
    for doc in cases:
        c = cengine.cparse(doc)
        assert c is not None, doc
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc.decode())
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc)
        assert list(np.asarray(c.ns)) == list(np.asarray(py.ns)), doc


def test_so_fresh_no_rebuild_when_shipped(monkeypatch):
    """Round-6 packaging contract: with a fresh .so on disk, loading
    must NOT invoke the compiler (executors shipped the binary via
    --py-files never race gcc)."""
    assert cengine.available()
    assert cengine._so_fresh()

    def _no_gcc(*a, **k):  # pragma: no cover - must not be reached
        raise AssertionError("compiler invoked despite fresh .so")

    monkeypatch.setattr(cengine.subprocess, "run", _no_gcc)
    monkeypatch.setattr(cengine, "_cparse", None)
    cengine._load()
    assert cengine._cparse is not None
    # restore the module-level state for later tests
    cengine._load()


def test_stale_srchash_detected(tmp_path):
    """ADVICE r5: editing chtml.c/chtml_tables.h must invalidate an
    existing .so (source-hash sidecar mismatch) instead of silently
    loading the stale engine."""
    import os

    assert os.path.exists(cengine._SRCHASH)
    with open(cengine._SRCHASH) as f:
        good = f.read()
    try:
        with open(cengine._SRCHASH, "w") as f:
            f.write("0" * 16)
        assert not cengine._so_fresh()
    finally:
        with open(cengine._SRCHASH, "w") as f:
            f.write(good)
    assert cengine._so_fresh()


def test_missing_sidecar_stale_when_sources_present(tmp_path):
    """A .so without its hash sidecar is STALE when chtml.c is on disk
    (pre-sidecar checkouts must rebuild: the old binary may return a
    different tuple arity — ADVICE r6); it is trusted only when the
    sources are absent (a --py-files bundle on a gcc-less cluster
    cannot rebuild)."""
    saved = cengine._SRCHASH
    saved_dir = cengine._DIR
    try:
        cengine.__dict__["_SRCHASH"] = str(tmp_path / "nope.srchash")
        # sources present (real _cext dir): missing sidecar = stale
        assert not cengine._so_fresh()
        # sources absent (shipped bundle): trusted
        so = tmp_path / "_chtml.so"
        so.write_bytes(b"")
        cengine.__dict__["_DIR"] = str(tmp_path)
        saved_so = cengine._SO
        cengine.__dict__["_SO"] = str(so)
        try:
            assert cengine._so_fresh()
        finally:
            cengine.__dict__["_SO"] = saved_so
    finally:
        cengine.__dict__["_SRCHASH"] = saved
        cengine.__dict__["_DIR"] = saved_dir


def test_cparse_arity_mismatch_disables_engine(monkeypatch):
    """A stale binary returning the wrong tuple arity must disable the
    C engine and fall back to Python, not raise on every document."""
    if cengine._cparse is None:
        import pytest

        pytest.skip("C engine unavailable")
    saved = (cengine._cparse, cengine._cextract_batch)
    try:
        monkeypatch.setattr(cengine, "_cparse", lambda s: tuple(range(14)))
        assert cengine.cparse(b"<p>x</p>") is None
        assert cengine._cparse is None  # engine disabled, not retried
    finally:
        cengine.__dict__["_cparse"], cengine.__dict__["_cextract_batch"] = saved


# ----------------------------------------------------------------------
# C main-text kernel A/B gate (through the batch entry)
# ----------------------------------------------------------------------
def _py_main_text(data) -> dict:
    """Reference result: Python kernel over a pure-Python parse."""
    import gumbo_pp_spark.parser.html5 as H
    from gumbo_pp_spark.operators.extract import main_text_program

    saved = H._cparse_fast
    H._cparse_fast = None
    try:
        return main_text_program(parse_html(data))
    finally:
        H._cparse_fast = saved


def _assert_batch_identical(docs, html_type=None) -> int:
    """Run ``docs`` through the batch path and pin every row to the
    pure-Python kernel; returns how many rows the C engine took."""
    out = _batch_extract(docs, stage_metrics=True, html_type=html_type).to_pydict()
    for k, data in enumerate(docs):
        ref = _py_main_text(data)
        assert out["text"][k] == ref["text"], data[:120]
        assert out["n_nodes"][k] == ref["n_nodes"], data[:120]
        assert out["parse_errors"][k] == ref["parse_errors"], data[:120]
        assert out["spans"][k] == ref["spans"], data[:120]
        if isinstance(data, bytes) and data.isascii() and b"\r" not in data:
            # identity byte map on pure-ASCII CR-free raw bytes
            for span in out["spans"][k]:
                assert span["start"] == span["start_byte"], data[:120]
                assert span["end"] == span["end_byte"], data[:120]
    return sum(out["c_engine"])


def test_cextract_conformance_corpus_ab():
    """Wherever the C main-text kernel engages, its (text, counts,
    spans, parent tags) must equal the Python kernel over the Python
    parse — the same artifact-family discipline as the parse A/B."""
    os.environ.pop("GUMBO_PP_CENGINE", None)
    docs = []
    for ctx, data, _ in CASES:
        if ctx is not None:
            continue
        try:
            docs.append(data.encode("ascii") if isinstance(data, str) else data)
        except UnicodeEncodeError:
            continue
    engaged = sum(_assert_batch_identical(docs[i: i + 4096])
                  for i in range(0, len(docs), 4096))
    # ASCII subset of the C-parseable corpus
    assert engaged >= 20000, engaged


def test_cextract_bench_corpus_fully_engaged():
    """The flagship bench corpora must run 100% on the C kernel."""
    import duckdb

    from gumbo_pp_spark.sources.pages import PAGES_SQL, TABLE_HTML_EXPR

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    pages = [r[2] for r in con.execute(PAGES_SQL).fetchall()]
    tpages = [r[0] for r in con.execute(
        f"SELECT {TABLE_HTML_EXPR} FROM documents").fetchall()]
    for corpus in (pages, tpages):
        raws = [d.encode() for d in corpus]
        assert _assert_batch_identical(raws) == len(raws)


def test_cextract_boiler_exclusion_and_bails():
    import pyarrow as pa

    # nested boilerplate subtrees + text before/inside/after
    doc = (b"<body>pre<nav>n1<form>f<select><option>o</option></select>"
           b"</form>n2</nav>mid<svg><circle>c</circle></svg>post")
    assert _assert_batch_identical([doc]) == 1
    assert _batch_extract([doc]).column("text").to_pylist() == ["premidpost"]

    # non-ASCII bytes, CR and str input engage on the batch path and
    # stay kernel-identical
    assert _assert_batch_identical(["caf\xe9".encode("latin-1"), b"a\rb"]) == 2
    assert _assert_batch_identical(["plain str"], html_type=pa.string()) == 1
    # NUL in text is supported (round-6) and must stay kernel-identical
    nul_docs = [
        b"<body>a\x00b<script>s\x00s</script><p>x\x00",
        # round-6 (late): tag-machinery NUL engages too
        b"<di\x00v>x",
        b"<table>\x00x<td>y</td></table>",
        b"<div a='x\x00y'>t</div>",
    ]
    assert _assert_batch_identical(nul_docs) == len(nul_docs)


def test_cextract_no_body_window():
    # frameset documents have no body element -> whole-document window
    _assert_batch_identical([b"<html><frameset><frame></frameset></html>"])


def test_nul_input_corpus_ab():
    """Round-6: NUL-containing documents engage the C engine (data-
    state drop, RAWTEXT/RCDATA/PLAINTEXT/foreign/comment FFFD sinks)
    and must match the Python engine exactly — including the
    reference quirk that dropped data-state NULs shrink the span end."""
    import gumbo_pp_spark.parser.html5 as H

    cases = [
        b"<body>a\x00b<p>x\x00",
        b"\x00",
        b"\x00\x00\x00",
        b"<body>\x00",
        b"<title>t\x00t</title><body>x",
        b"<script>a\x00b</script>done",
        b"<textarea>\x00&amp;</textarea>",
        b"<style>s\x00</style>",
        b"<!-- c\x00c --><body>y",
        b"</ bogus\x00><body>z",
        b"<plaintext>a\x00b",
        b"<body><svg><g>f\x00f</g></svg>",
        b"<svg><desc>d\x00d</desc></svg>",
        b"<frameset>\x00<frame></frameset>",
        b"<select>\x00opt</select>tail",
        b"<head>\x00x</head>",
        b"<body><table>\x00</table>",
        b"\x00z&unknown;x<!bogus>\n\x00z\t<style id=x></style>",
        b" &unknown;\t&copy 1\x00z text",
        b"x\x00" * 50,
        b"<ul><li>a\x00<li>b\x00</ul>",
        b"<colgroup-ish>\x00",
    ]
    engaged = 0
    bailed = []
    for d in cases:
        c = cengine.cparse(d)
        if c is None:
            bailed.append(d)
            continue
        engaged += 1
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = parse_html(d)
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, d)
    # text/comment NULs must all engage (tag-machinery NULs bail);
    # round-6 (charref-ws fix): a NUL inside frameset/colgroup content
    # is a DESIGNED semantic bail — those modes' NUL-as-anything-else
    # interactions stay Python-only
    assert bailed == [b"<frameset>\x00<frame></frameset>"], bailed
    assert engaged == len(cases) - 1, engaged

    # corpus-wide: EVERY NUL-containing conformance doc either engages
    # identically (checked by test_conformance_corpus_ab) or bails
    from .test_conformance import CASES as ALL

    nul_docs = [d for ctx, d, _ in ALL if ctx is None and "\x00" in d]
    eng = sum(1 for d in nul_docs if c_attempt(d) is not None)
    # the tail that still bails is NUL inside tag machinery / pended
    # table text / transcoded strings
    assert eng >= len(nul_docs) // 2, (eng, len(nul_docs))


# ----------------------------------------------------------------------
# Round-6 (late): whole-column batch entry (cextract_batch) A/B gate
# ----------------------------------------------------------------------
def _batch_extract(docs, stage_metrics=False, html_type=None):
    """Drive the batch engine over an Arrow html column exactly the
    way extract_main_text's worker does (``main_text_batch``)."""
    import pyarrow as pa

    from gumbo_pp_spark.operators.extract import main_text_batch

    rb = pa.RecordBatch.from_arrays(
        [pa.array(list(range(len(docs))), pa.int64()),
         pa.array(docs, html_type or pa.binary())],
        ["doc_id", "html"],
    )
    return main_text_batch(rb, stage_metrics)


_BAIL_MIX = [
    b"<html><body><p>plain</p><script>x</script></body></html>",
    "<html><body><p>café latte</p></body></html>".encode(),  # 2-byte UTF-8
    b"<div>no body <nav>chrome</nav>tail</div>",
    b"a\rb",                                                       # lone CR
    b"",
    b"<p>x\x00y</p>",                                              # NUL (C path)
    b"<table><tr><td>cell</td></tr></table>",
    "<p>\U0001F600 astral</p>".encode(),                           # astral
    b"<div>" * 600 + b"deep" + b"</div>" * 600,
    b"\xff\xfe<p>invalid utf8</p>",                                # invalid (engages, r7)
    b"<table><colgroup>\x00<col></colgroup></table>",              # BAIL: colgroup-content NUL
    b"<html>\r\n<body>\r\n<p>crlf</p>\r\n</body>\r\n</html>",      # CRLF
    "<title>Béta</title>\r\n<body>\r\n<p>é€ x 😀</p>\r\n</body>".encode(),
    "<p>日本語テスト &amp; エンティティ</p>".encode(),             # CJK + entity
]


def test_cextract_batch_bail_splice_and_metrics():
    """Bail rows (first, interior, consecutive, last) must be merged
    with the Python-path result; c_engine flags track per-row
    engagement; fused parse_us is populated for every row.

    Round-6 late: CRLF / multibyte-UTF-8 / CJK / astral docs ENGAGE
    (in-C decode + normalization + char→byte map).  Round-7: INVALID
    UTF-8 (errors='replace' decode with bytemap-exact attribution in
    prep_decode) and NUL-in-non-ASCII engage too — the remaining batch
    bails are the engine's designed classes (here: transcoded
    table-text NUL), compared against the PURE-PYTHON kernel (C
    dispatch disabled for the reference) so byte columns are verified
    end to end."""
    import gumbo_pp_spark.parser.html5 as H
    from gumbo_pp_spark.operators.extract import main_text_program

    # bails (indices 9, 10 of _BAIL_MIX) placed first, interior,
    # consecutive AND last
    docs = [_BAIL_MIX[9], *_BAIL_MIX, _BAIL_MIX[10], _BAIL_MIX[9]]
    out = _batch_extract(docs, stage_metrics=True)
    assert out is not None
    od = out.to_pydict()
    saved = H._cparse_fast
    H._cparse_fast = None
    try:
        refs = [main_text_program(H.parse_html(d)) for d in docs]
    finally:
        H._cparse_fast = saved
    for k, (d, ref) in enumerate(zip(docs, refs)):
        assert od["text"][k] == ref["text"], (k, d[:80])
        assert od["spans"][k] == ref["spans"], (k, d[:80])
        assert od["n_nodes"][k] == ref["n_nodes"], (k, d[:80])
        assert od["parse_errors"][k] == ref["parse_errors"], (k, d[:80])
        assert od["parse_us"][k] >= 0 and od["kernel_us"][k] == 0
    c_flags = od["c_engine"]
    bail_docs = {11, 15}  # colgroup-content-NUL rows (r7: invalid
    #                       UTF-8, NUL+non-ASCII, non-ASCII names and
    #                       ws-charref classification all engage)
    for k in range(len(docs)):
        assert c_flags[k] == (0 if k in bail_docs else 1), (k, c_flags)


def test_python_reference_routes_equal_engaged_rows(monkeypatch):
    """Every route onto the Python reference — C engine off, the batch
    call declining (its int32-overflow return), a ``string`` html
    column — gives the engaged rows, row for row."""
    import pyarrow as pa

    import gumbo_pp_spark.parser.html5 as H

    cols = ("text", "spans", "n_nodes", "parse_errors")
    engaged = _batch_extract(_BAIL_MIX, stage_metrics=True).to_pydict()
    assert engaged["c_engine"].count(0) == 1  # the colgroup-NUL bail

    with monkeypatch.context() as mp:
        mp.setattr(H, "_cparse_fast", None)
        off = _batch_extract(_BAIL_MIX, stage_metrics=True).to_pydict()
    assert off["c_engine"] == [0] * len(_BAIL_MIX)
    with monkeypatch.context() as mp:
        mp.setattr(cengine, "_cextract_batch", lambda *args: None)
        declined = _batch_extract(_BAIL_MIX, stage_metrics=True).to_pydict()
    for c in cols:
        assert off[c] == engaged[c], c
        assert declined[c] == engaged[c], c

    valid = []
    for d in _BAIL_MIX:
        try:
            valid.append(d.decode("utf-8"))
        except UnicodeDecodeError:
            continue
    assert len(valid) == len(_BAIL_MIX) - 1
    as_str = _batch_extract(valid, html_type=pa.string()).to_pydict()
    as_bin = _batch_extract([v.encode() for v in valid]).to_pydict()
    for c in cols:
        assert as_str[c] == as_bin[c], c


def test_null_html_row_is_the_empty_document(monkeypatch):
    """NULL contract: a NULL html row is the row of ``b""``, whatever
    its slot holds, on the C and the Python-only routes; the other
    rows are untouched."""
    import pyarrow as pa

    import gumbo_pp_spark.parser.html5 as H
    from gumbo_pp_spark.operators.extract import main_text_batch

    docs = [_BAIL_MIX[0], None, _BAIL_MIX[10], None, _BAIL_MIX[1]]
    want = _batch_extract([d if d is not None else b"" for d in docs]).to_pydict()
    # a null slot whose bytes are not empty
    full = pa.array([b"<p>x</p>", _BAIL_MIX[1]], pa.binary())
    validity = pa.py_buffer(np.packbits([0, 1], bitorder="little").tobytes())
    junk = pa.Array.from_buffers(pa.binary(), 2, [validity, *full.buffers()[1:]])
    assert junk.to_pylist() == [None, _BAIL_MIX[1]]
    for c_off in (False, True):
        with monkeypatch.context() as mp:
            if c_off:
                mp.setattr(H, "_cparse_fast", None)
            got = _batch_extract(docs).to_pydict()
            got_junk = main_text_batch(pa.RecordBatch.from_arrays([junk], ["html"]))
        assert got == want, c_off
        for c in ("text", "spans", "n_nodes", "parse_errors"):
            assert got_junk.column(c).to_pylist() == [want[c][1], want[c][4]], c_off


def test_every_fallback_row_is_one_main_text_program_call(monkeypatch):
    """``main_text_program`` builds every row the C call does not
    produce, and no other: with C on it runs once per bail row and per
    NULL row, with the C engine off once per row of the batch."""
    import gumbo_pp_spark.operators.extract as X
    import gumbo_pp_spark.parser.html5 as H

    calls = []
    program = X.main_text_program

    def counted(nt):
        calls.append(1)
        return program(nt)

    docs = [*_BAIL_MIX, None, None]
    for c_off in (False, True):
        calls.clear()
        with monkeypatch.context() as mp:
            mp.setattr(X, "main_text_program", counted)
            if c_off:
                mp.setattr(H, "_cparse_fast", None)
            out = _batch_extract(docs, stage_metrics=True).to_pydict()
        if c_off:
            assert len(calls) == len(docs)
        else:
            n_bail = out["c_engine"][: len(_BAIL_MIX)].count(0)
            assert n_bail == 1  # the colgroup-NUL row
            assert len(calls) == n_bail + 2


def test_cextract_batch_corpus_ab():
    """Whole-corpus batch A/B: for EVERY document-mode conformance
    case (engaged AND fallback rows), the batch row must equal
    ``main_text_program(parse_html(d))`` whole — text, spans, n_nodes
    and parse_errors — which the cextract corpus A/B pins to the
    pure-Python kernel, closing the identity chain."""
    from gumbo_pp_spark.operators.extract import main_text_program

    docs = []
    for ctx, data, _ in CASES:
        if ctx is not None:
            continue
        docs.append(data.encode("utf-8") if isinstance(data, str) else data)
    checked = 0
    for i in range(0, len(docs), 4096):
        chunk = docs[i: i + 4096]
        od = _batch_extract(chunk).to_pylist()
        for k, d in enumerate(chunk):
            ref = main_text_program(parse_html(d))
            assert {c: od[k][c] for c in ref} == ref, d[:120]
            checked += 1
    assert checked >= 30000, checked


def test_cextract_batch_bench_corpus_fully_engaged():
    """The flagship bench corpus must take the batch path with ZERO
    bail rows (c_engine all 1)."""
    import duckdb

    from gumbo_pp_spark.sources.pages import PAGES_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    pages = [r[2].encode() for r in con.execute(PAGES_SQL).fetchall()]
    out = _batch_extract(pages, stage_metrics=True)
    assert out is not None
    flags = out.to_pydict()["c_engine"]
    assert len(flags) == len(pages) and all(f == 1 for f in flags)


def test_cextract_batch_crlf_corpus_ab():
    """CRLF-variant sweep: every LF in the first 3000 document-mode
    conformance cases rewritten to CRLF — the batch path's in-C
    normalization + char→byte map must give the whole row of
    ``main_text_program(parse_html(d))`` (whose byte map is the pinned
    parser/bytemap.py)."""
    from gumbo_pp_spark.operators.extract import main_text_program

    docs = []
    for ctx, data, _ in CASES:
        if ctx is not None:
            continue
        raw = data.encode("utf-8") if isinstance(data, str) else data
        if b"\r" in raw:
            continue
        docs.append(raw.replace(b"\n", b"\r\n"))
        if len(docs) >= 3000:
            break
    od = _batch_extract(docs).to_pylist()
    for k, d in enumerate(docs):
        ref = main_text_program(parse_html(d))
        assert {c: od[k][c] for c in ref} == ref, d[:120]


def test_round6_fuzz_ab_nul_deep_longname():
    """Round-6 closing sweep: a seeded fuzz profile aimed at the paths
    round 6 ADDED to the C engine — NUL in tag machinery, >255-char
    attr names, deep stacks, CR/CRLF input, duplicate and
    NUL-prefixed attributes — A/B'd against the pure-Python engine.
    The offline 12k-doc version of this sweep ran clean (100%
    engagement, 0 mismatches); this pins a 1.5k-doc
    slice of the same generator."""
    import random

    import gumbo_pp_spark.parser.html5 as H

    rng = random.Random(20260817)
    tags = ["p", "div", "b", "i", "a", "span", "li", "ul", "ol", "td",
            "tr", "table", "tbody", "thead", "select", "option",
            "optgroup", "textarea", "script", "style", "title", "h1",
            "h3", "form", "input", "br", "hr", "img", "font", "nobr",
            "button", "dd", "dt", "caption", "colgroup", "col", "pre",
            "listing", "xmp", "iframe", "noscript", "marquee"]
    junk = ["\x00", "\r\n", "\r", "&amp;", "&bogus;", "&#0;",
            "&#x110000;", "<", ">", '"', "'", "=", "/", "!", "?",
            "a" * 300, "\t", "  "]
    attr_names = ["id", "class", "x" + "y" * 260, "data-a"]
    attr_vals = ["1", '"v"', "'q'", ""]

    def gen(depth=0):
        k = rng.randrange(12)
        if k < 3:
            return rng.choice(["text ", "x", rng.choice(junk)])
        if k == 3:
            return "<!--" + rng.choice(junk) + "-->"
        if k == 4:
            return "<!" + rng.choice(["doctype html", "DOCTYPE junk", "["]) + ">"
        if k == 5:
            return "</" + rng.choice(tags) + rng.choice(["", " x=1", "\x00"]) + ">"
        t = rng.choice(tags)
        a = ""
        r = rng.randrange(6)
        if r == 0:
            a = " " + rng.choice(attr_names) + "=" + rng.choice(attr_vals)
        elif r == 1:
            a = " \x00attr=v"
        elif r == 2:
            a = " a=1 a=2"
        inner = ("".join(gen(depth + 1) for _ in range(rng.randrange(4)))
                 if depth < 5 else "z")
        end = "</" + t + ">" if rng.randrange(3) else ""
        return "<" + t + a + ">" + inner + end

    docs = ["".join(gen() for _ in range(rng.randrange(1, 10)))
            for _ in range(1500)]
    for n in (600, 2000):
        for t in ("div", "b", "table", "select"):
            docs.append(("<" + t + ">") * n + "deep" + ("</" + t + ">") * rng.randrange(n))

    engaged = py_only = 0
    for d in docs:
        c = c_attempt(d)
        if c is None:
            # round-6 semantic bails: NUL in colgroup/frameset
            # content, or a character reference decoding to
            # whitespace in a classifying mode — Python-only by
            # design, still covered by the wave-3 oracle sweep
            assert ("\x00" in d) or ("&#" in d) or ("&Tab" in d), d[:120]
            py_only += 1
            continue
        engaged += 1
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = parse_html(d)
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, d[:120])
    assert engaged + py_only == len(docs)
    assert engaged > 1000  # the profile engages directly in the main
    assert py_only < len(docs) // 20  # semantic bails stay rare


def test_cextract_batch_invalid_utf8_fuzz_ab():
    """Round-7: invalid UTF-8 ENGAGES the batch path via an in-C
    errors='replace' decode (CPython incremental-decoder simulation:
    maximal-subpart U+FFFD, pending-prefix reject + same-feed
    reprocess) with parser/bytemap.py's exact attribution contract
    (valid-scan when non-continuation count == decoded length, else
    bytewise flush-boundary attribution).  Fuzz: random byte junk +
    targeted truncation/surrogate/overlong shapes, every engaged doc
    column-identical to the pure-Python kernel including BYTE spans."""
    import random

    import gumbo_pp_spark.parser.html5 as H
    from gumbo_pp_spark.operators.extract import main_text_program

    rng = random.Random(7)

    def junk(n):
        # '<' excluded: random high bytes after '<' form non-ASCII TAG
        # NAMES — a separate, designed engine bail class; this fuzz
        # isolates the decode classes (junk stays in text position)
        return bytes(rng.randrange(256) for _ in range(n)).replace(b"<", b"!")

    words = "alpha beta gamma delta epsilon".split()
    docs = []
    for _ in range(400):
        body = []
        for _ in range(rng.randrange(1, 8)):
            k = rng.randrange(7)
            if k == 0:
                body.append(b"<p>" + junk(rng.randrange(1, 12)) + b"</p>")
            elif k == 1:
                body.append(("<p>%s</p>" % " ".join(rng.choice(words) for _ in range(5))).encode())
            elif k == 2:
                body.append("<div>éé中\U0001f600</div>".encode())
            elif k == 3:
                # truncated lead / rejected continuation / surrogate /
                # beyond-U+10FFFF — each a distinct subpart shape
                body.append(b"<p>a\xc2b \xe0\xa0 \xed\xa0\x80 \xf4\x90\x80</p>")
            elif k == 4:
                body.append(b"<p>crlf\r\nlone\rmix\xff\r\n</p>")
            elif k == 5:
                body.append(b"<b>" + junk(3) + b"<i>x</b>y</i>")
            else:
                body.append("<p>ref&amp;&#233;&Tab;t</p>".encode())
        doc = b"<html><head><title>t</title></head><body>" + b"".join(body) + b"</body></html>"
        # NUL in a non-ASCII doc is the one remaining (designed) bail
        docs.append(doc.replace(b"\x00", b"\x01"))
    # the quirk shape: rejected prefix followed by a valid multibyte
    # char — bytewise attribution puts the char one byte into itself
    docs.append("<p>xéy</p>".encode().replace(b"\xc3", b"\xe0\xc3", 1))
    out = _batch_extract(docs, stage_metrics=True)
    od = out.to_pydict()
    assert sum(1 for f in od["c_engine"] if not f) == 0, "everything engages"
    saved = H._cparse_fast
    H._cparse_fast = None
    try:
        for k, d in enumerate(docs):
            ref = main_text_program(H.parse_html(d))
            assert od["text"][k] == ref["text"], (k, d[:80])
            assert od["spans"][k] == ref["spans"], (k, d[:80])
            assert od["n_nodes"][k] == ref["n_nodes"], (k, d[:80])
            assert od["parse_errors"][k] == ref["parse_errors"], (k, d[:80])
    finally:
        H._cparse_fast = saved


def test_nul_in_non_ascii_fuzz_ab():
    """Round-7: NUL in a transcoded (kind-2/4 / non-ASCII) document
    engages — the NUL-compaction paths carry original codepoints
    (chars_buf ubuf).  Fuzz NULs into every position class (body text,
    pre-body, comments, attrs, RCDATA, rawtext, foreign, pre-newline)
    of non-ASCII docs; every engaged doc must be column-identical.
    Round-7 (late): the pend_ucs table-text payload removed the last
    transcoded-NUL class — NOTHING here may bail."""
    import random

    import gumbo_pp_spark.parser.html5 as H

    rng = random.Random(11)
    frags = [
        "<p>中文 text</p>", "<div>é latte</div>", "<b>😀<i>x</b>y</i>",
        "<title>Béta</title>", "<!-- com 中 -->", "<div a='v中'>t</div>",
        "<svg><rect/>中</svg>", "<pre>\nP中</pre>", "<script>s中s</script>",
        "<ul><li>中<li>b</ul>", "<table><tr><td>中</td></tr></table>",
    ]
    bails = 0
    for trial in range(300):
        parts = [rng.choice(frags) for _ in range(rng.randrange(1, 6))]
        doc = "".join(parts)
        # inject 1-3 NULs at random char positions
        for _ in range(rng.randrange(1, 4)):
            k = rng.randrange(len(doc) + 1)
            doc = doc[:k] + "\x00" + doc[k:]
        if doc.isascii():
            continue
        c = c_attempt(doc)
        if c is None:
            bails += 1
            continue
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc)
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc[:120])
    assert bails == 0, bails


def test_prep_decode_property_vs_python_replace():
    """Property pin (round-7): for ARBITRARY byte content in text
    position, the batch path's extracted text must equal Python's
    ``bytes.decode('utf-8', 'replace')`` after CRLF normalization, and
    the span's byte offsets must equal parser/bytemap.py's map — the
    direct contract prep_decode implements.  hypothesis drives the
    byte soup; '<' and '&' are excluded so the junk stays one text run
    (tag/ref structure is covered by the corpus A/B and fuzz tests);
    NUL is excluded from the RANDOM part (covered separately) so the
    expected text is the plain decode."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    junk_bytes = st.binary(min_size=0, max_size=64).map(
        lambda b: b.replace(b"<", b"!").replace(b"&", b"!").replace(b"\x00", b"!")
    )

    @settings(max_examples=300, deadline=None)
    @given(junk_bytes, junk_bytes)
    def check(a, b):
        doc = b"<html><body><p>" + a + b"\r\n" + b + b"</p></body></html>"
        out = _batch_extract([doc], stage_metrics=True).to_pydict()
        inner = (a + b"\r\n" + b).decode("utf-8", "replace")
        expected = inner.replace("\r\n", "\n").replace("\r", "\n")
        assert out["text"][0] == expected, (a, b)
        if out["spans"][0]:
            sp = out["spans"][0][0]
            # raw-slice roundtrip: the byte span covers the inner bytes
            assert sp["start_byte"] == len(b"<html><body><p>")
            assert sp["end_byte"] == len(doc) - len(b"</p></body></html>")

    check()


def test_non_ascii_names_fuzz_ab():
    """Round-7 (late): non-ASCII TAG and ATTR names engage — unknown
    tid + full-Unicode str.lower() source-slice names (U+0130's 1:2
    lowering included), byte==codepoint in kind-1/latin-1 mode and
    readback in transcoded mode.  Fuzz random unicode names/keys in
    random structure; every doc must engage column-identically."""
    import random

    import gumbo_pp_spark.parser.html5 as H

    rng = random.Random(23)
    alpha = "abcdefgh"
    uni = "éÉГЖ中文𝕏ıİäÄßΣσς"

    def name():
        # must start with an ASCII letter to tokenize as a tag
        return rng.choice(alpha) + "".join(
            rng.choice(alpha + uni) for _ in range(rng.randrange(0, 5))
        )

    for _ in range(250):
        parts = []
        opened = []
        for _ in range(rng.randrange(1, 7)):
            k = rng.randrange(5)
            if k == 0:
                nm = name()
                attrs = "".join(
                    f" {name()}={rng.choice(['1', chr(39) + 'v é' + chr(39)])}"
                    for _ in range(rng.randrange(0, 3))
                )
                parts.append(f"<{nm}{attrs}>")
                opened.append(nm)
            elif k == 1 and opened:
                parts.append(f"</{opened.pop()}>")
            elif k == 2:
                parts.append("text é 中 ")
            elif k == 3:
                parts.append("<table><td>c</td></table>")
            else:
                parts.append(f"<svg><{name()}/></svg>")
        doc = "".join(parts)
        c = c_attempt(doc)
        assert c is not None, doc[:120]
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc)
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc[:120])


def test_ws_charref_classifying_fuzz_ab():
    """Round-7 (late): runs containing ws-DECODING charrefs ("&#9;",
    "&Tab;") engage in the classifying modes via decoded-token
    scanning (ws_token_at mirrors html5.py _ws_scan).  Fuzz them into
    every classifying position; all must engage column-identically."""
    import random

    import gumbo_pp_spark.parser.html5 as H

    rng = random.Random(31)
    wsrefs = ["&#9;", "&#10;", "&#13;", "&#32;", "&#x9;", "&#xA;", "&Tab;", "&NewLine;",
              # boundary shapes: no-semicolon, leading zeros, overflow
              # (not ws), wrong case (not a named ws ref), non-ws value
              "&#9", "&#000000009;", "&#x0009;", "&#1114112;",
              "&#99999999999999999999;", "&TAB;", "&#11;", "&#160;", "&#;"]
    frames = [
        "<head>{W}x</head>", "{W}<p>x</p>", "<table>{W}<td>c</td></table>",
        "<table>{W}x<td>c</td></table>", "<table>{W}</table>",
        "<frameset>{W}a{W}<frame></frameset>",
        "<table><colgroup>{W}<col>x</colgroup></table>",
        "</body>{W}", "<html></html>{W}", "<table> \t{W}<tr><td>a</td></tr></table>",
        "<table>{W}&amp;<td>c</td></table>", "{W}{W}{W}",
    ]
    for _ in range(300):
        f = rng.choice(frames)
        doc = f.replace("{W}", "".join(rng.choice(wsrefs + [" ", "\t", "z"])
                                       for _ in range(rng.randrange(1, 4))))
        c = c_attempt(doc)
        assert c is not None, doc
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc)
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc)


def test_decode_buf_entity_fallback_in_transcoded_runs():
    """Round-7 regression pin (combined-surface sweep find): a FAILED
    entity match inside a NUL-compacted run of a transcoded document
    must fall back to the BUFFER-LOCAL original codepoints — the old
    fallback indexed the original document via rd(p, base+j+q), whose
    offsets the compaction had shifted, splicing unrelated source text
    into the emitted run."""
    import gumbo_pp_spark.parser.html5 as H

    cases = [
        "tex t中 <!-- c\x00é -->&amp;&bogus;&#233;\x00&#9<xmp>r</xmp>",
        "中a\x00b&bogus;c",
        "é\x00&nosuch;tail",
        "<p>中\x00&amp;&unknown;é</p>",
        "<table>中</table>\x00&bad;x",   # post-table body run
    ]
    for doc in cases:
        c = c_attempt(doc)
        assert c is not None, doc
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc)
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc)


def test_combined_surface_fuzz_ab():
    """Round-7: one sweep over ALL the newly-engaged classes together
    (ws-charrefs x NUL x non-ASCII names x entities x doctype soup x
    structure) — 2,000 fresh docs, every engaged one column-identical.
    The 20k offline version of this sweep caught the decode_buf
    fallback bug above."""
    import random

    import gumbo_pp_spark.parser.html5 as H

    rng = random.Random(424242)
    wsrefs = ["&#9;", "&#10;", "&#13;", "&#32;", "&#x9;", "&Tab;", "&NewLine;"]
    uni = "éÉГЖ中𝕏ıİßΣ"
    tags = ["p", "div", "b", "i", "table", "td", "tr", "head", "title",
            "frameset", "frame", "colgroup", "col", "svg", "math",
            "template", "select", "option", "pre"]

    def name():
        return rng.choice("abcdp") + "".join(
            rng.choice("abcDEF" + uni) for _ in range(rng.randrange(0, 3)))

    def piece():
        k = rng.randrange(12)
        if k == 0: return "<%s>" % rng.choice(tags)
        if k == 1: return "</%s>" % rng.choice(tags)
        if k == 2: return rng.choice(wsrefs)
        if k == 3: return "\x00"
        if k == 4: return "<%s %s=%s>" % (name(), name(), rng.choice(["1", "'v é'", "x\x00y"]))
        if k == 5: return "</%s>" % name()
        if k == 6: return "tex t中 "
        if k == 7: return "&amp;&bogus;&#233;"
        if k == 8: return "<!-- c\x00é -->"
        if k == 9: return "<!DOCTYPE %s>" % rng.choice(["html", "htm" + rng.choice(uni)])
        if k == 10: return " \t\n"
        return rng.choice(["<isindex>", "<plaintext>", "<xmp>r</xmp>",
                           "<textarea>\nt</textarea>"])

    bails = 0
    for _ in range(2000):
        doc = "".join(piece() for _ in range(rng.randrange(1, 9)))
        c = c_attempt(doc)
        if c is None:
            bails += 1  # colgroup/frameset-NUL intersections
            continue
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            py = H.parse_html(doc)
        finally:
            H._cparse_fast = saved
        assert_identical(c, py, doc[:140])
    assert bails < 40, bails  # ~0.25% designed-bail rate observed


def test_combined_surface_fuzz_ab_wave8():
    """Round-7 session-2 profile: everything wave 6/7 had PLUS
    CDATA-in-foreign, nested templates, rawtext-with-charrefs,
    attr-value charrefs, select-in-table, frameset soup, astral text,
    malformed comment/bogus shapes, NUL clusters, bare-CR pieces —
    each offered to C once, as raw bytes (the 40k offline run, when
    CR pages still took a second dispatch: 23,684 direct + 14,363
    second-dispatch identical, 1,953 designed bails, zero
    divergences)."""
    _wave8_profile_sweep(seed=880088)


def test_combined_surface_fuzz_ab_wave10():
    """Round-7 session-4: the same wide profile under a fourth
    independent seed (the 40k offline run: 38,021 identical, 1,979
    designed bails, zero divergences)."""
    _wave8_profile_sweep(seed=101010)


def _wave8_profile_sweep(seed):
    import random

    import gumbo_pp_spark.parser.html5 as H

    rng = random.Random(seed)
    wsrefs = ["&#9;", "&#10;", "&#13;", "&#32;", "&#x9;", "&Tab;",
              "&NewLine;", "&#x20;", "&#xD;&#xA;"]
    uni = "éÉГЖ中𝕏ıİßΣø€\xad "
    astral = "𝔸𝔹𝕏🎈"
    tags = ["p", "div", "b", "i", "a", "table", "td", "tr", "th", "tbody",
            "caption", "head", "title", "body", "html", "frameset", "frame",
            "noframes", "colgroup", "col", "svg", "math", "mi", "mo",
            "annotation-xml", "foreignObject", "desc", "template", "select",
            "option", "optgroup", "pre", "listing", "form", "button", "li",
            "ul", "dd", "dt", "ruby", "rt", "noscript", "script", "style",
            "textarea", "xmp", "iframe", "noembed", "marquee", "object",
            "applet", "keygen", "image", "input", "hr", "br", "base",
            "meta", "link"]

    def name():
        return rng.choice("abcdp") + "".join(
            rng.choice("abcDEF-:" + uni) for _ in range(rng.randrange(0, 4)))

    def attrs():
        out = []
        for _ in range(rng.randrange(0, 3)):
            v = rng.choice(["1", "'v é'", '"q&amp;x"', "x\x00y", "&#233;z",
                            "'&Tab;a'", "", "🎈"])
            out.append("%s=%s" % (name(), v))
        return (" " + " ".join(out)) if out else ""

    def piece():
        k = rng.randrange(24)
        if k == 0: return "<%s%s>" % (rng.choice(tags), attrs())
        if k == 1: return "</%s>" % rng.choice(tags)
        if k == 2: return rng.choice(wsrefs)
        if k == 3: return "\x00" * rng.randrange(1, 3)
        if k == 4: return "<%s%s>" % (name(), attrs())
        if k == 5: return "</%s>" % name()
        if k == 6: return rng.choice(["tex t中 ", "plain ascii ", astral, "mix é" + astral])
        if k == 7: return "&amp;&bogus;&#233;&notin;&not;&#x110000;&#xD800;"
        if k == 8: return rng.choice(["<!-- c\x00é -->", "<!-->", "<!---->",
                                      "<!-- -- >", "<![CDATA[x\x00é]]>"])
        if k == 9: return "<!DOCTYPE %s>" % rng.choice(
            ["html", "htm" + rng.choice(uni), "html PUBLIC 'x'", ""])
        if k == 10: return " \t\n\f\r"
        if k == 11: return rng.choice(["<isindex>", "<plaintext>",
                                       "<xmp>r</xmp>", "<textarea>\nt&amp;</textarea>"])
        if k == 12: return "<svg><![CDATA[a&amp;\x00é]]></svg>"
        if k == 13: return "<template><template>x</template>"
        if k == 14: return rng.choice(["<script>a<b&amp;\x00</script>",
                                       "<style>s&Tab;\x00é</style>"])
        if k == 15: return "<table><select><option>o"
        if k == 16: return "<frameset><frame x=1><noframes>n\x00é</noframes>"
        if k == 17: return rng.choice(["<?pi junk>", "</>", "<>", "< notag", "<3>"])
        if k == 18: return "<math><annotation-xml encoding=TEXT/HTML><p>t"
        if k == 19: return "<a href='&#9;x\x00é'>l</a>"
        if k == 20: return "<colgroup>\x00<col>"
        if k == 21: return rng.choice(["\r\n", "\r", "\rx\r\n\x00"])
        if k == 22: return "<body bgcolor=a><body onload=b x=\x00>"
        return "<select><table><tr><td>c"

    def py_parse(doc):
        saved = H._cparse_fast
        H._cparse_fast = None
        try:
            return parse_html(doc)
        finally:
            H._cparse_fast = saved

    engaged = designed = 0
    for _ in range(2500):
        doc = "".join(piece() for _ in range(rng.randrange(1, 12)))
        c = c_attempt(doc)
        if c is None:
            designed += 1  # colgroup/frameset-content NUL only
            continue
        engaged += 1
        assert_identical(c, py_parse(doc), doc[:140])
    assert engaged >= 1900, engaged
    assert designed < 250, designed
