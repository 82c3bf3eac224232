"""Golden parse/extract tests — the reference's test programs
(`/root/reference/tests/src/test.cpp`, `table_scrape.cpp`) re-expressed
as pytest golden assertions (SURVEY.md §5), plus semantics-edge pins
from FIXTURES.md §2 G4+.
"""

import numpy as np
import pytest

from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark.nodetable import (
    COMMENT,
    DOCUMENT,
    ELEMENT,
    TEXT,
    WHITESPACE,
)

# G1 — reference tests/src/test.cpp:16-23 (raw literal starts with \n)
G1 = (
    "\n<html>\n\t<head>\n\t\t<title>Test</title>\n\t</head>\n"
    "\t<body><div class='hello'><b>Hey folks!</b></div> "
    '<a href="https://www.google.com">Google</a></body>\n</html>'
)

# G2 — reference tests/src/test.cpp:79-80
G2 = '<p id="example">This is an <strong>example</strong> paragraph</p>'

# G3 — reference tests/src/table_scrape.cpp:16-41
G3 = (
    "\n<html>\n<head>\n\t<title>Table example</title>\n</head>\n<body>\n"
    '\t<div id="important_table">\n\t\t<table>\n\t\t\t<tbody>\n'
    "\t\t\t\t<tr>\n\t\t\t\t\t<td><strong>Item</strong></td>\n"
    "\t\t\t\t\t<td><strong>Quantity</strong></td>\n\t\t\t\t</tr>\n"
    "\t\t\t\t<tr>\n\t\t\t\t\t<td>Plate</td>\n\t\t\t\t\t<td>10</td>\n"
    "\t\t\t\t</tr>\n\t\t\t\t<tr>\n\t\t\t\t\t<td>Bowl</td>\n"
    "\t\t\t\t\t<td>5</td>\n\t\t\t\t</tr>\n\t\t\t</tbody>\n\t\t</table>\n"
    "\t</div>\n</body>\n"
)


def first(nt, pred_mask, start=0):
    i = nt.first_match(pred_mask, start)
    assert i >= 0
    return i


class TestG1:
    def test_document_content_text(self):
        nt = parse_html(G1)
        # whole-document recursive text concat, whitespace nodes
        # included, no separators (gumbo_text.h:23-58); leading
        # whitespace before <html> is dropped by the "initial"
        # insertion mode, whitespace before <head> by "before head".
        assert nt.content_text(0) == "\n\t\tTest\n\t\n\tHey folks! Google\n"

    def test_div_content_and_inner(self):
        nt = parse_html(G1)
        div = first(nt, nt.tag_name == "div")
        assert nt.content_text(div) == "Hey folks!"
        assert nt.inner_text(div) == "<b>Hey folks!</b>"

    def test_class_hello_outer(self):
        nt = parse_html(G1)
        cls = nt.class_values()
        hits = [i for i in range(nt.n) if cls[i] == "hello"]
        assert len(hits) == 1
        assert nt.outer_text(hits[0]) == "<div class='hello'><b>Hey folks!</b></div>"

    def test_anchor(self):
        nt = parse_html(G1)
        a = first(nt, nt.tag_name == "a")
        assert nt.content_text(a) == "Google"
        assert nt.attrs[a]["href"] == "https://www.google.com"

    def test_structure(self):
        nt = parse_html(G1)
        assert nt.type[0] == DOCUMENT
        html = nt.children_ids(0)
        assert [nt.tag_name[i] for i in html] == ["html"]
        kids = nt.children_ids(int(html[0]))
        assert [nt.tag_name[k] or nt.type[k] for k in kids] == ["head", WHITESPACE, "body"]

    def test_outer_text_document_is_source(self):
        nt = parse_html(G1)
        assert nt.outer_text(0) == G1


class TestG2:
    def test_fragment_skeleton_and_match(self):
        nt = parse_html(G2)
        # implied html/head/body around the fragment (libgumbo does the same)
        p = first(nt, (nt.tag_name == "p"))
        assert nt.attr_values("id")[p] == "example"
        assert nt.content_text(p) == "This is an example paragraph"

    def test_find_some_equivalent(self):
        nt = parse_html(G2)
        m_tag = nt.tag_name == "p"
        m_id = nt.attr_values("id") == np.array(["example"] * nt.n, dtype=object)
        both = m_tag & m_id
        i = nt.first_match(m_tag | m_id)
        assert both[i]


class TestG3:
    def test_table_scrape_csv(self):
        nt = parse_html(G3)
        ids = nt.attr_values("id")
        div = first(nt, (nt.tag_name == "div") & (ids == "important_table"))
        # anchored find: iteration is NOT bounded to the subtree
        # (gumbo_node_iterator.h:98-104; table_scrape.cpp:52)
        tbody = first(nt, nt.tag_name == "tbody", start=div)
        lines = []
        lo, hi = nt.child_range_dfs(tbody)
        for tr in nt.matches_in(nt.tag_name == "tr", lo, hi):
            tlo, thi = nt.child_range_dfs(int(tr))
            cells = nt.matches_in(nt.tag_name == "td", tlo, thi)
            lines.append(",".join(nt.content_text_many(cells)))
        assert "\n".join(lines) + "\n" == "Item,Quantity\nPlate,10\nBowl,5\n"

    def test_tbody_child_range_semantics(self):
        nt = parse_html(G3)
        tbody = first(nt, nt.tag_name == "tbody")
        lo, hi = nt.child_range_dfs(tbody)
        kids = nt.children_ids(tbody)
        # range = [first_child, last_child + 1): includes descendants of
        # every child except the last child's (gumbo_node_iterator.h:73-84)
        assert lo == kids[0]
        assert hi == kids[-1] + 1


class TestEdgeSemantics:
    def test_comment_text_included_in_content_text(self):
        nt = parse_html("<div>a<!--hi-->b</div>")
        div = first(nt, nt.tag_name == "div")
        assert nt.content_text(div) == "ahib"
        c = first(nt, nt.type == COMMENT)
        assert nt.text[c] == "hi"

    def test_entity_decoding_text_vs_raw_slices(self):
        src = "<div>R&amp;D &#x27;x&#39;</div>"
        nt = parse_html(src)
        div = first(nt, nt.tag_name == "div")
        assert nt.content_text(div) == "R&D 'x'"
        assert nt.inner_text(div) == "R&amp;D &#x27;x&#39;"
        assert nt.outer_text(div) == src

    def test_attribute_entity_decoding(self):
        nt = parse_html('<a href="?a=1&amp;b=2">x</a>')
        a = first(nt, nt.tag_name == "a")
        assert nt.attrs[a]["href"] == "?a=1&b=2"

    def test_class_whole_value_equality_basis(self):
        nt = parse_html('<div class="hello world">x</div>')
        assert list(nt.class_values()[nt.tag_name == "div"]) == ["hello world"]

    def test_duplicate_attribute_first_wins(self):
        nt = parse_html('<div id="a" id="b">x</div>')
        d = first(nt, nt.tag_name == "div")
        assert nt.attrs[d]["id"] == "a"

    def test_valueless_attribute_empty_string(self):
        nt = parse_html("<input disabled>")
        i = first(nt, nt.tag_name == "input")
        assert nt.attrs[i]["disabled"] == ""

    def test_void_elements_no_children(self):
        nt = parse_html("<div>a<br>b<img src=x>c</div>")
        br = first(nt, nt.tag_name == "br")
        img = first(nt, nt.tag_name == "img")
        assert nt.subtree_end[br] == br + 1
        assert nt.subtree_end[img] == img + 1
        div = first(nt, nt.tag_name == "div")
        assert nt.content_text(div) == "abc"

    def test_rawtext_script_not_decoded_not_parsed(self):
        nt = parse_html("<script>if (a &lt; b) { x = '<div>'; }</script>")
        s = first(nt, nt.tag_name == "script")
        kids = nt.children_ids(s)
        assert len(kids) == 1
        assert nt.text[kids[0]] == "if (a &lt; b) { x = '<div>'; }"
        assert (nt.tag_name == "div").sum() == 0

    def test_rcdata_title_decoded_not_parsed(self):
        nt = parse_html("<title>a &amp; <b></title>")
        t = first(nt, nt.tag_name == "title")
        assert nt.content_text(t) == "a & <b>"

    def test_implied_p_close(self):
        nt = parse_html("<p>one<p>two</p>")
        ps = np.nonzero(nt.tag_name == "p")[0]
        assert len(ps) == 2
        assert nt.content_text(int(ps[0])) == "one"
        assert nt.content_text(int(ps[1])) == "two"
        # implicitly closed first <p>: zero-length end-tag span
        assert nt.endtag_start[ps[0]] == nt.endtag_end[ps[0]]

    def test_li_implied_close(self):
        nt = parse_html("<ul><li>a<li>b</ul>")
        lis = np.nonzero(nt.tag_name == "li")[0]
        assert len(lis) == 2
        assert [nt.content_text(int(i)) for i in lis] == ["a", "b"]
        ul = first(nt, nt.tag_name == "ul")
        assert all(nt.parent[i] == ul for i in lis)

    def test_misnested_close(self):
        nt = parse_html("<div><b>x</div>y")
        div = first(nt, nt.tag_name == "div")
        assert nt.content_text(div) == "x"
        body = first(nt, nt.tag_name == "body")
        assert nt.content_text(body) == "xy"

    def test_unknown_tag_preserved(self):
        nt = parse_html("<foo-bar baz='1'>x</foo-bar>")
        f = first(nt, nt.tag_name == "foo-bar")
        from gumbo_pp_spark.parser.tags import TAG_UNKNOWN

        assert nt.tag_id[f] == TAG_UNKNOWN
        assert nt.content_text(f) == "x"

    def test_stray_end_tag_merges_text(self):
        # the reference tokenizer's char buffer is not flushed by an
        # ignored token: "foo</x>bar" is ONE text node
        nt = parse_html("<div>foo</nonopen>bar</div>")
        div = first(nt, nt.tag_name == "div")
        kids = nt.children_ids(div)
        assert len(kids) == 1
        assert nt.text[kids[0]] == "foobar"

    def test_comment_splits_text_nodes(self):
        nt = parse_html("<div>foo<!--c-->bar</div>")
        div = first(nt, nt.tag_name == "div")
        kids = nt.children_ids(div)
        assert [int(t) for t in nt.type[kids]] == [TEXT, COMMENT, TEXT]

    def test_whitespace_node_classification(self):
        nt = parse_html("<div> \t\n</div>")
        div = first(nt, nt.tag_name == "div")
        kids = nt.children_ids(div)
        assert nt.type[kids[0]] == WHITESPACE

    def test_spans_roundtrip_source(self):
        src = '<html><body><div id="x"><i>a</i></div></body></html>'
        nt = parse_html(src)
        div = first(nt, nt.tag_name == "div")
        assert src[nt.tag_start[div]: nt.tag_end[div]] == '<div id="x">'
        assert src[nt.endtag_start[div]: nt.endtag_end[div]] == "</div>"
        assert nt.outer_text(div) == '<div id="x"><i>a</i></div>'
        assert nt.inner_text(div) == "<i>a</i>"

    def test_preorder_intervals_well_nested(self):
        nt = parse_html(G3)
        for i in range(nt.n):
            p = nt.parent[i]
            if p >= 0:
                assert p < i < nt.subtree_end[i] <= nt.subtree_end[p]

    def test_table_whitespace_kept_nonws_fostered(self):
        nt = parse_html("<table> <tr><td>x</td></tr>oops</table>")
        # whitespace-only run stays inside the table
        tbl = first(nt, nt.tag_name == "table")
        # non-whitespace "oops" is foster-parented before the table
        body = first(nt, nt.tag_name == "body")
        kids = nt.children_ids(body)
        texts = [nt.text[k] for k in kids if nt.type[k] == TEXT]
        assert texts == ["oops"]
        assert kids[0] < tbl  # fostered text precedes the table
        # implied tbody wraps the tr
        tr = first(nt, nt.tag_name == "tr")
        assert nt.tag_name[nt.parent[tr]] == "tbody"

    def test_td_implied_close(self):
        nt = parse_html("<table><tr><td>a<td>b</tr></table>")
        tds = np.nonzero(nt.tag_name == "td")[0]
        assert [nt.content_text(int(i)) for i in tds] == ["a", "b"]

    def test_pre_skips_first_newline(self):
        nt = parse_html("<pre>\nkeep\n</pre>")
        pre = first(nt, nt.tag_name == "pre")
        assert nt.content_text(pre) == "keep\n"

    def test_doctype_then_structure(self):
        nt = parse_html("<!DOCTYPE html><html><body>x</body></html>")
        assert nt.content_text(0) == "x"
        assert nt.parse_errors == 0

    def test_empty_input_skeleton(self):
        nt = parse_html("")
        names = [nt.tag_name[i] for i in range(nt.n) if nt.type[i] == ELEMENT]
        assert names == ["html", "head", "body"]

    def test_crlf_normalized(self):
        nt = parse_html("<div>a\r\nb\rc</div>")
        div = first(nt, nt.tag_name == "div")
        assert nt.content_text(div) == "a\nb\nc"

    def test_bytes_input_utf8(self):
        nt = parse_html("<div>héllo</div>".encode("utf-8"))
        div = first(nt, nt.tag_name == "div")
        assert nt.content_text(div) == "héllo"

    def test_end_offset_quirk_for_text_nodes(self):
        # gumbo_util.h:142-145: end offset of a text node is the
        # DECODED length, not a source offset
        nt = parse_html("<div>R&amp;D</div>")
        div = first(nt, nt.tag_name == "div")
        t = nt.children_ids(div)[0]
        assert nt.node_end_offset(int(t)) == len("R&D")


class TestAnchoredTraversal:
    def test_advance_until_from_anchor(self):
        nt = parse_html(G3)
        div = first(nt, nt.tag_name == "div")
        # find_if from div's begin() reaches into the subtree AND beyond
        tbody = nt.first_match(nt.tag_name == "tbody", start=div)
        assert tbody > div
        assert tbody < nt.subtree_end[div]

    def test_next_sibling(self):
        nt = parse_html("<div><i>a</i><b>b</b><u>c</u></div>")
        i_ = first(nt, nt.tag_name == "i")
        b = nt.next_sibling(i_)
        assert nt.tag_name[b] == "b"
        u = nt.next_sibling(b)
        assert nt.tag_name[u] == "u"
        assert nt.next_sibling(u) == -1


class TestFindIterator:
    def test_iter_matches_lazy_successive(self):
        nt = parse_html(G3)
        trs = list(nt.iter_matches(nt.tag_name == "tr"))
        assert len(trs) == 3
        assert trs == sorted(trs)
        # anchored: start past the first match
        rest = list(nt.iter_matches(nt.tag_name == "tr", start=trs[0] + 1))
        assert rest == trs[1:]
