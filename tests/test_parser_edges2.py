"""Second edge-semantics corpus (FIXTURES.md G4+ continuation):
tables/sections/select paths, entity edge cases, bogus markup,
document-structure recovery."""

import numpy as np

from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark.nodetable import COMMENT, ELEMENT, TEXT, WHITESPACE


def first(nt, mask, start=0):
    i = nt.first_match(mask, start)
    assert i >= 0
    return i


class TestTables:
    def test_nested_table(self):
        nt = parse_html(
            "<table><tr><td><table><tr><td>inner</td></tr></table>outer</td></tr></table>"
        )
        tds = np.nonzero(nt.tag_name == "td")[0]
        assert len(tds) == 2
        outer_td = int(tds[0])
        assert nt.content_text(outer_td) == "innerouter"
        inner_td = int(tds[1])
        assert nt.content_text(inner_td) == "inner"

    def test_caption_and_colgroup(self):
        nt = parse_html(
            "<table><caption>cap</caption><colgroup><col><col></colgroup>"
            "<tbody><tr><td>x</td></tr></tbody></table>"
        )
        cap = first(nt, nt.tag_name == "caption")
        assert nt.content_text(cap) == "cap"
        cols = np.nonzero(nt.tag_name == "col")[0]
        assert len(cols) == 2
        cg = first(nt, nt.tag_name == "colgroup")
        assert all(nt.parent[c] == cg for c in cols)
        tbl = first(nt, nt.tag_name == "table")
        assert nt.parent[cap] == tbl

    def test_thead_tfoot_sections(self):
        nt = parse_html(
            "<table><thead><tr><th>h</th></tr></thead>"
            "<tbody><tr><td>b</td></tr></tbody>"
            "<tfoot><tr><td>f</td></tr></tfoot></table>"
        )
        for sec in ("thead", "tbody", "tfoot"):
            s = first(nt, nt.tag_name == sec)
            assert nt.tag_name[nt.parent[s]] == "table"
        th = first(nt, nt.tag_name == "th")
        assert nt.content_text(th) == "h"

    def test_tr_closes_tr(self):
        nt = parse_html("<table><tbody><tr><td>a<tr><td>b</tbody></table>")
        trs = np.nonzero(nt.tag_name == "tr")[0]
        assert len(trs) == 2
        assert [nt.content_text(int(t)) for t in trs] == ["a", "b"]


class TestSelectAndForms:
    def test_select_options(self):
        nt = parse_html('<select><option value="1">one<option value="2">two</select>')
        opts = np.nonzero(nt.tag_name == "option")[0]
        assert len(opts) == 2
        assert [nt.content_text(int(o)) for o in opts] == ["one", "two"]

    def test_form_container(self):
        nt = parse_html('<form action="/x"><input name="q"><button>go</button></form>')
        f = first(nt, nt.tag_name == "form")
        assert nt.attrs[f]["action"] == "/x"
        inp = first(nt, nt.tag_name == "input")
        assert nt.parent[inp] == f


class TestEntities:
    def test_numeric_refs(self):
        nt = parse_html("<p>&#65;&#x42;&#67</p>")  # legacy no-semicolon last
        p = first(nt, nt.tag_name == "p")
        assert nt.content_text(p) == "ABC"

    def test_named_no_semicolon_legacy(self):
        nt = parse_html("<p>a &amp b</p>")
        p = first(nt, nt.tag_name == "p")
        assert nt.content_text(p) == "a & b"

    def test_unknown_entity_literal(self):
        nt = parse_html("<p>&notanentity;</p>")
        p = first(nt, nt.tag_name == "p")
        # &not is a legacy named ref → WHATWG decodes the prefix
        assert nt.content_text(p) == "¬anentity;"

    def test_bare_ampersand(self):
        nt = parse_html("<p>fish & chips</p>")
        p = first(nt, nt.tag_name == "p")
        assert nt.content_text(p) == "fish & chips"


class TestBogusMarkup:
    def test_processing_instruction_is_bogus_comment(self):
        nt = parse_html('<body><?php echo "x"; ?>text</body>')
        c = first(nt, nt.type == COMMENT)
        assert nt.text[c].startswith("?php")
        body = first(nt, nt.tag_name == "body")
        assert nt.content_text(body) == '?php echo "x"; ?text'

    def test_bang_bogus_comment(self):
        nt = parse_html("<body><!x y>after</body>")
        c = first(nt, nt.type == COMMENT)
        assert nt.text[c] == "x y"

    def test_lt_before_nonletter_is_text(self):
        nt = parse_html("<p>1 < 2 and 3 <4</p>")
        p = first(nt, nt.tag_name == "p")
        assert nt.content_text(p) == "1 < 2 and 3 <4"

    def test_unclosed_quote_attr_runs_to_eof(self):
        nt = parse_html('<div id="x>y</div><p>z</p>')
        # the quoted value swallows the rest; EOF inside a tag means the
        # tag token is never emitted (spec: eof-in-tag parse error)
        assert (nt.tag_name == "div").sum() == 0
        assert nt.parse_errors >= 1


class TestStructureRecovery:
    def test_double_body_ignored(self):
        nt = parse_html("<body>a</body><body>b</body>")
        assert (nt.tag_name == "body").sum() == 1

    def test_content_after_html_close(self):
        nt = parse_html("<html><body>a</body></html>trailing")
        body = first(nt, nt.tag_name == "body")
        assert nt.content_text(body) == "atrailing"

    def test_head_only_document(self):
        nt = parse_html("<head><meta charset='utf-8'></head>")
        names = [nt.tag_name[i] for i in range(nt.n) if nt.type[i] == ELEMENT]
        assert names == ["html", "head", "meta", "body"]

    def test_heading_cross_rank_close(self):
        nt = parse_html("<h2>title</h3><p>x</p>")
        h2 = first(nt, nt.tag_name == "h2")
        assert nt.content_text(h2) == "title"
        p = first(nt, nt.tag_name == "p")
        assert nt.parent[p] == nt.parent[h2]

    def test_stray_end_br_inserts_br(self):
        nt = parse_html("<p>a</br>b</p>")
        assert (nt.tag_name == "br").sum() == 1

    def test_definition_list_implied_ends(self):
        nt = parse_html("<dl><dt>t1<dd>d1<dt>t2<dd>d2</dl>")
        dts = np.nonzero(nt.tag_name == "dt")[0]
        dds = np.nonzero(nt.tag_name == "dd")[0]
        assert len(dts) == 2 and len(dds) == 2
        assert [nt.content_text(int(i)) for i in dts] == ["t1", "t2"]
        assert [nt.content_text(int(i)) for i in dds] == ["d1", "d2"]

    def test_anchor_reopen(self):
        nt = parse_html('<a href="1">one<a href="2">two</a>')
        anchors = np.nonzero(nt.tag_name == "a")[0]
        assert len(anchors) == 2
        assert [nt.content_text(int(a)) for a in anchors] == ["one", "two"]


class TestTraversalHelpers:
    def test_last_sibling_and_attr_value(self):
        nt = parse_html('<div><i>a</i><b>b</b><u c="v">c</u></div>')
        i_ = nt.first_match(nt.tag_name == "i")
        u = nt.first_match(nt.tag_name == "u")
        assert nt.last_sibling(i_) == u
        assert nt.node_attribute_value(u, "c") == "v"
        assert nt.node_attribute_value(u, "missing") == ""
        assert nt.node_attribute_value(i_ + 1, "c") == ""  # text node


class TestForeignContent:
    def test_self_closing_svg_does_not_swallow(self):
        nt = parse_html('<body><svg viewBox="0 0 1 1"/><p>after</p></body>')
        svg = first(nt, nt.tag_name == "svg")
        assert nt.subtree_end[svg] == svg + 1  # empty, closed
        p = first(nt, nt.tag_name == "p")
        assert nt.parent[p] == nt.parent[svg]
        assert nt.content_text(p) == "after"

    def test_self_closing_inside_svg(self):
        nt = parse_html('<svg><circle r="1"/><rect/></svg><p>y</p>')
        c = first(nt, nt.tag_name == "circle")
        assert nt.subtree_end[c] == c + 1
        svg = first(nt, nt.tag_name == "svg")
        p = first(nt, nt.tag_name == "p")
        assert not (svg <= p < nt.subtree_end[svg])

    def test_main_text_survives_svg_icon(self):
        from gumbo_pp_spark.operators.extract import main_text_program

        nt = parse_html('<body><svg class="icon"/><main><p>keep me</p></main></body>')
        assert main_text_program(nt)["text"] == "keep me"

    def test_html_self_closing_still_ignored(self):
        # in HTML (non-foreign) content the spec IGNORES the flag
        nt = parse_html("<div/>inside</div>after")
        div = first(nt, nt.tag_name == "div")
        assert nt.content_text(div) == "inside"


class TestDuplicateRootMerging:
    def test_body_attrs_merged(self):
        nt = parse_html('<body class="a"><body class="b" id="x">t</body>')
        body = first(nt, nt.tag_name == "body")
        assert nt.attrs[body]["class"] == "a"  # first wins
        assert nt.attrs[body]["id"] == "x"     # missing attr merged

    def test_html_attrs_merged(self):
        nt = parse_html('<html lang="en"><html dir="ltr"><body>t</body></html>')
        h = first(nt, nt.tag_name == "html")
        assert nt.attrs[h]["lang"] == "en"
        assert nt.attrs[h]["dir"] == "ltr"


class TestAdoptionAgency:
    def test_text_after_formatting_end_stays_in_block(self):
        # WHATWG adoption agency: </b> with <p> as furthest block —
        # ' y' remains INSIDE the paragraph but NOT inside any b (the
        # outer loop's 2nd iteration closes the clone; round-1's
        # single-pass version wrongly reconstructed a third <b>).
        # Verified against the html5lib reference implementation.
        nt = parse_html("<body><b><p>x</b> y</p></body>")
        p = first(nt, nt.tag_name == "p")
        assert nt.content_text(p) == "x y"
        bs = np.nonzero(nt.tag_name == "b")[0]
        assert len(bs) == 2  # original + adoption clone, no third
        assert [nt.content_text(int(b)) for b in bs] == ["", "x"]
        # ' y' is a direct child of <p>
        ys = [i for i in range(nt.n) if nt.text[i] == " y"]
        assert ys and nt.parent[ys[0]] == p

    def test_anchor_div_adoption(self):
        nt = parse_html('<body><a href="1">t<div>d</a>e</div></body>')
        div = first(nt, nt.tag_name == "div")
        assert nt.content_text(div) == "de"
        # the adopted clone carries the original attributes
        a_in_div = [i for i in np.nonzero(nt.tag_name == "a")[0] if nt.parent[i] == div]
        assert a_in_div and nt.attrs[a_in_div[0]]["href"] == "1"

    def test_preorder_still_well_nested_after_adoption(self):
        nt = parse_html("<body><b><i><p>x</b></i> tail</p></body>")
        for i in range(1, nt.n):
            par = nt.parent[i]
            assert 0 <= par < i
            assert i < nt.subtree_end[i] <= nt.subtree_end[par]

    def test_stale_formatting_end_tag_ignored(self):
        # entry exists but element left the stack via a cell boundary
        nt = parse_html("<table><tr><td><b>x</td></tr></table></b>after")
        body = first(nt, nt.tag_name == "body")
        assert "after" in nt.content_text(body)


class TestInSelect:
    def test_stray_tags_in_select_ignored(self):
        nt = parse_html("<select><option>a<div>ignored</div><option>b</select><p>y</p>")
        assert (nt.tag_name == "div").sum() == 0
        opts = np.nonzero(nt.tag_name == "option")[0]
        # 'ignored' text still flows into the open option (chars are
        # inserted in select mode; only the tags are dropped)
        assert [nt.content_text(int(o)) for o in opts] == ["aignored", "b"]
        p = first(nt, nt.tag_name == "p")
        assert nt.content_text(p) == "y"

    def test_optgroup_closes_option(self):
        nt = parse_html(
            "<select><optgroup label='g1'><option>a<optgroup label='g2'><option>b</select>"
        )
        ogs = np.nonzero(nt.tag_name == "optgroup")[0]
        assert len(ogs) == 2
        sel = first(nt, nt.tag_name == "select")
        assert all(nt.parent[o] == sel for o in ogs)

    def test_nested_select_closes(self):
        # spec: a <select> start tag inside a select acts as </select>
        # and the token itself is dropped — exactly one select element
        nt = parse_html("<select><option>a<select><option>b</select>")
        sels = np.nonzero(nt.tag_name == "select")[0]
        assert len(sels) == 1
        sel = int(sels[0])
        opts = np.nonzero(nt.tag_name == "option")[0]
        in_sel = [o for o in opts if sel <= o < nt.subtree_end[sel]]
        assert len(in_sel) == 1  # 'b' lands outside the closed select

    def test_input_breaks_out_of_select(self):
        nt = parse_html("<select><option>a<input name='q'></select>x")
        inp = first(nt, nt.tag_name == "input")
        sel = first(nt, nt.tag_name == "select")
        assert not (sel <= inp < nt.subtree_end[sel])

    def test_table_tag_breaks_out(self):
        nt = parse_html("<table><tr><td><select><option>o<tr><td>next")
        trs = np.nonzero(nt.tag_name == "tr")[0]
        assert len(trs) == 2


class TestAttributeCharRefs:
    def test_legacy_ref_before_equals_kept(self):
        # WHATWG attribute rule: &not followed by '=' stays literal
        nt = parse_html('<a href="?a=1&not=2&copy=3">x</a>')
        a = first(nt, nt.tag_name == "a")
        assert nt.attrs[a]["href"] == "?a=1&not=2&copy=3"

    def test_legacy_ref_before_alnum_kept(self):
        nt = parse_html('<a href="?x=&notit">x</a>')
        a = first(nt, nt.tag_name == "a")
        assert nt.attrs[a]["href"] == "?x=&notit"

    def test_full_refs_still_decoded_in_attrs(self):
        nt = parse_html('<a href="a&amp;b" title="&copy; &#65;&lt;">x</a>')
        a = first(nt, nt.tag_name == "a")
        assert nt.attrs[a]["href"] == "a&b"
        assert nt.attrs[a]["title"] == "© A<"

    def test_legacy_ref_at_value_end_decoded(self):
        nt = parse_html('<span title="5 &not">x</span>')
        s = first(nt, nt.tag_name == "span")
        assert nt.attrs[s]["title"] == "5 ¬"

    def test_text_still_decodes_legacy_prefix(self):
        # in TEXT the prefix rule differs: &notit -> ¬it (parse error)
        nt = parse_html("<p>&notit</p>")
        p = first(nt, nt.tag_name == "p")
        assert nt.content_text(p) == "¬it"


class TestParseOptions:
    """GumboOptions analogue (gumbo_range(html, options),
    src/gumbo_pp.cpp:27-31): fragment context/namespace + max_errors."""

    def test_fragment_div_context(self):
        nt = parse_html("<p>x</p>tail", {"fragment_context": "div"})
        # root <html>, no implied head/body, content directly under root
        assert nt.tag_name[1] == "html"
        assert (nt.tag_name == "head").sum() == 0
        assert (nt.tag_name == "body").sum() == 0
        p = first(nt, nt.tag_name == "p")
        assert nt.content_text(p) == "x"
        assert nt.parent[p] == 1

    def test_fragment_rcdata_context(self):
        nt = parse_html("<b>not</b> &amp; x", {"fragment_context": "textarea"})
        texts = [nt.text[i] for i in range(nt.n) if nt.type[i] == 2]
        assert texts == ["<b>not</b> & x"]  # no tags, entities decoded

    def test_fragment_rawtext_context(self):
        nt = parse_html("a &amp; b", {"fragment_context": "script"})
        texts = [nt.text[i] for i in range(nt.n) if nt.type[i] == 2]
        assert texts == ["a &amp; b"]  # rawtext: no decoding

    def test_fragment_table_context(self):
        nt = parse_html("<tr><td>c</td></tr>", {"fragment_context": "table"})
        names = [nt.tag_name[i] for i in range(nt.n) if nt.tag_name[i]]
        assert names == ["html", "tbody", "tr", "td"]

    def test_fragment_svg_namespace(self):
        from gumbo_pp_spark.nodetable import NS_SVG

        nt = parse_html(
            '<circle r="1"/><text>t</text>',
            {"fragment_context": "svg", "fragment_namespace": "svg"},
        )
        circ = first(nt, nt.tag_name == "circle")
        assert nt.ns[circ] == NS_SVG
        assert nt.content_text(first(nt, nt.tag_name == "text")) == "t"

    def test_max_errors_caps_records_not_count(self):
        nt = parse_html("<?a><?b><?c>", {"max_errors": 2})
        assert nt.parse_errors == 3
        assert len(nt.error_records) == 2

    def test_error_records_code_and_offset(self):
        nt = parse_html("<div foo=1 foo=2>x</div>")
        assert nt.parse_errors == 1
        assert nt.error_records == [("duplicate-attribute", 0)]


class TestSelfClosingRawtext:
    """The self-closing flag is IGNORED on RCDATA/RAWTEXT elements —
    the tokenizer still switches state (spec; found by fuzzing against
    the html5lib reference)."""

    def test_script_self_closing_swallows(self):
        nt = parse_html("a<script/>x <b>not parsed</b>")
        s = first(nt, nt.tag_name == "script")
        assert nt.content_text(s) == "x <b>not parsed</b>"
        assert (nt.tag_name == "b").sum() == 0

    def test_textarea_self_closing_rcdata(self):
        nt = parse_html("<textarea/>&amp;<i>raw</i>")
        t = first(nt, nt.tag_name == "textarea")
        assert nt.content_text(t) == "&<i>raw</i>"  # rcdata decodes refs

    def test_foreign_script_self_closing_does_not_swallow(self):
        # in SVG the self-closing flag IS honored and no rawtext starts
        nt = parse_html("<svg><script/><circle/></svg>after")
        assert (nt.tag_name == "circle").sum() == 1
        body = first(nt, nt.tag_name == "body")
        assert nt.content_text(body) == "after"


class TestForeignSpecialEndTags:
    """Modern-spec semantics the html5lib 1.x oracle gets wrong (its
    special category lacks namespaced foreign entries): an end tag for
    a foreign special element processed through the HTML 'any other end
    tag' rules is IGNORED at the special check."""

    def test_mtext_end_over_html_content_ignored(self):
        # ACN is the HTML <font> (mtext is a text integration point);
        # </mtext> dispatches to HTML rules, hits the special mtext → ignored
        nt = parse_html("<math><mtext><font>x</mtext>y</font></math>")
        f = first(nt, nt.tag_name == "font")
        assert nt.content_text(f) == "xy"  # font stayed open

    def test_foreignobject_end_over_html_block_ignored(self):
        nt = parse_html("<svg><foreignObject><div>x</foreignObject>y</div></svg>")
        d = first(nt, nt.tag_name == "div")
        assert nt.content_text(d) == "xy"


class TestEndTagAttributes:
    """End-tag attributes are tokenized with the start-tag attribute
    states and discarded (WHATWG §13.2.5.8; gumbo src/tokenizer.c) —
    a '>' inside a quoted value must NOT terminate the tag."""

    def test_quoted_gt_in_end_tag_attr(self):
        nt = parse_html('<div>x</div a=">">tail')
        texts = [nt.text[i] for i in range(nt.n) if nt.text[i]]
        assert texts == ["x", "tail"]  # no '">' garbage text node
        assert ("end-tag-with-attributes", 6) in nt.error_records

    def test_unquoted_end_tag_attr(self):
        nt = parse_html("<p>a</p foo=bar>b")
        texts = [nt.text[i] for i in range(nt.n) if nt.text[i]]
        assert texts == ["a", "b"]

    def test_end_tag_trailing_solidus_fast_path(self):
        nt = parse_html("<p>a</p/>b")
        texts = [nt.text[i] for i in range(nt.n) if nt.text[i]]
        assert texts == ["a", "b"]
        assert not nt.error_records

    def test_eof_inside_quoted_end_tag_attr(self):
        nt = parse_html('<div>x</div a="unterminated')
        texts = [nt.text[i] for i in range(nt.n) if nt.text[i]]
        assert texts == ["x"]  # token ignored at EOF
        assert ("eof-in-end-tag", 6) in nt.error_records


class TestRound3FuzzFinds:
    """Round-3 fresh-seed fuzz wave finds (engine vs html5lib oracle)."""

    def test_select_end_option_not_through_select(self):
        # spec "in select" </option>: pop ONLY a current option — an
        # option OUTSIDE the select must not be reached through it
        nt = parse_html('<option><select></option q="r>s"><optgroup>x')
        og = first(nt, nt.tag_name == "optgroup")
        sel = first(nt, nt.tag_name == "select")
        assert nt.parent[og] == sel  # optgroup nested INSIDE the select

    def test_select_end_optgroup_current_only(self):
        nt = parse_html("<select><optgroup><option></optgroup><option>b")
        # option+optgroup implied-closed; second option is select's child
        opts = [i for i in range(nt.n) if nt.tag_name[i] == "option"]
        sel = first(nt, nt.tag_name == "select")
        assert nt.parent[opts[1]] == sel

    def test_comment_in_foreign_after_body_mode(self):
        # a comment with a FOREIGN adjusted current node inserts at the
        # current node even after </html> switched the insertion mode
        nt = parse_html("<svg></html><!--c-->")
        svg = first(nt, nt.tag_name == "svg")
        cm = first(nt, nt.type == COMMENT)
        assert nt.parent[cm] == svg

    def test_foreign_named_end_tag_not_matched_via_html_rules(self):
        # modern spec: any-other-end-tag matches HTML elements only —
        # a MathML <tr> is neither matched nor special, so </tr> is
        # ignored and following text stays in the integration point
        nt = parse_html("<math><tr><ms><mtext></tr>x")
        mtext = first(nt, nt.tag_name == "mtext")
        assert nt.content_text(mtext) == "x"


class TestPendingTableText:
    """WHATWG 'in table text': character runs buffer until the next
    non-character token; the all-space test applies to the WHOLE batch
    (round-3 fuzz finds)."""

    def test_ws_then_stray_text_foster_together(self):
        nt = parse_html("<table>\n< notatag<!--c-->")
        body = first(nt, nt.tag_name == "body")
        kids = nt.children_ids(body)
        # the "\n< notatag" batch fosters as ONE text node before table
        texts = [nt.text[k] for k in kids if nt.type[k] in (TEXT, WHITESPACE)]
        assert texts == ["\n< notatag"]
        table = first(nt, nt.tag_name == "table")
        tkids = nt.children_ids(table)
        assert all(nt.type[k] not in (TEXT, WHITESPACE) for k in tkids)

    def test_all_ws_batch_stays_in_table(self):
        nt = parse_html("<table> \n <tr><td>x")
        table = first(nt, nt.tag_name == "table")
        tkids = nt.children_ids(table)
        assert any(nt.type[k] == WHITESPACE for k in tkids)

    def test_colgroup_ws_no_reconstruct(self):
        # a fostered <small>'s AFE entry must not reopen INSIDE the
        # colgroup for the leading whitespace
        nt = parse_html("<table><small><colgroup> &copy 2020")
        cg = first(nt, nt.tag_name == "colgroup")
        cgkids = nt.children_ids(cg)
        assert [nt.tag_name[k] or "#text" for k in cgkids] == ["#text"]
        # the non-space remainder fosters with a reconstructed small
        smalls = [i for i in range(nt.n) if nt.tag_name[i] == "small"]
        assert len(smalls) == 2
        assert nt.content_text(smalls[1]) == "© 2020"

    def test_table_scope_through_marquee(self):
        # <tr> while inside <caption><marquee>: caption check uses
        # TABLE scope (html/table/template boundaries), so the open
        # marquee does not hide it — caption closes, tbody>tr appears
        nt = parse_html("<table><caption><marquee><tr><td>x")
        tr = first(nt, nt.tag_name == "tr")
        tbody = first(nt, nt.tag_name == "tbody")
        assert tr >= 0 and tbody >= 0 and nt.parent[tr] == tbody


class TestFragmentCases:
    """Round-3 fragment-case rules (spec 'fragment case' clauses),
    fuzz-found against html5lib's parseFragment oracle."""

    def test_colgroup_fragment_ignores_non_col(self):
        nt = parse_html("<select>x<span>y</span><col>", {"fragment_context": "colgroup"})
        assert (nt.tag_name == "select").sum() == 0
        assert (nt.tag_name == "span").sum() == 0
        assert (nt.tag_name == "col").sum() == 1  # col itself is honored

    def test_select_fragment_ignores_breakout_tags(self):
        nt = parse_html("<li>x<textarea>y<table><tr>", {"fragment_context": "select"})
        for t in ("li", "textarea", "table", "tr"):
            assert (nt.tag_name == t).sum() == 0, t

    def test_tr_fragment_nested_tr_ignored(self):
        nt = parse_html("<tr><td>x", {"fragment_context": "tr"})
        assert (nt.tag_name == "tr").sum() == 0  # spec: ignored, fragment case
        td = first(nt, nt.tag_name == "td")
        assert nt.parent[td] == 1  # td directly under the fragment root

    def test_table_fragment_foster_to_root(self):
        # fostered text in a table-context fragment goes INSIDE the
        # first stack element (the root), not into the implied tr
        nt = parse_html("<tr>word", {"fragment_context": "table"})
        tr = first(nt, nt.tag_name == "tr")
        assert nt.content_text(tr) == ""
        texts = [nt.text[i] for i in range(nt.n) if nt.text[i]]
        assert texts == ["word"]

    def test_table_fragment_nested_table_ignored(self):
        nt = parse_html("<table><tr><td>x", {"fragment_context": "table"})
        assert (nt.tag_name == "table").sum() == 0  # no table in scope -> ignored
        assert (nt.tag_name == "td").sum() == 1

    def test_foreign_fragment_breakout_no_recursion(self):
        # breakout tags do NOT apply in the fragment case (stack holds
        # only the root) — this input previously recursed forever
        nt = parse_html("a<svg><p><circle>", {"fragment_context": "math",
                                              "fragment_namespace": "math"})
        assert nt.n > 3  # parsed without RecursionError
        assert (nt.tag_name == "p").sum() == 1


class TestTitleInBodyNoReconstruct:
    """in-body <title> is processed via the IN-HEAD rule (WHATWG
    in-body base/link/meta/title entry) — no active-formatting
    reconstruction (round-3 fuzz find vs html5lib)."""

    def test_no_font_clone_around_title(self):
        nt = parse_html("<span><font face='f'>x</span></font><title>t</title>y")
        fonts = [i for i in range(nt.n) if nt.tag_name[i] == "font"]
        title = first(nt, nt.tag_name == "title")
        # no font clone wrapping/preceding the title; the AFE entry
        # reconstructs for the TEXT after it instead
        assert nt.parent[title] not in fonts
        body = first(nt, nt.tag_name == "body")
        assert nt.parent[title] == body


class TestGumboOptionsTail:
    """GumboOptions long tail: tab_stop (source-position columns) and
    stop_on_first_error (accepted, libgumbo-parity no-op)."""

    def test_error_positions_tab_stop(self):
        nt = parse_html("line1\n\tx\t<?pi>", {"tab_stop": 8})
        # error: processing-instruction at offset of '<'
        recs = nt.error_positions()
        assert recs, recs
        code, off, line, col = recs[0]
        assert code == "processing-instruction" and line == 2
        # libgumbo utf8.c: column = ((column / tab_stop) + 1) * tab_stop
        # col: tab(at 1)->8, 'x'->9, tab(at 9)->16 ; '<' at col 16
        assert col == 16
        # custom tab stop via the option-independent argument
        # tab(at 1)->4, 'x'->5, tab(at 5)->8 ; '<' at col 8
        assert nt.error_positions(tab_stop=4)[0][3] == 8

    def test_stop_on_first_error_accepted_noop(self):
        a = parse_html("<p>x</p foo>", {"stop_on_first_error": True})
        b = parse_html("<p>x</p foo>")
        assert a.n == b.n and a.parse_errors == b.parse_errors

    def test_default_tab_stop_from_options(self):
        nt = parse_html("\t<?p>", {"tab_stop": 4})
        # tab at column 1 -> ((1/4)+1)*4 = 4 (libgumbo formula)
        assert nt.error_positions()[0][3] == 4


class TestWaveEFinds:
    """Round-3 mixed-wave finds (rawtext close tags, rp/rt, xmp,
    plaintext, script-in-select)."""

    def test_rawtext_close_with_quoted_gt_attr(self):
        nt = parse_html("<script>s</script a='>'>tail")
        sc = first(nt, nt.tag_name == "script")
        assert nt.content_text(sc) == "s"
        texts = [nt.text[i] for i in range(nt.n) if nt.text[i]]
        assert texts == ["s", "tail"]  # no leaked "'>" text

    def test_script_in_select_closes(self):
        nt = parse_html("<select><script>s</script>TAIL")
        sc = first(nt, nt.tag_name == "script")
        assert nt.content_text(sc) == "s"  # </script> pops despite in-select

    def test_rp_rt_implied_end(self):
        nt = parse_html("<ruby><rb>a<rt>b<rp>(</rp><rt>c")
        ruby = first(nt, nt.tag_name == "ruby")
        kids = [nt.tag_name[k] for k in nt.children_ids(ruby)]
        assert kids == ["rb", "rt", "rp", "rt"]  # siblings, implied-closed

    def test_rt_start_does_not_reconstruct(self):
        # the rt START tag itself does not reconstruct (no clone
        # BETWEEN body and rt); the TEXT inside rt reconstructs per the
        # ordinary in-body character rule (clone INSIDE rt)
        nt = parse_html("<article><code>c</article><rt>r")
        rt = first(nt, nt.tag_name == "rt")
        body = first(nt, nt.tag_name == "body")
        assert nt.parent[rt] == body  # rt directly under body
        kids = [nt.tag_name[k] for k in nt.children_ids(rt)]
        assert kids == ["code"]  # text-driven clone inside rt
        assert nt.content_text(rt) == "r"

    def test_xmp_reconstructs(self):
        nt = parse_html("<div><s>x</div><xmp>X")
        xmp = first(nt, nt.tag_name == "xmp")
        assert nt.tag_name[nt.parent[xmp]] == "s"  # xmp inside the s clone

    def test_plaintext_reconstructs(self):
        nt = parse_html("<i><nobr></i><plaintext>hello")
        pt = first(nt, nt.tag_name == "plaintext")
        kids = [nt.tag_name[k] for k in nt.children_ids(pt)]
        assert kids == ["nobr"]
        nb = nt.children_ids(pt)[0]
        assert nt.content_text(int(nb)) == "hello"


class TestWaveHFinds:
    """Round-3 wave-H finds: NUL replacement outside DATA state and the
    in-head-noscript mode (scripting disabled)."""

    def test_nul_in_rawtext_becomes_ufffd(self):
        nt = parse_html("<script>a\x00b</script>")
        sc = first(nt, nt.tag_name == "script")
        assert nt.content_text(sc) == "a�b"

    def test_nul_in_comment_becomes_ufffd(self):
        nt = parse_html("<!--a\x00b-->")
        c = first(nt, nt.type == COMMENT)
        assert nt.text[c] == "a�b"

    def test_nul_in_plaintext_becomes_ufffd(self):
        nt = parse_html("<plaintext>\x00z")
        pt = first(nt, nt.tag_name == "plaintext")
        assert nt.content_text(pt) == "�z"

    def test_nul_in_body_still_dropped(self):
        nt = parse_html("<p>a\x00b</p>")
        p = first(nt, nt.tag_name == "p")
        assert nt.content_text(p) == "ab"

    def test_noscript_in_head_pops_for_script(self):
        nt = parse_html("<noscript><script>s</script>x")
        ns = first(nt, nt.tag_name == "noscript")
        sc = first(nt, nt.tag_name == "script")
        head = first(nt, nt.tag_name == "head")
        assert nt.parent[ns] == head and nt.parent[sc] == head
        assert nt.children_ids(ns).size == 0

    def test_noscript_in_head_allows_style(self):
        nt = parse_html("<noscript><style>s</style></noscript>x")
        ns = first(nt, nt.tag_name == "noscript")
        st = first(nt, nt.tag_name == "style")
        assert nt.parent[st] == ns

    def test_noscript_in_head_text_pops(self):
        nt = parse_html("<noscript>text")
        ns = first(nt, nt.tag_name == "noscript")
        assert nt.content_text(ns) == ""
        body = first(nt, nt.tag_name == "body")
        assert nt.content_text(body) == "text"


class TestNulInAttributes:
    def test_nul_in_attr_name_and_value(self):
        nt = parse_html("<p a\x00b='v\x00w'>x")
        p = first(nt, nt.tag_name == "p")
        assert nt.attrs[p] == {"a�b": "v�w"}


class TestRound4FuzzFinds:
    """Round-4 wave finds (caption/AAA/foreign profiles): three real
    engine rule fixes, each pinned here (the committed fuzz_r4 corpus
    covers the generated forms)."""

    def test_nested_form_ignored_before_p_close(self):
        # WHATWG in-body <form>: a nested form (non-null form pointer)
        # is IGNORED before any p-closing — the following text stays
        # inside the open <p>
        nt = parse_html("<form><p><form>a")
        p = first(nt, nt.tag_name == "p")
        kids = nt.children_ids(p)
        assert len(kids) == 1 and nt.text[kids[0]] == "a"

    def test_reset_mode_skips_foreign_nodes(self):
        # '<svg><tr><title><table><table>': after the first table pops,
        # the insertion-mode reset must NOT match the SVG tr (IN_ROW
        # would drop the second table); both tables nest in the title
        nt = parse_html('<svg><tr><title><table><table>')
        title = first(nt, nt.tag_name == "title")
        kid_tags = [nt.tag_name[k] for k in nt.children_ids(title)]
        assert kid_tags == ["table", "table"]

    def test_list_item_scan_stops_at_foreign_special(self):
        # '<dt><math><mo><dd>': the dd/dt implied-close scan aborts at
        # the MathML text IP (mo is 'special'); the dt stays open and
        # the dd nests inside the mo
        nt = parse_html("<dt><math><mo><dd>")
        mo = first(nt, nt.tag_name == "mo")
        kid_tags = [nt.tag_name[k] for k in nt.children_ids(mo)]
        assert kid_tags == ["dd"]
        dt = first(nt, nt.tag_name == "dt")
        # dd is INSIDE the dt's subtree (dt never closed)
        dd = first(nt, nt.tag_name == "dd")
        lo, hi = nt.subtree(int(dt))
        assert lo <= dd < hi


class TestTemplateInsertionModes:
    """WHATWG template machinery (§13.2.6.4.18 'in template' + the
    stack of template insertion modes).  html5lib 1.x predates
    template support, so these are authored goldens against the
    modern spec (libgumbo's parser.c implements the same machinery —
    the reference's semantics)."""

    def test_content_stays_inside_before_head(self):
        # template at document start lives in HEAD; its content never
        # leaks to body
        nt = parse_html("<template><p>x</p></template>ok")
        from gumbo_pp_spark.nodetable import TEMPLATE

        tpl = first(nt, nt.type == TEMPLATE)
        assert nt.tag_name[nt.parent[tpl]] == "head"
        p = first(nt, nt.tag_name == "p")
        assert nt.parent[p] == tpl
        body = first(nt, nt.tag_name == "body")
        assert nt.content_text(body) == "ok"

    def test_table_structure_reroutes_template_mode(self):
        # in-template <td> switches the current template insertion
        # mode to in-row and the cell nests inside the template
        nt = parse_html("<template><td>cell</td></template>")
        from gumbo_pp_spark.nodetable import TEMPLATE

        tpl = first(nt, nt.type == TEMPLATE)
        td = first(nt, nt.tag_name == "td")
        assert nt.parent[td] == tpl
        # NOTE content_text() deliberately excludes template subtrees
        # (gumbo_text.h parity) — check the text node directly
        kids = list(nt.children_ids(td))
        assert len(kids) == 1 and nt.text[kids[0]] == "cell"

    def test_template_in_table_not_fostered(self):
        # spec in-table <template> goes through the in-head rule: it
        # is a CHILD of the table (never foster-parented), and the
        # table structure inside it builds normally
        nt = parse_html("<table><template><tr><td>c</td></tr></template></table>")
        from gumbo_pp_spark.nodetable import TEMPLATE

        tpl = first(nt, nt.type == TEMPLATE)
        assert nt.tag_name[nt.parent[tpl]] == "table"
        tr = first(nt, nt.tag_name == "tr")
        assert nt.parent[tr] == tpl  # no implied tbody inside template

    def test_end_template_restores_mode(self):
        # closing a template with an OPEN table inside restores the
        # outer insertion context (text resumes in the div)
        nt = parse_html("<div><template><table><tr><td>z</template>after</div>")
        div = first(nt, nt.tag_name == "div")
        kids = list(nt.children_ids(div))
        from gumbo_pp_spark.nodetable import TEMPLATE, TEXT

        assert [int(nt.type[k]) for k in kids] == [TEMPLATE, TEXT]
        assert nt.text[kids[1]] == "after"

    def test_nested_templates(self):
        nt = parse_html("<template><template><p>n</p></template></template>")
        from gumbo_pp_spark.nodetable import TEMPLATE

        import numpy as np

        tpls = np.nonzero(nt.type == TEMPLATE)[0]
        assert len(tpls) == 2
        assert nt.parent[tpls[1]] == tpls[0]
        p = first(nt, nt.tag_name == "p")
        assert nt.parent[p] == tpls[1]

    def test_template_in_select(self):
        # spec in-select: template via the in-head rule; the option
        # nests inside the template
        nt = parse_html("<select><template><option>o</option></template></select>")
        from gumbo_pp_spark.nodetable import TEMPLATE

        tpl = first(nt, nt.type == TEMPLATE)
        assert nt.tag_name[nt.parent[tpl]] == "select"
        opt = first(nt, nt.tag_name == "option")
        assert nt.parent[opt] == tpl

    def test_afe_marker_isolates_formatting(self):
        # the template pushes an AFE scope marker: an outer open <b>
        # does NOT reconstruct inside the template content
        nt = parse_html("<b><template>x</template></b>")
        from gumbo_pp_spark.nodetable import TEMPLATE

        tpl = first(nt, nt.type == TEMPLATE)
        kids = list(nt.children_ids(tpl))
        assert len(kids) == 1 and nt.text[kids[0]] == "x"

    def test_eof_inside_template(self):
        nt = parse_html("<template><div>open")
        from gumbo_pp_spark.nodetable import TEMPLATE

        tpl = first(nt, nt.type == TEMPLATE)
        d = first(nt, nt.tag_name == "div")
        assert nt.parent[d] == tpl
        kids = list(nt.children_ids(d))
        assert len(kids) == 1 and nt.text[kids[0]] == "open"

    def test_stray_end_template_ignored(self):
        nt = parse_html("<p>a</template>b</p>")
        p = first(nt, nt.tag_name == "p")
        assert nt.content_text(p) == "ab"

    def test_template_fragment_context(self):
        nt = parse_html("<tr><td>x</td></tr>", {"fragment_context": "template"})
        tr = first(nt, nt.tag_name == "tr")
        td = first(nt, nt.tag_name == "td")
        assert nt.parent[td] == tr
        assert nt.content_text(td) == "x"


class TestDocumentLevelCommentPreorder:
    """A document-level comment after </html> followed by REOPENED
    body content puts creation order out of preorder; finalize must
    take the DFS path (fuzz-found containment violation: the document
    node's subtree_end landed before its html child's)."""

    def test_containment_invariants(self):
        nt = parse_html(
            "</html><!-- c --><td></table><math></frameset><body></mi>"
            "<html><col><li>"
        )
        for i in range(nt.n):
            p = int(nt.parent[i])
            se = int(nt.subtree_end[i])
            assert -1 <= p < nt.n and p != i
            assert i < se <= nt.n
            if p >= 0:
                assert nt.subtree_end[p] >= se

    def test_after_body_comment_then_reopen(self):
        nt = parse_html("<body>a</body><!--x-->b")
        # the comment hangs off <html>, the reopened text lands in body
        body = first(nt, nt.tag_name == "body")
        assert nt.content_text(body) == "ab"
        c = first(nt, nt.type == COMMENT)
        assert nt.tag_name[nt.parent[c]] == "html"
        for i in range(nt.n):
            p = int(nt.parent[i])
            if p >= 0:
                assert nt.subtree_end[p] >= nt.subtree_end[i]


class TestInCellEndTagScope:
    """in-cell </td>/<th>: ignored unless the named cell is in TABLE
    scope — a nested open table shields the outer cell (round-4
    closing fuzz: '<table><th><table><td></th>a&amp;b' put the text
    at body level by popping the outer th through the inner table)."""

    def test_outer_cell_shielded_by_inner_table(self):
        nt = parse_html("<table><th><table><td></th>a&amp;b")
        td = first(nt, nt.tag_name == "td")
        assert nt.content_text(td) == "a&b"

    def test_plain_cell_end_still_closes(self):
        nt = parse_html("<table><th>x</th>y")
        th = first(nt, nt.tag_name == "th")
        assert nt.content_text(th) == "x"


class TestIsindexExpansion:
    """Legacy <isindex> expansion (libgumbo handle_in_body
    GUMBO_TAG_ISINDEX / html5lib startTagIsIndex; the reference
    exports the tag constant, gumbo_matchers.h ISINDEX): synthesized
    form>hr,label(prompt,input),hr; ignored when a form is open; no
    isindex node ever reaches the tree (so tag.ISINDEX matches
    nothing — reference parity).  Oracle-checked against vendored
    html5lib; the sole divergence is html5lib's EMPTY text node for
    prompt="" (its insertText('') quirk — the spec never inserts
    empty text)."""

    def test_full_expansion_with_attrs(self):
        nt = parse_html('<isindex action="a" prompt="Find:" x=1>')
        form = first(nt, nt.tag_name == "form")
        assert nt.attrs[form] == {"action": "a"}
        label = first(nt, nt.tag_name == "label")
        assert nt.content_text(label) == "Find:"
        inp = first(nt, nt.tag_name == "input")
        assert nt.attrs[inp] == {"x": "1", "name": "isindex"}
        hrs = [i for i in range(nt.n) if nt.tag_name[i] == "hr"]
        assert len(hrs) == 2
        assert not any(nt.tag_name[i] == "isindex" for i in range(nt.n))

    def test_default_prompt_and_flow(self):
        nt = parse_html("x<isindex>y")
        label = first(nt, nt.tag_name == "label")
        assert nt.content_text(label) == (
            "This is a searchable index. Enter search keywords: "
        )
        body = first(nt, nt.tag_name == "body")
        assert nt.content_text(body).startswith("x") and nt.content_text(body).endswith("y")

    def test_ignored_with_open_form(self):
        nt = parse_html("<form><isindex>")
        assert sum(nt.tag_name[i] == "form" for i in range(nt.n)) == 1
        assert not any(nt.tag_name[i] in ("isindex", "label", "hr") for i in range(nt.n))

    def test_fostered_in_table(self):
        nt = parse_html("<table><isindex x=2>")
        form = first(nt, nt.tag_name == "form")
        table = first(nt, nt.tag_name == "table")
        body = first(nt, nt.tag_name == "body")
        assert nt.parent[form] == body and nt.parent[table] == body
        inp = first(nt, nt.tag_name == "input")
        assert nt.attrs[inp] == {"x": "2", "name": "isindex"}

    def test_ignored_in_select(self):
        nt = parse_html("<select><isindex>")
        assert not any(nt.tag_name[i] == "form" for i in range(nt.n))


class TestQuirksModeSurface:
    """NodeTable.quirks mirrors GumboDocument.doc_type_quirks_mode
    (binary: limited-quirks parses identically and maps to False).
    The determination implements the full WHATWG 13.2.6.4.1 table —
    legacy strict doctypes are NO-quirks."""

    def test_no_doctype_quirks(self):
        assert parse_html("<p>x").quirks is True

    def test_html5_doctype_no_quirks(self):
        assert parse_html("<!DOCTYPE html><p>x").quirks is False

    def test_html4_strict_no_quirks(self):
        src = ('<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01//EN" '
               '"http://www.w3.org/TR/html4/strict.dtd"><p>x<table>')
        nt = parse_html(src)
        assert nt.quirks is False
        # no-quirks: the table CLOSES the open p
        table = first(nt, nt.tag_name == "table")
        assert nt.tag_name[nt.parent[table]] == "body"

    def test_transitional_without_system_quirks(self):
        src = ('<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 '
               'Transitional//EN"><p>x<table>')
        nt = parse_html(src)
        assert nt.quirks is True
        table = first(nt, nt.tag_name == "table")
        assert nt.tag_name[nt.parent[table]] == "p"

    def test_xhtml_limited_quirks_maps_false(self):
        src = ('<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 '
               'Transitional//EN" "x"><p>x')
        assert parse_html(src).quirks is False

    def test_fragment_no_quirks(self):
        assert parse_html("<p>x", {"fragment_context": "div"}).quirks is False


class TestFormTemplateGate:
    """WHATWG in-body <form>: both the nested-form ignore check and
    the form-pointer assignment are waived while a template element is
    on the stack of open elements (libgumbo parser.c:
    !has_open_element(GUMBO_TAG_TEMPLATE)).  Round-5 ADVICE fix."""

    def test_template_form_does_not_claim_pointer(self):
        # a form inside a template must not set the global form
        # pointer — the later top-level form is real
        nt = parse_html("<template><form></template><form><input>")
        forms = np.flatnonzero(nt.tag_name == "form")
        assert len(forms) == 2
        inp = first(nt, nt.tag_name == "input")
        assert nt.parent[inp] == forms[1]
        assert nt.tag_name[nt.parent[forms[1]]] == "body"

    def test_form_inside_template_under_open_form(self):
        # an open outer form normally suppresses nested forms, but a
        # form inside a template is exempt
        nt = parse_html(
            "<form><div><template><form><input name=q></form></template></div>"
        )
        forms = np.flatnonzero(nt.tag_name == "form")
        assert len(forms) == 2
        assert nt.tag_name[nt.parent[forms[1]]] == "template"

    def test_plain_nested_form_still_ignored(self):
        nt = parse_html("<form><div><form><input>")
        forms = np.flatnonzero(nt.tag_name == "form")
        assert len(forms) == 1


class TestSelectInTableMode:
    """'in select in table' applies iff the insertion MODE at select
    open is a table mode — not whenever a table element exists on the
    stack.  A select inside a <template> nested in a table is plain
    in-select (mode is in-template there).  Round-5 ADVICE fix."""

    def test_select_in_template_in_table_is_plain(self):
        # <caption> must be IGNORED by plain in-select, not break out
        nt = parse_html(
            "<table><template><select><caption>x</select></template></table>"
        )
        sel = first(nt, nt.tag_name == "select")
        assert nt.tag_name[nt.parent[sel]] == "template"
        kids = list(nt.children_ids(sel))
        assert len(kids) == 1 and nt.text[kids[0]] == "x"
        assert not np.any(nt.tag_name == "caption")

    def test_select_in_table_still_breaks_out(self):
        nt = parse_html("<table><select><caption>x")
        cap = first(nt, nt.tag_name == "caption")
        assert nt.tag_name[nt.parent[cap]] == "table"
        sel = first(nt, nt.tag_name == "select")
        assert len(list(nt.children_ids(sel))) == 0

    def test_select_in_caption_is_in_table_mode(self):
        # real caption: select_in_table applies (in-caption is a table
        # mode), second <caption> pops the select and closes the first
        nt = parse_html("<table><caption><select><caption>y")
        caps = np.flatnonzero(nt.tag_name == "caption")
        assert len(caps) == 2
        sel = first(nt, nt.tag_name == "select")
        assert len(list(nt.children_ids(sel))) == 0

    def test_select_in_template_in_caption_is_plain(self):
        nt = parse_html("<table><caption><template><select><caption>z")
        caps = np.flatnonzero(nt.tag_name == "caption")
        assert len(caps) == 1
        sel = first(nt, nt.tag_name == "select")
        kids = list(nt.children_ids(sel))
        assert len(kids) == 1 and nt.text[kids[0]] == "z"
