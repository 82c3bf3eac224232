"""Property-style invariants on randomly generated HTML (SURVEY.md §5
item 3): preorder intervals well-nested, spans within the document,
outer_text slices re-serialize to the source, content_text equals the
recursive reference definition, NUL handling."""

import numpy as np
from hypothesis import given, settings, strategies as st

from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark.nodetable import (
    CDATA,
    COMMENT,
    DOCUMENT,
    ELEMENT,
    TEMPLATE,
    TEXT,
    WHITESPACE,
)

# -- random HTML generator (well-formed-ish with deliberate mess) -----
tag_names = st.sampled_from(
    ["div", "p", "span", "b", "i", "ul", "li", "a", "h1", "section", "article", "foo-x"]
)
texts = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="<>&\x00\r", max_codepoint=0x2FF
    ),
    max_size=30,
)
attr_vals = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters='<>&"\x00\r', max_codepoint=0x2FF),
    max_size=10,
)


@st.composite
def html_fragment(draw, depth=0):
    kind = draw(st.integers(0, 5 if depth < 3 else 1))
    if kind <= 1:
        return draw(texts)
    if kind == 2:
        return f"<!--{draw(texts)}-->"
    tag = draw(tag_names)
    attrs = ""
    if draw(st.booleans()):
        attrs = f' class="{draw(attr_vals)}" data-k="{draw(attr_vals)}"'
    children = "".join(draw(st.lists(html_fragment(depth + 1), max_size=3)))
    if draw(st.integers(0, 9)) == 0:
        return f"<{tag}{attrs}>{children}"  # unclosed on purpose
    return f"<{tag}{attrs}>{children}</{tag}>"


documents = st.builds(
    lambda frags: "<html><head><title>t</title></head><body>" + "".join(frags) + "</body></html>",
    st.lists(html_fragment(), max_size=6),
)


def reference_content_text(nt, i):
    """Direct recursive re-implementation of gumbo_text.h:23-58."""
    t = nt.type[i]
    if t in (ELEMENT, DOCUMENT):
        out = []
        for c in nt.children_ids(i):
            c = int(c)
            if nt.type[c] == TEXT:
                out.append(nt.text[c])
            else:
                out.append(reference_content_text(nt, c))
        return "".join(out)
    return nt.text[i]


@settings(max_examples=60, deadline=None)
@given(documents)
def test_preorder_well_nested(src):
    nt = parse_html(src)
    for i in range(1, nt.n):
        p = nt.parent[i]
        assert 0 <= p < i
        assert i < nt.subtree_end[i] <= nt.subtree_end[p]
    assert nt.subtree_end[0] == nt.n


@settings(max_examples=60, deadline=None)
@given(documents)
def test_spans_within_document(src):
    nt = parse_html(src)
    n = len(src)
    for i in range(nt.n):
        assert 0 <= nt.src_start[i] <= n
        assert 0 <= nt.tag_start[i] <= nt.tag_end[i] <= n
        assert 0 <= nt.endtag_start[i] <= nt.endtag_end[i] <= n


@settings(max_examples=60, deadline=None)
@given(documents)
def test_explicit_tag_spans_reserialize(src):
    nt = parse_html(src)
    for i in range(nt.n):
        if nt.type[i] == ELEMENT and nt.tag_end[i] > nt.tag_start[i]:
            slice_ = src[nt.tag_start[i]: nt.tag_end[i]]
            assert slice_.startswith("<")
            assert slice_.endswith(">")
            name = nt.tag_name[i]
            assert slice_[1: 1 + len(name)].lower() == name
        if nt.endtag_end[i] > nt.endtag_start[i]:
            slice_ = src[nt.endtag_start[i]: nt.endtag_end[i]]
            assert slice_.startswith("</")


@settings(max_examples=40, deadline=None)
@given(documents)
def test_content_text_matches_recursive_definition(src):
    nt = parse_html(src)
    # prefix-sum fast path == the reference's recursive definition,
    # for every element and the document
    for i in range(nt.n):
        if nt.type[i] in (ELEMENT, DOCUMENT) and nt.type[i] != TEMPLATE:
            assert nt.content_text(i) == reference_content_text(nt, i), i


@settings(max_examples=40, deadline=None)
@given(documents)
def test_text_node_concat_covers_all_input_text(src):
    # every non-markup character of the input that the parser kept ends
    # up in exactly one text-like node (no duplication): rough sanity —
    # total text-like length never exceeds source length
    nt = parse_html(src)
    total = sum(len(nt.text[i]) for i in range(nt.n) if nt.type[i] in (TEXT, WHITESPACE, CDATA, COMMENT))
    assert total <= len(src)


def test_nul_characters_dropped():
    nt = parse_html("<div>a\x00b</div>")
    div = nt.first_match(nt.tag_name == "div")
    assert nt.content_text(div) == "ab"
    assert nt.parse_errors >= 1
