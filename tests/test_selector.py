"""Selector-program IR tests: JSON-able specs compile to the same
masks as hand-built matchers (the 1:1 transliteration surface)."""

import numpy as np
import pytest

from gumbo_pp_spark import matchers as m
from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark.selector import compile_selector

DOC = (
    '<html><body><div id="important_table" class="x y"><table><tbody>'
    "<tr><td>a</td></tr></tbody></table></div>"
    '<p class="hello" lang="en-US">text &amp; more</p>'
    "<input disabled></body></html>"
)


def masks_equal(spec, matcher, nt):
    return (compile_selector(spec)(nt) == matcher(nt)).all()


def test_reference_transliteration():
    nt = parse_html(DOC)
    # match::tag::DIV and match::id::is("important_table")
    spec = ["and", ["tag", "div"], ["id_is", "important_table"]]
    assert masks_equal(spec, m.tag.DIV & m.id_.is_("important_table"), nt)
    assert compile_selector(spec)(nt).sum() == 1


def test_every_verb_compiles_and_matches():
    nt = parse_html(DOC)
    cases = [
        (["tag", "td", "tr"], m.tag.types("td", "tr")),
        (["id_is", "important_table"], m.id_.is_("important_table")),
        (["class_is", "hello"], m.class_type.is_("hello")),
        (["class_token", "y"], m.class_type.has_token("y")),
        (["attr_exists", "lang"], m.attribute.exists("lang")),
        (["attr_has"], m.attribute.has()),
        (["attr_has_none"], m.attribute.has_none()),
        (["attr_is", "class", "x y"], m.attribute.value.is_("class", "x y")),
        (["attr_contains", "lang", "n-U"], m.attribute.value.contains("lang", "n-U")),
        (["attr_starts_with", "lang", "en"], m.attribute.value.starts_with("lang", "en")),
        (["attr_ends_with", "lang", "US"], m.attribute.value.ends_with("lang", "US")),
        (["attr_prefix", "lang", "en"], m.attribute.value.contains_prefix("lang", "en")),
        (["attr_is_empty", "disabled"], m.attribute.value.is_empty("disabled")),
        (["attr_has_value", "lang"], m.attribute.value.has_value("lang")),
        (["attr_is_null", "disabled"], m.attribute.value.is_null("disabled")),
        (["content_contains", "text & more"], m.content_text.contains("text & more")),
        (["content_is", "a"], m.content_text.is_("a")),
        (["content_starts_with", "text"], m.content_text.starts_with("text")),
        (["content_ends_with", "more"], m.content_text.ends_with("more")),
        (["content_is_empty"], m.content_text.is_empty),
        (["inner_contains", "&amp;"], m.inner_text.contains("&amp;")),
        (["outer_starts_with", "<p "], m.outer_text.starts_with("<p ")),
        (["not", ["tag", "div"]], ~m.tag.DIV),
        (["or", ["tag", "td"], ["tag", "tr"]], m.tag.TD | m.tag.TR),
        (["xor", ["tag", "p"], ["class_is", "hello"]], m.tag.P ^ m.class_type.is_("hello")),
    ]
    for spec, matcher in cases:
        assert masks_equal(spec, matcher, nt), spec


def test_invalid_specs():
    with pytest.raises(ValueError):
        compile_selector([])
    with pytest.raises(ValueError):
        compile_selector(["no_such_verb", 1])
    with pytest.raises(ValueError):
        compile_selector("tag")
