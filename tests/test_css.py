"""CSS selector front-end (css.py): string → Matcher compilation,
vectorized combinator kernels, IR integration.  The reference has the
matcher algebra but no selector-string parser (gumbo_matchers.h) —
this is the usability layer over the same predicates."""

import numpy as np
import pytest

from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark.css import css, parse_css
from gumbo_pp_spark.selector import compile_selector

DOC = (
    "<html><body>"
    '<nav class="menu"><ul><li><a href="https://site.example/7">home</a></li></ul></nav>'
    '<div id="main" class="doc en"><main><article>'
    '<h1>Heading</h1><p class="body">text one</p><p>tail</p>'
    "</article></main></div>"
    '<footer><p class="fine">source s1</p></footer>'
    "</body></html>"
)


@pytest.fixture(scope="module")
def nt():
    return parse_html(DOC)


def texts(nt, mask):
    return [nt.content_text(int(i)) for i in np.nonzero(mask)[0]]


class TestParse:
    def test_chain_structure(self):
        assert parse_css("nav.menu ~ footer p.fine") == [
            [("", "nav.menu"), ("~", "footer"), (" ", "p.fine")]
        ]

    def test_groups_split_on_top_level_commas_only(self):
        assert len(parse_css("h1, p.fine")) == 2
        assert len(parse_css("[data-x='a,b']")) == 1

    @pytest.mark.parametrize("bad", ["> p", "h1 >", "", "h1 ?", ","])
    def test_malformed_selectors_raise(self, bad):
        with pytest.raises(ValueError):
            parse_css(bad)


class TestCombinators:
    def test_descendant_and_child(self, nt):
        assert texts(nt, css("div.doc main > article > h1")(nt)) == ["Heading"]
        assert texts(nt, css("#main > main h1")(nt)) == ["Heading"]
        # h1 is NOT a direct child of div — child must not leak to
        # descendant semantics
        assert css("div > h1")(nt).sum() == 0

    def test_adjacent_and_general_sibling(self, nt):
        assert texts(nt, css("h1 + p.body")(nt)) == ["text one"]
        assert texts(nt, css("h1 ~ p")(nt)) == ["text one", "tail"]
        # adjacency is the NEAREST previous element sibling only
        assert css("h1 + p:not(.body)")(nt).sum() == 0
        # document order matters: footer precedes nothing
        assert css("footer + nav")(nt).sum() == 0

    def test_sibling_crosses_text_nodes(self):
        # whitespace text nodes between siblings are transparent (CSS
        # sibling combinators are element-relative)
        nt = parse_html("<body><h1>a</h1>\n  \n<p>b</p></body>")
        assert texts(nt, css("h1 + p")(nt)) == ["b"]

    def test_groups_union(self, nt):
        assert texts(nt, css("h1, p.fine")(nt)) == ["Heading", "source s1"]


class TestSimpleSelectors:
    def test_universal_and_not(self, nt):
        assert texts(nt, css("article *")(nt)) == ["Heading", "text one", "tail"]
        assert texts(nt, css("article > p:not(.body)")(nt)) == ["tail"]

    def test_attr_operators(self, nt):
        assert texts(nt, css('a[href^="https://site.example/"]')(nt)) == ["home"]
        assert texts(nt, css('a[href$="/7"]')(nt)) == ["home"]
        assert texts(nt, css('a[href*="site.ex"]')(nt)) == ["home"]
        assert css('a[href^="https://other/"]')(nt).sum() == 0
        assert texts(nt, css("a[href]")(nt)) == ["home"]

    def test_attr_token_and_prefix(self, nt):
        # [class~=en] token-matches the multi-token class attr
        assert css("[class~=en]")(nt).sum() == 1
        assert css("[class~=e]")(nt).sum() == 0
        nt2 = parse_html('<p lang="en-US">x</p>')
        assert css("[lang|=en]")(nt2).sum() == 1
        assert css("[lang|=e]")(nt2).sum() == 0

    def test_bare_not_is_element_gated(self, nt):
        # :not(.x) alone must not match text/comment/document nodes
        mask = css(":not(.doc)")(nt)
        from gumbo_pp_spark.nodetable import ELEMENT

        assert not (mask & (nt.type != ELEMENT)).any()

    def test_id_and_class(self, nt):
        assert css("#main")(nt).sum() == 1
        assert css("div#main.doc")(nt).sum() == 1
        assert css("div#other.doc")(nt).sum() == 0


class TestIntegration:
    def test_ir_verb(self, nt):
        via_ir = compile_selector(["css", "article > p:not(.body)"])(nt)
        assert (via_ir == css("article > p:not(.body)")(nt)).all()

    def test_gated_composition_with_matchers(self, nt):
        from gumbo_pp_spark import matchers as m

        combined = css("article p") & m.content_text.contains("tail")
        assert texts(nt, combined(nt)) == ["tail"]

    def test_spark_program(self, spark):
        from pyspark.sql import functions as F

        from gumbo_pp_spark.operators.extract import run_program, select_first_program
        from gumbo_pp_spark.sources.pages import synth_pages

        from .conftest import SF_SMOKE

        pages = synth_pages(spark, SF_SMOKE).limit(20)
        prog = select_first_program(
            css("nav.menu ~ footer p.fine"), {"fine": "content"}
        )
        out = run_program(pages, prog, "fine string", passthrough=("doc_id", "source"))
        rows = out.withColumn("want", F.concat(F.lit("source "), "source")).collect()
        assert len(rows) == 20 and all(r.fine == r.want for r in rows)
