"""Density-scored main-block selection (extract.density_extract) — the
readability/boilerpipe-family DOM heuristic beside the flagship
tag-list strip."""

import pytest
from pyspark.sql import functions as F

from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark.operators.extract import (
    density_extract,
    density_extract_program as P,
)
from gumbo_pp_spark.sources.pages import synth_pages

from .conftest import SF_SMOKE


class TestBlockSelection:
    def test_wrapper_chain_resolves_to_innermost(self):
        doc = (
            "<html><body>"
            '<nav class="menu"><a href="/">home</a><a href="/x">other</a></nav>'
            '<div class="doc en"><main><article><h1>Title</h1>'
            "<p>real prose content of decent length here</p></article></main></div>"
            '<footer><p class="fine">source x</p></footer>'
            "</body></html>"
        )
        r = P(parse_html(doc))
        assert r["block_tag"] == "article"
        assert r["block_text"] == "Titlereal prose content of decent length here"
        assert r["link_chars"] == 0 and r["score"] == r["text_chars"]
        # body, div, main, article survive exclusion
        assert r["n_candidates"] == 4

    def test_link_farm_loses_to_prose(self):
        farm = (
            "<html><body>"
            '<div class="posts-list">'
            + "".join(f'<a href="/{i}">long related headline number {i}</a>' for i in range(10))
            + '</div><div class="content"><p>short real paragraph</p></div>'
            "</body></html>"
        )
        r = P(parse_html(farm))
        assert r["block_text"] == "short real paragraph"

    def test_negative_class_hint_excludes_subtree(self):
        doc = (
            '<body><div class="promo">' + "x" * 500 + "</div>"
            "<div><p>actual text body</p></div></body>"
        )
        assert P(parse_html(doc))["block_text"] == "actual text body"

    def test_heading_class_does_not_trip_ad_hint(self):
        r = P(parse_html('<body><div class="heading-zone"><p>kept text</p></div></body>'))
        assert r["block_text"] == "kept text"
        r = P(parse_html('<body><div class="ad-slot">' + "y" * 99 + '</div><div><p>kept</p></div></body>'))
        assert r["block_text"] == "kept"

    def test_excluded_chrome_inside_winner_is_stripped(self):
        # the winning block itself contains an inline nav — its text
        # must not leak into block_text (and not count in text_chars)
        doc = (
            "<body><article><h1>T</h1><nav>inline chrome</nav>"
            "<p>body text</p></article></body>"
        )
        r = P(parse_html(doc))
        assert r["block_text"] == "Tbody text"
        assert r["text_chars"] == len("Tbody text")

    def test_chrome_only_page_yields_nulls(self):
        r = P(parse_html("<body><nav>only chrome</nav></body>"))
        assert r["block_text"] is None and r["n_candidates"] == 1

    def test_td_candidate(self):
        # single td: body and td tie on score → smallest subtree wins
        doc = "<body><table><tr><td>cell prose here</td></tr></table></body>"
        r = P(parse_html(doc))
        assert r["block_tag"] == "td" and r["block_text"] == "cell prose here"
        # two tds: their union (body) genuinely outscores either one
        doc2 = "<body><table><tr><td>cell prose here</td><td>x</td></tr></table></body>"
        assert P(parse_html(doc2))["block_tag"] == "body"


class TestSparkStage:
    def test_density_extract_on_synth_pages(self, spark):
        out = density_extract(synth_pages(spark, SF_SMOKE).limit(30))
        rows = out.collect()
        assert len(rows) == 30
        assert all(r.block_tag == "article" for r in rows)
        assert all(r.block_text.startswith("Heading ") for r in rows)
        assert all(r.link_chars == 0 for r in rows)

    def test_map_only_plan(self, spark):
        out = density_extract(synth_pages(spark, SF_SMOKE))
        plan = out._jdf.queryExecution().executedPlan().toString()
        # round 8: the one-row-group documents scan is spread across
        # cores before the per-document Python stage (guarded
        # round-robin, ensure_min_parallelism) — the stage itself must
        # still shuffle nothing: no hash/range exchange anywhere
        assert "hashpartitioning" not in plan
        assert "rangepartitioning" not in plan
        assert plan.count("Exchange") <= 1  # only the guarded spread
