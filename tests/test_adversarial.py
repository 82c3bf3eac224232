"""Adversarial-input robustness: the extract stage must recover from
arbitrary hostile bytes without crashing a task (error-recovering
parse is the whole point of the Gumbo model)."""

import numpy as np
import pytest

from gumbo_pp_spark import matchers as m
from gumbo_pp_spark.css import css
from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark.operators.extract import (
    DENSITY_FIELDS,
    DOM_STATS_FIELDS,
    HEAD_META_FIELDS,
    PAGE_META_FIELDS,
    all_matches_program,
    anchor_texts_program,
    count_matches_program,
    density_extract_program,
    dom_stats_program,
    extract_main_text,
    head_meta_program,
    main_text_program,
    page_meta_program,
    select_first_program,
    table_scrape_program,
)
from gumbo_pp_spark.operators.markdown import MARKDOWN_FIELDS, markdown_program


ADVERSARIAL = [
    b"",                                     # empty
    b"<div><b>unclosed everything",
    b"\xff\xfe garbage \x00 <p>x",           # invalid UTF-8 + NUL
    b"<table><tr><td>cell",                  # unclosed table
    b"<" * 2000,                             # pathological '<' run
    ("<div>" * 3000 + "deep").encode(),       # 3000-deep nesting
    b"<p>" + b"&amp;" * 5000 + b"</p>",      # entity storm
    b"<!--" + b"x" * 100000,                  # unterminated comment
    b"<script>" + b"if(a<b){}" * 1000,        # unterminated rawtext
    b"<a href='" + b"y" * 100000 + b"'>x</a>",  # huge attribute
    bytes(range(256)) * 64,                   # binary noise
    "<div>日本語テキスト&#x1F600;</div>".encode(),  # non-ASCII + supplementary
]


# every run_program kernel behind an operator, with the output DDL that
# operator declares: name -> (program, out_fields)
KERNELS = {
    "table_scrape": (table_scrape_program("t"), "csv string"),
    "select_first": (
        select_first_program(css("div"), {
            "content": "content", "inner": "inner", "outer": "outer",
            "href": "attr:href", "start": "start", "end": "end", "node_id": "node_id",
        }),
        "content string, inner string, outer string, href string, "
        "start bigint, end bigint, node_id bigint",
    ),
    "dom_stats": (dom_stats_program, DOM_STATS_FIELDS),
    "count_matches": (count_matches_program(m.tag.A), "n_matches int"),
    "all_matches": (all_matches_program(m.tag.A), "hrefs array<string>"),
    "density": (density_extract_program, DENSITY_FIELDS),
    "head_meta": (head_meta_program(), HEAD_META_FIELDS),
    "page_meta": (page_meta_program(), PAGE_META_FIELDS),
    "anchor_texts": (anchor_texts_program, "hrefs array<string>, texts array<string>"),
    "markdown": (markdown_program, MARKDOWN_FIELDS),
}


class TestParserRobustness:
    @pytest.mark.parametrize("raw", ADVERSARIAL, ids=range(len(ADVERSARIAL)))
    def test_parse_never_raises(self, raw):
        nt = parse_html(raw)
        assert nt.n >= 4  # document + implied skeleton
        # invariants hold even on garbage
        for i in range(1, nt.n):
            assert 0 <= nt.parent[i] < i
            assert i < nt.subtree_end[i] <= nt.subtree_end[nt.parent[i]]
        main_text_program(nt)  # kernel must not crash either

    @pytest.mark.parametrize("raw", ADVERSARIAL, ids=range(len(ADVERSARIAL)))
    @pytest.mark.parametrize("kernel", KERNELS)
    def test_kernel_output_fits_declared_schema(self, spark, kernel, raw):
        # every kernel returns each declared column on hostile input,
        # and each value builds the Arrow type run_program's runner
        # gives that column (plans/arrowmap.py::map_rows)
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import StructType

        program, fields = KERNELS[kernel]
        out = program(parse_html(raw))
        for f in StructType.fromDDL(fields).fields:
            assert f.name in out, f.name
            pa.array([out[f.name]], to_arrow_type(f.dataType))

    def test_deep_nesting_iterative(self):
        nt = parse_html("<div>" * 10000 + "bottom")
        assert (nt.tag_name == "div").sum() == 10000
        assert nt.content_text(0) == "bottom"

    def test_huge_document_1mb(self):
        body = ("<p>" + "word " * 200 + "</p>") * 1000
        nt = parse_html(f"<html><body>{body}</body></html>")
        assert (nt.tag_name == "p").sum() == 1000
        assert len(nt.content_text(0)) == 1000 * 200 * 5

    def test_supplementary_plane_entity(self):
        nt = parse_html("<p>&#x1F600;</p>")
        p = nt.first_match(nt.tag_name == "p")
        assert nt.content_text(p) == "\U0001F600"


class TestSparkAdversarial:
    def test_extract_stage_survives_batch(self, spark):
        rows = [(i, f"u{i}", bytearray(raw)) for i, raw in enumerate(ADVERSARIAL)]
        df = spark.createDataFrame(rows, "doc_id long, url string, html binary")
        got = extract_main_text(df).collect()
        assert len(got) == len(ADVERSARIAL)
        for r in got:
            assert r.n_nodes >= 4
            assert r.text is not None

    def test_empty_partitions_and_empty_input(self, spark):
        df = spark.createDataFrame([], "doc_id long, url string, html binary")
        assert extract_main_text(df.repartition(4)).count() == 0
        one = spark.createDataFrame(
            [(1, "u", bytearray(b"<p>x</p>"))], "doc_id long, url string, html binary"
        ).repartition(8)  # 7 empty partitions
        rows = extract_main_text(one).collect()
        assert len(rows) == 1 and rows[0].text == "x"

    def test_multi_megabyte_document_through_arrow(self, spark):
        body = ("<p>" + "tok " * 300 + "</p>") * 2000  # ~2.5 MB
        html = f"<html><body><main>{body}</main></body></html>".encode()
        df = spark.createDataFrame(
            [(1, "u", bytearray(html))], "doc_id long, url string, html binary"
        )
        r = extract_main_text(df).collect()[0]
        assert len(r.text) == 2000 * 300 * 4
        assert r.n_nodes > 4000
        assert len(r.spans) == 2000


class TestTagBombs:
    """Adversarial crawl pages must parse in linear time: the Noah's
    Ark clause caps identical AFE entries and the reconstruction fast
    path scans the stack from the top."""

    def test_formatting_bomb_linear(self):
        import time

        from gumbo_pp_spark.parser.html5 import parse_html

        # Assert a SCALING RATIO, not a wall bound: this VM has bursty
        # co-tenant CPU noise, so an absolute bound flakes even when
        # the parse is linear.  10× the tags must cost well under the
        # ~100× a quadratic parse would (generous 30× allows noise).
        def timed(n):
            src = "<b>" * n + "x"
            best = 1e9
            for _ in range(3):  # best-of-3: a single co-tenant burst
                t0 = time.perf_counter()  # must not fail the ratio
                nt = parse_html(src)
                best = min(best, time.perf_counter() - t0)
            return best, nt

        timed(2000)  # warm-up (regex compile, allocator)
        t_small, _ = timed(2000)
        t_big, nt = timed(20000)
        assert nt.n == 20005
        assert t_big < max(t_small, 1e-3) * 30  # was ~100x quadratic
        # Noah's Ark: reconstruction does not explode either
        nt2 = parse_html("<b>" * 10 + "<p>x</p>y")
        from gumbo_pp_spark.nodetable import TEXT
        ys = [i for i in range(nt2.n) if nt2.text[i] == "y"]
        assert ys
