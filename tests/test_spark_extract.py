"""End-to-end Spark tests for the parse/select/extract map stage over
the deterministic synthetic pages table (FIXTURES.md §1/§3)."""

import pytest

from gumbo_pp_spark import matchers as m
from gumbo_pp_spark.operators.extract import (
    extract_main_text,
    run_program,
    scrape_tables,
    select_first_program,
)
from gumbo_pp_spark.sources.pages import synth_pages

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def pages(spark):
    # unpersisted after the module: a cached synth_pages plan would
    # otherwise be substituted into later modules' plan pins
    cached = synth_pages(spark, SF_SMOKE).cache()
    yield cached
    cached.unpersist()


class TestMainText:
    def test_flagship_main_text_golden(self, spark, pages):
        out = extract_main_text(pages).withColumnRenamed("text", "main_text")
        joined = out.join(pages.select("doc_id", "text", "lang"), "doc_id")
        rows = joined.collect()
        assert len(rows) == 500
        for r in rows:
            # generator-known golden: boilerplate (nav/footer) stripped,
            # comments dropped, h1 + paragraph text in document order,
            # byte-identical, no separators
            assert r.main_text == f"Heading {r.doc_id}{r.text}", r.doc_id

    def test_node_counts_and_errors(self, spark, pages):
        out = extract_main_text(pages)
        rows = out.join(pages.select("doc_id", "lang"), "doc_id").collect()
        for r in rows:
            expected = 22 if r.lang == "en" else 21
            assert r.n_nodes == expected
            assert r.parse_errors == 0

    def test_spans_slice_back_to_escaped_source(self, spark, pages):
        out = extract_main_text(pages).withColumnRenamed("text", "main_text")
        sample = (
            out.join(pages.select("doc_id", "html", "text"), "doc_id")
            .orderBy("doc_id")
            .limit(20)
            .collect()
        )
        for r in sample:
            src = bytes(r.html).decode("utf-8")
            # every span slices raw (entity-escaped) source
            for sp in r.spans:
                assert 0 <= sp.start <= sp.end <= len(src)
            body_span = [sp for sp in r.spans if sp.tag == "p"][0]
            raw = src[body_span.start: body_span.end]
            esc = r.text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            assert raw == esc

    def test_scan_projection_pruned(self, spark, pages, tmp_path):
        # materialize pages to parquet, then verify the extract stage's
        # scan reads ONLY doc_id/url/html (column pruning reaches the
        # parquet ReadSchema — SURVEY.md §4)
        path = str(tmp_path / "pages.parquet")
        pages.write.mode("overwrite").parquet(path)
        stored = spark.read.parquet(path)
        out = extract_main_text(stored)
        plan = out._jdf.queryExecution().executedPlan().toString()
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read_schema, plan
        line = read_schema[0]
        assert "html" in line and "doc_id" in line
        for col in ("warc_ts", "lang", "source", "text"):
            assert col not in line, line


class TestNullHtml:
    """NULL contract of extract_main_text: a NULL html row is the row
    of the empty document, and never fails the job."""

    def test_null_row_among_valid_rows(self, spark):
        docs = [
            b"<html><body><p>first</p><nav>x</nav></body></html>",
            None,
            "<p>Béta\r\n</p>".encode(),
            b"<table><colgroup>\x00<col></colgroup></table>",
            b"",
        ]
        rows = [(i, f"https://h.example/{i}", d) for i, d in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, url string, html binary")
        got = {r.doc_id: r for r in extract_main_text(df, stage_metrics=True).collect()}
        assert sorted(got) == [0, 1, 2, 3, 4]
        fields = ("text", "spans", "n_nodes", "parse_errors")
        # the NULL row is exactly the empty document's row
        assert [got[1][f] for f in fields] == [got[4][f] for f in fields]
        # the other rows equal the same documents run without the NULL
        alone = spark.createDataFrame([r for r in rows if r[2] is not None], df.schema)
        ref = {r.doc_id: r for r in extract_main_text(alone).collect()}
        for i in (0, 2, 3, 4):
            assert [got[i][f] for f in fields] == [ref[i][f] for f in fields], i
        assert got[0].text == "first" and got[2].text == "Béta\n"

    def test_null_row_through_run_program_and_explode_nodes(self, spark):
        """The per-document program runner and the node explode keep
        the same NULL contract: the NULL row is the empty document's
        row (or node rows), and the valid rows are unchanged."""
        from gumbo_pp_spark.operators.extract import dom_stats, explode_nodes

        docs = [b"<p>one <a href=x>link</a></p>", None, b"<div><p>two</p></div>", b""]
        rows = [(i, f"https://h.example/{i}", d) for i, d in enumerate(docs)]
        schema = "doc_id long, url string, html binary"
        df = spark.createDataFrame(rows, schema)
        alone = spark.createDataFrame([r for r in rows if r[2] is not None], schema)

        def by_doc(out):
            # each document's output rows, in emission order, without doc_id
            got: dict = {}
            for r in out.collect():
                d = r.asDict()
                got.setdefault(d.pop("doc_id"), []).append(d)
            return got

        for name, op in (("dom_stats", dom_stats), ("explode_nodes", explode_nodes)):
            got, ref = by_doc(op(df)), by_doc(op(alone))
            assert sorted(got) == [0, 1, 2, 3], name
            assert got[1] == got[3], name
            assert {i: got[i] for i in (0, 2, 3)} == ref, name


class TestStructuralScrape:
    def test_table_scrape_query(self, spark):
        html = (
            '<html><body><div id="important_table"><table><tbody>'
            "<tr><td><strong>Item</strong></td><td><strong>Quantity</strong></td></tr>"
            "<tr><td>Plate</td><td>10</td></tr>"
            "<tr><td>Bowl</td><td>5</td></tr>"
            "</tbody></table></div></body></html>"
        )
        df = spark.createDataFrame(
            [(1, "u1", bytearray(html.encode())), (2, "u2", bytearray(b"<p>no table</p>"))],
            "doc_id long, url string, html binary",
        )
        rows = {r.doc_id: r.csv for r in scrape_tables(df, "important_table").collect()}
        assert rows[1] == "Item,Quantity\nPlate,10\nBowl,5\n"
        assert rows[2] is None


class TestSelectorExtraction:
    def test_first_match_projections(self, spark, pages):
        prog = select_first_program(
            m.tag.A,
            {"href": "attr:href", "anchor_text": "content"},
        )
        out = run_program(pages, prog, "href string, anchor_text string")
        rows = out.orderBy("doc_id").limit(5).collect()
        for r in rows:
            assert r.href == f"https://site.example/{r.doc_id}"
            assert r.anchor_text == "home"


class TestByteSpans:
    """start_byte/end_byte on the span struct slice the RAW html
    binary correctly on non-ASCII + CRLF pages (byte-offset model of
    gumbo_util.h:121-146)."""

    def test_spans_slice_raw_bytes(self, spark):
        from gumbo_pp_spark.sources.pages import BYTESPAN_HTML_EXPR, synth_family_pages

        pages = synth_family_pages(spark, SF_SMOKE, BYTESPAN_HTML_EXPR).limit(20).cache()
        out = extract_main_text(pages, passthrough=("doc_id",))
        joined = out.join(pages, "doc_id").collect()
        assert joined
        for r in joined:
            raw = bytes(r.html)
            for sp in r.spans:
                sl = raw[sp.start_byte : sp.end_byte]
                # decoded+normalized raw slice == decoded span text
                norm = sl.decode("utf-8").replace("\r\n", "\n").replace("\r", "\n")
                dec = r.text  # whole text for sanity below
                assert norm != "" or sp.start_byte == sp.end_byte
            # the flagship text equals the concatenation of decoded,
            # entity-decoded span slices only for entity-free spans —
            # assert the byte/char offsets diverge on this page family
            assert any(sp.start_byte > sp.start for sp in r.spans)


class TestLinkExtraction:
    """all-matches anchor collection + host-level link graph (r7)."""

    def test_multi_anchor_document_order(self, spark):
        from gumbo_pp_spark.operators.extract import extract_links

        html = (b"<p><a href='https://a.example/1'>x</a>"
                b"<a name='no-href'>y</a>"
                b"<a href='https://b.example/2'>z</a></p>")
        df = spark.createDataFrame(
            [(1, "https://src.example/p", bytearray(html))],
            "doc_id long, url string, html binary",
        )
        got = [r["href"] for r in extract_links(df).collect()]
        assert got == ["https://a.example/1", "https://b.example/2"]

    def test_link_graph_counts(self, spark):
        from gumbo_pp_spark.operators.extract import link_graph

        rows = []
        for i in range(6):
            dst = "hub.example" if i % 2 else "tail.example"
            html = f"<a href='https://{dst}/{i}'>l</a>".encode()
            rows.append((i, f"https://src{i % 3}.example/p", bytearray(html)))
        df = spark.createDataFrame(rows, "doc_id long, url string, html binary")
        got = {(r["src_host"], r["dst_host"]): r["n_links"]
               for r in link_graph(df).collect()}
        assert got == {
            ("src0.example", "tail.example"): 1, ("src0.example", "hub.example"): 1,
            ("src1.example", "hub.example"): 1, ("src1.example", "tail.example"): 1,
            ("src2.example", "tail.example"): 1, ("src2.example", "hub.example"): 1,
        }

    def test_single_shuffle_plan(self, spark):
        from gumbo_pp_spark.operators.extract import link_graph

        df = spark.createDataFrame(
            [(1, "https://s.example/p", bytearray(b"<a href='https://d.example/x'>l</a>"))],
            "doc_id long, url string, html binary",
        )
        plan = link_graph(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1  # only the final keyed count


class TestAnchorTexts:
    def test_pairs_and_aggregation(self, spark):
        from gumbo_pp_spark.operators.extract import (
            anchor_text_stats,
            extract_anchor_texts,
        )

        df = spark.createDataFrame(
            [
                (1, bytearray(b'<p><a href="/t">click <b>here</b></a>'
                              b'<a>no href</a><a href="/t">here</a></p>')),
                (2, bytearray(b'<a href="/u">only</a>')),
            ],
            "doc_id long, html binary",
        )
        pairs = extract_anchor_texts(df)
        got = sorted(map(tuple, pairs.select("href", "anchor_text").collect()))
        # href-less anchor dropped; nested markup flattens to content text
        assert got == [("/t", "click here"), ("/t", "here"), ("/u", "only")]
        stats = {r.href: r for r in anchor_text_stats(pairs).collect()}
        assert (stats["/t"].n_refs, stats["/t"].n_texts) == (2, 2)
        assert stats["/t"].min_text == "click here"
        # ONE corpus shuffle on href (+ countDistinct's expand is
        # within the same two-phase agg)
        plan = anchor_text_stats(pairs)._jdf.queryExecution().executedPlan().toString()
        assert "partial_count" in plan or "partial_min" in plan
