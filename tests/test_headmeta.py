"""Head-metadata extraction (extract.extract_head_meta): canonical /
robots / title via CSS-string programs — the crawl-hygiene signals
read before dedup and indexing."""

from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark.operators.extract import extract_head_meta, head_meta_program

from .conftest import SF_SMOKE


class TestProgram:
    def test_full_head(self):
        doc = (
            "<html><head><title>T</title>"
            '<link rel="canonical" href="https://a/b">'
            '<meta name="robots" content="noindex,nofollow">'
            "</head><body><p>x</p></body></html>"
        )
        r = head_meta_program()(parse_html(doc))
        assert r == {"title": "T", "canonical": "https://a/b", "robots": "noindex,nofollow"}

    def test_absent_signals_are_null(self):
        r = head_meta_program()(parse_html("<html><head></head><body>x</body></html>"))
        assert r == {"title": None, "canonical": None, "robots": None}

    def test_other_link_and_meta_do_not_match(self):
        doc = (
            '<head><link rel="stylesheet" href="s.css">'
            '<meta name="viewport" content="width=device-width"></head>'
        )
        r = head_meta_program()(parse_html(doc))
        assert r["canonical"] is None and r["robots"] is None


class TestSparkStage:
    def test_indexable_defaults_true_when_meta_absent(self, spark):
        df = spark.createDataFrame(
            [
                (1, bytearray(b"<head><meta name=robots content=noindex></head>")),
                (2, bytearray(b"<head><title>t</title></head>")),
            ],
            "doc_id long, html binary",
        )
        rows = {r.doc_id: r for r in extract_head_meta(df).collect()}
        assert rows[1].indexable is False
        assert rows[2].indexable is True and rows[2].robots is None

    def test_meta_pages_family(self, spark):
        from gumbo_pp_spark.sources.pages import META_HTML_EXPR, synth_family_pages

        out = extract_head_meta(synth_family_pages(spark, SF_SMOKE, META_HTML_EXPR)).collect()
        assert len(out) == 500
        by_id = {r.doc_id: r for r in out}
        assert by_id[3].indexable is False and by_id[4].indexable is True
        assert by_id[123].canonical.endswith("/doc/23")


class TestCanonicalCollapse:
    def test_clusters_and_plan(self, spark):
        from gumbo_pp_spark.operators.dedup import canonical_url_collapse

        meta = spark.createDataFrame(
            [
                (1, "https://c/a", True),
                (2, "https://c/a", False),
                (7, "https://c/b", True),
                (9, None, True),  # no declared canonical → excluded
            ],
            "doc_id long, canonical string, indexable boolean",
        )
        out = canonical_url_collapse(meta)
        rows = {r.canonical: r for r in out.collect()}
        assert set(rows) == {"https://c/a", "https://c/b"}
        a = rows["https://c/a"]
        assert (a.rep_doc_id, a.n_members, a.n_indexable) == (1, 2, 1)
        # ONE shuffle, map-side partial agg (skewed mega-cluster safety)
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning") == 1
        assert "partial_min" in plan or "partial_count" in plan


class TestPageMeta:
    def test_program_extracts_og_and_jsonld(self):
        from gumbo_pp_spark.operators.extract import page_meta_program

        doc = (
            '<head><meta property="og:title" content="T">'
            '<meta property="og:type" content="article">'
            '<script type="application/ld+json">'
            '{"@type":"NewsArticle","headline":"H"}</script></head>'
        )
        r = page_meta_program()(parse_html(doc))
        assert r["og_title"] == "T" and r["og_type"] == "article"
        assert '"@type":"NewsArticle"' in r["jsonld"]

    def test_non_ld_script_does_not_match(self):
        from gumbo_pp_spark.operators.extract import page_meta_program

        r = page_meta_program()(parse_html('<script>var x = {"a":1}</script>'))
        assert r["jsonld"] is None

    def test_spark_stage_json_paths_jvm_side(self, spark):
        from gumbo_pp_spark.operators.extract import extract_page_meta

        df = spark.createDataFrame(
            [
                (1, bytearray(
                    b'<script type="application/ld+json">'
                    b'{"@type":"Article","headline":"h1",'
                    b'"datePublished":"2024-01-02"}</script>'
                )),
                (2, bytearray(b"<p>none</p>")),
                (3, bytearray(b'<script type="application/ld+json">not json</script>')),
            ],
            "doc_id long, html binary",
        )
        out = extract_page_meta(df)
        rows = {r.doc_id: r for r in out.collect()}
        assert rows[1].ld_type == "Article" and rows[1].ld_published == "2024-01-02"
        assert rows[2].ld_type is None
        assert rows[3].ld_type is None  # malformed JSON-LD is null, not an error
        # JSON path evaluation is Catalyst-side: exactly ONE Python
        # stage (the parse kernel), get_json_object after it
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") + plan.count("InPandas") == 1
        assert "get_json_object" in plan
