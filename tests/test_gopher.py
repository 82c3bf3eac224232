"""Gopher quality-rule panel (Rae et al. 2021 §A1.1) — integer-exact
e4 ratios, one map-only projection; beyond-reference pipeline operator."""

from pyspark.sql import functions as F

from gumbo_pp_spark.operators import textstats as T


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _row(spark, text, monkeypatch=None, **constants):
    for name, value in constants.items():
        monkeypatch.setattr(T, name, value)
    (r,) = T.gopher_rules(_docs(spark, [(1, text)])).collect()
    return r


class TestGopherRules:
    def test_line_fractions_exact(self, spark, monkeypatch):
        r = _row(spark, "- first line\n- second one\nplain tail line", monkeypatch,
                 GOPHER_LINE_SEP="\n")
        assert r.bullet_frac_e4 == 6667  # 2 of 3 lines
        assert r.ellipsis_frac_e4 == 0
        r2 = _row(spark, "ends here...\nplain line")
        assert r2.ellipsis_frac_e4 == 5000

    def test_symbol_ratio_counts_hash_and_ellipsis(self, spark):
        # 2 '#' + 1 non-overlapping '...' run over 4 words
        r = _row(spark, "ab# cd# words here...")
        assert r.n_words == 4
        assert r.symbol_ratio_e4 == 7500

    def test_mean_word_len_and_alpha_frac(self, spark):
        r = _row(spark, "abc de 12345 -")
        # lengths 3+2+5+1 = 11 over 4 words
        assert r.mean_word_len_e4 == 27500
        # '12345' and '-' carry no alpha
        assert r.alpha_word_frac_e4 == 5000

    def test_stopwords_presence_not_multiplicity(self, spark):
        r = _row(spark, "the the the words")
        assert r.n_stopwords_present == 1
        r2 = _row(spark, "the words that have with")
        assert r2.n_stopwords_present == 4

    def test_pass_verdict_flips_per_rule(self, spark, monkeypatch):
        good = "the words that have reasonable shape here today friends"
        assert _row(spark, good, monkeypatch, GOPHER_MIN_WORDS=5).gopher_pass == 1
        # word-count floor
        assert _row(spark, good, monkeypatch, GOPHER_MIN_WORDS=50).gopher_pass == 0
        # stopword floor
        assert _row(spark, "zz yy xx ww vv uu tt ss", monkeypatch,
                    GOPHER_MIN_WORDS=5).gopher_pass == 0
        # symbol ceiling
        assert (
            _row(spark, "the # # # # words here", monkeypatch,
                 GOPHER_MIN_WORDS=5).gopher_pass == 0
        )

    def test_custom_line_separator(self, spark, monkeypatch):
        r = _row(
            spark,
            "- bullet seg. plain seg. tail...",
            monkeypatch,
            GOPHER_LINE_SEP="[.] ",
        )
        assert r.bullet_frac_e4 == 3333
        assert r.ellipsis_frac_e4 == 3333


class TestCorpusReport:
    def test_one_row_card_values(self, spark, monkeypatch):
        good = "the quick brown fox jumps over the lazy dog today"
        docs = _docs(
            spark,
            [(1, good), (2, good), (3, "el la de que xx"), (4, "zz 11")],
        )
        monkeypatch.setattr(T, "QUALITY_MIN_TOKENS", 5)
        monkeypatch.setattr(T, "QUALITY_MIN_STOPWORD_RATIO_E4", 100)
        monkeypatch.setattr(T, "QUALITY_MIN_ALPHA_RATIO_E4", 5000)
        (r,) = T.corpus_report(docs).collect()
        assert r.n_docs == 4
        assert r.n_distinct_md5 == 3 and r.n_exact_dup_docs == 1
        assert r.n_quality_pass == 2  # the two 'good' copies
        # doc 4 has zero marker hits in every language -> the argmax
        # tie resolves to 'en' (deterministic tie order), joining the
        # two genuinely-English docs
        assert (r.n_en, r.n_es) == (3, 1)
        assert r.n_en + r.n_es + r.n_de + r.n_fr == 4
        assert r.n_tokens == 10 + 10 + 5 + 2
        assert r.mean_doc_tokens_e4 == 67500  # 27/4 = 6.75 tokens

    def test_single_pass_no_text_shuffle(self, spark):
        from tests.test_physical_plans import plan_of

        docs = _docs(spark, [(1, "a b"), (2, "c d")])
        plan = plan_of(T.corpus_report(docs))
        final = plan.split("== Initial Plan ==")[0]
        # the only exchanges carry the aggregation state / fp digests —
        # the text column never appears in an exchange key
        assert "hashpartitioning(text" not in final
        assert "partial_count" in plan or "partial_sum" in plan


class TestTopWordFracExpr:
    def test_edge_texts(self, spark):
        # the run-start filter's look-behind index is clamped to 1; the
        # values are the longest equal-word run over the word count:
        # empty and one-word texts are one run of one word
        cases = [(1, "", 10000), (2, "word", 10000), (3, "a a a b", 7500),
                 (4, "b a b a", 5000), (5, "x x x x", 10000), (6, "a b c", 3333)]
        got = {
            r.doc_id: r.f
            for r in _docs(spark, [(i, t) for i, t, _ in cases])
            .select("doc_id", F.expr(T.top_word_frac_e4_expr()).alias("f"))
            .collect()
        }
        assert got == {i: e for i, _, e in cases}
