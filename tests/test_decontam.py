"""Benchmark decontamination (13-gram overlap vs an eval set) —
GPT-3-appendix-C-style; beyond-reference pipeline operator."""

from pyspark.sql import functions as F

from gumbo_pp_spark.operators import textstats as T

W = " ".join(f"w{i}" for i in range(20))  # 20 words -> 8 distinct 13-grams


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_contamination_flags_shared_13gram(spark):
    docs = _docs(
        spark,
        [
            (1, W + " tail one"),          # shares all of W's grams
            (2, "completely different text " * 5),
            (3, "prefix " + W),            # shares them too
        ],
    )
    evals = spark.createDataFrame([(W,)], "text string")
    got = {r["doc_id"]: r["n_contaminated"] for r in T.contamination(docs, evals).collect()}
    # doc 1: W + 2 extra words -> grams of W all present (8 of them
    # plus grams straddling the tail are NOT in evals)
    assert set(got) == {1, 3}
    assert got[1] == 8 and got[3] == 8


def test_short_docs_and_short_evals_never_flag(spark):
    docs = _docs(spark, [(1, "only five words right here now")])
    evals = spark.createDataFrame([("only five words right here now",)], "text string")
    assert T.contamination(docs, evals).count() == 0  # both < 13 words


def test_count_is_distinct_grams(spark):
    # the same gram repeated in a doc counts once (both sides distinct)
    docs = _docs(spark, [(1, W + " " + W)])
    evals = spark.createDataFrame([(W,)], "text string")
    (r,) = T.contamination(docs, evals).collect()
    # doc has W twice -> many grams, but only the 8 eval grams match,
    # each once despite appearing twice in the doc
    assert r["n_contaminated"] == 8


def test_eval_side_is_broadcast(spark):
    # the corpus must never shuffle: eval grams broadcast, corpus side
    # map-only into the join
    from tests.test_physical_plans import plan_of

    docs = _docs(spark, [(1, W)])
    evals = spark.createDataFrame([(W,)], "text string")
    plan = plan_of(T.contamination(docs, evals))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


class TestStratifiedSample:
    def test_rates_honored_and_slices_nest(self, spark):
        rows = [(i, f"src{i % 3}") for i in range(600)]
        df = spark.createDataFrame(rows, "doc_id bigint, source string")
        full = {r.doc_id for r in T.stratified_sample(
            df, {"src0": 10000, "src1": 5000, "src2": 0}).collect()}
        # src0 fully kept, src2 fully dropped
        assert {i for i in range(600) if i % 3 == 0} <= full
        assert not any(i % 3 == 2 for i in full)
        # src1 roughly half (hash-uniform; generous bounds)
        n1 = sum(1 for i in full if i % 3 == 1)
        assert 50 < n1 < 150
        # monotone nesting: a row kept at rate r is kept at rate >= r
        half = {r.doc_id for r in T.stratified_sample(
            df, {"src0": 5000, "src1": 2500, "src2": 0}).collect()}
        assert half <= full

    def test_unknown_stratum_gets_default(self, spark, monkeypatch):
        df = spark.createDataFrame([(1, "mystery")], "doc_id bigint, source string")
        assert T.stratified_sample(df, {"src0": 10000}).count() == 0
        monkeypatch.setattr(T, "STRATUM_DEFAULT_E4", 10000)
        assert T.stratified_sample(df, {}).count() == 1


class TestOovStats:
    def test_oov_counts_against_known_vocab(self, spark, monkeypatch):
        docs = spark.createDataFrame(
            [(1, "a a a b rare1"), (2, "b b a rare2 rare3 rare3")],
            "doc_id bigint, text string",
        )
        # VOCAB_SIZE=2 -> vocab {a(5), b(4)}; rare* are OOV
        monkeypatch.setattr(T, "VOCAB_SIZE", 2)
        got = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_ratio_e4)
               for r in T.oov_stats(docs).collect()}
        assert got == {1: (5, 1, 2000), 2: (6, 3, 5000)}

    def test_vocab_tie_breaks_lexicographically(self, spark, monkeypatch):
        docs = spark.createDataFrame(
            [(1, "zz aa"), (2, "zz"), (3, "aa")], "doc_id bigint, text string"
        )
        # zz and aa both occur twice: the lexicographic winner "aa" is
        # the whole vocabulary, so only doc 2's "zz" is OOV
        monkeypatch.setattr(T, "VOCAB_SIZE", 1)
        got = {r.doc_id: r.n_oov for r in T.oov_stats(docs).collect()}
        assert got == {1: 1, 2: 1, 3: 0}

    def test_vocab_is_broadcast(self, spark, monkeypatch):
        from tests.test_physical_plans import plan_of

        docs = spark.createDataFrame(
            [(1, "a b c")], "doc_id bigint, text string"
        )
        monkeypatch.setattr(T, "VOCAB_SIZE", 2)
        plan = plan_of(T.oov_stats(docs))
        assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def _sent(tag: str) -> str:
    return " ".join(f"{tag}{i}" for i in range(8))  # one 8-word sentence


class TestSentenceDecontamination:
    """Sentence-level (surgical) decontamination: drop the quoted
    sentence, keep the document."""

    def test_drops_contaminated_sentence_keeps_order(self, spark):
        doc = _sent("a") + ". " + _sent("x") + ". " + _sent("b")
        docs = _docs(spark, [(1, doc)])
        evals = spark.createDataFrame([(_sent("x"),)], "text string")
        (r,) = T.decontaminate_sentences(docs, evals).collect()
        assert r["clean_text"] == _sent("a") + ". " + _sent("b")
        assert r["n_dropped"] == 1

    def test_fully_contaminated_doc_survives_empty(self, spark):
        docs = _docs(spark, [(1, _sent("x") + ". " + _sent("x"))])
        evals = spark.createDataFrame([(_sent("x"),)], "text string")
        (r,) = T.decontaminate_sentences(docs, evals).collect()
        assert r["clean_text"] == "" and r["n_dropped"] == 2

    def test_untouched_docs_pass_through_verbatim(self, spark):
        doc = _sent("c") + ". " + _sent("d")
        docs = _docs(spark, [(1, doc), (2, _sent("x"))])
        evals = spark.createDataFrame([(_sent("x"),)], "text string")
        got = {r.doc_id: (r.clean_text, r.n_dropped)
               for r in T.decontaminate_sentences(docs, evals).collect()}
        assert got[1] == (doc, 0)
        assert got[2] == ("", 1)

    def test_short_sentences_and_short_evals_never_match(self, spark):
        # both sides below the n-gram width contribute/match nothing
        docs = _docs(spark, [(1, "tiny words. more tiny words")])
        evals = spark.createDataFrame([("tiny words",)], "text string")
        (r,) = T.decontaminate_sentences(docs, evals).collect()
        assert r["n_dropped"] == 0
        assert r["clean_text"] == "tiny words. more tiny words"

    def test_gram_straddling_sentence_boundary_does_not_match(self, spark):
        # eval gram spans two sentences of the doc -> no single sentence
        # contains it, so nothing is dropped (sentence-scoped semantics)
        half_a, half_b = _sent("p"), _sent("q")
        straddle = " ".join(half_a.split()[4:] + half_b.split()[:4])
        docs = _docs(spark, [(1, half_a + ". " + half_b)])
        evals = spark.createDataFrame([(straddle,)], "text string")
        (r,) = T.decontaminate_sentences(docs, evals).collect()
        assert r["n_dropped"] == 0

    def test_eval_grams_are_broadcast(self, spark):
        from tests.test_physical_plans import plan_of

        docs = _docs(spark, [(1, _sent("a"))])
        evals = spark.createDataFrame([(_sent("x"),)], "text string")
        plan = plan_of(T.sentence_contamination(docs, evals))
        assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
