"""Bigram-LM coverage scoring (integer-exact CCNet-perplexity
stand-in) and token-mixture rate calibration; beyond-reference
pipeline operators."""

from gumbo_pp_spark.operators import textstats as T


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _coverage(monkeypatch, docs, lm_size):
    monkeypatch.setattr(T, "LM_SIZE", lm_size)
    return T.lm_coverage(docs)


def _drift(monkeypatch, a, b, vocab_size):
    monkeypatch.setattr(T, "VOCAB_SIZE", vocab_size)
    return T.vocab_drift(a, b)


class TestLmCoverage:
    def test_coverage_values_exact(self, spark, monkeypatch):
        docs = _docs(spark, [(1, "a b a b"), (2, "a b c d"), (3, "z z")])
        got = {
            r.doc_id: (r.n_bigrams, r.n_known, r.known_mass, r.coverage_e4)
            for r in _coverage(monkeypatch, docs, 1).collect()
        }
        # LM = {'a b': 3}; doc1 bigrams [a b, b a, a b] -> 2 known
        assert got == {
            1: (3, 2, 6, 6667),
            2: (3, 1, 3, 3333),
            3: (1, 0, 0, 0),
        }

    def test_default_model_counts_multiplicity_and_ties(self, spark, monkeypatch):
        docs = _docs(spark, [(1, "a b a b"), (2, "a b c d"), (3, "z z")])
        got = {
            r.doc_id: (r.n_known, r.known_mass)
            for r in _coverage(monkeypatch, docs, 3).collect()
        }
        # counts: 'a b'=3 (twice in doc1 + doc2), every other bigram 1;
        # the n=1 tie at the cut breaks lexicographically, so the model
        # is {'a b': 3, 'b a': 1, 'b c': 1} and 'c d', 'z z' are unknown
        assert got == {1: (3, 7), 2: (2, 4), 3: (0, 0)}

    def test_single_word_doc_absent(self, spark, monkeypatch):
        docs = _docs(spark, [(1, "word"), (2, "a b")])
        ids = {r.doc_id for r in _coverage(monkeypatch, docs, 4).collect()}
        assert ids == {2}

    def test_model_side_is_broadcast(self, spark, monkeypatch):
        from tests.test_physical_plans import plan_of

        docs = _docs(spark, [(1, "a b c")])
        plan = plan_of(_coverage(monkeypatch, docs, 4))
        assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


class TestMixtureRates:
    def _src_docs(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, source string, text string"
        )

    def test_binding_source_kept_whole_others_scaled(self, spark):
        # a: 30 tokens, b: 10 tokens, equal targets -> b binds (runs
        # out first), a downsampled to match
        docs = self._src_docs(
            spark,
            [(1, "a", " ".join(["w"] * 30)), (2, "b", " ".join(["w"] * 10))],
        )
        got = {
            r.source: (r.n_tokens, r.rate_e4)
            for r in T.mixture_rates(docs, {"a": 5000, "b": 5000}).collect()
        }
        # rate_a = (10000*5000*10) div (5000*30) = 3333
        assert got == {"a": (30, 3333), "b": (10, 10000)}

    def test_already_balanced_needs_no_sampling(self, spark):
        docs = self._src_docs(
            spark,
            [(1, "a", " ".join(["w"] * 10)), (2, "b", " ".join(["w"] * 10))],
        )
        rates = {r.source: r.rate_e4
                 for r in T.mixture_rates(docs, {"a": 5000, "b": 5000}).collect()}
        assert rates == {"a": 10000, "b": 10000}

    def test_untargeted_sources_get_no_row(self, spark):
        docs = self._src_docs(
            spark,
            [(1, "a", "w w"), (2, "junk", "w w w w w w")],
        )
        out = T.mixture_rates(docs, {"a": 10000}).collect()
        assert [(r.source, r.rate_e4) for r in out] == [("a", 10000)]

    def test_composes_with_stratified_sample(self, spark):
        # end-to-end mixture pass: calibrate, collect the sources-sized
        # rate table (driver-side policy, like plan building), sample
        docs = self._src_docs(
            spark,
            [(i, "big" if i < 40 else "small", " ".join(["w"] * 10))
             for i in range(50)],
        )
        rates = {
            r.source: int(r.rate_e4)
            for r in T.mixture_rates(docs, {"big": 5000, "small": 5000}).collect()
        }
        assert rates["small"] == 10000 and rates["big"] < 10000
        out = T.stratified_sample(docs, rates)
        by_src = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
        # every 'small' doc survives; 'big' is thinned toward parity
        assert by_src["small"] == 10
        assert 0 < by_src["big"] < 40


class TestVocabDrift:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_identical_corpora_have_zero_distance(self, spark, monkeypatch):
        a = self._docs(spark, [(1, "x y z x"), (2, "y z")])
        (r,) = _drift(monkeypatch, a, a, 10).collect()
        assert r.tv_distance_e4 == 0
        assert r.n_words_a == r.n_words_b == 6

    def test_disjoint_corpora_have_max_distance(self, spark, monkeypatch):
        a = self._docs(spark, [(1, "aa bb cc")])
        b = self._docs(spark, [(2, "xx yy zz")])
        (r,) = _drift(monkeypatch, a, b, 10).collect()
        assert r.tv_distance_e4 == 10000
        assert r.n_vocab == 6

    def test_hand_computed_partial_drift(self, spark, monkeypatch):
        # a: x3 y1; b: x1 y3 -> TV = (|3-1| + |1-3|) / (2*4) = 0.5
        a = self._docs(spark, [(1, "x x x y")])
        b = self._docs(spark, [(2, "x y y y")])
        (r,) = _drift(monkeypatch, a, b, 10).collect()
        assert r.tv_distance_e4 == 5000

    def test_oov_bucket_counts_tail_mass(self, spark, monkeypatch):
        # VOCAB_SIZE=1: universe = {x} (top of both); remaining words
        # are each side's OOV bucket: a = x2,oov2; b = x2,oov2 -> TV 0
        a = self._docs(spark, [(1, "x x p q")])
        b = self._docs(spark, [(2, "x x r s")])
        (r,) = _drift(monkeypatch, a, b, 1).collect()
        assert r.n_vocab == 1
        assert r.tv_distance_e4 == 0
