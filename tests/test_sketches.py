"""Frequency sketches: Count-Min heavy hitters (one-sided error, plan
shape), KMV distinct counts and length quantiles."""

import pytest
from pyspark.sql import functions as F

from gumbo_pp_spark.operators import sketches as SK


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _cms(monkeypatch, docs, width, depth, min_count):
    monkeypatch.setattr(SK, "CMS_WIDTH", width)
    monkeypatch.setattr(SK, "CMS_DEPTH", depth)
    monkeypatch.setattr(SK, "CMS_MIN_COUNT", min_count)
    return SK.cms_heavy_hitters(docs)


def _kmv(monkeypatch, docs, k):
    monkeypatch.setattr(SK, "KMV_K", k)
    return SK.kmv_distinct(docs)


class TestCmsSketch:
    def test_estimate_one_sided_and_exact_when_wide(self, spark, monkeypatch):
        # narrow sketch: est >= true for every word; wide sketch with a
        # tiny vocab: no collisions -> est == true
        docs = _docs(
            spark,
            [(i, "hot hot hot cold") for i in range(30)]
            + [(100 + i, f"rare{i}") for i in range(10)],
        )
        true = {
            r["word"]: r["n"]
            for r in docs.select(F.explode(F.split("text", " ")).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        narrow = {
            r["word"]: r["est"]
            for r in _cms(monkeypatch, docs, width=2, depth=2, min_count=0).collect()
        }
        assert set(narrow) == set(true)
        assert all(narrow[w] >= true[w] for w in true)
        wide = {
            r["word"]: r["est"]
            for r in _cms(monkeypatch, docs, width=4096, depth=3, min_count=0).collect()
        }
        assert wide == true

    def test_no_heavy_hitter_missed(self, spark, monkeypatch):
        docs = _docs(spark, [(i, "alpha beta " + f"tail{i}") for i in range(50)])
        hh = {r["word"] for r in _cms(monkeypatch, docs, width=4, depth=2, min_count=50).collect()}
        assert {"alpha", "beta"} <= hh  # est >= true == 50

    def test_estimation_join_is_broadcast(self, spark):
        docs = _docs(spark, [(i, "a b c") for i in range(20)])
        plan = (
            SK.cms_heavy_hitters(docs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


class TestKmvDistinct:
    def test_exact_when_k_covers_vocab(self, spark, monkeypatch):
        # k >= |vocab|: kth_hash is the max of ALL hashes and k_used is
        # the exact distinct count
        docs = _docs(spark, [(i, "a b c d e a b") for i in range(30)])
        r = _kmv(monkeypatch, docs, 100).first()
        assert r["k_used"] == 5

    def test_estimate_reasonable_and_deterministic(self, spark, monkeypatch):
        docs = _docs(spark, [(i, " ".join(f"w{j}" for j in range(i % 40, i % 40 + 60)))
                              for i in range(100)])
        # vocab = w0..w98 -> 99 distinct
        a = _kmv(monkeypatch, docs, 24).first()
        b = _kmv(monkeypatch, docs, 24).first()
        assert a == b
        assert a["k_used"] == 24
        # KMV with k=24 on 99 distinct: within a loose 3x band
        assert 33 <= a["est_distinct"] <= 300, a

    def test_estimator_formula(self, spark, monkeypatch):
        import hashlib

        docs = _docs(spark, [(0, "x y z q r s t u v w")])
        r = _kmv(monkeypatch, docs, 4).first()
        hs = sorted(int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
                    for w in "x y z q r s t u v w".split())
        assert r["kth_hash"] == hs[3]
        assert r["est_distinct"] == (4 - 1) * (1 << 32) // hs[3]

    def test_bottomk_is_partial_topk_not_global_sort(self, spark):
        docs = _docs(spark, [(i, "a b c") for i in range(10)])
        plan = SK.kmv_distinct(docs)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Sort [h" not in plan  # no full sort stage


class TestLengthQuantiles:
    def test_matches_numpy_type1(self, spark):
        import numpy as np

        texts = [(i, " ".join("w" for _ in range(1 + (i * 7) % 50))) for i in range(200)]
        docs = _docs(spark, texts)
        got = {r["p_e2"]: r["value"]
               for r in SK.length_quantiles(docs).collect()}
        lens = np.sort([len(t.split(" ")) for _, t in texts])
        n = len(lens)
        for p in (25, 50, 75, 90, 99):
            # smallest value covering >= p% of docs (type-1)
            import math

            k = math.ceil(p * n / 100)
            assert got[p] == lens[k - 1], p

    def test_constant_lengths(self, spark):
        docs = _docs(spark, [(i, "a b c") for i in range(10)])
        got = {r["p_e2"]: r["value"] for r in SK.length_quantiles(docs).collect()}
        assert set(got.values()) == {3}

    def test_corpus_stage_is_partial_agg(self, spark):
        docs = _docs(spark, [(i, "a b") for i in range(10)])
        plan = SK.length_quantiles(docs)._jdf.queryExecution().executedPlan().toString()
        # the corpus-sized stage must partial-aggregate before its
        # exchange; downstream windows run on the collapsed histogram
        assert "partial_count" in plan or "HashAggregate" in plan
        assert "CartesianProduct" not in plan


    @pytest.mark.parametrize("grouped", [False, True])
    def test_one_window_serves_cum_and_total(self, spark, grouped):
        # the cumulative count and the group total share one ordered
        # spec, so one sort and one Window operator compute both
        from tests.test_physical_plans import initial_plan, plan_nodes

        docs = spark.createDataFrame(
            [(i, f"s{i % 3}", "w " * (1 + i % 7)) for i in range(30)],
            "doc_id bigint, source string, text string",
        )
        out = SK.grouped_length_quantiles(docs) if grouped else SK.length_quantiles(docs)
        windows = [n for n in plan_nodes(initial_plan(out)) if n.nodeName() == "Window"]
        assert len(windows) == 1, out._jdf.queryExecution().executedPlan().toString()


class TestGroupedQuantiles:
    def test_per_group_values_match_numpy(self, spark):
        import numpy as np

        rows = []
        for g, lens in (("a", [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                        ("b", [5, 5, 5, 20])):
            for i, n in enumerate(lens):
                rows.append((len(rows), g, " ".join(["w"] * n)))
        docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
        got = {(r.grp, r.p_e2): r.value
               for r in SK.grouped_length_quantiles(
                   docs, probs_e2=(50, 90, 100)).collect()}
        # type-1 quantile: smallest len whose cumulative count covers p%
        for g, lens in (("a", list(range(1, 11))), ("b", [5, 5, 5, 20])):
            arr = np.sort(np.array(lens))
            n = len(arr)
            for p in (50, 90, 100):
                import math
                k = math.ceil(p * n / 100)
                assert got[(g, p)] == arr[k - 1], (g, p)

    def test_groups_do_not_leak_into_each_other(self, spark):
        docs = spark.createDataFrame(
            [(1, "x", "w"), (2, "y", " ".join(["w"] * 100))],
            "doc_id bigint, source string, text string",
        )
        got = {(r.grp, r.p_e2): r.value
               for r in SK.grouped_length_quantiles(docs, probs_e2=(99,)).collect()}
        assert got == {("x", 99): 1, ("y", 99): 100}
