"""Scale-defect regression tests from the round-1 verdict: hot-shingle
df cap, LSH band-bucket cap, 63-bit simhash banding completeness, and
plan-safety of the partitioning helpers on malformed urls."""

import pytest
from pyspark.sql import functions as F

from gumbo_pp_spark.operators import dedup as D
from gumbo_pp_spark.operators import similarity as S


@pytest.fixture(scope="module")
def hot_docs(spark):
    # 30 docs all sharing one boilerplate sentence (one hot shingle
    # family), plus 2 true near-dup pairs with distinctive content
    rows = []
    boiler = "all rights reserved by the site"
    for i in range(30):
        rows.append((i, f"unique{i} alpha{i} beta{i} gamma{i} {boiler}"))
    rows.append((100, "the quick brown fox jumps over the lazy dog today"))
    rows.append((101, "the quick brown fox jumps over the lazy dog today"))
    return spark.createDataFrame(rows, "doc_id bigint, text string").cache()


class TestHotShingleCaps:
    def test_df_cap_bounds_join_candidates(self, spark, hot_docs, monkeypatch):
        sh = D.shingles(hot_docs)
        capped = sh.join(
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= 10).select("sh"),
            "sh",
        )
        # the boilerplate shingles (df=30) are gone from the join input
        assert capped.groupBy("sh").count().agg(F.max("count")).collect()[0][0] <= 10
        # and the true pair still survives end-to-end
        monkeypatch.setattr(D, "JACCARD_THRESHOLD", 0.5)
        monkeypatch.setattr(D, "JACCARD_MIN_SHARED", 5)
        monkeypatch.setattr(D, "SHINGLE_DF_CAP", 10)
        pairs = D.ngram_jaccard_pairs(hot_docs)
        got = {(r.a, r.b) for r in pairs.collect()}
        assert (100, 101) in got
        # no pair is built from boilerplate alone
        assert all(a >= 100 for a, b in got)

    def test_minhash_bucket_cap_drops_degenerate_buckets(self, spark, hot_docs, monkeypatch):
        # with a tiny cap, the boilerplate-dominated band buckets (30
        # docs) are dropped; the identical pair still shares all its
        # (2-doc) buckets and survives
        monkeypatch.setattr(D, "BUCKET_CAP", 5)
        pairs = D.minhash_lsh_pairs(hot_docs, min_equal=4)
        got = {(r.a, r.b) for r in pairs.collect()}
        assert (100, 101) in got
        for a, b in got:
            assert a >= 100, "boilerplate-only pair leaked through the cap"


class TestSimhash63:
    def test_single_md5_pass_shape(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
             (3, "totally different words here")],
            "doc_id bigint, text string",
        )
        rows = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
        assert rows[1] == rows[2]
        assert rows[1] != rows[3]
        for v in rows.values():
            assert 0 <= v < 2 ** 63  # sign bit clear by construction

    def test_banded_pairs_equal_brute_force(self, spark):
        # deliberately similar docs: hamming<=2 pairs must ALL be found
        # by the 3-band join (pigeonhole guarantee), none missed
        base = "w%d " * 40
        rows = [(i, (base % tuple(range(40))) + f"tail{i % 4}") for i in range(24)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        s = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
        brute = {
            (a, b)
            for a in s for b in s
            if a < b and bin(s[a] ^ s[b]).count("1") <= 2
        }
        banded = {(r.a, r.b) for r in D.simhash_pairs(df).collect()}
        assert banded == brute
        assert brute, "fixture produced no near pairs — weaken the tails"


class TestLshSketch:
    def test_no_runtime_md5_in_sketch(self):
        expr = S.hyperplane_sketch_expr(dim=8, n_planes=3)
        assert "md5" not in expr  # signs are plan-time literals now

    def test_multiprobe_recall_not_worse(self, spark, tmp_path, monkeypatch):
        import numpy as np

        rng = np.random.default_rng(7)
        rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(120)]
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").cache()
        q = emb.where(F.col("vec_id") % 40 == 0)
        # single probe: the query's own bucket only
        sk = S.hyperplane_sketch_expr(16, 4)
        single = S._top_k(
            S._corpus_side(emb).withColumn("bucket", F.expr(sk)).join(
                F.broadcast(S._query_side(q, F.expr(sk).alias("bucket"))), "bucket"))
        monkeypatch.setattr(S, "DIM", 16)
        multi = S.lsh_cosine_topk(emb, q, n_planes=4)
        exact = S.cosine_topk(emb, q)
        ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        hit_single = len(ex & {(r.query_id, r.neighbor_id) for r in single.collect()})
        hit_multi = len(ex & {(r.query_id, r.neighbor_id) for r in multi.collect()})
        assert hit_multi >= hit_single


class TestPartitioningNullKeys:
    def test_malformed_urls_do_not_crash_plans(self, spark, monkeypatch):
        from gumbo_pp_spark.plans import partitioning as P

        rows = [("not a url at all", bytearray(b"x" * 100))] * 8
        rows += [(f"https://ok.example/{i}", bytearray(b"y" * 100)) for i in range(8)]
        df = spark.createDataFrame(rows, "url string, html binary")
        monkeypatch.setattr(P, "SALT_PARTITIONS", 4)
        assert P.salt_skewed_keys(df).count() == 16
        monkeypatch.setattr(P, "BIN_TARGET_BYTES", 400)
        binned = P.size_balanced_bins(df)
        assert binned.count() == 16
        assert binned.where(F.col("size_bin").isNull()).count() == 0

    def test_light_keys_not_collected_heavy_tail_only(self, spark, monkeypatch):
        # many light keys + one heavy: plan must produce dedicated bins
        # for the heavy key and hash the light ones without per-key maps
        from gumbo_pp_spark.plans import partitioning as P

        rows = [(f"https://h{i}.example/x", bytearray(b"a" * 50)) for i in range(400)]
        rows += [(f"https://big.example/{i}", bytearray(b"b" * 5000)) for i in range(100)]
        df = spark.createDataFrame(rows, "url string, html binary")
        monkeypatch.setattr(P, "BIN_TARGET_BYTES", 100_000)
        binned = P.size_balanced_bins(df)
        big_bins = {
            r.size_bin for r in binned.where("part_key = 'big.example'")
            .select("size_bin").distinct().collect()
        }
        light_bins = {
            r.size_bin for r in binned.where("part_key != 'big.example'")
            .select("size_bin").distinct().collect()
        }
        assert len(big_bins) == 5  # 500k / 100k dedicated sub-bins
        assert big_bins.isdisjoint(light_bins)
        per_bin = binned.groupBy("size_bin").agg(F.sum("doc_bytes").alias("b")).collect()
        for r in per_bin:
            assert r["b"] <= 2 * 100_000


class TestIvf:
    def _emb(self, spark, n=120, dim=16, seed=7):
        import numpy as np

        rng = np.random.default_rng(seed)
        rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        ).cache()

    def test_assignments_are_argmax_pivot(self, spark):
        import numpy as np

        emb = self._emb(spark)
        pivots = emb.where(F.col("vec_id") % 30 == 1)
        got = {
            r["vec_id"]: r["pivot_id"]
            for r in S.ivf_assignments(emb, pivots).collect()
        }
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        pids = sorted(i for i in vecs if i % 30 == 1)
        for vid, v in vecs.items():
            cos = [(float(v @ vecs[p]) / (np.linalg.norm(v) * np.linalg.norm(vecs[p])), p)
                   for p in pids]
            best = max(cos, key=lambda t: (t[0], -t[1]))[1]
            assert got[vid] == best, vid

    def test_full_probe_equals_exact(self, spark, monkeypatch):
        # nprobe = all pivots -> every inverted list searched -> IVF
        # degenerates to the exact baseline
        emb = self._emb(spark)
        q = emb.where(F.col("vec_id") % 40 == 0)
        pivots = emb.where(F.col("vec_id") % 30 == 1)
        n_pivots = pivots.count()
        exact = {(r.query_id, r.neighbor_id, r.rank)
                 for r in S.cosine_topk(emb, q).collect()}
        monkeypatch.setattr(S, "IVF_NPROBE", n_pivots)
        full = {(r.query_id, r.neighbor_id, r.rank)
                for r in S.ivf_topk(emb, q, pivots).collect()}
        assert full == exact

    def test_more_probes_not_worse(self, spark, monkeypatch):
        emb = self._emb(spark)
        q = emb.where(F.col("vec_id") % 40 == 0)
        pivots = emb.where(F.col("vec_id") % 30 == 1)
        monkeypatch.setattr(S, "TOP_K", 3)
        monkeypatch.setattr(S, "IVF_NPROBE", 1)
        r1 = S.ivf_recall_vs_exact(emb, q, pivots).first()
        monkeypatch.setattr(S, "IVF_NPROBE", 3)
        r3 = S.ivf_recall_vs_exact(emb, q, pivots).first()
        assert r3["n_hit"] >= r1["n_hit"]
        assert r1["n_queries"] == 3 and r1["n_exact"] == 9


class TestMinhashBandingParams:
    """(n_hashes, n_bands) are parameters (r7); bad pairs fail fast."""

    def test_indivisible_banding_rejected(self, spark):
        import pytest

        from gumbo_pp_spark.operators import dedup as D

        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="multiple"):
            D.minhash_lsh_pairs(docs, n_hashes=10, n_bands=4)
        with pytest.raises(ValueError, match="multiple"):
            D._band_explode(D.minhash_signatures(docs, 8), 8, 0)

    def test_wider_signature_tightens_candidates(self, spark):
        # exact duplicates must survive any config; the 32/8 config's
        # n_eq estimate is over 32 hashes
        from gumbo_pp_spark.operators import dedup as D

        docs = spark.createDataFrame(
            [(1, "w0 w1 w2 w3 w4 w5 w6 w7"), (2, "w0 w1 w2 w3 w4 w5 w6 w7"),
             (3, "z0 z1 z2 z3 z4 z5 z6 z7")],
            "doc_id long, text string",
        )
        rows = D.minhash_lsh_pairs(docs, min_equal=32, n_hashes=32, n_bands=8).collect()
        assert [(r.a, r.b, r.n_eq) for r in rows] == [(1, 2, 32)]


class TestSemanticDedup:
    """SemDeDup cluster-then-compare over embeddings (round 7)."""

    def _emb(self, spark, n=150, dim=16, seed=11, dup_every=10):
        import numpy as np

        rng = np.random.default_rng(seed)
        base = rng.normal(size=(n, dim))
        # plant exact semantic duplicates: every dup_every-th vector is
        # a positive scaling of its predecessor (cosine exactly 1.0)
        for i in range(dup_every, n, dup_every):
            base[i] = base[i - dup_every] * 1.5
        rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        ).cache()

    def test_keep_policy_matches_brute_force(self, spark, monkeypatch):
        import numpy as np

        emb = self._emb(spark)
        pivots = emb.where(F.col("vec_id") % 30 == 1)
        monkeypatch.setattr(S, "NEAR_DUP_COSINE", 0.9)
        got = {
            r["vec_id"]: (r["pivot_id"], r["keep"])
            for r in S.semantic_dedup(emb, pivots).collect()
        }
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        assign = {
            r["vec_id"]: r["pivot_id"]
            for r in S.ivf_assignments(emb, pivots).collect()
        }
        for vid in vecs:
            lower_dups = [
                a for a in vecs
                if a < vid and assign[a] == assign[vid]
                and float(vecs[a] @ vecs[vid])
                / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[vid])) >= 0.9
            ]
            assert got[vid] == (assign[vid], not lower_dups), vid

    def test_planted_duplicates_dropped(self, spark, monkeypatch):
        # a scaled copy has cosine 1.0 with its source and lands in the
        # same cluster (same direction -> same nearest pivot), so the
        # higher-id copy must always be dropped
        emb = self._emb(spark)
        pivots = emb.where(F.col("vec_id") % 30 == 1)
        monkeypatch.setattr(S, "NEAR_DUP_COSINE", 0.99)
        kept = {r["vec_id"]: r["keep"]
                for r in S.semantic_dedup(emb, pivots).collect()}
        for i in range(10, 150, 10):
            assert kept[i] is False, i
        # and at least the very first vector always survives
        assert kept[0] is True

    def test_pairwise_stage_is_equi_join_on_pivot(self, spark):
        # the within-cluster compare must be a hash/sort-merge equi-join
        # on pivot_id; the ONLY nested-loop joins allowed in the plan
        # are the broadcast K-pivot assignment scans
        emb = self._emb(spark)
        pivots = emb.where(F.col("vec_id") % 30 == 1)
        plan = S.semantic_dedup(emb, pivots)._jdf.queryExecution().executedPlan().toString()
        import re

        nested = [
            ln for ln in plan.splitlines()
            if "NestedLoop" in ln or "CartesianProduct" in ln
        ]
        # assignment broadcasts appear once per side (a/b) of the pair
        # join lineage; none may be non-broadcast
        assert all("Broadcast" in ln for ln in nested), plan
        assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*pivot_id", plan), plan


class TestVerifyPairs:
    """Exact-Jaccard verify stage over LSH candidates."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_exact_jaccard_on_given_pairs(self, spark):
        # doc1/doc2 share exactly the shingles of 'a b c d' (2 of them)
        docs = self._docs(
            spark, [(1, "a b c d x y z"), (2, "a b c d q r s"), (3, "u v w")]
        )
        pairs = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
        (r,) = D.verify_pairs(docs, pairs).collect()
        # shingle sets: 5 each, shared = {'a b c','b c d'} = 2
        # J = 2 / (5 + 5 - 2) = 0.25
        assert (r.a, r.b, r.n_shared, r.jaccard_e4) == (1, 2, 2, 2500)

    def test_verification_is_candidate_bounded(self, spark):
        # identical docs 3/4 are NOT verified unless proposed as a pair
        docs = self._docs(
            spark, [(1, "a b c d e"), (2, "a b c d e"), (3, "p q r s t"), (4, "p q r s t")]
        )
        pairs = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
        out = D.verify_pairs(docs, pairs).collect()
        assert [(r.a, r.b, r.jaccard_e4) for r in out] == [(1, 2, 10000)]

    def test_minhash_verified_rejects_estimate_only_pairs(self, spark, monkeypatch):
        # 30 similar pairs: the full pipeline keeps only those whose
        # EXACT jaccard clears the floor, regardless of sketch optimism
        rows = []
        for i in range(30):
            base = " ".join(f"w{i}_{j}" for j in range(20))
            rows.append((2 * i, base))
            # strong near-dup: one word appended
            rows.append((2 * i + 1, base + " extra"))
        docs = self._docs(spark, rows)
        monkeypatch.setattr(D, "MIN_EQUAL", 4)
        monkeypatch.setattr(D, "VERIFY_MIN_JACCARD_E4", 5000)
        out = D.minhash_verified_pairs(docs)
        got = {(r.a, r.b) for r in out.collect()}
        assert got == {(2 * i, 2 * i + 1) for i in range(30)}
        # raising the exact floor to impossible kills every pair while
        # the candidate stage alone would still propose them
        monkeypatch.setattr(D, "VERIFY_MIN_JACCARD_E4", 9999)
        none = D.minhash_verified_pairs(docs)
        assert none.count() == 0
        assert D.minhash_lsh_pairs(docs, min_equal=4).count() >= 30


class TestIncrementalDedup:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_drops_already_shipped_content(self, spark):
        new = self._docs(spark, [(10, "seen before"), (11, "fresh content")])
        prior = spark.createDataFrame(
            [("seen before",)], "t string"
        ).selectExpr("md5(t) AS fp_md5")
        out = D.incremental_dedup(new, prior)
        assert [r.doc_id for r in out.collect()] == [11]
        assert out.columns == ["doc_id", "text"]  # helper column dropped

    def test_empty_prior_keeps_everything(self, spark):
        new = self._docs(spark, [(1, "a"), (2, "b")])
        prior = spark.createDataFrame([], "fp_md5 string")
        assert D.incremental_dedup(new, prior).count() == 2

    def test_lsh_between_finds_cross_side_only(self, spark):
        base = " ".join(f"w{j}" for j in range(20))
        prior = self._docs(spark, [(1, base), (2, "unrelated " * 10)])
        # new batch: a near-dup of prior doc 1 AND two identical new
        # docs (must NOT pair with each other — between-sides only)
        new = self._docs(
            spark,
            [(10, base + " tail"), (11, "novel thing here today"),
             (12, "novel thing here today")],
        )
        got = {(r.new_id, r.prior_id)
               for r in D.minhash_lsh_pairs_between(new, prior, min_equal=4).collect()}
        assert got == {(10, 1)}
