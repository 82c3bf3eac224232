"""Training-data assembly operators: sequence packing, overlapping
token chunking, tf·idf-family salient terms, importance resampling,
and fuzzy (MinHash) benchmark decontamination."""

import pytest
from pyspark.sql import functions as F

from gumbo_pp_spark.operators import dedup as D
from gumbo_pp_spark.operators import packing as P
from gumbo_pp_spark.operators import textstats as T


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _words(n, tag=""):
    return " ".join(f"w{tag}{i}" for i in range(n))


def _pack(monkeypatch, docs, seq_len=P.SEQ_LEN, n_shards=P.PACK_SHARDS):
    monkeypatch.setattr(P, "SEQ_LEN", seq_len)
    monkeypatch.setattr(P, "PACK_SHARDS", n_shards)
    return P.pack_sequences(docs)


def _top_terms(monkeypatch, docs, k):
    monkeypatch.setattr(T, "TFIDF_K", k)
    return T.tfidf_top_terms(docs)


def _chunk(monkeypatch, docs, width=P.CHUNK_WIDTH, stride=P.CHUNK_STRIDE):
    monkeypatch.setattr(P, "CHUNK_WIDTH", width)
    monkeypatch.setattr(P, "CHUNK_STRIDE", stride)
    return P.chunk_tokens(docs)


class TestPackSequences:
    def test_hand_computed_stream(self, spark, monkeypatch):
        # one shard (all doc_id % 1 == 0): docs of 3, 4, 5 tokens,
        # seq_len 4 -> offsets 0, 3, 7; seq spans [0,0], [0,1], [1,2]
        docs = _docs(spark, [(0, "a b c"), (1, "a b c d"), (2, "a b c d e")])
        got = {
            r["doc_id"]: (r["start_tok"], r["first_seq"], r["last_seq"], r["n_seqs"])
            for r in _pack(monkeypatch, docs, seq_len=4, n_shards=1).collect()
        }
        assert got == {0: (0, 0, 0, 1), 1: (3, 0, 1, 2), 2: (7, 1, 2, 2)}

    def test_shards_pack_independently(self, spark, monkeypatch):
        # two shards: even/odd doc_ids each start at offset 0
        docs = _docs(spark, [(0, _words(3)), (1, _words(5)), (2, _words(2)), (3, _words(1))])
        rows = _pack(monkeypatch, docs, seq_len=4, n_shards=2).collect()
        by_id = {r["doc_id"]: r for r in rows}
        assert by_id[0]["shard"] == 0 and by_id[1]["shard"] == 1
        assert by_id[0]["start_tok"] == 0 and by_id[1]["start_tok"] == 0
        assert by_id[2]["start_tok"] == 3 and by_id[3]["start_tok"] == 5

    def test_exact_boundary_doc_stays_in_one_seq(self, spark, monkeypatch):
        # a doc ending exactly at a cut does NOT bleed into the next seq
        docs = _docs(spark, [(0, _words(4)), (1, _words(4))])
        got = {
            r["doc_id"]: (r["first_seq"], r["last_seq"])
            for r in _pack(monkeypatch, docs, seq_len=4, n_shards=1).collect()
        }
        assert got == {0: (0, 0), 1: (1, 1)}

    def test_token_conservation(self, spark, monkeypatch):
        # sum of n_tokens per shard == final start_tok + last doc's tokens
        docs = _docs(spark, [(i, _words(1 + i % 7)) for i in range(50)])
        out = _pack(monkeypatch, docs, seq_len=8, n_shards=4)
        per = (
            out.groupBy("shard")
            .agg(
                F.sum("n_tokens").alias("total"),
                F.max(F.col("start_tok") + F.col("n_tokens")).alias("end"),
            )
            .collect()
        )
        assert per and all(r["total"] == r["end"] for r in per)

    def test_null_doc_id_row_is_dropped(self, spark, monkeypatch):
        # a NULL id has no place in the packing order: the row is
        # absent and every other row packs as if it were not there
        rows = [(i, _words(1 + i % 5)) for i in range(12)]

        def start_toks(rs):
            out = _pack(monkeypatch, _docs(spark, rs), seq_len=4, n_shards=2)
            return {r["doc_id"]: r["start_tok"] for r in out.collect()}

        assert start_toks(rows + [(None, _words(3))]) == start_toks(rows)


class TestChunkTokens:
    def test_overlap_and_short_tail(self, spark, monkeypatch):
        # 10 tokens, width 4, stride 3 -> starts 0,3,6,9; last chunk 1 token
        docs = _docs(spark, [(0, _words(10))])
        rows = sorted(
            _chunk(monkeypatch, docs, width=4, stride=3).collect(),
            key=lambda r: r["chunk_id"],
        )
        assert [(r["chunk_id"], r["start_tok"], r["n_chunk_tokens"]) for r in rows] == [
            (0, 0, 4),
            (1, 3, 4),
            (2, 6, 4),
            (3, 9, 1),
        ]
        assert rows[0]["chunk"] == "w0 w1 w2 w3"
        assert rows[1]["chunk"] == "w3 w4 w5 w6"  # 1-token overlap
        assert rows[3]["chunk"] == "w9"

    def test_stride_equals_width_matches_paragraph_chunks(self, spark, monkeypatch):
        # the non-overlapping special case reproduces paragraph_chunks
        docs = _docs(spark, [(0, _words(23)), (1, _words(7))])
        a = {
            (r["doc_id"], r["chunk_id"]): r["chunk"]
            for r in _chunk(monkeypatch, docs, width=10, stride=10).collect()
        }
        monkeypatch.setattr(T, "PARAGRAPH_WORDS", 10)
        b = {
            (r["doc_id"], r["chunk_idx"]): r["chunk"]
            for r in T.paragraph_chunks(docs).collect()
        }
        assert a == b

    def test_single_token_doc(self, spark, monkeypatch):
        rows = _chunk(monkeypatch, _docs(spark, [(0, "solo")]), width=4, stride=3).collect()
        assert len(rows) == 1 and rows[0]["chunk"] == "solo"
        assert rows[0]["n_chunk_tokens"] == 1

    def test_map_only_plan(self, spark, monkeypatch):
        plan = (
            _chunk(monkeypatch, _docs(spark, [(0, "a b c")]), width=2, stride=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan  # no shuffle: projection + explode


class TestTfidfTopTerms:
    def test_rare_term_outranks_common(self, spark, monkeypatch):
        # 'zebra' appears once in one doc (df=1, tf=1 -> 10000);
        # 'the' is in all three docs (df=3, tf=1 -> 3333)
        docs = _docs(
            spark,
            [(0, "the zebra"), (1, "the cow cow"), (2, "the cow")],
        )
        rows = _top_terms(monkeypatch, docs, 1).collect()
        top = {r["doc_id"]: (r["word"], r["score_e4"]) for r in rows}
        assert top[0] == ("zebra", 10000)
        # doc 1: cow tf=2 df=2 -> 10000 beats the (3333)
        assert top[1] == ("cow", 10000)

    def test_tie_breaks_lexicographic(self, spark, monkeypatch):
        docs = _docs(spark, [(0, "b a"), (1, "x")])
        rows = [
            r
            for r in _top_terms(monkeypatch, docs, 2).collect()
            if r["doc_id"] == 0
        ]
        rows.sort(key=lambda r: r["rank"])
        # a and b both tf=1 df=1 -> equal score; 'a' ranks first
        assert [r["word"] for r in rows] == ["a", "b"]

    def test_k_bounds_output(self, spark, monkeypatch):
        docs = _docs(spark, [(0, _words(30))])
        assert _top_terms(monkeypatch, docs, 5).count() == 5


class TestImportanceSample:
    def test_weight_extremes(self, spark):
        # all-lowercase-alpha text -> weight 10000 -> always kept;
        # no lowercase alpha -> weight 0 -> never kept
        docs = _docs(spark, [(i, "purealpha") for i in range(50)])
        assert T.importance_sample(docs).count() == 50
        docs0 = _docs(spark, [(i, "123 456!") for i in range(50)])
        assert T.importance_sample(docs0).count() == 0

    def test_deterministic_and_weight_monotone(self, spark):
        # same docs -> identical keep set across runs; kept rows carry
        # their weight
        docs = _docs(
            spark, [(i, "half alpha 123 456" if i % 2 else "alpha only text") for i in range(200)]
        )
        a = {r["doc_id"] for r in T.importance_sample(docs).collect()}
        b = {r["doc_id"] for r in T.importance_sample(docs).collect()}
        assert a == b and a  # non-empty, reproducible

    def test_map_only_plan(self, spark):
        plan = (
            T.importance_sample(_docs(spark, [(0, "abc")]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestMinhashContamination:
    def _evals(self, spark, rows):
        return spark.createDataFrame(rows, "eval_id bigint, text string")

    def test_near_dup_eval_flags_source(self, spark):
        base = _words(40)
        docs = _docs(
            spark,
            [
                (1, base + " extra tail words here"),
                (2, "totally unrelated " + _words(30, tag="u")),
            ],
        )
        # eval = a fragment of doc 1 (paraphrase-like leak)
        evals = self._evals(spark, [(100, base)])
        got = {r["doc_id"]: r for r in D.minhash_contamination(docs, evals).collect()}
        assert 1 in got and 2 not in got
        assert got[1]["n_eval_matches"] == 1 and got[1]["max_n_eq"] >= 4

    def test_multiple_evals_counted(self, spark):
        base = _words(40)
        docs = _docs(spark, [(1, base)])
        evals = self._evals(spark, [(100, base), (101, base + " x")])
        (r,) = D.minhash_contamination(docs, evals).collect()
        assert r["n_eval_matches"] == 2

    def test_eval_side_broadcast(self, spark):
        docs = _docs(spark, [(1, _words(40))])
        evals = self._evals(spark, [(100, _words(40))])
        plan = (
            D.minhash_contamination(docs, evals)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # ONE broadcast join (corpus bands ⋈ eval bands, n_eq computed
        # on the join row); the corpus is never re-joined or self-joined
        assert plan.count("BroadcastHashJoin") == 1
        assert "SortMergeJoin" not in plan

    def test_banding_params_validated(self, spark, monkeypatch):
        docs = _docs(spark, [(1, "a b c d")])
        evals = self._evals(spark, [(2, "a b c d")])
        monkeypatch.setattr(D, "N_MINHASHES", 8)
        monkeypatch.setattr(D, "N_BANDS", 3)
        with pytest.raises(ValueError):
            D.minhash_contamination(docs, evals)


class TestQualityClassifier:
    def test_matches_python_reference(self, spark):
        import hashlib

        w = T.classifier_weights()
        texts = ["alpha beta gamma", "one", "x y z x y z", "", "hello world"]
        docs = _docs(spark, list(enumerate(texts)))
        got = {r["doc_id"]: (r["n_tokens"], r["score"], r["label"])
               for r in T.quality_classifier(docs).collect()}
        for i, t in enumerate(texts):
            toks = t.split(" ")
            score = sum(
                w[int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 256]
                for tok in toks
            )
            assert got[i] == (len(toks), score, score > 0), (i, t)

    def test_weights_deterministic_and_bounded(self, monkeypatch):
        monkeypatch.setattr(T, "CLASSIFIER_BUCKETS", 512)
        w = T.classifier_weights()
        assert w == T.classifier_weights()
        assert all(-1000 <= x <= 1000 for x in w)
        assert len(set(w)) > 100  # not degenerate

    def test_map_only_plan(self, spark):
        # the model rides in the plan as a literal array: scoring a
        # 10^12-row corpus must stay a single map stage
        plan = (
            T.quality_classifier(_docs(spark, [(0, "abc")]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


class TestShardManifest:
    def test_conservation_and_python_parity(self, spark, monkeypatch):
        import hashlib

        monkeypatch.setattr(P, "MANIFEST_SHARDS", 4)
        texts = [(i, f"doc {i} body words here") for i in range(97)]
        docs = _docs(spark, texts)
        rows = {r["shard"]: r for r in P.shard_manifest(docs).collect()}
        # python mirror
        from collections import defaultdict

        agg = defaultdict(lambda: [0, 0, None, None, 0])
        for i, t in texts:
            sh = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 4
            a = agg[sh]
            a[0] += 1
            a[1] += len(t.split(" "))
            a[2] = i if a[2] is None else min(a[2], i)
            a[3] = i if a[3] is None else max(a[3], i)
            a[4] ^= int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        assert set(rows) == set(agg)
        for sh, a in agg.items():
            r = rows[sh]
            assert (r["n_docs"], r["n_tokens"], r["min_doc"], r["max_doc"], r["checksum"]) == tuple(a)
        assert sum(r["n_docs"] for r in rows.values()) == 97

    def test_checksum_order_independent_and_detects_change(self, spark):
        docs = _docs(spark, [(i, f"t {i}") for i in range(20)])
        a = {r["shard"]: r["checksum"] for r in P.shard_manifest(docs).collect()}
        shuffled = docs.orderBy(F.expr("md5(CAST(doc_id AS STRING))"))
        b = {r["shard"]: r["checksum"] for r in P.shard_manifest(shuffled).collect()}
        assert a == b
        mutated = _docs(spark, [(i, f"t {i}" if i else "tampered") for i in range(20)])
        c = {r["shard"]: r["checksum"] for r in P.shard_manifest(mutated).collect()}
        assert a != c

    def test_single_exchange_plan(self, spark):
        docs = _docs(spark, [(0, "a")])
        plan = P.shard_manifest(docs)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1


class TestHoldoutAndHistogram:
    def test_holdout_no_group_straddle(self, spark, monkeypatch):
        docs = spark.createDataFrame(
            [(i, f"g{i % 13}", "w") for i in range(200)],
            "doc_id bigint, source string, text string",
        )
        monkeypatch.setattr(T, "VAL_PCT", 30)
        rows = T.holdout_split(docs).collect()
        by_group = {}
        for r in rows:
            by_group.setdefault(r["source"], set()).add(r["split"])
        assert all(len(v) == 1 for v in by_group.values())
        splits = {r["split"] for r in rows}
        assert splits == {"train", "val"}

    def test_holdout_map_only(self, spark):
        docs = spark.createDataFrame([(0, "s", "t")], "doc_id bigint, source string, text string")
        plan = T.holdout_split(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_histogram_conservation(self, spark):
        docs = _docs(spark, [(0, "a a a b b c"), (1, "a d")])
        rows = {r["freq"]: r["n_words"] for r in T.word_freq_histogram(docs).collect()}
        # a:4, b:2, c:1, d:1
        assert rows == {4: 1, 2: 1, 1: 2}
        # sum(freq * n_words) == total tokens
        assert sum(f * n for f, n in rows.items()) == 8


class TestSelectTokenBudget:
    def _scored(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, score bigint, text string")

    def test_greedy_prefix_by_score_then_key(self, spark):
        docs = self._scored(
            spark,
            [(1, 90, _words(4)), (2, 80, _words(4)),
             (3, 70, _words(4)), (4, 60, _words(4))],
        )
        kept = {r.doc_id for r in
                P.select_token_budget(docs, 10, "score").collect()}
        # 4+4 fits, third doc would hit 12 > 10
        assert kept == {1, 2}

    def test_boundary_score_tie_broken_by_doc_id(self, spark):
        # three docs share the boundary score; only the lowest doc_ids
        # that still fit survive
        docs = self._scored(
            spark,
            [(9, 90, _words(3)),
             (2, 50, _words(3)), (5, 50, _words(3)), (7, 50, _words(3))],
        )
        kept = {r.doc_id for r in
                P.select_token_budget(docs, 9, "score").collect()}
        assert kept == {9, 2, 5}

    def test_doc_straddling_budget_is_dropped_with_suffix(self, spark):
        # cumsum is monotone: first doc that overflows cuts everything
        # after it too
        docs = self._scored(
            spark, [(1, 90, _words(5)), (2, 80, _words(50)), (3, 70, _words(1))]
        )
        kept = {r.doc_id for r in
                P.select_token_budget(docs, 10, "score").collect()}
        assert kept == {1}

    def test_null_key_row_is_dropped(self, spark):
        # a NULL key is dropped before the budget is counted, in the
        # fully kept scores and at the boundary alike
        rows = [(1, 90, _words(4)), (2, 80, _words(4)), (3, 80, _words(4)),
                (4, 70, _words(4))]
        for nul in ((None, 90, _words(4)), (None, 80, _words(4))):
            kept = {r.doc_id for r in
                    P.select_token_budget(self._scored(spark, rows + [nul]), 10, "score")
                    .collect()}
            assert kept == {1, 2}, nul

    def test_budget_larger_than_corpus_keeps_all(self, spark):
        docs = self._scored(spark, [(1, 5, _words(3)), (2, 4, _words(3))])
        out = P.select_token_budget(docs, 1000, "score")
        assert out.count() == 2
        assert out.columns == ["doc_id", "score", "n_tokens"]

    def test_matches_window_cumsum_formulation(self, spark):
        # the histogram+boundary plan must equal the naive global
        # window cumsum on a mixed fixture
        rows = [(i, (i * 7) % 5, _words(2 + i % 4)) for i in range(40)]
        docs = self._scored(spark, rows)
        got = {r.doc_id for r in
               P.select_token_budget(docs, 60, "score").collect()}
        from pyspark.sql import Window

        w = Window.orderBy(F.desc("score"), "doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        naive = (
            docs.select("doc_id", "score",
                        F.expr("size(split(text, ' '))").alias("n"))
            .withColumn("cum", F.sum("n").over(w))
            .where(F.col("cum") <= 60)
        )
        assert got == {r.doc_id for r in naive.collect()}
        assert len(got) > 0

    @pytest.mark.parametrize("threshold, join", [(None, "BroadcastHashJoin"),
                                                 ("-1", "SortMergeJoin")])
    def test_offset_join_follows_measured_size(self, spark, monkeypatch, threshold, join):
        # no broadcast is forced on the boundary's block-offset table:
        # adaptive execution broadcasts it from its measured size, and
        # shuffles it when the size threshold rules a broadcast out.
        # Either way the kept rows are the same.  The threshold that
        # governs is spark.sql.autoBroadcastJoinThreshold: the offset
        # side is a window over a query stage, not a stage, so its
        # estimate is not compared with the adaptive threshold
        import re

        monkeypatch.setattr(P, "BLOCK_SIZE", 16)
        rows = [(i, 100 if i % 2 == 0 else i % 7, _words(1 + i % 5)) for i in range(400)]
        docs = self._scored(spark, rows)
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        if threshold is not None:
            spark.conf.set(key, threshold)
        try:
            out = P.select_token_budget(docs, 300, "score")
            kept = sorted(r.doc_id for r in out.collect())
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(key, old)
        final = plan.split("== Initial Plan ==")[0]
        joins = re.findall(r"(\w+) \[score#\d+L, blk#\d+L\], \[score#\d+L, blk#\d+L\]", final)
        assert joins == [join], final
        # the even doc_ids hold the top score, 15 tokens per 5 documents:
        # the first 100 of them (0..198) fill the budget of 300 exactly
        assert kept == [i for i in range(0, 200, 2)]
