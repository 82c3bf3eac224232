"""Per-domain quality gate (CCNet/RefinedWeb-style domain blocklist
computed from the corpus itself); beyond-reference pipeline operator."""

from gumbo_pp_spark.operators import textstats as T

# passes (min_tokens=5, min_stopword_ratio_e4=100, min_alpha_ratio_e4=5000)
GOOD = "the quick brown fox jumps over the lazy dog today"
BAD = "xx 11"  # 2 tokens < 5

THRESH = dict(min_tokens=5, min_stopword_ratio_e4=100, min_alpha_ratio_e4=5000)


def _hosted(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, host string, text string")


def _fixture(spark):
    return _hosted(
        spark,
        # spamy.example: 3/4 bad; clean.example: 0/4 bad;
        # tiny.example: 1/1 bad but below min_docs
        [(1, "spamy.example", BAD), (2, "spamy.example", BAD),
         (3, "spamy.example", BAD), (4, "spamy.example", GOOD),
         (5, "clean.example", GOOD), (6, "clean.example", GOOD),
         (7, "clean.example", GOOD), (8, "clean.example", GOOD),
         (9, "tiny.example", BAD)],
    )


class TestHostQualityStats:
    def test_per_host_rollup_values(self, spark):
        got = {
            r.host: (r.n_docs, r.n_bad, r.bad_frac_e4)
            for r in T.host_quality_stats(_fixture(spark), **THRESH).collect()
        }
        assert got == {
            "spamy.example": (4, 3, 7500),
            "clean.example": (4, 0, 0),
            "tiny.example": (1, 1, 10000),
        }

    def test_flag_matches_quality_filter_complement(self, spark, monkeypatch):
        # n_bad must be exactly (docs - quality_filter survivors)
        df = _fixture(spark)
        monkeypatch.setattr(T, "QUALITY_MIN_TOKENS", 5)
        monkeypatch.setattr(T, "QUALITY_MIN_STOPWORD_RATIO_E4", 100)
        monkeypatch.setattr(T, "QUALITY_MIN_ALPHA_RATIO_E4", 5000)
        survivors = T.quality_filter(df).count()
        stats = T.host_quality_stats(df, **THRESH)
        total_bad = sum(r.n_bad for r in stats.collect())
        assert total_bad == df.count() - survivors


class TestHostQualityGate:
    def test_blocks_whole_bad_host_keeps_small_and_clean(self, spark):
        kept = {
            r.doc_id
            for r in T.host_quality_gate(
                _fixture(spark), min_docs=3, max_bad_frac_e4=5000, **THRESH
            ).collect()
        }
        # spamy (75% bad, >= 3 docs) fully dropped INCLUDING its good
        # doc 4; tiny (100% bad, 1 doc) spared by min_docs
        assert kept == {5, 6, 7, 8, 9}

    def test_threshold_is_integer_exact_boundary(self, spark):
        # exactly-at-threshold host is NOT blocked (strict >)
        df = _hosted(
            spark,
            [(1, "h.example", BAD), (2, "h.example", GOOD),
             (3, "h.example", BAD), (4, "h.example", GOOD)],
        )
        assert (
            T.host_quality_gate(df, min_docs=3, max_bad_frac_e4=5000, **THRESH)
            .count() == 4
        )
        assert (
            T.host_quality_gate(df, min_docs=3, max_bad_frac_e4=4999, **THRESH)
            .count() == 0
        )

    def test_gate_is_broadcast_anti_join(self, spark):
        from tests.test_physical_plans import plan_of

        plan = plan_of(
            T.host_quality_gate(_fixture(spark), min_docs=3, **THRESH)
        )
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_all_columns_pass_through(self, spark):
        out = T.host_quality_gate(_fixture(spark), min_docs=3, **THRESH)
        assert out.columns == ["doc_id", "host", "text"]


class TestBoilerplateRemoval:
    def _hosted(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, host string, text string"
        )

    def test_strips_host_footer_keeps_unique_content(self, spark):
        footer = "visit our shop now"
        docs = self._hosted(
            spark,
            [(i, "a.example", f"unique words number {i}. {footer}")
             for i in range(3)]
            + [(9, "b.example", f"other page here. {footer}")],
        )
        got = {r.doc_id: (r.clean_text, r.n_dropped)
               for r in T.remove_boilerplate(docs).collect()}
        # footer repeats in 3 docs of a.example -> stripped there only;
        # b.example saw it once, keeps it (per-host scoping)
        for i in range(3):
            assert got[i] == (f"unique words number {i}", 1)
        assert got[9] == (f"other page here. {footer}", 0)

    def test_repeated_segment_within_one_doc_counts_once(self, spark):
        # countDistinct(doc_id): twice in the same doc != two docs
        docs = self._hosted(
            spark,
            [(1, "h", "promo line. promo line. body"),
             (2, "h", "promo line. other body")],
        )
        out = {r.doc_id: r.n_dropped
               for r in T.remove_boilerplate(docs).collect()}
        assert out == {1: 0, 2: 0}

    def test_boilerplate_table_is_host_scoped(self, spark, monkeypatch):
        docs = self._hosted(
            spark,
            [(1, "x", "same seg. a"), (2, "x", "same seg. b"),
             (3, "y", "same seg. c")],
        )
        monkeypatch.setattr(T, "BOILERPLATE_MIN_DOCS", 2)
        bp = T.boilerplate_segments(docs).collect()
        assert [(r.host, r.n_docs) for r in bp] == [("x", 2)]

    def test_fully_boilerplate_doc_survives_empty(self, spark):
        docs = self._hosted(
            spark, [(i, "h", "only footer text") for i in range(3)]
        )
        for r in T.remove_boilerplate(docs).collect():
            assert r.clean_text == "" and r.n_dropped == 1


class TestMirrorHosts:
    def _hosted(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, host string, text string"
        )

    @staticmethod
    def _mirrors(monkeypatch, docs, min_shared, fp_cap=64):
        monkeypatch.setattr(T, "MIRROR_MIN_SHARED", min_shared)
        monkeypatch.setattr(T, "MIRROR_FP_CAP", fp_cap)
        return T.mirror_hosts(docs)

    def test_detects_mirror_pair_with_exact_jaccard(self, spark, monkeypatch):
        docs = self._hosted(
            spark,
            # a/b share 3 of a's 4 and b's 3 fps -> J = 3/4
            [(1, "a", "x1"), (2, "a", "x2"), (3, "a", "x3"), (4, "a", "solo"),
             (5, "b", "x1"), (6, "b", "x2"), (7, "b", "x3"),
             (8, "c", "unrelated")],
        )
        out = self._mirrors(monkeypatch, docs, 3).collect()
        assert [(r.host_a, r.host_b, r.n_shared, r.jaccard_e4) for r in out] == [
            ("a", "b", 3, 7500)
        ]

    def test_min_shared_gates_weak_overlap(self, spark, monkeypatch):
        docs = self._hosted(
            spark, [(1, "a", "x1"), (2, "a", "x2"), (3, "b", "x1"), (4, "b", "y")]
        )
        assert self._mirrors(monkeypatch, docs, 3).count() == 0
        assert self._mirrors(monkeypatch, docs, 1).count() == 1

    def test_fp_cap_drops_template_content(self, spark, monkeypatch):
        # one fp on 4 hosts is a shared template, not a mirror signal
        rows = [(i, f"h{i}", "cookie banner") for i in range(4)]
        rows += [(10, "h0", "real1"), (11, "h0", "real2"),
                 (12, "h1", "real1"), (13, "h1", "real2")]
        docs = self._hosted(spark, rows)
        out = self._mirrors(monkeypatch, docs, 2, fp_cap=3).collect()
        # without the banner fp, h0/h1 still share the two real pages
        assert [(r.host_a, r.host_b, r.n_shared) for r in out] == [("h0", "h1", 2)]
        # raising the cap lets the banner count again
        out2 = self._mirrors(monkeypatch, docs, 3, fp_cap=64).collect()
        assert [(r.host_a, r.host_b, r.n_shared) for r in out2] == [("h0", "h1", 3)]

    def test_within_host_duplicates_count_once(self, spark, monkeypatch):
        docs = self._hosted(
            spark,
            [(1, "a", "x"), (2, "a", "x"), (3, "b", "x"), (4, "a", "y"), (5, "b", "y")],
        )
        (r,) = self._mirrors(monkeypatch, docs, 2).collect()
        # fp set of a = {x,y}, b = {x,y} -> shared 2, J = 10000
        assert (r.n_shared, r.jaccard_e4) == (2, 10000)

    def test_host_count_tables_are_broadcast(self, spark, monkeypatch):
        from tests.test_physical_plans import plan_of

        docs = self._hosted(spark, [(1, "a", "x"), (2, "b", "x"), (3, "b", "y")])
        plan = plan_of(self._mirrors(monkeypatch, docs, 1))
        assert "BroadcastHashJoin" in plan


class TestTopKPerGroup:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, grp string, score bigint")

    def test_matches_single_window_form(self, spark):
        from pyspark.sql import Window, functions as F

        rows = [(i, f"g{i % 3}", (i * 13) % 50) for i in range(60)]
        docs = self._docs(spark, rows)
        got = {(r.grp, r.doc_id) for r in T.top_k_per_group(
            docs, k=4, group_col="grp", order_expr="-score").collect()}
        naive = docs.withColumn(
            "rk", F.row_number().over(
                Window.partitionBy("grp").orderBy(F.expr("-score"), "doc_id"))
        ).where("rk <= 4")
        assert got == {(r.grp, r.doc_id) for r in naive.collect()}
        assert len(got) == 12

    def test_all_columns_pass_through(self, spark):
        docs = self._docs(spark, [(1, "g", 5), (2, "g", 9)])
        out = T.top_k_per_group(docs, k=1, group_col="grp", order_expr="-score")
        assert out.columns == ["doc_id", "grp", "score"]
        assert [r.doc_id for r in out.collect()] == [2]
