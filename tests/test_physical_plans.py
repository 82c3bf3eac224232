"""Physical-plan assertions (.explain) — the 100 TB checklist: small
sides broadcast, aggregates map-side partial, filters and projections
pushed to the parquet scan, no stray shuffles in the map-only stage."""

import pytest
from pyspark.sql import functions as F

from gumbo_pp_spark.operators import dedup as D, multimodal as M, sketches as S, textstats as T
from gumbo_pp_spark.operators.dedup import exact_dedup, minhash_signatures
from gumbo_pp_spark.operators.encoding import sniff_and_transcode
from gumbo_pp_spark.operators.extract import dom_stats, explode_nodes, extract_main_text
from gumbo_pp_spark.operators.multimodal import image_features
from gumbo_pp_spark.operators.pdf import extract_pdf_text
from gumbo_pp_spark.operators.robots import crawl_schedule, robots_filter
from gumbo_pp_spark.operators.similarity import cosine_topk
from gumbo_pp_spark.suite import q_lineitem_agg, q_top_orders_per_segment

from .conftest import SF_SMOKE


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_nodes(plan) -> list:
    """Every node of a JVM physical plan tree, in preorder."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        kids = node.children()
        stack += [kids.apply(i) for i in reversed(range(kids.size()))]
    return out


def initial_plan(df):
    """The physical plan adaptive execution starts from, before any
    stage runs (``plan_of`` renders it under ``isFinalPlan=false``)."""
    return df._jdf.queryExecution().executedPlan().initialPlan()


def window_specs(plan: str) -> list[tuple[list[str], list[str]]]:
    """(partition column names, order column names) of every window
    spec in a rendered plan."""
    import re

    out = []
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        items = [i for i in spec.split(", ") if not i.startswith("specifiedwindowframe")]
        names = [re.sub(r"#.*", "", i) for i in items]
        ordered = [(" ASC" in i or " DESC" in i) for i in items]
        k = ordered.index(True) if True in ordered else len(items)
        out.append((names[:k], names[k:]))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _pages_src(spark):
    from gumbo_pp_spark.sources.pages import synth_pages

    return synth_pages(spark, SF_SMOKE).where("doc_id < 20")


def _media_src(spark):
    return M.synth_media(spark, SF_SMOKE).where("media_id < 30")


def _robots_src(spark):
    return spark.createDataFrame(
        [("a.example", "User-agent: *\nCrawl-delay: 2\n")], "host string, robots_txt string"
    )


# runner callers over a projection of their input: name -> (build,
# source frame written to parquet with an extra unused column);
# test_pdf_readschema_pruned covers extract_pdf_text
_PRUNED_RUNNER_CALLERS = {
    "run_program": (dom_stats, _pages_src),
    "sniff_and_transcode": (sniff_and_transcode, _pages_src),
    "image_features": (image_features, _media_src),
    "crawl_schedule": (crawl_schedule, _robots_src),
}


class TestPlans:
    def test_cosine_topk_broadcasts_queries(self, spark):
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        out = cosine_topk(emb, emb.where(F.col("vec_id") % 100 == 0))
        plan = plan_of(out)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        # the big side is never shuffled before the join
        assert plan.index("Broadcast") < len(plan)

    def test_exact_dedup_partial_agg(self, spark, docs):
        plan = plan_of(exact_dedup(docs))
        # two HashAggregates around one exchange = map-side combine
        assert plan.count("HashAggregate") >= 2
        assert "partial_min" in plan or "partial_count" in plan

    def test_minhash_signatures_map_only(self, spark, docs):
        # round-8: signatures are per-document array_min expressions —
        # no aggregate, and no exchange beyond the guarded input
        # spread (the round-7 explode→groupBy planned a SortAggregate
        # because min(string) cannot hash-aggregate)
        plan = plan_of(minhash_signatures(docs))
        assert "SortAggregate" not in plan
        assert "array_min" in plan
        # only the ensure_min_parallelism round-robin spread may
        # exchange; never a hash partitioning on doc_id
        assert "hashpartitioning(doc_id" not in plan

    def test_broadcast_dim_join(self, spark):
        plan = plan_of(q_top_orders_per_segment(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan

    def test_filter_pushdown_to_scan(self, spark):
        plan = plan_of(q_lineitem_agg(spark, SF_SMOKE))
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan

    def test_extract_stage_is_map_only(self, spark):
        pages = spark.createDataFrame(
            [(1, "u", bytearray(b"<p>x</p>"))], "doc_id long, url string, html binary"
        )
        plan = plan_of(extract_main_text(pages))
        assert "Exchange" not in plan  # no shuffle anywhere in the stage

    def test_extract_readschema_pruned(self, spark, tmp_path, docs):
        from gumbo_pp_spark.sources.pages import synth_pages

        path = str(tmp_path / "p.parquet")
        synth_pages(spark, SF_SMOKE).write.parquet(path)
        out = extract_main_text(spark.read.parquet(path))
        line = [ln for ln in plan_of(out).splitlines() if "ReadSchema" in ln][0]
        assert "html" in line and "text" not in line and "lang" not in line

    def test_pdf_readschema_pruned(self, spark, tmp_path):
        from gumbo_pp_spark.sources.pdfs import synth_pdfs

        path = str(tmp_path / "p.parquet")
        synth_pdfs(spark, SF_SMOKE).selectExpr(
            "pdf", "'extra' AS text", "url", "doc_id"
        ).write.parquet(path)
        out = extract_pdf_text(spark.read.parquet(path))
        line = [ln for ln in plan_of(out).splitlines() if "ReadSchema" in ln][0]
        schema = line.split("ReadSchema:")[1]
        assert "pdf" in schema and "text" not in schema
        # output fields follow the passthrough order, not the file's
        assert out.columns == ["doc_id", "url", "text", "n_pages", "parse_ok"]
        assert out.where("text LIKE 'Doc %'").count() == 500

    @pytest.mark.parametrize("name", sorted(_PRUNED_RUNNER_CALLERS))
    def test_runner_readschema_pruned(self, spark, tmp_path, name):
        # an input column the operator does not use is never scanned
        build, src = _PRUNED_RUNNER_CALLERS[name]
        path = str(tmp_path / "in.parquet")
        src(spark).selectExpr("*", "'x' AS unused_extra").write.parquet(path)
        plan = plan_of(build(spark.read.parquet(path)))
        (line,) = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert "unused_extra" not in line.split("ReadSchema:")[1], line
        assert plan.count("MapInArrow") == 1

    def test_cap_per_host_first_window_salted(self, spark, docs, monkeypatch):
        # skew safety: phase-1 window must partition on (host, salt),
        # never on host alone, so a crawl-heavy host spreads over
        # SALT_BUCKETS bounded tasks before the exact phase-2 re-rank
        monkeypatch.setattr(T, "HOST_CAP", 3)
        monkeypatch.setattr(T, "SALT_BUCKETS", 16)
        d = docs.selectExpr("doc_id", "source || '.example.com' AS host")
        plan = plan_of(T.cap_per_host(d))
        import re

        windows = re.findall(r"Window \[.*?windowspecdefinition\(([^)]*)\)", plan)
        assert len(windows) >= 2, plan
        # executed bottom-up: the LAST Window in the plan string is
        # phase 1 — it must carry two partition keys (host + salt)
        assert "pmod" in plan and "xxhash64" in plan
        salted = [w for w in windows if "pmod" in w or "_w" in w]
        assert salted, windows

    def test_minhash_lsh_single_candidate_shuffle(self, spark, docs):
        # round-3 plan fix: candidate generation is ONE groupBy
        # (collect_list per bucket) — no band self-join, no separate
        # cap groupBy+join; the only joins left are the two signature
        # re-joins for the n_eq verification
        from gumbo_pp_spark.operators.dedup import minhash_lsh_pairs

        plan = plan_of(minhash_lsh_pairs(docs.selectExpr("doc_id", "text")))
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
        # exactly 2 joins (sa + sb); the round-2 shape had 4
        import re

        n_joins = len(re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin)", plan))
        assert n_joins == 2, f"expected 2 joins, saw {n_joins}"
        # the plan shape is invariant in (n_hashes, n_bands): the
        # production-realism 32/8 config (r7) keeps one candidate
        # shuffle + the two signature re-joins
        plan32 = plan_of(
            minhash_lsh_pairs(
                docs.selectExpr("doc_id", "text"),
                min_equal=16, n_hashes=32, n_bands=8,
            )
        )
        n_joins32 = len(re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin)", plan32))
        assert n_joins32 == 2, f"expected 2 joins, saw {n_joins32}"

    def test_simhash_pairs_single_signature_computation(self, spark, docs):
        # round-4 plan fix: the 63-bit simhash aggregate is computed
        # exactly once (cached signature DF + one array-explode band
        # table) — both sides of the (band, bkey) self-join read the
        # in-memory relation.  The round-3 shape built the band tables
        # as a 3-way unionAll over the UNCACHED signature DF, twice,
        # recomputing the per-word md5 aggregate up to 6×.
        from gumbo_pp_spark.operators.dedup import simhash_pairs

        plan = plan_of(simhash_pairs(docs.selectExpr("doc_id", "text")))
        import re

        assert plan.count("InMemoryTableScan") == 2, plan
        n_joins = len(
            re.findall(
                r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin)",
                plan,
            )
        )
        assert n_joins == 1, f"expected 1 self-join, saw {n_joins}"
        # no live (non-cached) aggregate of the simhash expression:
        # every HashAggregate mentioning md5 must sit inside an
        # InMemoryRelation printout, not in the executed top-level plan
        top = plan.split("InMemoryRelation", 1)[0]
        assert "md5" not in top, top


class TestInputSplitTuning:
    def test_level_aware_splits_give_task_waves(self, spark, tmp_path):
        """round-6: tune_input_splits sizes maxPartitionBytes off the
        input's ON-DISK bytes so the scan yields >= ~waves x cores
        splits (a fixed byte size leaves high-parallelism sessions a
        single straggler-bound task wave)."""
        from gumbo_pp_spark.plans.partitioning import input_stats, tune_input_splits

        src = str(tmp_path / "pages")
        # many small files, like the bench corpus layout
        spark.range(20_000).selectExpr(
            "id", "repeat('x', 200) as pad"
        ).repartition(64).write.parquet(src)

        total, n_files = input_stats(spark, src)
        assert n_files >= 64 and total > 0

        old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        old_open = spark.conf.get("spark.sql.files.openCostInBytes")
        try:
            cores = spark.sparkContext.defaultParallelism
            chosen = tune_input_splits(spark, src, waves=3)
            assert int(spark.conf.get("spark.sql.files.maxPartitionBytes")) == chosen
            n_splits = spark.read.parquet(src).rdd.getNumPartitions()
            # enough splits for straggler amortization (capped by the
            # file count when files cannot be subdivided)
            target = min(64, 2 * cores)
            assert n_splits >= target, (n_splits, target, chosen)
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
            spark.conf.set("spark.sql.files.openCostInBytes", old_open)

    def test_huge_input_hits_clamp(self, spark, tmp_path, monkeypatch):
        """At TB scale the computed split size hits max_split_bytes —
        the tuner never shrinks splits below the clamp floor either."""
        from gumbo_pp_spark.plans import partitioning as P

        monkeypatch.setattr(P, "input_stats", lambda s, d: (100 << 40, 1_000_000))
        confs = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
        old = {k: spark.conf.get(k) for k in confs}
        try:
            chosen = P.tune_input_splits(spark, "ignored", waves=3)
            assert chosen == 128 << 20
            tiny = P.tune_input_splits(spark, "ignored", waves=3,
                                       max_split_bytes=64 << 20)
            assert tiny == 64 << 20
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)

    def test_ensure_min_parallelism_guard(self, spark, tmp_path):
        """round-6 late: a single-row-group scan (fewer partitions than
        cores) is round-robin spread to waves x cores; an
        already-parallel input passes through IDENTICAL (no Exchange
        added — the corpus-scale no-op contract)."""
        from gumbo_pp_spark.plans import partitioning as P

        src = str(tmp_path / "one_rg")
        spark.range(5000).selectExpr("id", "repeat('w ', 40) as text") \
            .coalesce(1).write.parquet(src)
        one = spark.read.parquet(src)
        assert one.rdd.getNumPartitions() == 1
        cores = spark.sparkContext.defaultParallelism
        spread = P.ensure_min_parallelism(one)
        assert spread.rdd.getNumPartitions() == 2 * cores
        assert spread.count() == 5000

        wide = one.repartition(cores)
        assert P.ensure_min_parallelism(wide) is wide  # untouched


_MAP_OPERATORS = {
    "run_program": dom_stats,
    "extract_main_text": extract_main_text,
    "explode_nodes": explode_nodes,
    "sniff_and_transcode": sniff_and_transcode,
    "extract_pdf_text": lambda df: extract_pdf_text(df.withColumnRenamed("html", "pdf")),
    "multimodal": lambda df: image_features(df.selectExpr(
        "doc_id AS media_id", "'image' AS kind", "html AS payload",
        "16 AS width", "16 AS height")),
    "robots_filter": lambda df: robots_filter(df, df.sparkSession.createDataFrame(
        [("n.example", "User-agent: *\nDisallow: /3\n")], "host string, robots_txt string")),
    "crawl_schedule": lambda df: crawl_schedule(df.selectExpr(
        "url AS host", "CAST(html AS STRING) AS robots_txt")),
}
# operators that join a broadcast side: its BroadcastExchange ships the
# small side, never the input
_BROADCAST_SIDE = {"robots_filter"}


class TestMapOperatorsDoNotSpread:
    """Input parallelism is decided where the data is read: the
    per-document Python map operators neither probe nor spread their
    input, so a one-partition input stays one task with no exchange."""

    @pytest.mark.parametrize("name", sorted(_MAP_OPERATORS))
    def test_no_probe_no_exchange(self, spark, monkeypatch, name):
        from gumbo_pp_spark.plans import partitioning as P

        calls = []
        real = P.ensure_min_parallelism

        def spy(df, *args, **kwargs):
            calls.append(df)
            return real(df, *args, **kwargs)

        monkeypatch.setattr(P, "ensure_min_parallelism", spy)
        pages = spark.createDataFrame(
            [(i, f"https://n.example/{i}", f"<p>doc {i}</p>".encode()) for i in range(8)],
            "doc_id long, url string, html binary",
        ).coalesce(1)
        out = _MAP_OPERATORS[name](pages)
        assert calls == []
        plan = plan_of(out)
        broadcasts = plan.count("BroadcastExchange") if name in _BROADCAST_SIDE else 0
        assert plan.count("Exchange") == broadcasts, plan
        assert out.rdd.getNumPartitions() == 1


# the per-word, n-gram, window and shingle operators: name -> (build,
# number of input frames it tokenizes, {(module, constant): value})
_WORD_OPERATORS = {
    "repetition_stats": (lambda d: T.repetition_stats(d), 1, {}),
    "paragraph_chunks": (lambda d: T.paragraph_chunks(d), 1, {}),
    "contamination": (lambda d: T.contamination(d, d), 1, {(T, "CONTAMINATION_N"): 3}),
    "sentence_contamination": (lambda d: T.sentence_contamination(d, d), 1, {(T, "SENTENCE_N"): 3}),
    "repeated_windows": (lambda d: T.repeated_windows(d), 1, {(T, "WINDOW_WORDS"): 3}),
    "repeated_spans": (lambda d: T.repeated_spans(d), 1, {(T, "WINDOW_WORDS"): 3}),
    "repeated_window_stats": (lambda d: T.repeated_window_stats(d), 1, {(T, "WINDOW_WORDS"): 3}),
    "oov_stats": (lambda d: T.oov_stats(d), 1, {(T, "VOCAB_SIZE"): 4}),
    "lm_coverage": (lambda d: T.lm_coverage(d), 1, {(T, "LM_SIZE"): 4}),
    "vocab_drift": (lambda d: T.vocab_drift(d, d.where("doc_id % 2 = 0")), 2,
                    {(T, "VOCAB_SIZE"): 4}),
    "tfidf_top_terms": (lambda d: T.tfidf_top_terms(d), 1, {}),
    "word_freq_histogram": (lambda d: T.word_freq_histogram(d), 1, {}),
    "shingles": (lambda d: D.shingles(d), 1, {}),
    "minhash_signatures": (lambda d: D.minhash_signatures(d), 1, {}),
    "cms_heavy_hitters": (lambda d: S.cms_heavy_hitters(d), 1, {(S, "CMS_MIN_COUNT"): 2}),
    "kmv_distinct": (lambda d: S.kmv_distinct(d), 1, {}),
}


class TestWordOperatorsSpreadOnce:
    """The word operators take their words from
    ``textstats.split_words``, the one place they spread an
    under-parallel input: once per input frame, and never over an
    already-parallel one."""

    @staticmethod
    def _spy(monkeypatch, passthrough=False):
        import sys

        from gumbo_pp_spark.plans import partitioning as P

        callers = []
        real = P.ensure_min_parallelism

        def spy(df, *args, **kwargs):
            callers.append(sys._getframe(1).f_code.co_name)
            return df if passthrough else real(df, *args, **kwargs)

        monkeypatch.setattr(P, "ensure_min_parallelism", spy)
        return callers

    @staticmethod
    def _docs(spark, n_partitions):
        return spark.range(0, 32, 1, n_partitions).selectExpr(
            "id AS doc_id",
            "concat_ws(' ', transform(sequence(1, 8 + CAST(id % 5 AS INT)),"
            " i -> concat('w', CAST((i * id) % 7 AS STRING)))) AS text",
        )

    @staticmethod
    def _operator(monkeypatch, name):
        build, n_inputs, constants = _WORD_OPERATORS[name]
        for (module, constant), value in constants.items():
            monkeypatch.setattr(module, constant, value)
        return build, n_inputs

    @pytest.mark.parametrize("name", sorted(_WORD_OPERATORS))
    def test_guard_called_once_through_tokenizer(self, spark, monkeypatch, name):
        build, n_inputs = self._operator(monkeypatch, name)
        callers = self._spy(monkeypatch)
        build(self._docs(spark, 4).coalesce(1))
        assert callers == ["split_words"] * n_inputs

    @pytest.mark.parametrize("name", sorted(_WORD_OPERATORS))
    def test_parallel_input_gets_no_extra_exchange(self, spark, monkeypatch, name):
        build, _ = self._operator(monkeypatch, name)
        wide = self._docs(spark, 2 * spark.sparkContext.defaultParallelism)
        plan = plan_of(build(wide))
        assert "RoundRobinPartitioning" not in plan, plan
        self._spy(monkeypatch, passthrough=True)
        assert plan.count("Exchange") == plan_of(build(wide)).count("Exchange")


# every ensure_min_parallelism call site in the package and the jobs,
# as (module path, enclosing function): the readers, the word
# tokenizer, the vector-search entry, and the per-row passes the guard's
# docstring names
_GUARD_SITES = {
    ("gumbo_pp_spark/sources/pages.py", "read_pages"),
    ("gumbo_pp_spark/sources/pages.py", "load_documents"),
    ("gumbo_pp_spark/operators/textstats.py", "split_words"),
    ("gumbo_pp_spark/operators/similarity.py", "_corpus_side"),
    ("gumbo_pp_spark/operators/textstats.py", "host_quality_stats"),
    ("gumbo_pp_spark/operators/dedup.py", "simhash"),
}


# every mapInArrow call site: the row-kernel runner plus the batch
# operators its docstring names as hand-written
_MAP_IN_ARROW_SITES = {
    ("gumbo_pp_spark/plans/arrowmap.py", "map_rows"),
    ("gumbo_pp_spark/operators/extract.py", "extract_main_text"),
    ("gumbo_pp_spark/operators/extract.py", "explode_nodes"),
    ("gumbo_pp_spark/plans/lineage.py", "extract_with_resume"),
    ("gumbo_pp_spark/sources/warc.py", "read_warc_cdx"),
}


def _program_sites(match_call=None, match_import=None):
    """(module path, enclosing function) of every call whose callee
    name satisfies ``match_call``, and every import of a module
    satisfying ``match_import``, in ``gumbo_pp_spark/`` and ``jobs/``."""
    import ast
    from pathlib import Path

    class Sites(ast.NodeVisitor):
        fn = "<module>"

        def __init__(self, path):
            self.path, self.found = path, []

        def visit_FunctionDef(self, node):
            outer, self.fn = self.fn, node.name
            self.generic_visit(node)
            self.fn = outer

        def visit_Call(self, node):
            f = node.func
            name = getattr(f, "id", getattr(f, "attr", None))
            if match_call and name and match_call(name):
                self.found.append((self.path, self.fn))
            self.generic_visit(node)

        def visit_Import(self, node):
            if match_import and any(match_import(a.name) for a in node.names):
                self.found.append((self.path, self.fn))

        def visit_ImportFrom(self, node):
            if match_import and node.level == 0 and match_import(node.module):
                self.found.append((self.path, self.fn))

    root = Path(__file__).resolve().parents[1]
    sites = []
    for path in [*root.joinpath("gumbo_pp_spark").rglob("*.py"),
                 *root.joinpath("jobs").rglob("*.py")]:
        v = Sites(path.relative_to(root).as_posix())
        v.visit(ast.parse(path.read_text(), str(path)))
        sites += v.found
    return sorted(sites)


def test_guard_call_sites_are_pinned():
    from gumbo_pp_spark.plans import partitioning as P

    sites = _program_sites(lambda name: name == "ensure_min_parallelism")
    assert sites == sorted(_GUARD_SITES), sites
    for _path, fn in _GUARD_SITES:
        assert fn in P.ensure_min_parallelism.__doc__, fn


def test_map_in_arrow_call_sites_are_pinned():
    from gumbo_pp_spark.plans import arrowmap

    sites = _program_sites(lambda name: name == "mapInArrow")
    assert sites == sorted(_MAP_IN_ARROW_SITES), sites
    for _path, fn in _MAP_IN_ARROW_SITES:
        assert fn in arrowmap.__doc__, fn


def test_no_pandas_operators():
    """One way to run Python over Arrow: no pandas import and no pandas
    UDF operator anywhere in the program."""
    sites = _program_sites(
        lambda name: name.startswith("applyInPandas") or name == "mapInPandas",
        lambda module: module == "pandas" or module.startswith("pandas."),
    )
    assert sites == [], sites


def _option_values(root=None) -> dict[str, set[str]]:
    """``path::function(param)`` -> the values each defaulted parameter
    of a public top-level function or public class method in
    ``gumbo_pp_spark/`` takes across the system's calls
    (callee ``Name`` id or ``Attribute`` attr equal to its name) in the
    program, the jobs, perfbench, ``bench.py``, ``__spark_entry__.py``
    and ``selfcheck.py`` — tests are not callers.  A call that omits the
    parameter uses its default; a literal argument is its ``repr``; any
    other expression (and a position a ``*args`` splat covers) is
    ``"<variable>"``, except a ``Name`` or ``Attribute`` naming an
    upper-case constant that the system files assign one literal at
    module level, which is that literal.  A ``**name`` splat sets only
    the keys a system
    file builds into ``name`` (``name = {..}``, ``name = dict(..)``,
    ``name[key] = ..``, or keyword arguments to a function whose
    ``**name`` parameter it is) and otherwise leaves the default."""
    import ast
    from pathlib import Path

    def literal(node):
        try:
            return repr(ast.literal_eval(node))
        except (ValueError, TypeError, SyntaxError):
            return "<variable>"

    root = Path(root or Path(__file__).resolve().parents[1])
    program = sorted(root.joinpath("gumbo_pp_spark").rglob("*.py"))
    system = [*program, *root.joinpath("jobs").rglob("*.py"),
              *root.joinpath("perfbench").rglob("*.py"),
              *(root / f for f in ("bench.py", "__spark_entry__.py", "selfcheck.py")
                if (root / f).exists())]

    # upper-case name -> the literals module-level assignments give it
    constants: dict[str, set[str]] = {}
    for path in system:
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value:
                for t in node.targets if isinstance(node, ast.Assign) else [node.target]:
                    if isinstance(t, ast.Name) and t.id.isupper():
                        constants.setdefault(t.id, set()).add(literal(node.value))

    def value(node):
        name = getattr(node, "id", getattr(node, "attr", None))
        if isinstance(node, (ast.Name, ast.Attribute)) and len(constants.get(name, ())) == 1:
            return next(iter(constants[name]))
        return literal(node)

    # callee name -> calls; dict name -> [(key -> value, key set alone)];
    # ``**name`` parameter -> functions declaring it
    calls: dict[str, list[ast.Call]] = {}
    builds: dict[str, list[tuple[dict[str, str], bool]]] = {}
    forwarders: dict[str, list[ast.FunctionDef]] = {}
    for path in system:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", getattr(node.func, "attr", None))
                calls.setdefault(name, []).append(node)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value:
                v = node.value
                for t in node.targets if isinstance(node, ast.Assign) else [node.target]:
                    if isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name):
                        builds.setdefault(t.value.id, []).append(({value(t.slice): value(v)}, True))
                    elif isinstance(t, ast.Name) and isinstance(v, ast.Dict):
                        builds.setdefault(t.id, []).append(
                            ({value(k): value(x) for k, x in zip(v.keys, v.values) if k}, False))
                    elif isinstance(t, ast.Name) and getattr(getattr(v, "func", None), "id", None) == "dict":
                        builds.setdefault(t.id, []).append(
                            ({repr(k.arg): value(k.value) for k in v.keywords if k.arg}, False))
            elif isinstance(node, ast.FunctionDef) and node.args.kwarg:
                forwarders.setdefault(node.args.kwarg.arg, []).append(node)

    def through(name, param, default, seen):
        # values `param` takes through a `**name` splat
        if name in seen:
            return {"<variable>"}
        out = set()
        for keys, alone in builds.get(name, ()):
            if repr(param) in keys:
                out |= {keys[repr(param)], default} if alone else {keys[repr(param)]}
            elif not alone:
                out.add(default)
        for fn in forwarders.get(name, ()):
            a = fn.args
            if param not in {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}:
                for c in calls.get(fn.name, ()):
                    out |= by_keyword(c, param, default, seen | {name})
        return out or {default}

    def by_keyword(c, param, default, seen=frozenset()):
        for k in c.keywords:
            if k.arg == param:
                return {value(k.value)}
        out = set()
        for k in c.keywords:
            if k.arg is None and isinstance(k.value, ast.Name):
                out |= through(k.value.id, param, default, seen)
            elif k.arg is None and isinstance(k.value, ast.Dict):
                keys = {value(x): value(y) for x, y in zip(k.value.keys, k.value.values) if x}
                out.add(keys.get(repr(param), default))
            elif k.arg is None:
                out.add("<variable>")
        return out or {default}

    options = {}
    for path in program:
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        fns = [(f.name, f, 0) for f in tree.body if isinstance(f, ast.FunctionDef)]
        for cls in tree.body:
            if isinstance(cls, ast.ClassDef) and not cls.name.startswith("_"):
                fns += [(f"{cls.name}.{m.name}", m, 0 if any(
                    getattr(d, "id", None) == "staticmethod" for d in m.decorator_list) else 1)
                    for m in cls.body if isinstance(m, ast.FunctionDef)]
        for qual, fn, skip in fns:
            if fn.name.startswith("_"):
                continue
            a = fn.args
            pos = (a.posonlyargs + a.args)[skip:]
            first = len(pos) - len(a.defaults)
            params = [(p.arg, i, a.defaults[i - first]) for i, p in enumerate(pos) if i >= first]
            params += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            for arg, i, d in params:
                default = value(d) if value(d) != "<variable>" else f"<{ast.unparse(d)}>"
                values = set()
                for c in calls.get(fn.name, ()):
                    star = next((j for j, x in enumerate(c.args) if isinstance(x, ast.Starred)), None)
                    if i is not None and star is not None and star <= i:
                        values.add("<variable>")
                    elif i is not None and i < len(c.args):
                        values.add(value(c.args[i]))
                    else:
                        values |= by_keyword(c, arg, default)
                options[f"{rel}::{qual}({arg})"] = values
    return options


@pytest.mark.parametrize("caller, values", [
    # a module constant passed by name is its literal
    ("ops.f(1, k=ops.K)\nops.f(2, ops.K)\n", {"3"}),
    # an omitted argument is the default
    ("ops.f(1)\nops.f(2, k=6)\n", {"5", "6"}),
    # any other expression is variable
    ("ops.f(1, k=len('ab'))\n", {"<variable>"}),
    # a **name splat sets only the keys a system file builds
    ("kw = {'k': 7}\nops.f(1, **kw)\n", {"7"}),
    ("kw = {'x': 7}\nops.f(1, **kw)\n", {"5"}),
], ids=["constant", "omitted", "variable", "splat-key", "splat-other-key"])
def test_option_values_rules(tmp_path, caller, values):
    """:func:`_option_values` over a two-module package: the values
    ``f(k)`` takes from a jobs caller; a test's call is not counted."""
    for d, name, src in (
        ("gumbo_pp_spark", "ops.py", "K = 3\n\n\ndef f(x, k=5):\n    return x\n"),
        ("jobs", "run.py", "from gumbo_pp_spark import ops\n\n" + caller),
        ("tests", "test_ops.py", "from gumbo_pp_spark import ops\n\nops.f(1, k=9)\n"),
    ):
        (tmp_path / d).mkdir()
        (tmp_path / d / name).write_text(src)
    assert _option_values(tmp_path) == {"gumbo_pp_spark/ops.py::f(k)": values}


# public defaults the system sets one way that stay options -> reason
_FIXED_OPTIONS = {
    "gumbo_pp_spark/parser/html5.py::parse_html(options)":
        "paper API: GumboOptions (src/gumbo_pp.cpp:27-31)",
    "gumbo_pp_spark/nodetable.py::NodeTable.error_positions(tab_stop)":
        "paper API: the GumboOptions.tab_stop source positions (src/gumbo_pp.cpp:27-31)",
    "gumbo_pp_spark/nodetable.py::NodeTable.iter_matches(start)":
        "paper API: daw::find_iterator from a position (table_scrape.cpp:54-62)",
    "gumbo_pp_spark/plans/lineage.py::vacuum_uncommitted(min_age_sec)":
        "safety: a writer attempt younger than this may still be running",
    "gumbo_pp_spark/sources/pdfs.py::make_pdf(compress)":
        "input form: the uncompressed streams the PDF parser must accept",
}


def test_every_option_is_set_two_ways():
    """An option is a public defaulted parameter the system sets to at
    least two values (:func:`_option_values`: a variable counts as
    many, an omitted argument as the default).  One the system sets
    one way is a constant, unless ``_FIXED_OPTIONS`` gives a reason."""
    options = _option_values()
    print(f"{len(options)} public defaults")
    fixed = {k: v for k, v in options.items() if "<variable>" not in v and len(v) < 2}
    found = sorted(fixed.keys() - _FIXED_OPTIONS.keys())
    report = "".join(f"\n  {k}: {{{', '.join(sorted(fixed[k]))}}}" for k in found)
    assert found == [], f"{len(found)} set one way ({len(options)} public defaults):{report}"
    # an entry the system now sets two ways, or that is gone, leaves the list
    stale = sorted(_FIXED_OPTIONS.keys() - fixed.keys())
    assert stale == [], f"stale _FIXED_OPTIONS entries: {stale}"


# definitions that no root reaches and that stay: (module path, name or
# Class.method) -> reason
_UNREACHED = {
    ("gumbo_pp_spark/matchers.py", "find_some"):
        "paper API: daw::algorithm::find_some as gumbo_pp uses it (test.cpp:96-102)",
    ("gumbo_pp_spark/nodetable.py", "to_string"):
        "paper API: the node-type names of gumbo_util.h:161-180",
    ("gumbo_pp_spark/nodetable.py", "NodeTable.next_sibling"):
        "paper API: iterator next_sibling() (gumbo_node_iterator.h:131-145), without its bug",
    ("gumbo_pp_spark/nodetable.py", "NodeTable.last_sibling"):
        "paper API: iterator last_sibling() (gumbo_node_iterator.h:147-156)",
    ("gumbo_pp_spark/nodetable.py", "NodeTable.iter_matches"):
        "paper API: daw::find_iterator over DFS order as table_scrape.cpp:54-62 uses it",
    ("gumbo_pp_spark/nodetable.py", "NodeTable.node_start_offset"):
        "paper API: node_start_offset (gumbo_util.h:121-132)",
    ("gumbo_pp_spark/nodetable.py", "NodeTable.error_positions"):
        "paper API: gumbo_range::errors() (gumbo_node_iterator.h:235-249) with the "
        "GumboOptions.tab_stop source positions (src/gumbo_pp.cpp:27-31)",
    ("gumbo_pp_spark/plans/lineage.py", "vacuum_uncommitted"):
        "north-rule lineage: removes the run directories of killed or abandoned runs",
    ("gumbo_pp_spark/parser/serialize.py", "serialize_tree"):
        "reference: the html5lib tree format the conformance corpus compares",
    ("gumbo_pp_spark/parser/serialize.py", "serialize_fragment"):
        "reference: the html5lib fragment format the conformance corpus compares",
    ("gumbo_pp_spark/parser/bytemap.py", "_char_starts_bytewise"):
        "reference: the bytewise form test_bytemap.py checks the vectorized map against",
}


def test_every_definition_is_reached():
    """Every top-level ``def``/``class`` of ``gumbo_pp_spark/`` and
    ``jobs/``, and every method of those classes but the dunders, is
    reached from a root, following referenced names (``Name`` ids and
    ``Attribute`` attrs) transitively, or is on ``_UNREACHED`` with its
    reason.  A method is reached by its name, not by its class.  The roots are module-level code
    (which holds ``suite.QUERIES``), every ``jobs/`` definition, module
    hooks such as ``__getattr__``, ``__spark_entry__.py``, ``bench.py``,
    ``selfcheck.py`` and ``perfbench/*.py``.  Tests are not roots: code
    that only a test reaches is deleted with its test."""
    import ast
    from pathlib import Path

    def names(node):
        return {n.id if isinstance(n, ast.Name) else n.attr for n in ast.walk(node)
                if isinstance(n, (ast.Name, ast.Attribute))}

    root = Path(__file__).resolve().parents[1]
    # name -> [(module path, qualified name, nodes whose names it reaches)]
    defs: dict[str, list[tuple[str, str, list[ast.AST]]]] = {}
    reached = set()
    for path in [*root.joinpath("gumbo_pp_spark").rglob("*.py"),
                 *root.joinpath("jobs").rglob("*.py")]:
        rel = path.relative_to(root).as_posix()
        for node in ast.parse(path.read_text(), str(path)).body:
            if (isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and not rel.startswith("jobs/") and not node.name.startswith("__")):
                methods = ([m for m in node.body if isinstance(m, ast.FunctionDef)
                            and not m.name.startswith("__")]
                           if isinstance(node, ast.ClassDef) else [])
                # a class reaches its bases, decorators, attributes and
                # dunder methods; each other method is reached by its name
                own = [n for n in ast.iter_child_nodes(node) if n not in methods]
                defs.setdefault(node.name, []).append((rel, node.name, own))
                for m in methods:
                    defs.setdefault(m.name, []).append((rel, f"{node.name}.{m.name}", [m]))
            else:
                reached |= names(node)
    for path in [root / "__spark_entry__.py", root / "bench.py", root / "selfcheck.py",
                 *root.joinpath("perfbench").glob("*.py")]:
        reached |= names(ast.parse(path.read_text(), str(path)))
    todo = list(reached)
    while todo:
        for _rel, _qual, nodes in defs.get(todo.pop(), ()):
            new = set().union(*map(names, nodes)) - reached
            reached |= new
            todo += new
    unreached = {(rel, qual) for name, found in defs.items() if name not in reached
                 for rel, qual, _nodes in found}
    stray = sorted(unreached - _UNREACHED.keys())
    assert stray == [], f"{len(stray)} reached by no root: {stray}"
    # an entry whose definition is gone or now reached leaves the list
    stale = sorted(_UNREACHED.keys() - unreached)
    assert stale == [], f"stale _UNREACHED entries: {stale}"


def test_revenue_by_nation_broadcasts_all_dims(spark):
    # TPC-H Q5 analogue: every dimension side must broadcast; the only
    # wide exchanges are the final groupBy (and AQE bookkeeping) — the
    # lineitem fact table is never shuffled for a dim join
    from gumbo_pp_spark.suite import q_revenue_by_nation

    plan = plan_of(q_revenue_by_nation(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    assert "SortMergeJoin" not in plan


class TestSessionFourPlans:
    """Session-4 operators: the 100 TB plan shapes hold."""

    def test_gopher_rules_is_map_only(self, spark, docs):
        from gumbo_pp_spark.operators.textstats import gopher_rules

        plan = plan_of(gopher_rules(docs))
        assert "Exchange" not in plan
        assert "Python" not in plan  # whole-stage codegen, no UDF

    def test_mixture_rates_map_side_combined(self, spark, docs):
        from gumbo_pp_spark.operators.textstats import mixture_rates

        plan = plan_of(mixture_rates(docs, {"src0": 5000, "src1": 5000}))
        # token count per source: partial agg before the exchange, and
        # the 1-row binding constants arrive broadcast
        assert "partial_sum" in plan
        assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan

    def test_select_token_budget_has_no_global_sort(self, spark, docs, monkeypatch):
        from gumbo_pp_spark.operators.packing import select_token_budget

        monkeypatch.setattr(T, "LM_SIZE", 16)
        scored = docs.join(
            T.lm_coverage(docs).select(
                "doc_id", F.col("coverage_e4").alias("score")
            ),
            "doc_id",
        )
        plan = plan_of(select_token_budget(scored, 5000, "score"))
        # the corpus is never range-partitioned for a global sort; the
        # only single-partition work is the scores-sized histogram
        assert "rangepartitioning" not in plan
        assert "partial_sum" in plan  # histogram is map-side combined

    def test_select_token_budget_boundary_window_block_split(self, spark, docs, monkeypatch):
        # VERDICT r7 #2: the boundary-score cumulative window must
        # partition on (score, blk) so a dominant boundary score never
        # concentrates one window partition.  Fixture: >50% of rows
        # share the boundary score.
        from gumbo_pp_spark.operators import packing as P

        monkeypatch.setattr(P, "BLOCK_SIZE", 5)
        scored = docs.selectExpr(
            "doc_id", "text",
            "CAST(CASE WHEN doc_id % 2 = 0 THEN 100 "
            "ELSE doc_id % 7 END AS BIGINT) AS score",
        )
        out = P.select_token_budget(scored, 500, "score")
        specs = window_specs(plan_of(out))
        doc_windows = [part for part, by in specs if "doc_id" in by]
        assert doc_windows, "expected the within-block cumsum window"
        assert all("blk" in part for part in doc_windows), specs
        # and the dominant-score fixture still yields the exact greedy
        # prefix (budget 500 → a strict subset of the boundary score)
        rows = out.collect()
        assert 0 < len(rows) < 500

    @pytest.mark.parametrize("caller", ["pack_sequences", "select_token_budget",
                                        "shard_frontier"])
    def test_running_sum_windows_partition_by_block(self, spark, docs, caller):
        # VERDICT r7 #1: every window of a running_sum caller that
        # orders by the row order also partitions by the block, so no
        # window over rows spans a whole part (a shard, a boundary
        # score, a host); the part-only window is the block-offset
        # roll-up over the aggregated block table
        from gumbo_pp_spark.operators.packing import pack_sequences, select_token_budget
        from gumbo_pp_spark.operators.robots import shard_frontier

        build, order, block = {
            "pack_sequences": (lambda: pack_sequences(docs), "doc_id", "blk"),
            "select_token_budget": (lambda: select_token_budget(docs.selectExpr(
                "doc_id", "text", "CAST(doc_id % 2 * 100 AS BIGINT) AS score"), 500, "score"),
                "doc_id", "blk"),
            "shard_frontier": (lambda: shard_frontier(
                docs.selectExpr("concat('h', doc_id % 3) AS host",
                                "concat('https://h/', doc_id) AS url"),
                spark.createDataFrame([("h0", 2)], "host string, fetch_budget bigint")),
                "url", "_bkt"),
        }[caller]
        specs = window_specs(plan_of(build()))
        row_windows = [(part, by) for part, by in specs if order in by]
        assert row_windows, specs
        assert all(block in part for part, _ in row_windows), row_windows

    def test_lm_coverage_corpus_never_shuffled_on_bigram(self, spark, docs, monkeypatch):
        monkeypatch.setattr(T, "LM_SIZE", 16)
        plan = plan_of(T.lm_coverage(docs))
        final = plan.split("== Initial Plan ==")[0]
        # model side broadcast; the only hash exchanges are the model
        # build and the doc-keyed agg — never a bigram-keyed corpus one
        assert "BroadcastHashJoin" in final
        assert final.count("hashpartitioning(bigram") <= 1
