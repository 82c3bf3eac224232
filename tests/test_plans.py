"""Scale-mechanics tests: skew salting, size-balanced bins,
checkpoint/lineage resume (SURVEY.md §7 M3)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gumbo_pp_spark.plans.lineage import PartitionLedger, extract_with_resume, read_extracted
from gumbo_pp_spark.plans import partitioning
from gumbo_pp_spark.plans.partitioning import running_sum, salt_skewed_keys, size_balanced_bins
from gumbo_pp_spark.sources.pages import synth_pages, synth_pages_bench

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def skewed(spark):
    # heavy-host corpus: ~50% of rows share one host
    return synth_pages_bench(spark, SF_SMOKE, replicate=4, paragraphs=2).cache()


@pytest.fixture
def salting(monkeypatch):
    # 16 partitions, a key salted above 2x the mean partition load
    monkeypatch.setattr(partitioning, "SALT_PARTITIONS", 16)
    monkeypatch.setattr(partitioning, "SKEW_FACTOR", 2.0)


class TestSalting:
    def test_heavy_host_split_across_partitions(self, spark, skewed, salting):
        n = 16
        total = skewed.count()
        salted = salt_skewed_keys(skewed)
        per_part = (
            salted.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        max_load = max(r["count"] for r in per_part)
        heavy_rows = skewed.where(F.col("url").contains("heavy-host")).count()
        # unsalted, the heavy host (~half the corpus) lands in ONE
        # partition; salted, the straggler is gone: no partition holds
        # more than half the heavy key or 4x the mean
        assert max_load < 0.5 * heavy_rows, f"max {max_load}, heavy {heavy_rows}"
        assert max_load < 4.0 * total / n, f"max {max_load} of {total} in {n} parts"

    def test_salts_only_heavy_keys(self, spark, skewed, salting):
        salted = salt_skewed_keys(skewed)
        per_key = salted.groupBy("part_key").agg(F.countDistinct("salt").alias("s")).collect()
        fanout = {r["part_key"]: r["s"] for r in per_key}
        assert fanout["heavy-host.example.com"] > 1
        light = [v for k, v in fanout.items() if k != "heavy-host.example.com"]
        assert all(v == 1 for v in light)


class TestSizeBins:
    def test_bins_bounded_by_target(self, spark, skewed, monkeypatch):
        target = 512 * 1024
        monkeypatch.setattr(partitioning, "BIN_TARGET_BYTES", target)
        binned = size_balanced_bins(skewed)
        per_bin = (
            binned.groupBy("size_bin").agg(F.sum("doc_bytes").alias("b")).collect()
        )
        total = sum(r["b"] for r in per_bin)
        # every bin under ~2x target (sub-binned oversize keys can halve
        # unevenly); no empty-corpus degenerate plan
        assert len(per_bin) >= total // (2 * target)
        for r in per_bin:
            assert r["b"] <= 2 * target, (r["size_bin"], r["b"])


class TestLineageResume:
    def test_kill_resume_no_reparse(self, spark, tmp_path):
        out_dir = str(tmp_path / "extract_out")
        pages = synth_pages(spark, SF_SMOKE)

        # run 1 "dies" after committing 5 of 16 splits
        r1 = extract_with_resume(spark, pages, out_dir, n_splits=16, max_splits_this_run=5)
        assert r1["splits_processed"] == 5 and r1["skipped"] == 0

        # run 2 resumes: processes ONLY the remaining 11
        r2 = extract_with_resume(spark, pages, out_dir, n_splits=16)
        assert r2["splits_processed"] == 11
        assert r2["skipped"] == 5
        assert r2["run_id"] != r1["run_id"]

        # run 3 is a no-op
        r3 = extract_with_resume(spark, pages, out_dir, n_splits=16)
        assert r3["splits_processed"] == 0 and r3["skipped"] == 16
        # same result shape as a run that did work
        assert r3.keys() == r2.keys() and r3["wall_ms"] == 0

        # committed union is complete, exactly-once, and byte-identical
        got = read_extracted(spark, out_dir)
        assert got.count() == 500
        assert got.select("doc_id").distinct().count() == 500
        joined = got.join(
            pages.select("doc_id", F.col("text").alias("orig")), "doc_id"
        ).collect()
        for r in joined:
            assert r.text == f"Heading {r.doc_id}{r.orig}"

    def test_uncommitted_runs_invisible(self, spark, tmp_path):
        import shutil

        out_dir = str(tmp_path / "extract_out2")
        pages = synth_pages(spark, SF_SMOKE)
        r1 = extract_with_resume(spark, pages, out_dir, n_splits=8, max_splits_this_run=2)
        # fake a partial run that wrote a readable file but never committed
        data = os.path.join(out_dir, "data")
        part = sorted(os.listdir(os.path.join(data, f"run={r1['run_id']}")))[0]
        os.makedirs(os.path.join(data, "run=deadbeef"))
        shutil.copy(os.path.join(data, f"run={r1['run_id']}", part),
                    os.path.join(data, "run=deadbeef", part))
        got = read_extracted(spark, out_dir)
        assert {r.run for r in got.select("run").distinct().collect()} == {r1["run_id"]}
        assert got.count() == r1["rows"]


class TestLedgerManifest:
    """VERDICT r6 #7: committed() must be O(1) file reads, not one JSON
    open per split — every committed record lives in manifest.json."""

    DDL = "doc_id bigint, split_id int"

    def _rec(self, s, run="r0"):
        return {"split_id": s, "run_id": run, "rows": 1}

    def test_one_commit_is_one_manifest_write(self, tmp_path):
        from gumbo_pp_spark.plans.lineage import PartitionLedger

        led = PartitionLedger(str(tmp_path / "led"))
        led.commit(self.DDL, 128, *(self._rec(s) for s in range(100)))
        assert os.listdir(led.path) == [led.MANIFEST]
        assert led.committed() == {s: self._rec(s) for s in range(100)}
        # a later commit replaces split 5 and adds split 100
        led.commit(self.DDL, 128, self._rec(5, run="r1"), self._rec(100, run="r1"))
        recs = led.committed()
        assert len(recs) == 101
        assert recs[5]["run_id"] == "r1" and recs[100]["run_id"] == "r1"
        assert all(recs[s]["run_id"] == "r0" for s in range(100) if s != 5)
        assert os.listdir(led.path) == [led.MANIFEST]
        # the DDL and n_splits are stored once, not per record
        assert led._load()[:2] == (self.DDL, 128)

    def test_large_ledger_loads_in_o1_file_reads(self, tmp_path, monkeypatch):
        import builtins

        from gumbo_pp_spark.plans import lineage as L

        led = L.PartitionLedger(str(tmp_path / "big"))
        recs = {"version": 2, "schema": self.DDL,
                "records": [self._rec(s) for s in range(100_000)]}
        import json as _json

        with open(f"{led.path}/{led.MANIFEST}", "w") as f:
            _json.dump(recs, f)
        opens = []
        real_open = builtins.open
        monkeypatch.setattr(
            builtins, "open", lambda *a, **k: opens.append(a[0]) or real_open(*a, **k)
        )
        got = led.committed()
        assert len(got) == 100_000
        assert len(opens) == 1  # the manifest only

    def test_run_commits_with_one_ledger_write(self, spark, tmp_path, monkeypatch):
        from gumbo_pp_spark.plans import lineage as L

        out_dir = str(tmp_path / "one_write")
        pages = synth_pages(spark, SF_SMOKE).limit(64)
        replaced = []
        real_replace = os.replace
        # patched in this (driver) process only: it sees the ledger's
        # renames, not those of the writer tasks' Python workers
        monkeypatch.setattr(
            L.os, "replace", lambda a, b: replaced.append(b) or real_replace(a, b)
        )
        res = extract_with_resume(spark, pages, out_dir, n_splits=8)
        ledger_dir = os.path.join(out_dir, "_ledger")
        assert [p for p in replaced if p.startswith(ledger_dir)] == [
            os.path.join(ledger_dir, L.PartitionLedger.MANIFEST)
        ]
        assert res["splits_processed"] == 8
        assert len(L.PartitionLedger(ledger_dir).committed()) == 8


class TestSizeBinsOversized:
    def test_oversized_key_split_across_subbins(self, spark, monkeypatch):
        from pyspark.sql import functions as F

        # one host carries far more bytes than the target bin size
        rows = [(f"https://big.example/{i}", bytearray(b"x" * 5000)) for i in range(200)]
        rows += [(f"https://h{i}.example/x", bytearray(b"y" * 100)) for i in range(20)]
        df = spark.createDataFrame(rows, "url string, html binary")
        monkeypatch.setattr(partitioning, "BIN_TARGET_BYTES", 100_000)
        binned = size_balanced_bins(df)
        big = binned.where(F.col("part_key") == "big.example")
        n_bins = big.select("size_bin").distinct().count()
        assert n_bins == 10  # 1,000,000 bytes / 100,000 target
        per_bin = big.groupBy("size_bin").agg(F.sum("doc_bytes").alias("b")).collect()
        for r in per_bin:
            assert r["b"] <= 2 * 100_000


class TestRunningSum:
    """running_sum equals the one unbounded window over the part, on
    any block layout."""

    DDL = "id bigint, part bigint, blk bigint, v bigint"

    @staticmethod
    def _single_window(df):
        from pyspark.sql import Window

        w = (Window.partitionBy("part").orderBy("blk", "id")
             .rowsBetween(Window.unboundedPreceding, -1))
        return {r.id: r.s for r in df.where("part IS NOT NULL AND blk IS NOT NULL").select(
            "id", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("s")).collect()}

    def _rows(self, case):
        if case == "dense":
            # blocks of 8 consecutive ids per part: every part spans
            # >= 3 blocks; NULL part and block rows are dropped
            rows = [(i, i % 3, i // 24, 1 + i % 7) for i in range(200)]
            return rows + [(1000, None, 0, 5), (1001, 0, None, 5)]
        if case == "sparse":
            # hashed-looking ids, negative ones included: blocks are few,
            # unevenly filled and far apart
            ids = [(i * 0x9E3779B97F4A7C15) % (1 << 64) - (1 << 63) for i in range(1, 150)]
            return [(x, x % 4, x // (1 << 61), 1 + x % 11) for x in ids]
        if case == "one_part":
            return [(i, 0, i // 10, 1 + i % 5) for i in range(100)]
        return []

    @pytest.mark.parametrize("case", ["dense", "sparse", "one_part", "empty"])
    def test_equals_single_window(self, spark, case):
        df = spark.createDataFrame(self._rows(case), self.DDL)
        got = {r.id: r.s for r in running_sum(df, "part", "blk", ("id",), "v", "s").collect()}
        assert got == self._single_window(df)
        if case == "dense":
            assert len({(p, b) for _, p, b, _ in self._rows(case)}) >= 3 * 3

    def test_pack_sequences_equals_single_window_over_small_blocks(self, spark, monkeypatch):
        # BLOCK_SIZE is read at call time: 4 doc_ids per shard block,
        # so each of the 3 shards spans 5 blocks of 60 dense doc_ids
        from gumbo_pp_spark.operators import packing as P

        monkeypatch.setattr(P, "BLOCK_SIZE", 4)
        monkeypatch.setattr(P, "PACK_SHARDS", 3)
        df = spark.createDataFrame([(i, " ".join(["w"] * (1 + i % 6))) for i in range(60)],
                                   "doc_id bigint, text string")
        got = {r.doc_id: r.start_tok for r in P.pack_sequences(df).collect()}
        assert got == self._single_window(df.selectExpr(
            "doc_id AS id", "doc_id % 3 AS part", "0L AS blk",
            "CAST(size(split(text, ' ')) AS BIGINT) AS v"))


class TestEmptySplitResume:
    def test_all_pending_splits_empty_commits_zero_rows(self, spark, tmp_path):
        # sparse corpus vs n_splits: some splits hold zero pages; a
        # resume run whose pending set is ALL-empty must commit
        # zero-row ledger records instead of crashing on the schemaless
        # output directory (round-1 ADVICE lineage.py finding)
        from gumbo_pp_spark.plans.lineage import PartitionLedger

        out_dir = str(tmp_path / "sparse")
        empty = synth_pages(spark, SF_SMOKE).limit(0)
        r1 = extract_with_resume(spark, empty, out_dir, n_splits=8)
        assert r1["splits_processed"] == 8
        recs = PartitionLedger(f"{out_dir}/_ledger").committed()
        assert len(recs) == 8
        assert all(r["rows"] == 0 for r in recs.values())
        # and the follow-up run sees them committed (no crash loop)
        r2 = extract_with_resume(spark, empty, out_dir, n_splits=8)
        assert r2["splits_processed"] == 0 and r2["skipped"] == 8

    def test_all_empty_table_reads_as_empty_frame_of_stored_schema(self, spark, tmp_path):
        out_dir = str(tmp_path / "empty")
        empty = synth_pages(spark, SF_SMOKE).limit(0)
        extract_with_resume(spark, empty, out_dir, n_splits=4)
        ddl, _, recs = PartitionLedger(f"{out_dir}/_ledger")._load()
        assert len(recs) == 4 and all(r["rows"] == 0 for r in recs.values())
        assert not os.path.exists(os.path.join(out_dir, "data"))  # no file was written
        got = read_extracted(spark, out_dir)
        assert got.schema.simpleString() == StructType.fromDDL(ddl + ", run string").simpleString()
        assert got.count() == 0


class TestLedgerMetrics:
    def test_per_stage_metrics_recorded(self, spark, tmp_path):
        from gumbo_pp_spark.plans.lineage import PartitionLedger

        out_dir = str(tmp_path / "m")
        pages = synth_pages(spark, SF_SMOKE).limit(64)
        extract_with_resume(spark, pages, out_dir, n_splits=4)
        recs = PartitionLedger(f"{out_dir}/_ledger").committed()
        assert len(recs) == 4
        for rec in recs.values():
            assert set(rec) == {"split_id", "run_id", "rows", "bytes", "parse_ms",
                                "parse_errors", "c_docs", "py_docs",
                                "wall_ms", "run_wall_ms", "committed_at"}
        assert sum(r["rows"] for r in recs.values()) == 64
        assert sum(r["parse_ms"] for r in recs.values()) >= 0

    def test_engine_engagement_telemetry(self, spark, tmp_path):
        # round-6: lineage records carry (c_docs, py_docs) so a 100 TB
        # run can see what fraction of documents paid the ~10x slower
        # Python-tail price; they must sum to the split row count
        from gumbo_pp_spark.parser import cengine
        from gumbo_pp_spark.plans.lineage import PartitionLedger

        out_dir = str(tmp_path / "eng")
        pages = synth_pages(spark, SF_SMOKE).limit(64)
        extract_with_resume(spark, pages, out_dir, n_splits=4)
        recs = PartitionLedger(f"{out_dir}/_ledger").committed()
        assert len(recs) == 4
        for rec in recs.values():
            assert rec["c_docs"] + rec["py_docs"] == rec["rows"], rec
        total_c = sum(r["c_docs"] for r in recs.values())
        if cengine.available():
            # the synthetic corpus is fully inside the C subset
            assert total_c == 64
        else:  # pragma: no cover - C engine disabled in this env
            assert total_c == 0


def _dirty_pages(spark):
    """Dirty-crawl mix: ASCII, CRLF, multibyte, invalid UTF-8,
    NUL-bearing and colgroup-NUL pages (the last bail to the Python
    engine, ``c_engine = 0``), some with parse errors."""
    kinds = [
        lambda i: f"<html><body><p>ascii {i}</p></body></html>".encode(),
        lambda i: f"<html>\r\n<body>\r\n<p>crlf {i}</p>\r\n</body></html>".encode(),
        lambda i: f"<p>Béta € 😀 日本語 {i}</p>".encode(),
        lambda i: b"\xff\xfe<p>invalid " + str(i).encode() + b"</p>",
        lambda i: b"<p>x\x00y " + str(i).encode() + "</p><p>中文\x00</p>".encode(),
        lambda i: b"<table><colgroup>\x00<col></colgroup><tr><td>cg " + str(i).encode()
        + b"</td></tr></table>",
        lambda i: f"<div><p>unclosed <b>{i}<td></i>".encode(),
    ]
    rows = [(i, f"https://h{i % 5}.example/{i}", bytearray(kinds[i % len(kinds)](i)))
            for i in range(70)]
    return spark.createDataFrame(rows, "doc_id long, url string, html binary")


@pytest.fixture(scope="module")
def tallied_run(spark, tmp_path_factory):
    """One extract_with_resume over the dirty mix under its own job
    group (see :func:`_run_under_group`)."""
    return _run_under_group(spark, str(tmp_path_factory.mktemp("tally") / "out"),
                            _dirty_pages(spark))


def _jobs_of(spark, fn):
    """``(fn(), ids of the Spark jobs it ran)``, under its own job group."""
    import uuid

    sc = spark.sparkContext
    group = f"under-test-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "under test")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _run_under_group(spark, out_dir, pages):
    """One extract_with_resume under its own job group; returns the
    result, the ledger and the physical-plan descriptions of every SQL
    execution the group's jobs ran in."""
    store = spark._jsparkSession.sharedState().statusStore()
    n_before = store.executionsList().size()
    res, jobs = _jobs_of(spark, lambda: extract_with_resume(spark, pages, out_dir, n_splits=4))
    execs = store.executionsList()
    plans = [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(n_before, execs.size()))
        if any(e.jobs().contains(j) for j in jobs)
    ]
    recs = PartitionLedger(f"{out_dir}/_ledger").committed()
    return {"out_dir": out_dir, "res": res, "jobs": jobs, "plans": plans, "recs": recs}


def _exchanges_above(plan: str, node: str = "MapInArrow") -> list[str]:
    """Tree lines above ``node`` that are shuffle boundaries, in every
    plan section (AQE current/final and initial) of an explain text."""
    import re

    tree = plan.split("\n\n", 1)[0]
    assert node in tree, tree
    bad = []
    for section in re.split(r"== \w+ Plan ==", tree):
        above = section.split(node, 1)[0] if node in section else ""
        bad += [ln for ln in above.splitlines() if "Exchange" in ln or "ShuffleQueryStage" in ln]
    return bad


class TestLedgerTalliesFromWritePass:
    """The ledger statistics are summed inside the extraction pass
    (the split writer's tally rows) — they must equal a re-read of the
    written output, and no job of the run may read that output back."""

    def test_ledger_sums_match_reread_of_output(self, spark, tallied_run):
        recs = tallied_run["recs"]
        assert set(recs) == {0, 1, 2, 3}
        # the re-read stays here as the oracle
        oracle = {
            r["split_id"]: r
            for r in read_extracted(spark, tallied_run["out_dir"])
            .groupBy("split_id")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.length("text")).alias("bytes"),
                F.sum("parse_errors").alias("parse_errors"),
                F.sum("c_engine").alias("c_docs"),
            )
            .collect()
        }
        for s, rec in recs.items():
            o = oracle.get(s)
            want = ({"rows": 0, "bytes": 0, "parse_errors": 0, "c_docs": 0, "py_docs": 0}
                    if o is None else
                    {"rows": o["rows"], "bytes": o["bytes"], "parse_errors": o["parse_errors"],
                     "c_docs": o["c_docs"], "py_docs": o["rows"] - o["c_docs"]})
            assert {k: rec[k] for k in want} == want, s
        # the mix really covers both engines and non-zero error counts
        assert sum(r["rows"] for r in recs.values()) == 70
        assert sum(r["py_docs"] for r in recs.values()) > 0
        assert sum(r["parse_errors"] for r in recs.values()) > 0

    def test_run_totals_equal_ledger_sums(self, tallied_run):
        res, recs = tallied_run["res"], tallied_run["recs"]
        for k in ("rows", "c_docs", "py_docs", "parse_errors"):
            assert res[k] == sum(r[k] for r in recs.values()), k
        assert res["c_docs"] + res["py_docs"] == res["rows"] == 70

    def test_no_reread_job_and_extraction_in_result_stage(self, tallied_run):
        import re

        run_id = tallied_run["res"]["run_id"]
        plans = tallied_run["plans"]
        assert tallied_run["jobs"] and plans
        scans = [p for p in plans
                 if re.search(rf"Location: [^\n]*data/run={run_id}", p)]
        assert scans == [], scans[0][:2000]
        # one job writes the splits: the collected MapInArrow, with no
        # shuffle boundary above it and no JVM write command anywhere
        (extract,) = [p for p in plans if "MapInArrow" in p]
        assert _exchanges_above(extract) == [], extract[:3000]
        assert not [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]


class TestNarrowInput(TestLedgerTalliesFromWritePass):
    """The library contract for a one-partition input: the write stage
    runs one task per input partition — no spread, no exchange — and
    the ledger still equals a re-read of the output (the inherited
    tests, run on this input)."""

    @pytest.fixture(scope="class")
    def tallied_run(self, spark, tmp_path_factory):
        return _run_under_group(spark, str(tmp_path_factory.mktemp("narrow") / "out"),
                                _dirty_pages(spark).coalesce(1))

    def test_write_stage_is_not_spread(self, tallied_run):
        (extract,) = [p for p in tallied_run["plans"] if "MapInArrow" in p]
        tree = extract.split("\n\n", 1)[0]
        assert "Exchange" not in tree and "Coalesce" in tree, tree


def _split_batch(rows):
    """Arrow input batch of the split writer: doc_id, url, split_id, html."""
    import pyarrow as pa

    doc_id, url, split_id, html = zip(*rows)
    return pa.RecordBatch.from_arrays(
        [pa.array(doc_id, pa.int64()), pa.array(url), pa.array(split_id, pa.int32()),
         pa.array(html, pa.binary())],
        names=["doc_id", "url", "split_id", "html"],
    )


def _writer_schema(spark):
    """Arrow file schema of the split writer over ``_split_batch``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from gumbo_pp_spark.operators.extract import main_text_ddl

    pages = spark.createDataFrame([], "doc_id long, url string, split_id int, html binary")
    return to_arrow_schema(StructType.fromDDL(
        main_text_ddl(pages, ("doc_id", "url", "split_id"), stage_metrics=True)))


class TestSplitWriter:
    """The executor-side writer of ``extract_with_resume``, driven
    directly: one file per task, a retried attempt of a partition must
    replace its file, and hidden temporary files must stay invisible to
    readers."""

    ROWS = [(i, f"https://w.example/{i}", (i * 7) % 3, f"<p>doc {i}</p>".encode())
            for i in range(30)]

    def test_retry_replaces_its_one_file(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from gumbo_pp_spark.plans.lineage import _write_splits

        schema = _writer_schema(spark)
        rows = self.ROWS
        # every batch holds rows of all three splits, interleaved
        batches = [_split_batch(rows[:20]), _split_batch(rows[20:])]
        run_dir = str(tmp_path / "run=r")

        def attempt():
            # tallies without the measured timings, which differ per attempt
            (tb,) = _write_splits(run_dir, schema, iter(batches), part=7)
            return tb.drop_columns(["parse_us"]).to_pylist()

        tallies = attempt()
        # a retried attempt of the same partition over the same input
        assert attempt() == tallies
        assert {t["split_id"]: t["rows"] for t in tallies} == {0: 10, 1: 10, 2: 10}
        # one file for the task, whatever its splits
        assert os.listdir(run_dir) == ["part-00007.parquet"]
        got = pq.read_table(os.path.join(run_dir, "part-00007.parquet"))
        # the original rows in input order, not doubled, split_id a column
        assert got.column("doc_id").to_pylist() == [r[0] for r in rows]
        assert got.column("split_id").to_pylist() == [r[2] for r in rows]
        assert got.column("text").to_pylist() == [f"doc {r[0]}" for r in rows]
        assert got.schema.names == schema.names

    def test_failed_attempt_leaves_no_file(self, spark, tmp_path):
        from gumbo_pp_spark.plans.lineage import _write_splits

        schema = _writer_schema(spark)
        run_dir = str(tmp_path / "run=r")
        list(_write_splits(run_dir, schema, iter([_split_batch(self.ROWS)]), part=2))
        before = os.path.getsize(os.path.join(run_dir, "part-00002.parquet"))

        def killed():
            yield _split_batch(self.ROWS[:5])
            raise RuntimeError("executor lost")

        with pytest.raises(RuntimeError, match="executor lost"):
            list(_write_splits(run_dir, schema, killed(), part=2))
        # the failed attempt's temporary file is gone and the earlier
        # attempt's file is untouched
        assert os.listdir(run_dir) == ["part-00002.parquet"]
        assert os.path.getsize(os.path.join(run_dir, "part-00002.parquet")) == before

    def test_task_without_rows_writes_nothing(self, spark, tmp_path):
        from gumbo_pp_spark.plans.lineage import _write_splits

        empty = _split_batch(self.ROWS).slice(0, 0)
        run_dir = str(tmp_path / "run=r")
        assert list(_write_splits(run_dir, _writer_schema(spark), iter([empty]), part=0)) == []
        assert not os.path.exists(run_dir)

    def test_stray_temporary_file_is_ignored_by_readers(self, spark, tmp_path):
        out_dir = str(tmp_path / "stray")
        pages = synth_pages(spark, SF_SMOKE).limit(40)
        extract_with_resume(spark, pages, out_dir, n_splits=2)
        assert read_extracted(spark, out_dir).count() == 40
        (run,) = os.listdir(os.path.join(out_dir, "data"))
        with open(os.path.join(out_dir, "data", run, ".part-00003-deadbeef.tmp"), "w") as f:
            f.write("half-written by a killed attempt")
        assert read_extracted(spark, out_dir).count() == 40


class TestFilesPerRun:
    """A run writes one file per write task — at most one per input
    partition — however many splits it processes."""

    @pytest.mark.parametrize("n_parts", [1, 3])
    @pytest.mark.parametrize("n_splits", [4, 256])
    def test_at_most_one_file_per_input_partition(self, spark, tmp_path, n_parts, n_splits):
        out_dir = str(tmp_path / "files")
        pages = synth_pages(spark, SF_SMOKE).coalesce(n_parts)
        res = extract_with_resume(spark, pages, out_dir, n_splits=n_splits)
        assert res["splits_processed"] == n_splits and res["rows"] == 500
        files = [os.path.relpath(os.path.join(d, f), out_dir)
                 for d, _, fs in os.walk(os.path.join(out_dir, "data")) for f in fs]
        run_dir = os.path.join("data", f"run={res['run_id']}")
        assert sorted(files) == [os.path.join(run_dir, f"part-{p:05d}.parquet")
                                 for p in range(n_parts)]
        assert read_extracted(spark, out_dir).count() == 500


class TestExtractedSchema:
    def test_read_back_schema_pinned_with_timestamp_passthrough(self, spark, tmp_path):
        import datetime

        rows = [(i, f"https://t.example/{i}",
                 datetime.datetime(2024, 5, 1 + i, 12, 30, 0, 250 * i),
                 bytearray(f"<p>t {i}</p>".encode()))
                for i in range(12)]
        pages = spark.createDataFrame(rows, "doc_id long, url string, warc_ts timestamp, html binary")
        out_dir = str(tmp_path / "schema")
        extract_with_resume(spark, pages, out_dir, n_splits=4,
                            passthrough=("doc_id", "url", "warc_ts"))
        got = read_extracted(spark, out_dir)
        assert got.schema.simpleString() == (
            "struct<doc_id:bigint,url:string,warc_ts:timestamp,split_id:int,text:string,"
            "spans:array<struct<node_id:int,tag:string,start:bigint,end:bigint,"
            "start_byte:bigint,end_byte:bigint>>,n_nodes:int,parse_errors:int,"
            "parse_us:bigint,kernel_us:bigint,c_engine:tinyint,run:string>"
        )
        assert {r.doc_id: r.warc_ts for r in got.collect()} == {r[0]: r[2] for r in rows}


class TestCommittedReadSchema:
    """read_extracted declares the schema the ledger recorded: no
    inference job, and partition values keep the types the writer
    meant."""

    def test_digit_only_run_id_reads_back_as_string(self, spark, tmp_path, monkeypatch):
        import uuid

        from pyspark.sql.types import StringType

        from gumbo_pp_spark.plans import lineage

        digits = uuid.UUID("01234567-8901-2345-6789-012345678901")
        monkeypatch.setattr(lineage.uuid, "uuid4", lambda: digits)
        out_dir = str(tmp_path / "digits")
        res = extract_with_resume(spark, synth_pages(spark, SF_SMOKE).limit(24), out_dir,
                                  n_splits=2)
        monkeypatch.undo()
        assert res["run_id"] == "012345678901"
        got = read_extracted(spark, out_dir)
        assert got.schema["run"].dataType == StringType()
        assert {r.run for r in got.select("run").distinct().collect()} == {res["run_id"]}

    def test_read_runs_no_spark_job(self, spark, tmp_path):
        out_dir = str(tmp_path / "nojob")
        extract_with_resume(spark, synth_pages(spark, SF_SMOKE).limit(40), out_dir, n_splits=4)
        got, jobs = _jobs_of(spark, lambda: read_extracted(spark, out_dir))
        assert jobs == []
        assert got.count() == 40


class TestLedgerLayoutGuards:
    """One table, one schema, one layout: a resume that would write
    another DDL, and a ledger of the older per-split leaf layout, are
    refused instead of read."""

    @pytest.mark.parametrize("passthrough", [("doc_id", "url", "lang"), ("url",)])
    def test_resume_with_other_passthrough_raises_before_any_job(
            self, spark, tmp_path, passthrough):
        out_dir = str(tmp_path / "mixed")
        pages = synth_pages(spark, SF_SMOKE).where("doc_id < 40")
        extract_with_resume(spark, pages, out_dir, n_splits=4, max_splits_this_run=2)
        ledger = PartitionLedger(f"{out_dir}/_ledger")
        before = ledger._load()

        def resume():
            with pytest.raises(ValueError, match="another passthrough"):
                extract_with_resume(spark, pages, out_dir, n_splits=4, passthrough=passthrough)

        _, jobs = _jobs_of(spark, resume)
        assert jobs == []
        assert ledger._load() == before
        assert len(os.listdir(os.path.join(out_dir, "data"))) == 1

    def test_resume_with_other_n_splits_raises_before_any_job(self, spark, tmp_path):
        # split ids are taken modulo n_splits: committed ids 0-4 of 16
        # read under modulus 8 would mark other rows done and drop them
        out_dir = str(tmp_path / "resplit")
        pages = synth_pages(spark, SF_SMOKE)
        extract_with_resume(spark, pages, out_dir, n_splits=16, max_splits_this_run=5)
        ledger = PartitionLedger(f"{out_dir}/_ledger")
        before = ledger._load()
        assert before[1] == 16

        def resume():
            with pytest.raises(ValueError, match="n_splits=16.*n_splits=8"):
                extract_with_resume(spark, pages, out_dir, n_splits=8)

        _, jobs = _jobs_of(spark, resume)
        assert jobs == []
        assert ledger._load() == before
        extract_with_resume(spark, pages, out_dir, n_splits=16)
        assert read_extracted(spark, out_dir).count() == pages.count()

    def test_manifest_without_n_splits_gets_it_at_next_commit(self, spark, tmp_path):
        import json

        out_dir = str(tmp_path / "old_manifest")
        pages = synth_pages(spark, SF_SMOKE).where("doc_id < 40")
        extract_with_resume(spark, pages, out_dir, n_splits=4, max_splits_this_run=2)
        ledger = PartitionLedger(f"{out_dir}/_ledger")
        mpath = os.path.join(ledger.path, ledger.MANIFEST)
        with open(mpath) as f:
            doc = json.load(f)
        del doc["n_splits"]
        with open(mpath, "w") as f:
            json.dump(doc, f)
        assert ledger._load()[1] is None
        res = extract_with_resume(spark, pages, out_dir, n_splits=4)
        assert (res["splits_processed"], res["skipped"]) == (2, 2)
        assert ledger._load()[1] == 4
        assert read_extracted(spark, out_dir).count() == 40

    def test_manifest_with_kernel_and_busy_fields_resumes(self, spark, tmp_path):
        # records committed before kernel_ms and busy_ms were dropped
        # still carry them; a resume and a read go on over them
        import json

        out_dir = str(tmp_path / "kernel_ms")
        pages = synth_pages(spark, SF_SMOKE).where("doc_id < 40")
        extract_with_resume(spark, pages, out_dir, n_splits=4, max_splits_this_run=2)
        ledger = PartitionLedger(f"{out_dir}/_ledger")
        mpath = os.path.join(ledger.path, ledger.MANIFEST)
        with open(mpath) as f:
            doc = json.load(f)
        for rec in doc["records"]:
            rec.update(kernel_ms=0, busy_ms=rec["parse_ms"])
        with open(mpath, "w") as f:
            json.dump(doc, f)
        res = extract_with_resume(spark, pages, out_dir, n_splits=4)
        assert (res["splits_processed"], res["skipped"]) == (2, 2)
        recs = ledger.committed()
        assert sum("busy_ms" in r for r in recs.values()) == 2
        assert read_extracted(spark, out_dir).count() == 40

    @pytest.mark.parametrize("entry", ["committed", "extract_with_resume", "read_extracted",
                                       "vacuum_uncommitted"])
    def test_version_1_manifest_raises(self, spark, tmp_path, entry):
        import json

        from gumbo_pp_spark.plans.lineage import vacuum_uncommitted

        out_dir = str(tmp_path / "v1")
        ledger = PartitionLedger(f"{out_dir}/_ledger")
        rec = {"split_id": 0, "run_id": "r0", "status": "committed", "rows": 1, "seq": 1,
               "attempt": 1, "schema": "doc_id bigint, url string"}
        with open(os.path.join(ledger.path, ledger.MANIFEST), "w") as f:
            json.dump({"version": 1, "records": [rec]}, f)
        call = {
            "committed": ledger.committed,
            "extract_with_resume": lambda: extract_with_resume(
                spark, synth_pages(spark, SF_SMOKE), out_dir, n_splits=4),
            "read_extracted": lambda: read_extracted(spark, out_dir),
            "vacuum_uncommitted": lambda: vacuum_uncommitted(out_dir, min_age_sec=0),
        }[entry]
        with pytest.raises(ValueError, match=r"version-1 ledger.*split_id=<s>"):
            call()


class TestNullHtmlResume:
    def test_null_html_row_counted_in_ledger(self, spark, tmp_path):
        # a NULL html row is extracted as the empty document: it lands
        # in the output and in its split's ledger record, and the job
        # does not fail
        rows = [(i, f"https://n.example/{i}",
                 None if i == 3 else bytearray(f"<p>doc {i}</p>".encode()))
                for i in range(12)]
        pages = spark.createDataFrame(rows, "doc_id long, url string, html binary")
        out_dir = str(tmp_path / "nul")
        res = extract_with_resume(spark, pages, out_dir, n_splits=4)
        recs = PartitionLedger(f"{out_dir}/_ledger").committed()
        assert res["rows"] == sum(r["rows"] for r in recs.values()) == 12
        out = {r.doc_id: r for r in read_extracted(spark, out_dir).collect()}
        assert sorted(out) == list(range(12))
        assert out[3].text == "" and out[5].text == "doc 5"


class TestPerSplitWall:
    def test_distinct_per_split_wall(self, spark, tmp_path):
        # round-3: per-split wall_ms is the run wall apportioned by the
        # split's measured parse time (parse and kernel, fused), so splits carry
        # DISTINCT walls that sum to <= run wall — not n_splits copies
        # of the same whole-run number
        from gumbo_pp_spark.plans.lineage import PartitionLedger

        out_dir = str(tmp_path / "w")
        pages = synth_pages(spark, SF_SMOKE).limit(96)
        extract_with_resume(spark, pages, out_dir, n_splits=4)
        recs = PartitionLedger(f"{out_dir}/_ledger").committed()
        assert len(recs) == 4
        walls = [r["wall_ms"] for r in recs.values()]
        busys = [r["parse_ms"] for r in recs.values()]
        run_wall = next(iter(recs.values()))["run_wall_ms"]
        assert all(r["run_wall_ms"] == run_wall for r in recs.values())
        assert sum(walls) <= run_wall
        # busy-proportional: the heaviest split gets the most wall.
        # With the C parse engine a 24-doc split's parse_ms can collapse
        # to a tie at timer resolution — the argmax comparison is only
        # meaningful when the busy maximum is unique.
        if busys.count(max(busys)) == 1:
            assert walls.index(max(walls)) == busys.index(max(busys))
        assert len(set(walls)) > 1  # distinct attribution


class TestVacuum:
    """Orphan-run cleanup: committed data and the ledger survive,
    uncommitted leftovers go."""

    def test_removes_only_uncommitted_runs(self, spark, tmp_path):
        from gumbo_pp_spark.plans.lineage import vacuum_uncommitted

        out_dir = str(tmp_path / "vac")
        pages = synth_pages(spark, SF_SMOKE)
        extract_with_resume(spark, pages, out_dir, n_splits=4)
        before = read_extracted(spark, out_dir).count()

        # a crashed run that wrote data but never committed
        orphan = os.path.join(out_dir, "data", "run=deadbeef")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "part-00000.parquet"), "w") as f:
            f.write("junk")

        # default grace period (ADVICE r7): a freshly-written orphan
        # may belong to an IN-FLIGHT run (data lands before the ledger
        # commit) — vacuum must leave it alone
        res = vacuum_uncommitted(out_dir)
        assert res["removed"] == []
        assert res["skipped_recent"] == 1
        assert os.path.exists(orphan)

        # past the age threshold (simulated) the orphan goes
        res = vacuum_uncommitted(out_dir, min_age_sec=0)
        assert res["removed"] == ["run=deadbeef"]
        assert res["kept"] == 1
        assert not os.path.exists(orphan)
        # committed table unchanged, resume state intact
        assert read_extracted(spark, out_dir).count() == before
        ledger = PartitionLedger(out_dir + "/_ledger")
        assert set(ledger.committed()) == {0, 1, 2, 3}

    def test_sweeps_old_temporary_files_in_kept_runs(self, spark, tmp_path):
        from gumbo_pp_spark.plans.lineage import vacuum_uncommitted

        out_dir = str(tmp_path / "vac_tmp")
        pages = synth_pages(spark, SF_SMOKE).limit(40)
        extract_with_resume(spark, pages, out_dir, n_splits=2)
        before = read_extracted(spark, out_dir).count()
        (run,) = os.listdir(os.path.join(out_dir, "data"))
        leaf = os.path.join(out_dir, "data", run)
        data_files = sorted(os.listdir(leaf))
        stray = os.path.join(leaf, ".part-00001-deadbeef.tmp")
        with open(stray, "w") as f:
            f.write("junk")

        # a fresh temporary file may belong to a running attempt
        res = vacuum_uncommitted(out_dir)
        assert res["removed_tmp"] == 0 and os.path.exists(stray)

        res = vacuum_uncommitted(out_dir, min_age_sec=0)
        assert res["removed_tmp"] == 1 and res["removed"] == []
        assert sorted(os.listdir(leaf)) == data_files
        assert read_extracted(spark, out_dir).count() == before

    def test_vacuum_on_empty_table_is_noop(self, tmp_path):
        from gumbo_pp_spark.plans.lineage import vacuum_uncommitted

        assert vacuum_uncommitted(str(tmp_path / "nothing")) == {
            "removed": [],
            "kept": 0,
            "skipped_recent": 0,
            "removed_tmp": 0,
        }
