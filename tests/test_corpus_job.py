"""End-to-end smoke of the spark-submit corpus pipeline CLI
(jobs/corpus_job.py) — run as a subprocess because main() owns (and
stops) its own SparkSession."""

import json
import os
import subprocess
import sys

from .conftest import SF_SMOKE

REPO = "/root/repo"


def test_corpus_job_cli_components_policy(spark, tmp_path):
    from gumbo_pp_spark.sources.pages import synth_pages

    pages = synth_pages(spark, SF_SMOKE).select("doc_id", "url", "html").limit(60)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    out = str(tmp_path / "corpus")
    proc = subprocess.run(
        [
            sys.executable, f"{REPO}/jobs/corpus_job.py",
            "--pages", src, "--out", out,
            "--near-dup-policy", "components",
        ],
        capture_output=True, text=True, timeout=600, cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])
    assert metrics["rows"] > 0
    assert metrics["out_dir"] == out
    got = spark.read.parquet(out)
    assert got.count() == metrics["rows"]
    assert {"doc_id", "url", "clean_text", "n_tokens", "fp_md5"} <= set(got.columns)


def test_extract_job_cli_transcode(spark, tmp_path):
    """--transcode: a latin-1 page comes out with the same extracted
    text as its utf-8 twin (the WHATWG sniff stage ahead of the parse)."""
    html_u8 = "<html><body><p>café body</p></body></html>".encode("utf-8")
    html_l1 = "<html><body><p>café body</p></body></html>".encode("iso-8859-1")
    pages = spark.createDataFrame(
        [(1, "https://a/1", bytearray(html_u8)), (2, "https://a/2", bytearray(html_l1))],
        "doc_id long, url string, html binary",
    )
    src = str(tmp_path / "pages")
    pages.coalesce(1).write.parquet(src)
    out = str(tmp_path / "extracted")
    proc = subprocess.run(
        [
            sys.executable, f"{REPO}/jobs/extract_job.py",
            "--pages", src, "--out", out, "--n-splits", "2", "--transcode",
        ],
        capture_output=True, text=True, timeout=600, cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])
    # the engine funnel, tallied in the extraction pass
    assert metrics["rows"] == metrics["c_docs"] + metrics["py_docs"] == 2
    from gumbo_pp_spark.plans.lineage import read_extracted

    got = {r.doc_id: r.text for r in read_extracted(spark, out).collect()}
    assert got[1] == got[2] == "café body"


def _load_job(name):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "jobs", f"{name}.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def _assert_read_spreads_one_row_group_input(spark, tmp_path, job):
    from gumbo_pp_spark.sources.pages import synth_pages

    src = str(tmp_path / "pages")
    synth_pages(spark, SF_SMOKE).select("doc_id", "url", "html").coalesce(1) \
        .write.parquet(src)
    assert spark.read.parquet(src).rdd.getNumPartitions() == 1
    confs = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = {k: spark.conf.get(k) for k in confs}
    try:
        pages = job.read_pages(spark, src)
        assert pages.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
        assert pages.count() == 500
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_extract_job_read_spreads_one_row_group_input(spark, tmp_path):
    """extract_with_resume runs one task per input partition, so the
    job's read is where a one-row-group input gets spread: to at least
    the session's parallelism, not one task."""
    _assert_read_spreads_one_row_group_input(spark, tmp_path, _load_job("extract_job"))


def test_corpus_job_read_spreads_one_row_group_input(spark, tmp_path):
    """The corpus job reads --pages through the same decision: its
    per-document operators do not spread their input either."""
    _assert_read_spreads_one_row_group_input(spark, tmp_path, _load_job("corpus_job"))


def test_corpus_job_cli_extend_mode(spark, tmp_path):
    """--extend-from: the append set contains only content the prior
    corpus does not already carry."""
    from gumbo_pp_spark.sources.pages import synth_pages

    pages = synth_pages(spark, SF_SMOKE).select("doc_id", "url", "html")
    src_a = str(tmp_path / "pages_a")
    src_b = str(tmp_path / "pages_b")
    pages.where("doc_id < 60").write.parquet(src_a)
    # new batch overlaps the prior build on 40..59
    pages.where("doc_id >= 40 AND doc_id < 100").write.parquet(src_b)
    prior_out = str(tmp_path / "prior")
    ext_out = str(tmp_path / "append")
    env = {**os.environ, "PYTHONPATH": REPO}

    p1 = subprocess.run(
        [sys.executable, f"{REPO}/jobs/corpus_job.py",
         "--pages", src_a, "--out", prior_out],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert p1.returncode == 0, p1.stderr[-2000:]

    p2 = subprocess.run(
        [sys.executable, f"{REPO}/jobs/corpus_job.py",
         "--pages", src_b, "--out", ext_out, "--extend-from", prior_out],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert p2.returncode == 0, p2.stderr[-2000:]
    metrics = json.loads(p2.stdout.strip().splitlines()[-1])
    assert metrics["mode"] == "extend" and metrics["rows"] > 0

    prior = spark.read.parquet(prior_out)
    ext = spark.read.parquet(ext_out)
    assert ext.count() == metrics["rows"]
    # overlap content (40..59) never re-appends
    assert ext.join(prior, "fp_md5").count() == 0
    assert ext.agg({"doc_id": "min"}).first()[0] >= 60
