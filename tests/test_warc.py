"""WARC source/sink (sources/warc.py): from-spec WARC 1.1 writer and
the CDX ranged reader.  The format is public
(ISO 28500); Common Crawl's one-gzip-member-per-record layout is the
load-bearing property — it is what makes the ranged reader possible."""

import os

import pytest
from pyspark.sql import functions as F

from gumbo_pp_spark.sources import warc as W
from gumbo_pp_spark.sources.pages import synth_pages

from .conftest import SF_SMOKE


# ----------------------------------------------------------------------
# pure record framing (no Spark)
# ----------------------------------------------------------------------
def test_record_roundtrip():
    rec = W.make_response_record("https://x/1", "2024-01-01T00:00:00Z", b"<p>hi</p>", 1)
    headers, block = W.parse_record(rec)
    assert headers["warc-type"] == "response"
    assert headers["warc-target-uri"] == "https://x/1"
    assert W.http_payload(block) == b"<p>hi</p>"
    # framing: record ends with the two-CRLF separator (spec §4)
    assert rec.endswith(b"\r\n\r\n")


def test_gzip_member_deterministic():
    rec = W.make_response_record("https://x/1", "2024-01-01T00:00:00Z", b"<p>a</p>", 1)
    assert W.gzip_member(rec) == W.gzip_member(rec)  # mtime=0


def test_member_iteration_skips_warcinfo_and_survives_corruption():
    rec = W.make_response_record("https://x/1", "2024-01-01T00:00:00Z", b"<p>a</p>", 1)
    good = W.gzip_member(W.make_warcinfo("f.warc.gz")) + W.gzip_member(rec)
    corrupt = W.gzip_member(rec)[:20] + b"\x00garbage"
    rows = list(W._iter_file_records(good + corrupt))
    # warcinfo skipped; one good response row; corruption = ONE error
    # row (warc_ok False), not an exception
    assert [(u, ok) for u, _, _, ok in rows] == [("https://x/1", True), (None, False)]


def test_uncompressed_multi_record_file():
    recs = (
        W.make_warcinfo("u")
        + W.make_response_record("https://x/1", "2024-01-01T00:00:00Z", b"<p>a</p>", 1)
        + W.make_response_record("https://x/2", "2024-01-01T00:00:01Z", b"<i>b</i>", 2)
    )
    rows = list(W._iter_file_records(recs))
    assert [r[0] for r in rows] == ["https://x/1", "https://x/2"]
    assert rows[1][2] == b"<i>b</i>"


def test_payload_without_http_envelope_passthrough():
    assert W.http_payload(b"no envelope here") == b"no envelope here"


# ----------------------------------------------------------------------
# distributed write + the ranged read path
# ----------------------------------------------------------------------
@pytest.fixture(scope="module")
def warc_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("warc"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(W, "N_WARC_FILES", 4)
        W.write_warc_corpus(synth_pages(spark, SF_SMOKE), d)
    return d


def test_write_layout_and_determinism(spark, warc_dir, tmp_path, monkeypatch):
    names = sorted(os.listdir(warc_dir))
    assert names == sorted(
        [f"part-{i:05d}.warc.gz" for i in range(4)] + [f"part-{i:05d}.cdx" for i in range(4)]
    )
    # byte-deterministic re-write (resume property: a re-run job
    # rewrites identical files — no uuid4/now() anywhere in the sink)
    d2 = str(tmp_path / "again")
    monkeypatch.setattr(W, "N_WARC_FILES", 4)
    W.write_warc_corpus(synth_pages(spark, SF_SMOKE), d2)
    for n in names:
        with open(os.path.join(warc_dir, n), "rb") as a, open(os.path.join(d2, n), "rb") as b:
            assert a.read() == b.read(), n


def test_cdx_sidecar_addresses_members(warc_dir):
    # every CDX (offset, length) slice must be a complete gzip member
    # whose record answers to the indexed url — the ranged-GET contract
    path = os.path.join(warc_dir, "part-00001.warc.gz")
    blob = open(path, "rb").read()
    lines = open(os.path.join(warc_dir, "part-00001.cdx")).read().splitlines()
    assert len(lines) > 50
    for ln in lines[:5] + lines[-5:]:
        url, off, length, doc_id = ln.split("\t")
        member = blob[int(off) : int(off) + int(length)]
        (u, ts, html, ok), = W._iter_file_records(member)
        assert ok and u == url


def test_read_warc_cdx_ranged(spark, warc_dir, monkeypatch):
    monkeypatch.setattr(W, "RECORDS_PER_TASK", 50)
    out = W.read_warc_cdx(spark, warc_dir)
    assert out.count() == 500
    # html byte-identity against the source pages, per url
    orig = synth_pages(spark, SF_SMOKE).select("url", "warc_ts", F.md5(F.col("html").cast("string")).alias("h"))
    j = orig.join(out.withColumnRenamed("warc_ts", "ts2"), "url")
    assert j.count() == 500
    assert j.filter(F.md5(F.col("html").cast("string")) != F.col("h")).count() == 0
    assert j.filter("ts2 <> warc_ts").count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def test_read_warc_cdx_corrupt_member_yields_error_row(spark, tmp_path):
    d = str(tmp_path)
    rec = W.make_response_record("https://x/1", "2024-01-01T00:00:00Z", b"<p>a</p>", 1)
    good = W.gzip_member(rec)
    bad = good[:20] + b"\x00garbage"
    with open(os.path.join(d, "part-00000.warc.gz"), "wb") as f:
        f.write(good + bad)
    with open(os.path.join(d, "part-00000.cdx"), "w") as f:
        f.write(f"https://x/1\t0\t{len(good)}\t1\n"
                f"https://x/2\t{len(good)}\t{len(bad)}\t2\n")
    # the corrupt member is one error row, not a failed task
    out = W.read_warc_cdx(spark, d).collect()
    assert {r.warc_ok: r.url for r in out} == {True: "https://x/1", False: None}
    assert len(out) == 2
