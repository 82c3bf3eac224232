"""The row-kernel runner (plans/arrowmap.py) and the NULL contracts of
the operators built on it."""


import pyarrow as pa
import pytest

from gumbo_pp_spark.operators import multimodal as M
from gumbo_pp_spark.operators.encoding import sniff_and_transcode
from gumbo_pp_spark.operators.extract import dom_stats
from gumbo_pp_spark.operators.pdf import extract_pdf_text
from gumbo_pp_spark.operators.robots import crawl_schedule, robots_filter
from gumbo_pp_spark.plans.arrowmap import map_rows, passthrough_ddl, row_values


class TestRowValues:
    def test_binary_is_zero_copy_slices_with_none_for_null(self):
        arr = pa.array([b"ab", None, b"", b"cde"], pa.binary()).slice(1)
        vals = row_values(arr)
        assert vals[0] is None
        assert all(isinstance(v, memoryview) for v in vals[1:])
        assert [None if v is None else bytes(v) for v in vals] == [None, b"", b"cde"]

    def test_large_binary_and_empty(self):
        arr = pa.array([b"x", b"yz"], pa.large_binary())
        assert [bytes(v) for v in row_values(arr)] == [b"x", b"yz"]
        assert row_values(pa.array([], pa.binary())) == []

    def test_other_types_are_python_values(self):
        assert row_values(pa.array(["a", None])) == ["a", None]
        assert row_values(pa.array([1, None], pa.int32())) == [1, None]


def test_passthrough_ddl_follows_passthrough_order(spark):
    df = spark.createDataFrame([(1, "u", 2.0)], "a bigint, b string, c double")
    assert passthrough_ddl(df, ("c", "a"), "x int") == "c double, a bigint, x int"
    assert passthrough_ddl(df, (), "x int", "y string") == "x int, y string"


def test_one_to_many_takes_passthrough_by_row(spark):
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 2), (3, None, 1)], "id bigint, tag string, n int"
    ).coalesce(1)

    def explode(n):
        return [(i, float(i)) for i in range(n)]

    out = map_rows(df, ("n",), "i int, f double", explode, ("tag", "id"))
    assert out.columns == ["tag", "id", "i", "f"]
    assert [tuple(r) for r in out.collect()] == [
        ("b", 2, 0, 0.0), ("b", 2, 1, 1.0), (None, 3, 0, 0.0)]


def test_output_types_come_from_ddl(spark):
    # an int (int32) and a tinyint field built from Python ints: the
    # DDL, not inference, decides the Arrow type
    df = spark.createDataFrame([(1,)], "id bigint")
    out = map_rows(df, ("id",), "small tinyint, mid int", lambda i: [(i, i * 2)], ("id",))
    assert out.schema.simpleString() == "struct<id:bigint,small:tinyint,mid:int>"
    assert [tuple(r) for r in out.collect()] == [(1, 1, 2)]


def test_sniff_passthrough_in_passthrough_order(spark):
    # passthrough columns listed against the frame's column order keep
    # their own types and values
    df = spark.createDataFrame(
        [(7, "https://n.example/x", bytearray(b"<p>x</p>"))],
        "doc_id bigint, url string, html binary")
    out = sniff_and_transcode(df, passthrough=("url", "doc_id"))
    assert out.columns == ["url", "doc_id", "html", "encoding", "enc_src"]
    assert [tuple(r) for r in out.collect()] == [
        ("https://n.example/x", 7, b"<p>x</p>", "windows-1252", "default")]


def _pages(spark):
    return spark.createDataFrame(
        [(1, "https://n.example/x", None)], "doc_id bigint, url string, html binary")


def _media(spark):
    return spark.createDataFrame(
        [(1, None, 16, 16)], "media_id bigint, payload binary, width int, height int")


# every runner caller given one row whose main input is NULL: name ->
# (build, digest of the collected rows, the rows the operator returned
# before it ran on the runner)
_NULL_ROWS = {
    "run_program": (lambda s: dom_stats(_pages(s)), list, [(1, 3, 0, 0, 0, 2, 0)]),
    "sniff_and_transcode": (
        lambda s: sniff_and_transcode(_pages(s)), list,
        [(1, b"", "windows-1252", "default")]),
    "extract_pdf_text": (
        lambda s: extract_pdf_text(_pages(s).withColumnRenamed("html", "pdf")), list,
        [(1, "https://n.example/x", "", 0, False)]),
    "image_features": (
        lambda s: M.image_features(_media(s)), list,
        [(1, 34106, 31212, 31177, 256, 6584814826110039317)]),
    "robots_filter": (
        lambda s: robots_filter(
            s.createDataFrame([(1, None), (2, "https://a.example/p")], "doc_id bigint, url string"),
            s.createDataFrame([("a.example", None)], "host string, robots_txt string")),
        list, [(1, None, True), (2, "https://a.example/p", True)]),
    "crawl_schedule": (
        lambda s: crawl_schedule(s.createDataFrame(
            [("a.example", None), (None, "User-agent: *\nCrawl-delay: 2\n")],
            "host string, robots_txt string")),
        list, [("a.example", 1000, 60), (None, 2000, 30)]),
}


@pytest.mark.parametrize("name", sorted(_NULL_ROWS))
def test_null_input_row(spark, name):
    build, digest, expected = _NULL_ROWS[name]
    rows = sorted((tuple(r) for r in build(spark).collect()), key=repr)
    assert digest(rows) == expected
