"""WHATWG encoding sniffing (parser/encoding.py) and the transcode
stage (operators/encoding.py).  Algorithms under test are the public
HTML Standard §13.2.3.2-3 prescan and Encoding Standard labels."""

import pytest

from gumbo_pp_spark.parser.encoding import (
    decode_bytes,
    normalize_label,
    prescan,
    sniff_encoding,
    to_utf8,
)


class TestLabels:
    def test_whitespace_and_case_folded(self):
        assert normalize_label("  UTF-8\t") == "utf-8"
        assert normalize_label("Latin1") == "windows-1252"
        assert normalize_label(b"ISO-8859-1") == "windows-1252"

    def test_ascii_is_windows_1252(self):
        # the Encoding Standard maps every ascii-family label to
        # windows-1252 (supersets agree on 0x00-0x7F)
        assert normalize_label("us-ascii") == "windows-1252"
        assert normalize_label("ansi_x3.4-1968") == "windows-1252"

    def test_unknown_label_fails(self):
        assert normalize_label("klingon") is None
        assert normalize_label(None) is None

    def test_iso_8859_9_is_windows_1254(self):
        assert normalize_label("iso-8859-9") == "windows-1254"

    def test_hostile_labels_map_to_replacement(self):
        assert normalize_label("hz-gb-2312") == "replacement"


class TestBom:
    def test_bom_beats_meta(self):
        data = b"\xef\xbb\xbf<meta charset=koi8-r>"
        assert sniff_encoding(data) == ("utf-8", "bom")

    def test_utf16_boms(self):
        assert sniff_encoding(b"\xfe\xff\x00h") == ("utf-16be", "bom")
        assert sniff_encoding(b"\xff\xfeh\x00") == ("utf-16le", "bom")


class TestPrescan:
    def test_meta_charset(self):
        assert prescan(b'<html><head><meta charset="ISO-8859-1">') == "windows-1252"

    def test_unquoted_and_single_quoted(self):
        assert prescan(b"<meta charset=koi8-r>") == "koi8-r"
        assert prescan(b"<meta charset='koi8-u'>") == "koi8-u"

    def test_http_equiv_requires_pragma(self):
        ok = b'<meta http-equiv="Content-Type" content="text/html; charset=koi8-r">'
        assert prescan(ok) == "koi8-r"
        # content without the pragma attribute is NOT honored
        assert prescan(b'<meta content="text/html; charset=koi8-r">') is None

    def test_pragma_attribute_order_irrelevant(self):
        assert prescan(
            b'<meta content="text/html; charset=koi8-r" http-equiv=content-type>'
        ) == "koi8-r"

    def test_comment_skipped(self):
        assert prescan(b'<!-- <meta charset="koi8-r"> --><meta charset=gbk>') == "gbk"

    def test_unterminated_comment_ends_prescan(self):
        assert prescan(b'<!-- <meta charset="koi8-r">') is None

    def test_other_tags_with_attrs_skipped(self):
        d = b'<p data-x="<meta charset=koi8-r>"><meta charset=gbk>'
        assert prescan(d) == "gbk"

    def test_meta_beyond_limit_ignored(self):
        assert prescan(b"<p>" + b"a" * 1100 + b"<meta charset=gbk>") is None

    def test_utf16_label_becomes_utf8(self):
        # the prescan read ASCII-shaped bytes, so a utf-16 label lies
        assert prescan(b'<meta charset="utf-16">') == "utf-8"
        assert prescan(b"<meta charset=utf-16be>") == "utf-8"

    def test_x_user_defined_becomes_windows_1252(self):
        assert prescan(b"<meta charset=x-user-defined>") == "windows-1252"

    def test_duplicate_attribute_first_wins(self):
        assert prescan(b"<meta charset=gbk charset=koi8-r>") == "gbk"

    def test_unknown_charset_keeps_scanning(self):
        assert prescan(b"<meta charset=klingon><meta charset=gbk>") == "gbk"

    def test_charset_in_content_string(self):
        v = b'<meta http-equiv=content-type content="text/html ;charset = \'big5\'">'
        assert prescan(v) == "big5"


class TestDecode:
    def test_cp1252_c1_holes_map_to_c1_controls(self):
        # WHATWG windows-1252 defines 0x81 8D 8F 90 9D as C1 controls;
        # Python cp1252 leaves them undefined
        assert decode_bytes(b"a\x81\x8d\x8f\x90\x9db", "windows-1252") == (
            "a\x81\x8d\x8f\x90\x9db"
        )

    def test_latin_e9(self):
        assert decode_bytes(b"caf\xe9", "windows-1252") == "café"

    def test_malformed_utf8_is_replaced(self):
        assert decode_bytes(b"a\xffb", "utf-8") == "a�b"

    def test_utf16_bom_char_stripped(self):
        assert decode_bytes(b"\xff\xfeh\x00i\x00", "utf-16le") == "hi"

    def test_replacement_encoding(self):
        assert decode_bytes(b"anything at all", "replacement") == "�"
        assert decode_bytes(b"", "replacement") == ""

    def test_gbk_roundtrip(self):
        assert decode_bytes("中文".encode("gbk"), "gbk") == "中文"


class TestToUtf8:
    def test_utf8_passthrough_is_byte_identical(self):
        d = b"<meta charset=utf-8><p>caf\xc3\xa9</p>"
        u, enc, src = to_utf8(d)
        assert (u, enc, src) == (d, "utf-8", "meta")

    def test_utf8_bom_stripped_on_passthrough(self):
        u, enc, src = to_utf8(b"\xef\xbb\xbf<p>x</p>")
        assert (u, enc, src) == (b"<p>x</p>", "utf-8", "bom")

    def test_windows_1252_transcoded(self):
        u, enc, src = to_utf8(b"<p>caf\xe9</p>")
        assert (u, enc, src) == ("<p>café</p>".encode(), "windows-1252", "default")

    def test_empty_input(self):
        assert to_utf8(b"") == (b"", "windows-1252", "default")


class TestSparkStage:
    def test_stage_is_map_only_and_round_trips(self, spark):
        from gumbo_pp_spark.operators.encoding import sniff_and_transcode

        df = spark.createDataFrame(
            [
                (0, bytearray("<p>café</p>".encode())),
                (1, bytearray(b"\xff\xfe" + "<p>café</p>".encode("utf-16-le"))),
                (2, bytearray(b"<meta charset=latin1><p>caf\xe9</p>")),
            ],
            "doc_id long, html binary",
        )
        out = sniff_and_transcode(df)
        rows = {r.doc_id: r for r in out.collect()}
        # undeclared valid UTF-8 with non-ASCII bytes: the detection
        # step (not the windows-1252 default) — passthrough
        assert (rows[0].encoding, rows[0].enc_src) == ("utf-8", "detected")
        assert bytes(rows[0].html) == "<p>café</p>".encode()
        assert rows[1].encoding == "utf-16le"
        assert bytes(rows[1].html) == "<p>café</p>".encode()
        assert bytes(rows[2].html) == "<meta charset=latin1><p>café</p>".encode()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


    def test_a_charset_column_is_not_read(self, spark):
        # the sniff reads html alone: a frame's own charset column
        # neither relabels its bytes nor reaches the output
        from gumbo_pp_spark.operators.encoding import sniff_and_transcode

        df = spark.createDataFrame(
            [(0, bytearray(b"caf\xe9"), "koi8-r")], "doc_id long, html binary, charset string"
        )
        (r,) = sniff_and_transcode(df).collect()
        assert (r.encoding, r.enc_src) == ("windows-1252", "default")
        assert bytes(r.html) == "café".encode()
        assert r.asDict().keys() == {"doc_id", "html", "encoding", "enc_src"}


class TestDetection:
    def test_undeclared_valid_utf8_detected(self):
        assert sniff_encoding("naïve — em".encode()) == ("utf-8", "detected")

    def test_undeclared_invalid_utf8_defaults(self):
        assert sniff_encoding(b"caf\xe9 n") == ("windows-1252", "default")

    def test_pure_ascii_skips_detection(self):
        assert sniff_encoding(b"plain") == ("windows-1252", "default")

    def test_declaration_beats_detection(self):
        # valid utf-8 bytes but a meta says latin-1: declaration wins
        d = b"<meta charset=iso-8859-1>" + "café".encode()
        assert sniff_encoding(d) == ("windows-1252", "meta")
