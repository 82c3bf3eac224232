"""WHATWG encoding sniffing for crawl bytes.

Real crawl archives are not UTF-8: a large tail of pages declares
(or silently uses) windows-1252, the ISO-8859 family, UTF-16, or a
CJK legacy encoding.  The reference engine (like libgumbo) takes
UTF-8 input and leaves transcoding to the caller; a corpus pipeline
needs the caller side implemented.  This module is that stage's
kernel, written from the public WHATWG specs:

* byte-order-mark sniff + "prescan a byte stream to determine its
  encoding" — HTML Standard §13.2.3.2-13.2.3.3 (the first-1024-bytes
  ``<meta charset>`` / ``http-equiv=content-type`` scan, including
  the *get an attribute* sub-algorithm and the pragma rules);
* label → encoding normalization — Encoding Standard §4.2 "Names and
  labels" (a registry subset covering the encodings Python's codecs
  implement);
* the two mandated substitutions: a meta-declared UTF-16 is read as
  UTF-8 (the prescan saw ASCII-shaped bytes, so the label is a lie),
  and ``x-user-defined`` in meta becomes windows-1252;
* WHATWG windows-1252 differs from Python's cp1252 on the five bytes
  0x81 0x8D 0x8F 0x90 0x9D (undefined in cp1252, C1 controls in the
  WHATWG table) — a registered error handler maps exactly those.

No instruction here derives from the reference repo; the algorithms
are the public HTML/Encoding Standards.  Reference parity anchor:
gumbo_pp assumes pre-transcoded UTF-8 (reference src/gumbo_pp.cpp
takes a std::string_view); this stage produces that input.
"""

from __future__ import annotations

import codecs

# ----------------------------------------------------------------------
# label registry (Encoding Standard §4.2, subset with Python codecs)
# ----------------------------------------------------------------------
# whatwg name -> (python codec, labels)
_REGISTRY: dict[str, tuple[str, tuple[str, ...]]] = {
    "utf-8": (
        "utf-8",
        ("unicode-1-1-utf-8", "unicode11utf8", "unicode20utf8", "utf-8",
         "utf8", "x-unicode20utf8"),
    ),
    "windows-1252": (
        "cp1252",
        ("ansi_x3.4-1968", "ascii", "cp1252", "cp819", "csisolatin1",
         "ibm819", "iso-8859-1", "iso-ir-100", "iso8859-1", "iso88591",
         "iso_8859-1", "iso_8859-1:1987", "l1", "latin1", "us-ascii",
         "windows-1252", "x-cp1252"),
    ),
    "ibm866": ("cp866", ("866", "cp866", "csibm866", "ibm866")),
    "iso-8859-2": (
        "iso8859-2",
        ("csisolatin2", "iso-8859-2", "iso-ir-101", "iso8859-2", "iso88592",
         "iso_8859-2", "iso_8859-2:1987", "l2", "latin2"),
    ),
    "iso-8859-3": (
        "iso8859-3",
        ("csisolatin3", "iso-8859-3", "iso-ir-109", "iso8859-3", "iso88593",
         "iso_8859-3", "iso_8859-3:1988", "l3", "latin3"),
    ),
    "iso-8859-4": (
        "iso8859-4",
        ("csisolatin4", "iso-8859-4", "iso-ir-110", "iso8859-4", "iso88594",
         "iso_8859-4", "iso_8859-4:1988", "l4", "latin4"),
    ),
    "iso-8859-5": (
        "iso8859-5",
        ("csisolatincyrillic", "cyrillic", "iso-8859-5", "iso-ir-144",
         "iso8859-5", "iso88595", "iso_8859-5", "iso_8859-5:1988"),
    ),
    "iso-8859-6": (
        "iso8859-6",
        ("arabic", "asmo-708", "csiso88596e", "csiso88596i",
         "csisolatinarabic", "ecma-114", "iso-8859-6", "iso-8859-6-e",
         "iso-8859-6-i", "iso-ir-127", "iso8859-6", "iso88596",
         "iso_8859-6", "iso_8859-6:1987"),
    ),
    "iso-8859-7": (
        "iso8859-7",
        ("csisolatingreek", "ecma-118", "elot_928", "greek", "greek8",
         "iso-8859-7", "iso-ir-126", "iso8859-7", "iso88597",
         "iso_8859-7", "iso_8859-7:1987", "sun_eu_greek"),
    ),
    "iso-8859-8": (
        "iso8859-8",
        ("csiso88598e", "csisolatinhebrew", "hebrew", "iso-8859-8",
         "iso-8859-8-e", "iso-ir-138", "iso8859-8", "iso88598",
         "iso_8859-8", "iso_8859-8:1988", "visual"),
    ),
    "iso-8859-10": (
        "iso8859-10",
        ("csisolatin6", "iso-8859-10", "iso-ir-157", "iso8859-10",
         "iso885910", "l6", "latin6"),
    ),
    "iso-8859-13": (
        "iso8859-13",
        ("iso-8859-13", "iso8859-13", "iso885913"),
    ),
    "iso-8859-14": (
        "iso8859-14",
        ("iso-8859-14", "iso8859-14", "iso885914"),
    ),
    "iso-8859-15": (
        "iso8859-15",
        ("csisolatin9", "iso-8859-15", "iso8859-15", "iso885915",
         "iso_8859-15", "l9"),
    ),
    "iso-8859-16": ("iso8859-16", ("iso-8859-16",)),
    "koi8-r": ("koi8-r", ("cskoi8r", "koi", "koi8", "koi8-r", "koi8_r")),
    "koi8-u": ("koi8-u", ("koi8-ru", "koi8-u")),
    "macintosh": (
        "mac-roman",
        ("csmacintosh", "mac", "macintosh", "x-mac-roman"),
    ),
    "windows-874": (
        "cp874",
        ("dos-874", "iso-8859-11", "iso8859-11", "iso885911", "tis-620",
         "windows-874"),
    ),
    "windows-1250": ("cp1250", ("cp1250", "windows-1250", "x-cp1250")),
    "windows-1251": ("cp1251", ("cp1251", "windows-1251", "x-cp1251")),
    "windows-1253": ("cp1253", ("cp1253", "windows-1253", "x-cp1253")),
    "windows-1254": (
        "cp1254",
        ("cp1254", "csisolatin5", "iso-8859-9", "iso-ir-148", "iso8859-9",
         "iso88599", "iso_8859-9", "iso_8859-9:1989", "l5", "latin5",
         "windows-1254", "x-cp1254"),
    ),
    "windows-1255": ("cp1255", ("cp1255", "windows-1255", "x-cp1255")),
    "windows-1256": ("cp1256", ("cp1256", "windows-1256", "x-cp1256")),
    "windows-1257": ("cp1257", ("cp1257", "windows-1257", "x-cp1257")),
    "windows-1258": ("cp1258", ("cp1258", "windows-1258", "x-cp1258")),
    "gbk": (
        "gbk",
        ("chinese", "csgb2312", "csiso58gb231280", "gb2312", "gb_2312",
         "gb_2312-80", "gbk", "iso-ir-58", "x-gbk"),
    ),
    "gb18030": ("gb18030", ("gb18030",)),
    "big5": (
        "big5",
        ("big5", "big5-hkscs", "cn-big5", "csbig5", "x-x-big5"),
    ),
    "euc-jp": ("euc-jp", ("cseucpkdfmtjapanese", "euc-jp", "x-euc-jp")),
    "iso-2022-jp": ("iso2022-jp", ("csiso2022jp", "iso-2022-jp")),
    "shift_jis": (
        "shift_jis",
        ("csshiftjis", "ms932", "ms_kanji", "shift-jis", "shift_jis",
         "sjis", "windows-31j", "x-sjis"),
    ),
    "euc-kr": (
        "euc-kr",
        ("cseuckr", "csksc56011987", "euc-kr", "iso-ir-149", "korean",
         "ks_c_5601-1987", "ks_c_5601-1989", "ksc5601", "ksc_5601",
         "windows-949"),
    ),
    "utf-16be": ("utf-16-be", ("unicodefffe", "utf-16be")),
    "utf-16le": (
        "utf-16-le",
        ("csunicode", "iso-10646-ucs-2", "ucs-2", "unicode", "unicodefeff",
         "utf-16", "utf-16le"),
    ),
    # no Python codec is WHATWG-exact for x-user-defined (0x80-0xFF ->
    # U+F780-U+F7FF); the sniffer never returns it (meta substitutes
    # windows-1252), and decode maps it to latin-1 — the loud-enough
    # stand-in, documented here.
    "x-user-defined": ("latin-1", ("x-user-defined",)),
    "replacement": (
        "",  # never decoded: the Encoding Standard maps the whole
        # stream to a single U+FFFD to kill hostile-label attacks
        ("csiso2022kr", "hz-gb-2312", "iso-2022-cn", "iso-2022-cn-ext",
         "iso-2022-kr", "replacement"),
    ),
}

LABELS: dict[str, str] = {
    lbl: name for name, (_c, lbls) in _REGISTRY.items() for lbl in lbls
}
_PY_CODEC: dict[str, str] = {n: c for n, (c, _l) in _REGISTRY.items()}

_WS = b"\t\n\x0c\r "  # ASCII whitespace per spec


def normalize_label(label: str | bytes | None) -> str | None:
    """Encoding Standard "get an encoding": strip ASCII whitespace,
    lowercase, look up the labels table.  None on failure."""
    if label is None:
        return None
    if isinstance(label, (bytes, bytearray)):
        label = bytes(label).decode("ascii", "replace")
    return LABELS.get(label.strip("\t\n\x0c\r ").lower())


# ----------------------------------------------------------------------
# error handler: WHATWG windows-1252 C1 bytes (undefined in cp1252)
# ----------------------------------------------------------------------
def _whatwg_c1(exc):
    if isinstance(exc, UnicodeDecodeError):
        return (
            bytes(exc.object[exc.start:exc.end]).decode("latin-1"),
            exc.end,
        )
    raise exc


codecs.register_error("whatwg-c1", _whatwg_c1)


# ----------------------------------------------------------------------
# prescan (HTML Standard §13.2.3.3)
# ----------------------------------------------------------------------
def _get_attribute(d: bytes, i: int, n: int):
    """Spec "get an attribute": returns (name, value, next_pos) or
    (None, None, pos) when position sits on ``>`` / end of input."""
    while i < n and (d[i] in _WS or d[i] == 0x2F):  # ws or '/'
        i += 1
    if i >= n or d[i] == 0x3E:  # '>'
        return None, None, i
    name = bytearray()
    value = bytearray()
    # attribute name
    while i < n:
        b = d[i]
        if b == 0x3D and name:  # '='
            i += 1
            break
        if b in _WS:
            # spaces then maybe '='
            while i < n and d[i] in _WS:
                i += 1
            if i >= n or d[i] != 0x3D:
                return bytes(name).lower().decode("latin-1"), "", i
            i += 1
            break
        if b in (0x2F, 0x3E):  # '/' '>'
            return bytes(name).lower().decode("latin-1"), "", i
        name.append(b + 0x20 if 0x41 <= b <= 0x5A else b)
        i += 1
    # value
    while i < n and d[i] in _WS:
        i += 1
    if i < n and d[i] in (0x22, 0x27):  # quoted
        q = d[i]
        i += 1
        while i < n and d[i] != q:
            b = d[i]
            value.append(b + 0x20 if 0x41 <= b <= 0x5A else b)
            i += 1
        i += 1  # past the close quote (or end)
        return bytes(name).decode("latin-1"), bytes(value).decode("latin-1"), i
    while i < n and d[i] not in _WS and d[i] != 0x3E:
        b = d[i]
        value.append(b + 0x20 if 0x41 <= b <= 0x5A else b)
        i += 1
    return bytes(name).decode("latin-1"), bytes(value).decode("latin-1"), i


def _charset_from_content(v: str) -> str | None:
    """Spec "extract a character encoding from a meta element" over the
    (already lowercased) content attribute value."""
    pos = 0
    while True:
        idx = v.find("charset", pos)
        if idx < 0:
            return None
        i = idx + len("charset")
        while i < len(v) and v[i] in "\t\n\x0c\r ":
            i += 1
        if i < len(v) and v[i] == "=":
            i += 1
            break
        pos = i
    while i < len(v) and v[i] in "\t\n\x0c\r ":
        i += 1
    if i >= len(v):
        return None
    if v[i] in "\"'":
        q = v[i]
        j = v.find(q, i + 1)
        return v[i + 1:j] if j > 0 else None
    j = i
    while j < len(v) and v[j] not in "\t\n\x0c\r ;":
        j += 1
    return v[i:j] or None


def prescan(data: bytes) -> str | None:
    """Prescan the first 1024 bytes for a meta-declared encoding;
    returns a WHATWG encoding name (after the utf-16→utf-8 and
    x-user-defined→windows-1252 substitutions) or None."""
    d = bytes(data[:1024])
    n = len(d)
    i = 0
    while i < n:
        if d.startswith(b"<!--", i):
            j = d.find(b"-->", i + 2)  # spec: '>' preceded by '--', may
            if j < 0:  # overlap the '<!--' by two bytes
                return None
            i = j + 3
            continue
        if d.startswith(b"<meta", i) and i + 5 < n and d[i + 5] in _WS + b"/":
            i += 5
            got_pragma = False
            need_pragma: bool | None = None
            charset: str | None = None
            seen: set[str] = set()
            while True:
                aname, aval, i = _get_attribute(d, i, n)
                if aname is None:
                    break
                if aname in seen:
                    continue
                seen.add(aname)
                if aname == "http-equiv":
                    if aval == "content-type":
                        got_pragma = True
                elif aname == "content":
                    if charset is None:
                        got = _charset_from_content(aval)
                        if got is not None:
                            charset = got
                            need_pragma = True
                elif aname == "charset":
                    charset = aval
                    need_pragma = False
            if need_pragma is None or (need_pragma and not got_pragma):
                continue
            enc = normalize_label(charset)
            if enc is None:
                continue
            if enc in ("utf-16le", "utf-16be"):
                enc = "utf-8"  # prescan saw ASCII bytes; label is a lie
            if enc == "x-user-defined":
                enc = "windows-1252"
            return enc
        if (
            d.startswith(b"</", i)
            and i + 2 < n
            and 0x41 <= (d[i + 2] | 0x20) <= 0x7A
        ) or (
            d[i:i + 1] == b"<"
            and i + 1 < n
            and 0x41 <= (d[i + 1] | 0x20) <= 0x7A
        ):
            # a tag: skip to ws or '>', then drain attributes
            while i < n and d[i] not in _WS and d[i] != 0x3E:
                i += 1
            while True:
                aname, _v, i = _get_attribute(d, i, n)
                if aname is None:
                    break
            i += 1  # past '>' (or end)
            continue
        if d.startswith(b"<!", i) or d.startswith(b"</", i) or d.startswith(b"<?", i):
            j = d.find(b">", i + 2)
            if j < 0:
                return None
            i = j + 1
            continue
        i += 1
    return None


# ----------------------------------------------------------------------
# sniff + decode
# ----------------------------------------------------------------------
def sniff_encoding(data: bytes) -> tuple[str, str]:
    """(whatwg encoding name, source) for one page's bytes.

    Precedence per HTML Standard §13.2.3.2: BOM beats everything, then
    the ≤1024-byte meta prescan, then the windows-1252 default (the
    spec's en-locale default, and the right guess for legacy web
    bytes).  The spec's transport-layer label (HTTP Content-Type
    charset) sits between BOM and prescan; no page source here carries
    one.  Source is one of ``bom | meta | detected | default``.
    """
    if data[:3] == b"\xef\xbb\xbf":
        return "utf-8", "bom"
    if data[:2] == b"\xfe\xff":
        return "utf-16be", "bom"
    if data[:2] == b"\xff\xfe":
        return "utf-16le", "bom"
    p = prescan(data)
    if p is not None:
        return p, "meta"
    # detection step (HTML Standard step 7 explicitly permits "the
    # user agent may attempt to autodetect"): an UNDECLARED page whose
    # bytes are strict valid UTF-8 with at least one non-ASCII byte is
    # UTF-8 — on a real crawl that is a large share of pages, and the
    # windows-1252 default would mojibake every one of them.  Pure
    # ASCII skips the check (identical under both encodings, and the
    # dominant shape — one C-level scan, no allocation on failure).
    if not bytes(data).isascii():
        try:
            bytes(data).decode("utf-8", "strict")
            return "utf-8", "detected"
        except UnicodeDecodeError:
            pass
    return "windows-1252", "default"


def decode_bytes(data: bytes, encoding: str) -> str:
    """Decode per the WHATWG name (U+FFFD on malformed sequences, C1
    mapping for the five cp1252 holes, leading BOM character removed
    — the input-byte-stream rules)."""
    if encoding == "replacement":
        return "�" if data else ""
    codec = _PY_CODEC[encoding]
    if encoding == "utf-8" and data[:3] == b"\xef\xbb\xbf":
        data = data[3:]
    handler = "whatwg-c1" if codec == "cp1252" else "replace"
    s = bytes(data).decode(codec, handler)
    if encoding in ("utf-16le", "utf-16be") and s[:1] == "\ufeff":
        s = s[1:]
    return s


def to_utf8(data: bytes) -> tuple[bytes, str, str]:
    """(utf-8 bytes, encoding name, source) — the corpus-stage kernel.

    Fast path: a page sniffed utf-8 WITHOUT a BOM passes through
    byte-identical, no decode/encode round trip (the parser's own
    utf-8/replace decode matches the spec's U+FFFD rule) — on a real
    crawl that is the overwhelming majority of pages, so the transcode
    stage costs ~an memchr-scale prescan per page, not a copy.
    """
    enc, src = sniff_encoding(data)
    if enc == "utf-8":
        if data[:3] == b"\xef\xbb\xbf":
            return bytes(data[3:]), enc, src
        return bytes(data), enc, src
    return decode_bytes(data, enc).encode("utf-8"), enc, src
