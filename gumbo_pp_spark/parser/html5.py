"""From-scratch WHATWG-HTML5-style parser → flat preorder node table.

The reference (gumbo_pp) delegates parsing to Google's libgumbo
(``src/gumbo_pp.cpp:29-31`` calls ``gumbo_parse_with_options``), whose
semantics are the public WHATWG HTML5 parsing algorithm: an
error-recovering tokenizer plus tree construction with implied
``html/head/body``, void elements, rawtext/RCDATA content models,
character-reference decoding in text and attribute values, foster
parenting in tables, and per-node source spans
(``start_pos``/``original_tag``/``original_end_tag``).

This module re-implements that algorithm for byte-identical extraction
parity on the golden corpus (FIXTURES.md §2) and Common-Crawl-style
pages, spec-driven — NOT a code port.  The full machinery is in: the
spec's 8-iteration-outer/node-lifting-inner adoption agency
(:meth:`_TreeBuilder._adoption_agency`), active-formatting
reconstruction with markers, foster parenting, real foreign-content
dispatch (SVG/MathML namespaces, integration points, breakout tags,
case adjustment, CDATA only in foreign content), template insertion
modes, frameset modes with body-discarding takeover, scripting-off
``<noscript>`` (in-head-noscript rules, conformance-pinned), and exact
(code, offset) parse-error records.  Fidelity is pinned against the
vendored html5lib oracle over the conformance corpus plus five fuzz
campaigns (COVERAGE.md).  Remaining documented deviations:

* implied elements get zero-length tag spans at their insertion
  offset (libgumbo uses empty ``original_tag``);
* primary offsets are indices into the *decoded* (UTF-8 → str,
  ``\r\n``/``\r`` normalized to ``\n``) source; exact RAW-BYTE offsets
  are emitted alongside via ``parser/bytemap.py`` /
  ``NodeTable.byte_offsets``;
* NUL inside colgroup/frameset *content* is dropped-with-error rather
  than routed through those modes' anything-else branch (micro
  divergence, pinned in the fuzz-sweep tests; pre-body NUL follows
  the spec's anything-else rule in both engines).

A full deviation/deferred-item table with rationale lives in
COVERAGE.md ("Known divergences & deferred items").

The output is a :class:`~gumbo_pp_spark.nodetable.NodeTable` in
DFS-preorder structure-of-arrays form (SURVEY.md §1.4 mapping).
"""

from __future__ import annotations

import html as _htmllib
import re

import numpy as np

from ..nodetable import (
    CDATA,
    COMMENT,
    DOCUMENT,
    ELEMENT,
    NS_HTML,
    NS_MATHML,
    NS_SVG,
    NodeTable,
    TEMPLATE,
    TEXT,
    WHITESPACE,
)
from .tags import (
    FOREIGN_BREAKOUT,
    HEADINGS,
    MATHML_TEXT_IP,
    P_CLOSERS,
    RAWTEXT_ELEMENTS,
    RCDATA_ELEMENTS,
    SCOPE_BOUNDARIES,
    SVG_ATTR_CASE,
    SVG_HTML_IP,
    SVG_TAG_CASE,
    TABLE_SECTIONS,
    TAG_IDS,
    TAG_UNKNOWN,
    VOID_ELEMENTS,
)

_WS = " \t\n\f\r"
_WS_SET = frozenset(_WS)

# ----------------------------------------------------------------------
# Parse-error taxonomy: a STABLE public categorization of the engine's
# error codes, mirroring the coarse split in the reference's error
# model (libgumbo's GumboErrorType separates tokenizer-level errors
# from GUMBO_ERR_PARSER tree-construction errors; the reference
# exposes the typed vector via errors(), gumbo_node_iterator.h:247-249).
# Codes emitted while recognizing TOKENS (tags, comments, character
# data) are "tokenizer"; codes emitted by insertion-mode rules are
# "tree-construction".
# ----------------------------------------------------------------------
TOKENIZER_ERRORS = frozenset(
    {
        "eof-in-tag",
        "eof-in-end-tag",
        "eof-before-tag-name",
        "empty-end-tag",
        "end-tag-with-attributes",
        "duplicate-attribute",
        "abrupt-closing-of-empty-comment",
        "incorrectly-closed-comment",
        "processing-instruction",
        "unexpected-null-character",
    }
)


def error_category(code: str) -> str:
    """'tokenizer' | 'tree-construction' for an error_records code."""
    return "tokenizer" if code in TOKENIZER_ERRORS else "tree-construction"

_TAG_NAME_RE = re.compile(r"[a-zA-Z][^\t\n\f\r />]*")

# WHATWG tag/attribute names lowercase ASCII LETTERS ONLY (tokenizer
# "tag name state": "Uppercase ASCII letter: append the lowercase
# version"; libgumbo's gumbo_tolower is ASCII too).  str.lower() is
# the FULL Unicode mapping — '<DÉV>' must become 'dÉv', not 'dév'
# (html5lib-verified, round-7 fix).  The isascii() fast path keeps the
# hot path on the C-speed str.lower().
_ASCII_LOWER_TABLE = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def _ascii_lower(s: str) -> str:
    return s.lower() if s.isascii() else s.translate(_ASCII_LOWER_TABLE)
_ATTR_NAME_RE = re.compile(r"[^ \t\n\f\r/>=]+")
_UNQUOTED_VAL_RE = re.compile(r"[^ \t\n\f\r>]*")
_RAWTEXT_CLOSE_RES: dict[str, re.Pattern] = {}

# whole-end-tag FAST-PATH regex: one C-level call for the overwhelming
# common case `</name>` / `</name >` / `</name/>` (only whitespace or
# solidi after the name).  End tags carrying attributes fall through to
# _scan_end_tag_tail, which tokenizes them with the same quote-aware
# scanner as start tags and discards them per spec (WHATWG §13.2.5.8;
# gumbo src/tokenizer.c does the same) — so a '>' inside a quoted
# attribute value does NOT terminate the tag.
_END_TAG_RE = re.compile(r"</([a-zA-Z][^\t\n\f\r />]*)[ \t\n\f\r/]*>")

# Insertion modes (subset of the WHATWG set sufficient for our corpus).
(
    INITIAL,
    BEFORE_HTML,
    BEFORE_HEAD,
    IN_HEAD,
    AFTER_HEAD,
    IN_BODY,
    IN_TABLE,
    IN_TABLE_BODY,
    IN_ROW,
    IN_CELL,
    AFTER_BODY,
    IN_SELECT,
    IN_FRAMESET,
    AFTER_FRAMESET,
    IN_COLGROUP,
    AFTER_AFTER_BODY,
    IN_TEMPLATE,
) = range(17)

_TABLE_MODES = (IN_TABLE, IN_TABLE_BODY, IN_ROW)

# Active formatting elements (WHATWG §13.2.4.3): reconstructed after
# implied closes so misnested formatting wraps subsequent content.
# Scope markers are pushed at td/th/caption insertion sites.
_FORMATTING = frozenset("a b big code em font i nobr s small strike strong tt u".split())
# void/start tags that reconstruct formatting before insertion
_RECONSTRUCT_VOIDS = frozenset("area br embed img keygen wbr input".split())
# hoisted scope-extra sets (frozenset literals in call sites allocate per call)
_BUTTON_SCOPE = frozenset({"button"})
# start tags that flip the frameset-ok flag off (WHATWG in-body rules;
# matches the html5lib reference's set)
_FRAMESET_BREAKERS = frozenset(
    "pre listing button applet marquee object area br embed img keygen "
    "wbr input hr textarea iframe xmp select table".split()
)
# end tags with the block rule (WHATWG in-body): generate implied end
# tags, then pop through the element even across special intermediates
# — unlike "any other end tag", which aborts at the first special
_BLOCK_END = frozenset(
    "address article aside blockquote button center details dialog dir "
    "div dl fieldset figcaption figure footer header hgroup listing "
    "main menu nav ol pre section summary ul".split()
)
# elements closed by "generate implied end tags"
_IMPLIED_END = frozenset("dd dt li optgroup option p rb rp rt rtc".split())
# table-part start tags handled by the cell/caption/stray-part rules
_TABLEISH = frozenset("td th tr caption col colgroup tbody thead tfoot".split())

# ----------------------------------------------------------------------
# Per-tag flag table for the in-body start-tag FAST PATH.  The hot
# dispatch previously probed ~12 frozensets per ordinary start tag;
# the flags collapse that to ONE dict lookup.  Tags with bespoke rules
# (own branch in _start_in_body) map to -1 and take the slow chain;
# everything else (and unknown tags, default _F_RECONSTRUCT) replays
# exactly the generic steps: close-p, reconstruct, frameset-ok, void
# insert, formatting push, rawtext/rcdata switch.  The flag bits are
# DERIVED from the same frozensets the slow chain reads, so fast and
# slow paths cannot disagree.
# ----------------------------------------------------------------------
_F_P_CLOSE = 1
_F_RECONSTRUCT = 2
_F_FRAMESET_BREAK = 4
_F_VOID = 8
_F_FORMATTING = 16
_F_RAWTEXT = 32
_F_RCDATA = 64

_IB_BESPOKE = (
    frozenset(
        "image isindex html head body frame frameset li dd dt a nobr button "
        "option optgroup form applet marquee object svg math template "
        "table select pre listing textarea plaintext rp rt".split()
    )
    | _TABLEISH
    | HEADINGS
)


def _build_ib_fast() -> dict[str, int]:
    d: dict[str, int] = {}
    for name in TAG_IDS:
        if name in _IB_BESPOKE:
            d[name] = -1
            continue
        fl = 0
        if name in P_CLOSERS:
            fl |= _F_P_CLOSE
        if name in _FORMATTING or name in _RECONSTRUCT_VOIDS or (
            name not in P_CLOSERS
            and name not in HEADINGS
            and name not in VOID_ELEMENTS
            and name not in RAWTEXT_ELEMENTS
            # title: in-body <title> is processed via the IN-HEAD rule
            # (WHATWG in-body base/link/meta/title/... entry), which
            # does NOT reconstruct active formatting (fuzz-found:
            # '<span><font></span><title>' must not clone the font)
            and name not in ("li", "dd", "dt", "template", "textarea", "title")
        ):
            fl |= _F_RECONSTRUCT
        if name in _FRAMESET_BREAKERS:
            fl |= _F_FRAMESET_BREAK
        if name in VOID_ELEMENTS:
            fl |= _F_VOID
        if name in _FORMATTING:
            fl |= _F_FORMATTING
        if name in RAWTEXT_ELEMENTS:
            fl |= _F_RAWTEXT
        if name in RCDATA_ELEMENTS:
            fl |= _F_RCDATA
        if name == "xmp":
            # the ONE rawtext element whose in-body rule reconstructs
            # active formatting (WHATWG in-body xmp; html5lib agrees)
            fl |= _F_RECONSTRUCT
        d[name] = fl
    return d


_IB_FAST = _build_ib_fast()

# In-body END-tag fast path: when the CURRENT node is the named
# element, the p/heading/li/dd/dt/block/any-other rules all reduce to
# "pop through it" == _pop_until (which already handles open_p,
# formatting-marker clears and the explicit end-tag span).  Excluded:
# names whose rule does MORE than the pop — mode switches (table
# parts, body/html), the form pointer, the br-as-start quirk — and
# the formatting set (adoption agency owns those).
_END_BESPOKE = frozenset(
    "body html br form caption table td th tr tbody thead tfoot template".split()
) | _FORMATTING

# "Special" category elements that abort the <li>/<dd>/<dt> implied-end
# scan (WHATWG "in body": any special element other than address, div, p).
# The spec 'special' category minus address/div/p (the li/dd/dt scans
# exempt those three; the generic _is_special check adds them back).
# li/dd/dt themselves ARE special — the list-item scans test their own
# names before this set, matching the spec's rule ordering.
_SPECIAL_LI_STOP = frozenset(
    "applet area article aside base basefont bgsound blockquote body br "
    "button caption center col colgroup dd details dir dl dt embed "
    "fieldset figcaption figure footer form frame frameset h1 h2 h3 h4 "
    "h5 h6 head header hgroup hr html iframe img input keygen li link "
    "listing main marquee menu meta nav noembed noframes noscript object "
    "ol param plaintext pre script section select source style summary "
    "table tbody td template textarea tfoot th thead title tr track ul "
    "wbr xmp".split()
)


def _rawtext_close_re(name: str) -> re.Pattern:
    pat = _RAWTEXT_CLOSE_RES.get(name)
    if pat is None:
        pat = re.compile("</" + re.escape(name) + r"(?=[\t\n\f\r />]|$)", re.IGNORECASE)
        _RAWTEXT_CLOSE_RES[name] = pat
    return pat


# start-tag memo cache (see the tokenizer loop for the soundness
# argument); process-wide, bounded, cleared wholesale when full
_TAG_CACHE: dict[str, tuple] = {}
_TAG_CACHE_MAX = 8192


def _scan_start_attrs(s: str, pos: int, n: int) -> tuple[dict, bool, int, bool, int]:
    """Start-tag attribute scan (WHATWG attribute states): returns
    (attrs, self_closing, end_pos, found_gt, duplicate_count).  Called
    on tag-cache misses only — hits replay the cached result."""
    attrs: dict[str, str] = {}
    self_closing = False
    found_gt = False
    dups = 0
    while pos < n:
        ch = s[pos]
        if ch in _WS_SET:
            pos += 1
            continue
        if ch == ">":
            pos += 1
            found_gt = True
            break
        if ch == "/":
            if s.startswith("/>", pos):
                self_closing = True
                pos += 2
                found_gt = True
                break
            pos += 1
            continue
        am = _ATTR_NAME_RE.match(s, pos)
        if am:
            aname = _ascii_lower(am.group(0))
            pos = am.end()
        elif ch == "=":
            # spec 'before attribute name' with '=': parse error;
            # the new attribute's NAME starts with the equals sign
            m2 = _ATTR_NAME_RE.match(s, pos + 1)
            if m2:
                aname = "=" + _ascii_lower(m2.group(0))
                pos = m2.end()
            else:
                aname = "="
                pos += 1
        else:
            pos += 1
            continue
        while pos < n and s[pos] in _WS_SET:
            pos += 1
        aval = ""
        if pos < n and s[pos] == "=":
            pos += 1
            while pos < n and s[pos] in _WS_SET:
                pos += 1
            if pos < n and (s[pos] == '"' or s[pos] == "'"):
                q = s[pos]
                endq = s.find(q, pos + 1)
                if endq < 0:
                    endq = n
                aval = s[pos + 1: endq]
                pos = min(endq + 1, n)
            else:
                vm = _UNQUOTED_VAL_RE.match(s, pos)
                aval = vm.group(0)
                pos = vm.end()
        if "\x00" in aname:  # tokenizer attribute states: NUL → U+FFFD
            aname = aname.replace("\x00", "�")
        if "\x00" in aval:
            aval = aval.replace("\x00", "�")
        if aname not in attrs:  # duplicate attribute: first wins
            attrs[aname] = _decode_attr(aval)
        else:
            dups += 1
    return attrs, self_closing, pos, found_gt, dups


def _scan_end_tag_tail(s: str, pos: int, n: int) -> tuple[int, bool]:
    """Tokenize (and discard) the attribute region of an END tag,
    WHATWG §13.2.5.8: end-tag attributes use the start-tag attribute
    states, so quoted values may contain '>' without closing the tag.
    Returns (index just past the closing '>', had_attrs), or (-1,
    had_attrs) on EOF-in-tag (token ignored per spec).  Only reached
    when the _END_TAG_RE fast path failed, i.e. something other than
    whitespace/solidus follows the tag name."""
    had = False
    while pos < n:
        ch = s[pos]
        if ch in _WS_SET or ch == "/":
            pos += 1
            continue
        if ch == ">":
            return pos + 1, had
        am = _ATTR_NAME_RE.match(s, pos)
        if am:
            pos = am.end()
            had = True
        elif ch == "=":
            m2 = _ATTR_NAME_RE.match(s, pos + 1)
            pos = m2.end() if m2 else pos + 1
            had = True
        else:
            pos += 1
            continue
        while pos < n and s[pos] in _WS_SET:
            pos += 1
        if pos < n and s[pos] == "=":
            pos += 1
            while pos < n and s[pos] in _WS_SET:
                pos += 1
            if pos < n and (s[pos] == '"' or s[pos] == "'"):
                endq = s.find(s[pos], pos + 1)
                if endq < 0:
                    return -1, had
                pos = endq + 1
            else:
                vm = _UNQUOTED_VAL_RE.match(s, pos)
                pos = vm.end()
    return -1, had


def _decode(raw: str) -> str:
    # Character-reference decoding (named + numeric, legacy
    # no-semicolon forms) — WHATWG reference tables via the stdlib.
    if "&" in raw:
        return _htmllib.unescape(raw)
    return raw


_CHARREF_RE = re.compile(r"&(#[0-9]+;?|#[xX][0-9a-fA-F]+;?|[a-zA-Z][a-zA-Z0-9]*;?)")

# whitespace CHARACTER-TOKEN scanning (round 6): tree construction
# classifies the DECODED character token, and stream CR-normalization
# does not apply to reference-produced characters — so "&#13;" is a
# whitespace token (a literal U+000D) wherever a mode rule asks
# "is this whitespace?", even though the SOURCE characters are not.
_NUM_REF_RE = re.compile(r"&#(?:([0-9]+)|[xX]([0-9a-fA-F]+));?")
_NAMED_WS_REF_RE = re.compile(r"&(Tab|NewLine);")


def _ws_scan(raw: str, pos: int = 0):
    """Longest run of whitespace character TOKENS starting at ``pos``:
    literal ws characters plus character references decoding to one.
    Returns (source_length, decoded_ws_text)."""
    i = pos
    n = len(raw)
    out = []
    while i < n:
        c = raw[i]
        if c in _WS_SET:
            out.append(c)
            i += 1
            continue
        if c == "&":
            m = _NUM_REF_RE.match(raw, i)
            if m:
                try:
                    ch = chr(int(m.group(1) or m.group(2),
                                 16 if m.group(2) else 10))
                except (ValueError, OverflowError):
                    ch = ""
                if ch in _WS_SET:
                    out.append(ch)
                    i = m.end()
                    continue
            m = _NAMED_WS_REF_RE.match(raw, i)
            if m:
                out.append("\t" if m.group(1) == "Tab" else "\n")
                i = m.end()
                continue
        break
    return i - pos, "".join(out)


def _ws_prefix(raw: str):
    """(source_length, decoded) leading-whitespace-token prefix; the
    common no-reference case stays a plain lstrip."""
    stripped = raw.lstrip(_WS)
    k = len(raw) - len(stripped)
    if not stripped or stripped[0] != "&":
        return k, raw[:k]
    k2, ws2 = _ws_scan(raw, k)
    return k + k2, raw[:k] + ws2


def _ws_all(raw: str):
    """Decoded form of ``raw`` if EVERY character token in it is
    whitespace, else None."""
    if "&" not in raw:
        return raw if all(c in _WS_SET for c in raw) else None
    k, ws = _ws_scan(raw)
    return ws if k == len(raw) else None


def _decode_attr(raw: str) -> str:
    """Attribute-value character-reference decoding.

    Differs from text decoding in one WHATWG rule (tokenizer
    'character reference in attribute value' + libgumbo): a legacy
    named reference WITHOUT a semicolon is NOT decoded when followed
    by ``=`` or an alphanumeric — so ``href="?a=1&not=2"`` keeps
    ``&not`` literal instead of becoming U+00AC."""
    if "&" not in raw:
        return raw
    out = []
    pos = 0
    for m in _CHARREF_RE.finditer(raw):
        out.append(raw[pos: m.start()])
        ref = m.group(1)
        if ref.startswith("#") or ref.endswith(";"):
            out.append(_htmllib.unescape(m.group(0)))
        else:
            # maximal name run with no semicolon: a partial-prefix
            # legacy match is always followed by an alphanumeric
            # (spec: not decoded in attributes); a full match is
            # decoded unless '=' follows
            nxt = raw[m.end(): m.end() + 1]
            if nxt != "=" and ref in _html5_refs():
                out.append(_html5_refs()[ref])
            else:
                out.append(m.group(0))
        pos = m.end()
    out.append(raw[pos:])
    return "".join(out)


_HTML5_REFS = None


# WHATWG 13.2.6.4.1 "the initial insertion mode": public-identifier
# table for quirks-mode determination (the spec's own list; html5lib's
# InitialPhase and libgumbo's doctype handling implement the same
# table).  All entries lowercased for the case-insensitive compare.
_QUIRKS_PUBLIC_PREFIXES = (
    "+//silmaril//dtd html pro v0r11 19970101//",
    "-//advasoft ltd//dtd html 3.0 aswedit + extensions//",
    "-//as//dtd html 3.0 aswedit + extensions//",
    "-//ietf//dtd html 2.0 level 1//",
    "-//ietf//dtd html 2.0 level 2//",
    "-//ietf//dtd html 2.0 strict level 1//",
    "-//ietf//dtd html 2.0 strict level 2//",
    "-//ietf//dtd html 2.0 strict//",
    "-//ietf//dtd html 2.0//",
    "-//ietf//dtd html 2.1e//",
    "-//ietf//dtd html 3.0//",
    "-//ietf//dtd html 3.2 final//",
    "-//ietf//dtd html 3.2//",
    "-//ietf//dtd html 3//",
    "-//ietf//dtd html level 0//",
    "-//ietf//dtd html level 1//",
    "-//ietf//dtd html level 2//",
    "-//ietf//dtd html level 3//",
    "-//ietf//dtd html strict level 0//",
    "-//ietf//dtd html strict level 1//",
    "-//ietf//dtd html strict level 2//",
    "-//ietf//dtd html strict level 3//",
    "-//ietf//dtd html strict//",
    "-//ietf//dtd html//",
    "-//metrius//dtd metrius presentational//",
    "-//microsoft//dtd internet explorer 2.0 html strict//",
    "-//microsoft//dtd internet explorer 2.0 html//",
    "-//microsoft//dtd internet explorer 2.0 tables//",
    "-//microsoft//dtd internet explorer 3.0 html strict//",
    "-//microsoft//dtd internet explorer 3.0 html//",
    "-//microsoft//dtd internet explorer 3.0 tables//",
    "-//netscape comm. corp.//dtd html//",
    "-//netscape comm. corp.//dtd strict html//",
    "-//o'reilly and associates//dtd html 2.0//",
    "-//o'reilly and associates//dtd html extended 1.0//",
    "-//o'reilly and associates//dtd html extended relaxed 1.0//",
    "-//softquad software//dtd hotmetal pro 6.0::19990601::extensions to html 4.0//",
    "-//softquad//dtd hotmetal pro 4.0::19971010::extensions to html 4.0//",
    "-//spyglass//dtd html 2.0 extended//",
    "-//sq//dtd html 2.0 hotmetal + extensions//",
    "-//sun microsystems corp.//dtd hotjava html//",
    "-//sun microsystems corp.//dtd hotjava strict html//",
    "-//w3c//dtd html 3 1995-03-24//",
    "-//w3c//dtd html 3.2 draft//",
    "-//w3c//dtd html 3.2 final//",
    "-//w3c//dtd html 3.2//",
    "-//w3c//dtd html 3.2s draft//",
    "-//w3c//dtd html 4.0 frameset//",
    "-//w3c//dtd html 4.0 transitional//",
    "-//w3c//dtd html experimental 19960712//",
    "-//w3c//dtd html experimental 970421//",
    "-//w3c//dtd w3 html//",
    "-//w3o//dtd w3 html 3.0//",
    "-//webtechs//dtd mozilla html 2.0//",
    "-//webtechs//dtd mozilla html//",
)
_QUIRKS_PUBLIC_EXACT = frozenset((
    "-//w3o//dtd w3 html strict 3.0//en//",
    "-/w3c/dtd html 4.0 transitional/en",
    "html",
))
_QUIRKS_NO_SYSTEM_PREFIXES = (
    "-//w3c//dtd html 4.01 frameset//",
    "-//w3c//dtd html 4.01 transitional//",
)
_QUIRKS_SYSTEM = "http://www.ibm.com/data/dtd/v11/ibmxhtml1-transitional.dtd"


def _doctype_quirks(body: str) -> bool:
    """Quirks-mode determination for a DOCTYPE token, per the WHATWG
    13.2.5 DOCTYPE tokenizer states applied to the text between
    '<!doctype' and the terminating '>' plus the 13.2.6.4.1 initial-
    insertion-mode table.  Returns True for FULL quirks only —
    limited-quirks parses identically (the one parse-level quirk is
    the in-body <table>-does-not-close-<p> rule).  Malformed
    public/system identifiers set the force-quirks flag exactly where
    the tokenizer states do (missing quote, abrupt end, junk between
    identifiers, unknown keyword)."""
    n = len(body)
    i = 0
    while i < n and body[i] in _WS_SET:
        i += 1
    if i >= n:
        return True  # missing name: force-quirks
    j = i
    while j < n and body[j] not in _WS_SET:
        j += 1
    if _ascii_lower(body[i:j]) != "html":
        return True
    i = j
    while i < n and body[i] in _WS_SET:
        i += 1
    if i >= n:
        return False  # bare <!DOCTYPE html>
    kw = _ascii_lower(body[i: i + 6])

    def read_quoted(k):
        # (value | None, next index, malformed)
        while k < n and body[k] in _WS_SET:
            k += 1
        if k < n and body[k] in "\"'":
            q = body[k]
            e = body.find(q, k + 1)
            if e < 0:  # abrupt doctype identifier
                return body[k + 1:], n, True
            return body[k + 1: e], e + 1, False
        return None, k, True  # missing quote / missing identifier

    public_id = system_id = None
    force = False
    if kw == "public":
        public_id, i, bad = read_quoted(i + 6)
        force = bad
        if not force:
            k = i
            while k < n and body[k] in _WS_SET:
                k += 1
            if k < n:
                if body[k] in "\"'":
                    system_id, i, bad2 = read_quoted(k)
                    force = bad2
                else:  # junk between the identifiers
                    force = True
    elif kw == "system":
        system_id, i, bad = read_quoted(i + 6)
        force = bad
    else:
        force = True  # unknown keyword after the name
    if force:
        return True
    if public_id is not None:
        pid = _ascii_lower(public_id)
        if pid in _QUIRKS_PUBLIC_EXACT or pid.startswith(_QUIRKS_PUBLIC_PREFIXES):
            return True
        if system_id is None and pid.startswith(_QUIRKS_NO_SYSTEM_PREFIXES):
            return True
    if system_id is not None and _ascii_lower(system_id) == _QUIRKS_SYSTEM:
        return True
    return False


def _html5_refs():
    global _HTML5_REFS
    if _HTML5_REFS is None:
        from html.entities import html5

        _HTML5_REFS = html5
    return _HTML5_REFS


class _TreeBuilder:
    """Builds an explicit tree (children lists) then flattens to
    preorder; explicit children lists let foster parenting insert
    *before* the table without breaking preorder numbering."""

    __slots__ = (
        "src", "n", "mode", "stack", "errors", "errlog", "quirks",
        "skip_newline", "foster", "ntype", "ntag", "nattrs", "ntext",
        "nspan", "nchildren", "nparent", "niwp", "nns", "ntid", "preorder_ok",
        "html_id", "head_id", "body_id", "afe", "open_p", "has_foreign",
        "frameset_ok", "form_ptr", "select_in_table",
        # bound-method caches for the per-node hot path (9 container
        # appends per node; one attribute lookup each instead of two)
        "_ap_type", "_ap_tag", "_ap_attrs", "_ap_text", "_ex_span",
        "_ap_kids", "_ap_parent", "_ap_iwp", "_ap_ns", "_ap_tid",
        # GumboOptions analogue (src/gumbo_pp.cpp:27-31)
        "frag_name", "frag_ns",
        # WHATWG "in table text" pending character-token buffer
        "pending_tt",
        # WHATWG stack of template insertion modes
        "tmpl_modes",
    )

    # nspan layout: 6 int64 slots per node in one flat list —
    # [src_start, src_end, tag_start, tag_end, endtag_start, endtag_end]
    _S0, _S1, _T0, _T1, _E0, _E1 = range(6)

    def __init__(self, src: str, fragment: tuple[str, int] | None = None):
        self.src = src
        self.n = len(src)
        self.mode = INITIAL
        self.frag_name, self.frag_ns = fragment if fragment else ("", NS_HTML)
        self.stack: list[int] = []
        self.errors = 0
        # parse-error detail vector [(code, offset), ...] mirroring the
        # reference's errors() (gumbo_node_iterator.h:247-249); offsets
        # index the decoded input like every other span
        self.errlog: list[tuple[str, int]] = []
        self.quirks = True  # no doctype → quirks (both reference docs)
        self.skip_newline = False
        self.foster = False
        self.select_in_table = False
        self.ntype: list[int] = []
        self.ntag: list[str] = []
        self.nattrs: list[dict | None] = []
        self.ntext: list[str] = []
        self.nspan: list[int] = []
        self.nchildren: list[list[int]] = []
        self.nparent: list[int] = []
        self.niwp: list[int] = []
        self.nns: list[int] = []
        self.ntid: list[int] = []  # tag id computed at insert time
        # fast-path flag: no svg/math seen → foreign dispatch skipped
        self.has_foreign = False
        # WHATWG frameset-ok flag: gates <frameset> replacing the body
        self.frameset_ok = True
        # WHATWG form element pointer: non-null → nested <form> ignored
        self.form_ptr = -1
        self._ap_type = self.ntype.append
        self._ap_tag = self.ntag.append
        self._ap_attrs = self.nattrs.append
        self._ap_text = self.ntext.append
        self._ex_span = self.nspan.extend
        self._ap_kids = self.nchildren.append
        self._ap_parent = self.nparent.append
        self._ap_iwp = self.niwp.append
        self._ap_ns = self.nns.append
        self._ap_tid = self.ntid.append
        # creation order == preorder unless a foster insert places a
        # node BEFORE existing siblings; tracked for the fast finalize
        self.preorder_ok = True
        self.html_id = -1
        self.head_id = -1
        self.body_id = -1
        # active formatting elements: [tag, attrs, t0, t1, node_id] or
        # None (scope marker)
        self.afe: list = []
        self.open_p = 0  # open <p> elements (gates the in-scope walk)
        # WHATWG "in table text" pending character tokens: buffered
        # (raw, start) runs, flushed by the next non-character token
        self.pending_tt: list = []
        # WHATWG stack of template insertion modes (§13.2.4.1): one
        # entry per open <template>; top = current template mode
        self.tmpl_modes: list[int] = []
        self._new_node(DOCUMENT, "", None, "", 0, self.n)
        if fragment:
            self._init_fragment()
            # spec fragment algorithm: the parser takes the CONTEXT
            # document's mode, and a fresh context document is
            # no-quirks (html5lib likewise never visits its initial
            # phase in innerHTML mode)
            self.quirks = False

    def _init_fragment(self) -> None:
        """WHATWG 'parsing HTML fragments' (subset; gumbo's
        options.fragment_context / fragment_namespace,
        src/gumbo_pp.cpp:27-31): a root <html> element is created and
        the insertion mode is reset per the context element; content
        parents directly under the root (no implied head/body)."""
        nid = self._new_node(ELEMENT, "html", {}, "", 0, self.n, 0, 0, self.n, self.n)
        self._attach(nid, 0)
        self.stack.append(nid)
        self.html_id = nid
        ctx = self.frag_name
        if ctx != "html":
            # suppress implied head/body creation paths — except for
            # an <html> context, whose fragment runs the full
            # before-head pipeline (real head/body children; spec
            # reset: html -> before head; html5lib-verified)
            self.head_id = nid
            self.body_id = nid
        if self.frag_ns != NS_HTML:
            self.has_foreign = True
        elif ctx == "template":
            # spec fragment case: push "in template" onto the stack of
            # template insertion modes
            self.tmpl_modes.append(IN_TEMPLATE)
        self.mode = self._frag_ctx_mode()

    def _frag_ctx_mode(self) -> int:
        """Insertion mode for the fragment CONTEXT element — used both
        at fragment init and as the spec's last-node substitution in
        'reset the insertion mode appropriately' ("if node is the
        first node in the stack of open elements [and] the parser was
        created as part of the HTML fragment parsing algorithm, set
        node to the context element")."""
        ctx = self.frag_name
        if self.frag_ns != NS_HTML:
            return IN_BODY
        if ctx in ("td", "th"):
            return IN_CELL
        if ctx == "tr":
            return IN_ROW
        if ctx in TABLE_SECTIONS:
            return IN_TABLE_BODY
        if ctx == "table":
            return IN_TABLE
        if ctx == "select":
            return IN_SELECT
        if ctx == "colgroup":
            return IN_COLGROUP
        if ctx == "frameset":
            return IN_FRAMESET
        if ctx == "html":
            # spec: head pointer null -> before head, else after head
            return BEFORE_HEAD if self.head_id < 0 else (
                AFTER_HEAD if self.body_id < 0 else IN_BODY
            )
        if ctx == "template":
            return self.tmpl_modes[-1] if self.tmpl_modes else IN_TEMPLATE
        # NOTE ctx == "head" lands here: in-BODY is the gumbo/
        # html5lib-era rule (libgumbo reset_insertion_mode and
        # html5lib resetInsertionMode both map head to in-body; the
        # modern spec's "in head" applies only to a REAL head on the
        # stack, see _reset_mode) — same precedent as the
        # hr-in-select revert
        return IN_BODY

    # -- node store ----------------------------------------------------
    def _new_node(self, ntype, tag, attrs, text, s0, s1, t0=0, t1=0, e0=0, e1=0, ns=NS_HTML) -> int:
        nid = len(self.ntype)
        self._ap_type(ntype)
        self._ap_tag(tag)
        self._ap_attrs(attrs)
        self._ap_text(text)
        self._ex_span((s0, s1, t0, t1, e0, e1))
        self._ap_kids([])
        self._ap_parent(-1)
        self._ap_iwp(0)
        self._ap_ns(ns)
        self._ap_tid(
            TAG_IDS.get(tag, TAG_UNKNOWN) if (ntype == ELEMENT or ntype == TEMPLATE) else -1
        )
        return nid

    def _err(self, code: str, pos: int) -> None:
        self.errors += 1
        self.errlog.append((code, pos))

    def _detach(self, nid: int) -> None:
        p = self.nparent[nid]
        if p >= 0 and nid in self.nchildren[p]:
            self.nchildren[p].remove(nid)
        self.nparent[nid] = -1

    def _attach(self, nid: int, parent: int, before_table: int = -1) -> None:
        kids = self.nchildren[parent]
        if before_table >= 0 and before_table in kids:
            kids.insert(kids.index(before_table), nid)
            self.preorder_ok = False
            for j, k in enumerate(kids):
                self.niwp[k] = j
        else:
            self.niwp[nid] = len(kids)
            kids.append(nid)
        self.nparent[nid] = parent

    def _current(self) -> int:
        return self.stack[-1] if self.stack else 0

    def _insert_target(self) -> tuple[int, int]:
        """(parent, before_table_child) honoring foster parenting.

        Foster applies only while the CURRENT node is table context —
        with a foster-inserted element already open (e.g.
        <table><b><em>), subsequent insertions nest inside it normally
        (WHATWG 'appropriate place for inserting a node')."""
        if self.foster and self.ntag[self._current()] in (
            "table", "tbody", "tfoot", "thead", "tr",
        ):
            return self._foster_spot()
        return self._current(), -1

    def _foster_spot(self) -> tuple[int, int]:
        """The foster-parenting location: before the last open table
        (in the table's parent); with NO open table (a table-part
        fragment context) the spec inserts inside the FIRST element on
        the stack — the root (fuzz-found: fostered text in a
        table-context fragment landed inside the implied tr)."""
        for k in range(len(self.stack) - 1, -1, -1):
            if self.ntype[self.stack[k]] == TEMPLATE:
                # spec: last template LOWER than the last table wins —
                # content appends inside the template, no before-node
                return self.stack[k], -1
            if self.ntag[self.stack[k]] == "table":
                tbl = self.stack[k]
                par = self.nparent[tbl]
                if par >= 0:
                    return par, tbl
                break
        if self.frag_name and self.stack:
            return self.stack[0], -1
        return self._current(), -1

    # -- scope ----------------------------------------------------------
    def _in_scope(self, name: str, extra: frozenset = frozenset()) -> bool:
        nns = self.nns
        for k in range(len(self.stack) - 1, -1, -1):
            nid = self.stack[k]
            tag = self.ntag[nid]
            if nns[nid] == NS_HTML:
                if tag == name:
                    return True
                if tag in SCOPE_BOUNDARIES or tag in extra:
                    return False
            elif self._is_foreign_boundary(nid):
                return False
        return False

    def _node_in_scope(self, target: int) -> bool:
        """'has element in scope' for a specific node (identity)."""
        nns = self.nns
        for k in range(len(self.stack) - 1, -1, -1):
            nid = self.stack[k]
            if nid == target:
                return True
            if nns[nid] == NS_HTML:
                if self.ntag[nid] in SCOPE_BOUNDARIES:
                    return False
            elif self._is_foreign_boundary(nid):
                return False
        return False

    def _close_cell(self, pos: int) -> bool:
        """Close the NEAREST open cell within the current table (stop
        at the table boundary — popping _pop_until('td') blindly could
        reach a cell of an OUTER table through a nested one,
        fuzz-found: '<table><td><table><th><th>').  Returns True if a
        cell was closed."""
        stk = self.stack
        for k in range(len(stk) - 1, -1, -1):
            tag = self.ntag[stk[k]]
            if tag in ("td", "th"):
                return self._pop_until(tag, pos)
            if tag in ("table", "html", "template"):
                return False
        return False

    def _in_table_scope(self, name: str) -> bool:
        """'has element in TABLE scope' (boundaries: html, table,
        template only)."""
        for k in range(len(self.stack) - 1, -1, -1):
            nid = self.stack[k]
            tag = self.ntag[nid]
            if self.nns[nid] == NS_HTML:
                if tag == name:
                    return True
                if tag in ("html", "table", "template"):
                    return False
        return False

    def _is_foreign_boundary(self, nid: int) -> bool:
        """MathML text IPs + annotation-xml + SVG HTML IPs are scope
        boundaries AND 'special' category members."""
        tag = self.ntag[nid]
        if self.nns[nid] == NS_MATHML:
            return tag in MATHML_TEXT_IP or tag == "annotation-xml"
        return tag in SVG_HTML_IP

    def _is_special(self, nid: int) -> bool:
        """WHATWG 'special' element category (ns-aware)."""
        tag = self.ntag[nid]
        if self.nns[nid] == NS_HTML:
            return tag in _SPECIAL_LI_STOP or tag in ("address", "div", "p")
        return self._is_foreign_boundary(nid)

    # -- foreign-content dispatch ----------------------------------------
    def _is_mtext_ip(self, nid: int) -> bool:
        return self.nns[nid] == NS_MATHML and self.ntag[nid] in MATHML_TEXT_IP

    def _is_html_ip(self, nid: int) -> bool:
        ns = self.nns[nid]
        tag = self.ntag[nid]
        if ns == NS_SVG and tag in SVG_HTML_IP:
            return True
        if ns == NS_MATHML and tag == "annotation-xml":
            enc = _ascii_lower((self.nattrs[nid] or {}).get("encoding", ""))
            return enc in ("text/html", "application/xhtml+xml")
        return False

    def _acn(self) -> tuple[int, str, dict | None]:
        """(ns, tag, attrs) of the ADJUSTED current node: the fragment
        context element when only the fragment root is open."""
        nid = self.stack[-1]
        if len(self.stack) == 1 and self.frag_ns != NS_HTML and nid == self.html_id:
            return self.frag_ns, self.frag_name, None
        return self.nns[nid], self.ntag[nid], self.nattrs[nid]

    def _use_foreign(self, kind: str, name: str | None = None) -> bool:
        """WHATWG §13.2.6 tree-construction dispatcher: True → the
        token is processed by the foreign-content rules."""
        if not self.stack:
            return False
        ns, tag, attrs = self._acn()
        if ns == NS_HTML:
            return False
        if ns == NS_MATHML and tag in MATHML_TEXT_IP:
            if kind == "chars":
                return False
            if kind == "start" and name not in ("mglyph", "malignmark"):
                return False
        if ns == NS_MATHML and tag == "annotation-xml":
            if kind == "start" and name == "svg":
                return False
            enc = _ascii_lower((attrs or {}).get("encoding", ""))
            if enc in ("text/html", "application/xhtml+xml") and kind in ("chars", "start"):
                return False
        if ns == NS_SVG and tag in SVG_HTML_IP and kind in ("chars", "start"):
            return False
        return True

    def _cdata_allowed(self) -> bool:
        """Tokenizer rule: ``<![CDATA[`` is a CDATA section only when
        the adjusted current node is not in the HTML namespace."""
        return bool(self.stack) and self._acn()[0] != NS_HTML

    # -- implied structure ----------------------------------------------
    def _ensure_html(self, pos: int) -> None:
        if self.html_id < 0:
            nid = self._new_node(ELEMENT, "html", {}, "", pos, self.n, pos, pos, self.n, self.n)
            self._attach(nid, 0)
            self.stack.append(nid)
            self.html_id = nid
            self.mode = BEFORE_HEAD

    def _ensure_head(self, pos: int) -> None:
        self._ensure_html(pos)
        if self.head_id < 0:
            nid = self._new_node(ELEMENT, "head", {}, "", pos, pos, pos, pos, pos, pos)
            self._attach(nid, self.html_id)
            self.stack.append(nid)
            self.head_id = nid
            self.mode = IN_HEAD

    def _pop_head(self, pos: int, e0: int = -1, e1: int = -1) -> None:
        # fragment guard: head_id aliases the fragment root (never pop)
        if self.stack and self.stack[-1] == self.head_id and self.ntag[self.head_id] == "head":
            self.stack.pop()
        if self.head_id >= 0:
            sp = self.nspan
            base = 6 * self.head_id
            sp[base + 1] = pos if e1 < 0 else e1
            if e0 >= 0:
                sp[base + 4] = e0
                sp[base + 5] = e1
            else:
                sp[base + 4] = sp[base + 5] = pos
        self.mode = AFTER_HEAD

    def _ensure_body(self, pos: int) -> None:
        self._ensure_html(pos)
        if self.head_id < 0:
            self._ensure_head(pos)
            self._pop_head(pos)
        elif self.mode == IN_HEAD:
            self._pop_head(pos)
        if self.body_id < 0:
            nid = self._new_node(ELEMENT, "body", {}, "", pos, self.n, pos, pos, self.n, self.n)
            self._attach(nid, self.html_id)
            self.stack.append(nid)
            self.body_id = nid
        self.mode = IN_BODY

    # -- text insertion ---------------------------------------------------
    def _insert_text(
        self, decoded: str, s0: int, s1: int, rawtextual: bool = False,
        reconstruct: bool = True,
    ) -> None:
        if not decoded:
            return
        if rawtextual and "\x00" in decoded:
            # RAWTEXT/RCDATA/script-data/PLAINTEXT tokenizer states:
            # U+0000 is a parse error emitted as U+FFFD (the in-body
            # DATA-state NUL is dropped by _chars_html instead)
            self._err("unexpected-null-character", s0)
            decoded = decoded.replace("\x00", "�")
        if reconstruct and not rawtextual and self.afe and self.mode != IN_SELECT:
            self._reconstruct_formatting()
        if self.foster:
            parent, before = self._insert_target()
        else:
            parent = self.stack[-1] if self.stack else 0
            before = -1
        kids = self.nchildren[parent]
        anchor = len(kids)
        if before >= 0 and before in kids:
            anchor = kids.index(before)
        # merge with an immediately-preceding text node (the tokenizer's
        # character buffer is only flushed by tree-mutating tokens;
        # ignored tokens between two runs leave one text node).
        if anchor > 0:
            prev = kids[anchor - 1]
            if self.ntype[prev] in (TEXT, WHITESPACE):
                self.ntext[prev] += decoded
                self.nspan[6 * prev + 1] = s1
                if self.ntype[prev] == WHITESPACE and decoded.strip(_WS):
                    self.ntype[prev] = TEXT
                return
        ws = (not rawtextual) and not decoded.strip(_WS)
        if not ws and not rawtextual:
            self.frameset_ok = False
        # inlined node creation (hot path)
        nid = len(self.ntype)
        self._ap_type(WHITESPACE if ws else TEXT)
        self._ap_tag("")
        self._ap_attrs(None)
        self._ap_text(decoded)
        self._ex_span((s0, s1, 0, 0, 0, 0))
        self._ap_kids([])
        self._ap_ns(NS_HTML)
        self._ap_tid(-1)
        self._ap_parent(parent)
        if before >= 0:
            self._ap_iwp(0)
            self._attach(nid, parent, before)
        else:
            self._ap_iwp(anchor)
            kids.append(nid)

    # -- element insertion --------------------------------------------
    def _insert_element(self, name, attrs, t0, t1, push=True, ns=NS_HTML) -> int:
        # inlined node creation (hot path)
        nid = len(self.ntype)
        self._ap_type(ELEMENT)
        self._ap_tag(name)
        self._ap_attrs(attrs)
        self._ap_text("")
        n = self.n
        if push:
            self._ex_span((t0, n, t0, t1, n, n))
        else:
            self._ex_span((t0, t1, t0, t1, t1, t1))
        self._ap_kids([])
        self._ap_ns(ns)
        self._ap_tid(TAG_IDS.get(name, TAG_UNKNOWN))
        if name == "p":
            self.open_p += 1
        if self.foster:
            self._ap_parent(-1)
            self._ap_iwp(0)
            parent, before = self._insert_target()
            self._attach(nid, parent, before)
        else:
            parent = self.stack[-1] if self.stack else 0
            kids = self.nchildren[parent]
            self._ap_parent(parent)
            self._ap_iwp(len(kids))
            kids.append(nid)
        if push:
            self.stack.append(nid)
        return nid

    def _reconstruct_formatting(self) -> None:
        """WHATWG 'reconstruct the active formatting elements': reopen
        (clone) every post-marker entry whose element is no longer on
        the stack, oldest first.  Clones keep the ORIGINAL tag spans
        (the spec clones the original token; libgumbo does the same)."""
        afe = self.afe
        if not afe:
            return
        stack = self.stack
        # fast path: last entry open (or marker) → nothing to do.
        # Open formatting elements sit near the stack TOP — a reverse
        # scan exits in O(1) typically (a forward `in` made repeated-
        # formatting tag bombs quadratic).
        last = afe[-1]
        if last is None:
            return
        lid = last[4]
        for x in reversed(stack):
            if x == lid:
                return
        # find first stale entry after the last marker/open entry
        i = len(afe) - 1
        while i > 0:
            prev = afe[i - 1]
            if prev is None or prev[4] in stack:
                break
            i -= 1
        for k in range(i, len(afe)):
            tag, attrs, t0, t1, _ = afe[k]
            nid = self._new_node(ELEMENT, tag, attrs, "", t0, self.n, t0, t1, self.n, self.n)
            parent, before = self._insert_target()
            self._attach(nid, parent, before)
            self.stack.append(nid)
            afe[k][4] = nid

    def _afe_push(self, entry: list) -> None:
        """WHATWG 'Noah's Ark' clause: at most 3 entries with the same
        tag name and attributes after the last marker — the earliest is
        evicted.  Besides spec parity, this caps clone storms AND keeps
        the reconstruction fast-path scan bounded on tag bombs
        (10^4 unclosed <b> pages parse linearly instead of O(n^2))."""
        afe = self.afe
        count = 0
        earliest = -1
        for k in range(len(afe) - 1, -1, -1):
            e = afe[k]
            if e is None:
                break
            if e[0] == entry[0] and e[1] == entry[1]:
                count += 1
                earliest = k
        if count >= 3:
            del afe[earliest]
        afe.append(entry)

    def _afe_remove(self, nid: int) -> None:
        for k in range(len(self.afe) - 1, -1, -1):
            e = self.afe[k]
            if e is not None and e[4] == nid:
                del self.afe[k]
                return

    def _afe_clear_to_marker(self) -> None:
        while self.afe:
            if self.afe.pop() is None:
                return

    def _close_implied(self, nid: int, pos: int) -> None:
        """Zero-length end-tag span at ``pos`` for an implicitly closed
        element (libgumbo leaves original_end_tag empty)."""
        base = 6 * nid
        self.nspan[base + 4] = self.nspan[base + 5] = pos
        self.nspan[base + 1] = pos
        if self.ntag[nid] == "p" and self.nns[nid] == NS_HTML:
            self.open_p -= 1

    def _adoption_agency(self, name: str, t0: int, t1: int) -> bool:
        """Full WHATWG adoption agency algorithm (§13.2.6.4.7): the
        8-iteration outer loop and the inner node-lifting loop with the
        >3 active-formatting ejection rule.  The round-1 single-pass
        version left the formatting clone off the open-element stack,
        so following text reconstructed a spurious wrapper; the spec's
        SECOND outer iteration is what closes the clone (no furthest
        block remains), putting post-end-tag text directly in the block
        — verified against the public html5lib reference implementation
        (tests/conformance goldens).  Returns False → caller falls
        through to the 'any other end tag' rules."""
        stack = self.stack
        afe = self.afe
        # step 1: current node is <name> (HTML ns) and not in AFE → pop
        if stack:
            cur = stack[-1]
            if (
                self.ntag[cur] == name
                and self.nns[cur] == NS_HTML
                and not any(e is not None and e[4] == cur for e in afe)
            ):
                self._pop_until(name, t0, t0, t1)
                return True
        for _outer in range(8):
            # formatting element: last same-name entry after last marker
            fe_idx = None
            for k in range(len(afe) - 1, -1, -1):
                e = afe[k]
                if e is None:
                    break
                if e[0] == name:
                    fe_idx = k
                    break
            if fe_idx is None:
                return False  # act as "any other end tag"
            entry = afe[fe_idx]
            fe = entry[4]
            if fe not in stack:
                self._err("adoption-agency", t0)  # stale entry: drop it, ignore token
                del afe[fe_idx]
                return True
            if not self._node_in_scope(fe):
                self._err("adoption-agency", t0)
                return True
            if stack[-1] != fe:
                self._err("adoption-agency", t0)  # parse error; continue anyway
            si = stack.index(fe)
            fb_i = None
            for j in range(si + 1, len(stack)):
                if self._is_special(stack[j]):
                    fb_i = j
                    break
            if fb_i is None:
                # no furthest block: pop through FE, drop its entry
                while True:
                    nid = stack.pop()
                    if nid == fe:
                        base = 6 * nid
                        self.nspan[base + 4], self.nspan[base + 5] = t0, t1
                        self.nspan[base + 1] = t1
                        break
                    self._close_implied(nid, t0)
                del afe[fe_idx]
                return True
            fb = stack[fb_i]
            ca = stack[si - 1] if si > 0 else 0
            bookmark = fe_idx
            last_node = fb
            node_i = fb_i
            inner = 0
            while True:
                inner += 1
                node_i -= 1
                node = stack[node_i]
                if node == fe:
                    break
                nai = None
                for k in range(len(afe) - 1, -1, -1):
                    e2 = afe[k]
                    if e2 is not None and e2[4] == node:
                        nai = k
                        break
                if inner > 3 and nai is not None:
                    del afe[nai]
                    if nai < bookmark:
                        bookmark -= 1
                    nai = None
                if nai is None:
                    stack.pop(node_i)
                    self._close_implied(node, t0)
                    continue
                # clone node; the clone replaces it in AFE and on the
                # stack (clones keep the original token's tag span)
                e2 = afe[nai]
                clone = self._new_node(
                    ELEMENT, e2[0], dict(e2[1]) if e2[1] else {}, "",
                    e2[2], self.n, e2[2], e2[3], self.n, self.n,
                )
                afe[nai] = [e2[0], e2[1], e2[2], e2[3], clone]
                stack[node_i] = clone
                self._close_implied(node, t0)
                if last_node == fb:
                    bookmark = nai + 1
                self._detach(last_node)
                self._attach(last_node, clone)
                last_node = clone
            # step 14: common ancestor adopts last_node; foster is
            # keyed on the OVERRIDE target (the common ancestor), not
            # the stack current node
            self._detach(last_node)
            if self.ntag[ca] in ("table", "tbody", "tfoot", "thead", "tr"):
                parent, before = self._foster_spot()
                self._attach(last_node, parent, before)
            else:
                self._attach(last_node, ca)
            # steps 15-17: clone FE around the furthest block's children
            clone2 = self._new_node(
                ELEMENT, entry[0], dict(entry[1]) if entry[1] else {}, "",
                entry[2], self.n, entry[2], entry[3], self.n, self.n,
            )
            kids = self.nchildren[fb]
            self.nchildren[clone2] = kids
            for c in kids:
                self.nparent[c] = clone2
            self.nchildren[fb] = []
            self._attach(clone2, fb)
            # step 18: AFE — remove FE's entry, insert the clone's at
            # the bookmark (html5lib-faithful index handling)
            cur_idx = afe.index(entry)
            del afe[cur_idx]
            afe.insert(min(bookmark, len(afe)), [entry[0], entry[1], entry[2], entry[3], clone2])
            # step 19: stack — remove FE, insert clone below the block
            stack.remove(fe)
            base = 6 * fe
            self.nspan[base + 4], self.nspan[base + 5] = t0, t1
            self.nspan[base + 1] = t1
            stack.insert(stack.index(fb) + 1, clone2)
            self.preorder_ok = False  # reparenting broke creation order
        return True

    def _pop_until(self, name: str, pos: int, e0: int = -1, e1: int = -1) -> bool:
        """Generate implied end tags and pop through the nearest ``name``.
        The matched element gets the explicit end-tag span; implicitly
        popped elements get a zero-length end span at ``pos`` (libgumbo
        leaves original_end_tag empty for them)."""
        stk = self.stack
        ntag = self.ntag
        # fast path: the current node IS the target (the overwhelmingly
        # common well-nested case — one pop, no scan)
        if stk and ntag[stk[-1]] == name:
            nid = stk.pop()
            if name == "p":
                self.open_p -= 1
            sp = self.nspan
            base = 6 * nid
            if e0 >= 0:
                sp[base + 4], sp[base + 5] = e0, e1
                sp[base + 1] = e1
            else:
                sp[base + 4] = sp[base + 5] = pos
                sp[base + 1] = pos
            if name in _FORMATTING:
                self._afe_remove(nid)
            elif name in ("td", "th", "caption", "applet", "marquee", "object"):
                self._afe_clear_to_marker()
            return True
        for k in range(len(stk) - 1, -1, -1):
            if ntag[stk[k]] == name:
                break
        else:
            return False
        sp = self.nspan
        while stk:
            nid = stk.pop()
            if ntag[nid] == "p":
                self.open_p -= 1
            base = 6 * nid
            if ntag[nid] == name:
                if e0 >= 0:
                    sp[base + 4], sp[base + 5] = e0, e1
                    sp[base + 1] = e1
                else:
                    sp[base + 4] = sp[base + 5] = pos
                    sp[base + 1] = pos
                if name in _FORMATTING:
                    self._afe_remove(nid)
                elif name in ("td", "th", "caption", "applet", "marquee", "object"):
                    self._afe_clear_to_marker()
                return True
            sp[base + 4] = sp[base + 5] = pos
            sp[base + 1] = pos
        return False

    # -- template insertion modes (WHATWG §13.2.6.4.18) ----------------
    def _start_template(self, attrs, t0, t1) -> None:
        """The in-head <template> rule (reached from every mode that
        delegates template to 'in head'): insert the element, push an
        AFE scope marker, clear frameset-ok, switch to 'in template'
        and push it onto the stack of template insertion modes."""
        nid = self._insert_element("template", attrs, t0, t1)
        self.ntype[nid] = TEMPLATE
        self.afe.append(None)  # scope marker
        self.frameset_ok = False
        self.mode = IN_TEMPLATE
        self.tmpl_modes.append(IN_TEMPLATE)

    def _end_template(self, t0, t1) -> None:
        """The in-head </template> rule: thorough implied end tags,
        pop through the template, clear AFE to the marker, pop the
        template-mode stack, reset the insertion mode."""
        if not any(self.ntype[x] == TEMPLATE for x in self.stack):
            self._err("unexpected-end-tag", t0)
            return
        stk = self.stack
        while stk:
            nid = stk.pop()
            if self.ntype[nid] == TEMPLATE:
                base = 6 * nid
                self.nspan[base + 4], self.nspan[base + 5] = t0, t1
                self.nspan[base + 1] = t1
                break
            if self.ntag[nid] == "p":
                self.open_p -= 1
            self._close_implied(nid, t0)
        self._afe_clear_to_marker()
        if self.tmpl_modes:
            self.tmpl_modes.pop()
        self._reset_mode()

    def _start_in_template(self, name, attrs, self_closing, t0, t1) -> str | None:
        """'In template' start tags: head-ish tags via in-head; table
        structure re-routes the CURRENT template insertion mode and
        reprocesses; anything else becomes in-body."""
        if name in (
            "base", "basefont", "bgsound", "link", "meta", "noframes",
            "script", "style", "template", "title",
        ):
            if name == "template":
                self._start_template(attrs, t0, t1)
                return None
            if name in ("base", "basefont", "bgsound", "link", "meta"):
                self._insert_element(name, attrs, t0, t1, push=False)
                return None
            self._insert_element(name, attrs, t0, t1)
            return "rcdata" if name in RCDATA_ELEMENTS else "rawtext"
        remode = None
        if name in ("caption", "colgroup", "tbody", "tfoot", "thead"):
            remode = IN_TABLE
        elif name == "col":
            remode = IN_COLGROUP
        elif name == "tr":
            remode = IN_TABLE_BODY
        elif name in ("td", "th"):
            remode = IN_ROW
        else:
            remode = IN_BODY
        if self.tmpl_modes:
            self.tmpl_modes[-1] = remode
        self.mode = remode
        return self.handle_start(name, attrs, self_closing, t0, t1)

    def _reset_mode(self) -> None:
        """WHATWG 'reset the insertion mode appropriately' (subset).
        The checks are HTML-element checks — a FOREIGN node (e.g. an
        SVG <tr> or <title>) matches nothing and the walk continues to
        its ancestor (fuzz-found: '<svg><tr><title><table><table>'
        reset to IN_ROW off the svg tr and dropped the second
        table)."""
        for k in range(len(self.stack) - 1, -1, -1):
            if k == 0 and self.frag_name:
                # spec last-node substitution: in a fragment parse the
                # first stack node (the synthetic root) stands for the
                # CONTEXT element
                self.mode = self._frag_ctx_mode()
                return
            if self.nns[self.stack[k]] != NS_HTML:
                continue
            if self.ntype[self.stack[k]] == TEMPLATE:
                self.mode = self.tmpl_modes[-1] if self.tmpl_modes else IN_TEMPLATE
                return
            tag = self.ntag[self.stack[k]]
            if tag == "select":
                self.mode = IN_SELECT
                return
            if tag in ("td", "th"):
                self.mode = IN_CELL
                return
            if tag == "caption":
                # "in caption" is approximated by the in-body rules
                # (caption end/table-part handling lives in the in-body
                # branches) — without this a closed select inside a
                # caption reset to IN_TABLE and the following
                # </caption> was ignored (fuzz-found)
                self.mode = IN_BODY
                return
            if tag == "tr":
                self.mode = IN_ROW
                return
            if tag in TABLE_SECTIONS:
                self.mode = IN_TABLE_BODY
                return
            if tag == "table":
                self.mode = IN_TABLE
                return
            if tag == "frameset":
                self.mode = IN_FRAMESET
                return
            if tag == "colgroup":
                self.mode = IN_COLGROUP
                return
            if tag == "head":
                # a REAL head on the stack (template-in-head reset):
                # modern spec "in head" — the engine's template
                # machinery is modern-spec (html5lib predates it).
                # The FRAGMENT context substitution below maps a
                # ctx=head fragment to in-body instead (gumbo/
                # html5lib-era rule, html5lib-verified).
                self.mode = IN_HEAD
                return
            if tag == "body":
                self.mode = IN_BODY
                return
            if tag == "html":
                self.mode = BEFORE_HEAD if self.head_id < 0 else (AFTER_HEAD if self.body_id < 0 else IN_BODY)
                return
        self.mode = IN_BODY

    # ==================================================================
    # token handlers — thin dispatchers (WHATWG §13.2.6: tokens go to
    # the foreign-content rules when the adjusted current node is a
    # foreign element outside an integration point; ``has_foreign``
    # keeps the all-HTML fast path branch-free)
    # ==================================================================
    def _colgroup_fragment_chars(self, stripped: str, pos: int) -> None:
        """'In column group' anything-else character handling when the
        current node is NOT a colgroup (the colgroup-context FRAGMENT
        case): the spec rule is per CHARACTER token — non-whitespace
        is ignored (parse error) but whitespace LATER in the same run
        is still inserted (round-6 fresh-seed fuzz: dropping the whole
        run after the first non-ws lost the ws between ignored words).
        html5lib 1.x instead keeps only each tokenizer CHUNK's leading
        whitespace — a pinned artifact family, emulated in
        tests/html5lib_emulation.py by patching this method."""
        i, n = 0, len(stripped)
        while i < n:
            k, ws = _ws_scan(stripped, i)
            if k:
                self._insert_text(ws, pos + i, pos + i + k, reconstruct=False)
                i += k
                continue
            j = i
            while j < n:
                if stripped[j] in _WS_SET:
                    break
                if stripped[j] == "&" and _ws_scan(stripped, j)[0]:
                    break
                j += 1
            self._err("unexpected-character", pos + i)
            i = j if j > i else i + 1

    def handle_chars(self, raw: str, start: int) -> None:
        if self.has_foreign and self._use_foreign("chars"):
            self._foreign_chars(raw, start)
            return
        self._chars_html(raw, start)

    def handle_start(self, name, attrs, self_closing, t0, t1) -> str | None:
        if self.has_foreign and self._use_foreign("start", name):
            return self._foreign_start(name, attrs, self_closing, t0, t1)
        return self._start_html(name, attrs, self_closing, t0, t1)

    def handle_end(self, name, t0, t1) -> None:
        if self.has_foreign and self._use_foreign("end", name):
            self._foreign_end(name, t0, t1)
            return
        self._end_html(name, t0, t1)

    # -- foreign-content rules -----------------------------------------
    def _foreign_chars(self, raw: str, start: int) -> None:
        if "\x00" in raw:
            self._err("unexpected-null-character", start)  # foreign content: U+0000 → U+FFFD
            raw = raw.replace("\x00", "�")
        self._insert_text(_decode(raw), start, start + len(raw), reconstruct=False)

    def _foreign_start(self, name, attrs, self_closing, t0, t1) -> str | None:
        self.skip_newline = False
        if (
            name in FOREIGN_BREAKOUT
            or (name == "font" and ({"color", "face", "size"} & attrs.keys()))
        ):
            # breakout tag: pop foreign elements back to HTML content /
            # an integration point, then reprocess the token "according
            # to the rules ... in HTML content" (WHATWG 13.2.6.5) —
            # DIRECTLY via the HTML-mode handler, not the dispatcher.
            # In a document parse the two are equivalent (after the pop
            # loop the adjusted current node is HTML or an integration
            # point, both of which dispatch HTML); in a FRAGMENT parse
            # with a foreign context they are not: the dispatcher keeps
            # consulting the context element once only the root is
            # open, so routing back through it re-entered foreign
            # content (round-5 worked around this by disabling breakout
            # at the root, producing foreign <svg div> where browsers
            # produce an HTML <div>).  The pop loop itself is fragment-
            # safe: the synthetic root is an HTML-namespace element, so
            # it is never popped.
            self._err("html-in-foreign-content", t0)
            stk = self.stack
            while stk:
                nid = stk[-1]
                if (
                    self.nns[nid] == NS_HTML
                    or self._is_mtext_ip(nid)
                    or self._is_html_ip(nid)
                ):
                    break
                stk.pop()
                self._close_implied(nid, t0)
            return self._start_html(name, attrs, self_closing, t0, t1)
        ns = self._acn()[0]
        if ns == NS_SVG:
            name = SVG_TAG_CASE.get(name, name)
            if attrs:
                attrs = {SVG_ATTR_CASE.get(k, k): v for k, v in attrs.items()}
        elif ns == NS_MATHML and attrs and "definitionurl" in attrs:
            attrs = {
                ("definitionURL" if k == "definitionurl" else k): v
                for k, v in attrs.items()
            }
        self._insert_element(name, attrs, t0, t1, push=not self_closing, ns=ns)
        return None

    def _foreign_end(self, name, t0, t1) -> None:
        self.skip_newline = False
        stk = self.stack
        if stk and _ascii_lower(self.ntag[stk[-1]]) != name:
            self._err("unexpected-end-tag", t0)
        i = len(stk) - 1
        while i > 0:
            nid = stk[i]
            if _ascii_lower(self.ntag[nid]) == name:
                while len(stk) > i:
                    popped = stk.pop()
                    if popped == nid:
                        base = 6 * popped
                        self.nspan[base + 4], self.nspan[base + 5] = t0, t1
                        self.nspan[base + 1] = t1
                    else:
                        self._close_implied(popped, t0)
                return
            i -= 1
            if self.nns[stk[i]] == NS_HTML:
                self._end_html(name, t0, t1)
                return

    def _chars_in_table(self, raw: str, start: int, end: int) -> None:
        """WHATWG "in table" character rules (the spec/libgumbo
        handle_in_table): runs are PENDED via "in table text" only
        while the CURRENT node is table context — the all-space test
        then applies to the whole batch, so '\\n' followed by stray
        text fosters TOGETHER (fuzz-found: '<table>\\n< notatag').
        With a foster-inserted element current (e.g. <table><b>bold)
        the spec's "anything else" processes each run per in-body,
        which RECONSTRUCTS active formatting even for pure whitespace.

        html5lib 1.x instead routes EVERY character token through its
        InTableTextPhase regardless of the current node, so a
        whitespace-only batch into a fostered element skips
        reconstruction — a legacy artifact pinned (and machine-
        verified by patching this method) in
        tests/test_oracle_artifacts.py
        TestInTableTextUnconditionalPendFamily."""
        if self.ntag[self._current()] in (
            "table", "tbody", "tfoot", "thead", "tr",
        ):
            self.pending_tt.append((raw, start))
            return
        ws = _ws_all(raw)
        if ws is not None:
            self._insert_text(ws, start, end)
        else:
            self._insert_text(_decode(raw), start, end)

    def _flush_tt(self) -> None:
        """Flush pending table character tokens (WHATWG "in table
        text"): an all-whitespace batch inserts in place; a batch with
        ANY non-space character foster-parents EVERY run (including the
        leading whitespace runs)."""
        pend = self.pending_tt
        self.pending_tt = []
        decoded_ws = [_ws_all(raw) for raw, _ in pend]
        if all(w is not None for w in decoded_ws):
            for (raw, s), w in zip(pend, decoded_ws):
                self._insert_text(w, s, s + len(raw), reconstruct=False)
            return
        self._err("unexpected-character", pend[0][1])
        self.foster = True
        for raw, s in pend:
            self._insert_text(_decode(raw), s, s + len(raw))
        self.foster = False

    def _chars_html(self, raw: str, start: int) -> None:
        if "\x00" in raw:
            mode = self.mode
            if mode in (INITIAL, BEFORE_HTML, BEFORE_HEAD, IN_HEAD, AFTER_HEAD):
                # U+0000 is NOT whitespace, so in the pre-body modes it
                # is "anything else": it forces the html/head/body
                # scaffolding, and only THEN is it ignored (in-body
                # rule).  Tokens before the first NUL still process in
                # the current mode (round-6 NUL/charref fuzz wave).
                i = raw.index("\x00")
                if i:
                    self._chars_html(raw[:i], start)
                self._err("unexpected-character", start + i)
                self._ensure_body(start + i)
                # the NUL token intervened: a pending <pre>/<textarea>
                # newline skip no longer applies to what follows
                self.skip_newline = False
                rest = raw[i + 1:].replace("\x00", "")
                if rest:
                    self._chars_html(rest, start + i + 1)
                return
            if mode in (AFTER_BODY, AFTER_AFTER_BODY):
                # anything-else after body: parse error, back to in
                # body, reprocess (where the NUL itself is ignored)
                i = raw.index("\x00")
                if i:
                    self._chars_html(raw[:i], start)
                self._err("unexpected-character", start + i)
                self.mode = IN_BODY
                self.skip_newline = False
                rest = raw[i + 1:].replace("\x00", "")
                if rest:
                    self._chars_html(rest, start + i + 1)
                return
            if mode == IN_COLGROUP:
                # anything-else in column group: the NUL token closes
                # an open colgroup and reprocesses in-table (where the
                # in-table-text rule then drops the NUL itself); the
                # fragment case (current node not a colgroup) is a
                # parse error + ignore (round-6 wave-4/5 parity:
                # html5lib and the spec agree here)
                i = raw.index("\x00")
                if i:
                    self._chars_html(raw[:i], start)
                self._err("unexpected-character", start + i)
                self.skip_newline = False
                if self.stack and self.ntag[self._current()] == "colgroup":
                    self._close_implied(self.stack.pop(), start + i)
                    self.mode = IN_TABLE
                rest = raw[i + 1:].replace("\x00", "")
                if rest:
                    self._chars_html(rest, start + i + 1)
                return
            # in body / table text / select: U+0000 character tokens
            # are parse errors and are ignored
            self._err("unexpected-character", start)
            if raw[0] == "\x00":
                # a leading NUL token intervenes before any newline,
                # so the <pre>/<textarea> skip is disarmed
                self.skip_newline = False
            raw = raw.replace("\x00", "")
            if not raw:
                return
        if self.skip_newline:
            self.skip_newline = False
            if raw.startswith("\n"):
                raw = raw[1:]
                start += 1
                if not raw:
                    return
        mode = self.mode
        end = start + len(raw)
        if mode == IN_BODY or mode == IN_CELL or mode == IN_TEMPLATE:
            # hot path first; "in template" characters use the in-body
            # rules (spec in-template: character token -> in-body)
            self._insert_text(_decode(raw), start, end)
            return
        if mode in (INITIAL, BEFORE_HTML, BEFORE_HEAD):
            k, _ws = _ws_prefix(raw)
            stripped = raw[k:]
            if not stripped:
                return
            self._ensure_body(start + k)
            decoded = _decode(stripped)
            self._insert_text(decoded, start + k, end)
            return
        if mode in (IN_HEAD, AFTER_HEAD):
            k, ws = _ws_prefix(raw)
            stripped = raw[k:]
            if k:
                self._insert_text(ws, start, start + k)
            if stripped:
                if mode == IN_HEAD and self.stack and self.ntag[self._current()] == "noscript":
                    # in-head-noscript anything-else: pop the noscript
                    self._err("unexpected-character", start + k)
                    self._close_implied(self.stack.pop(), start + k)
                self._ensure_body(start + k)
                self._insert_text(_decode(stripped), start + k, end)
            return
        if mode in _TABLE_MODES:
            self._chars_in_table(raw, start, end)
            return
        if mode == IN_SELECT:
            self._insert_text(_decode(raw), start, end, reconstruct=False)
            return
        if mode == IN_COLGROUP:
            k, ws = _ws_prefix(raw)
            stripped = raw[k:]
            if k:
                # whitespace inside <colgroup> never reconstructs
                # formatting (fuzz-found: a fostered <small>'s AFE
                # entry must not reopen INSIDE the colgroup)
                self._insert_text(ws, start, start + k, reconstruct=False)
            if stripped:
                if self.stack and self.ntag[self._current()] == "colgroup":
                    self._close_implied(self.stack.pop(), start + k)
                    self.mode = IN_TABLE
                    self.handle_chars(stripped, start + k)
                else:
                    self._colgroup_fragment_chars(stripped, start + k)
            return
        if mode == IN_FRAMESET or mode == AFTER_FRAMESET:
            # Collect whitespace character TOKENS (literal ws chars and
            # references decoding to ws), dropping everything else.
            # The recorded span covers the SOURCE extent from the first
            # to the last kept token — "&#9;" is 4 source chars for 1
            # decoded char, so start+len(ws) would under-cover (ADVICE
            # r6); dropped non-ws chars inside the run stay covered,
            # matching the one-text-node merge convention.
            ws_parts = []
            first = last = -1
            i = 0
            n = len(raw)
            while i < n:
                k2, t = _ws_scan(raw, i)
                if k2:
                    if first < 0:
                        first = i
                    ws_parts.append(t)
                    i += k2
                    last = i
                else:
                    i += 1
            ws = "".join(ws_parts)
            if _ws_all(raw) is None:
                self._err("text-in-frameset", start)
            if ws:
                # stale AFE entries from a frameset takeover must NOT
                # reconstruct inside the frameset
                self._insert_text(ws, start + first, start + last, reconstruct=False)
            return
        if mode == AFTER_BODY or mode == AFTER_AFTER_BODY:
            if _ws_all(raw) is None:
                self._err("unexpected-character", start)
                self.mode = IN_BODY
            self._insert_text(_decode(raw), start, end)
            return
        # IN_BODY / IN_CELL
        self._insert_text(_decode(raw), start, end)

    # ------------------------------------------------------------------
    def _merge_root_attrs(self, target: int, attrs: dict) -> None:
        """Duplicate <html>/<body> start tags merge attributes the
        existing element lacks (WHATWG 'in body' html/body rules)."""
        if target >= 0 and attrs:
            existing = self.nattrs[target]
            if existing is not None:
                # copy-on-write: the dict may be shared via the tag
                # cache (and across AAA clones) — never mutate in place
                merged = None
                for k, v in attrs.items():
                    if k not in existing:
                        if merged is None:
                            merged = dict(existing)
                        merged[k] = v
                if merged is not None:
                    self.nattrs[target] = merged

    def _start_html(self, name, attrs, self_closing, t0, t1) -> str | None:
        """HTML-content start-tag rules.  Returns 'rawtext'/'rcdata' if
        the tokenizer must switch content model, else None."""
        if self.pending_tt:
            self._flush_tt()
        # the <pre>/<listing>/<textarea> newline-skip applies only to
        # the IMMEDIATELY following token (spec: "if the NEXT token is
        # a U+000A character token"); pre/listing/textarea re-set it
        # after their own dispatch below
        self.skip_newline = False
        mode = self.mode
        if mode == IN_BODY or mode == IN_CELL:  # hot path first
            return self._start_in_body(name, attrs, self_closing, t0, t1)
        if mode == INITIAL:
            self.mode = BEFORE_HTML
            return self.handle_start(name, attrs, self_closing, t0, t1)
        if mode == BEFORE_HTML:
            if name == "html":
                nid = self._new_node(ELEMENT, "html", attrs, "", t0, self.n, t0, t1, self.n, self.n)
                self._attach(nid, 0)
                self.stack.append(nid)
                self.html_id = nid
                self.mode = BEFORE_HEAD
                return None
            self._ensure_html(t0)
            return self.handle_start(name, attrs, self_closing, t0, t1)
        if mode == BEFORE_HEAD:
            if name == "html":
                self._err("unexpected-start-tag", t0)
                self._merge_root_attrs(self.html_id, attrs)
                return None
            if name == "head":
                nid = self._new_node(ELEMENT, "head", attrs, "", t0, self.n, t0, t1, self.n, self.n)
                self._attach(nid, self.html_id)
                self.stack.append(nid)
                self.head_id = nid
                self.mode = IN_HEAD
                return None
            self._ensure_head(t0)
            return self.handle_start(name, attrs, self_closing, t0, t1)
        if mode == IN_HEAD:
            if name == "html":
                # merge attributes; the head STAYS open (in-head html
                # start tag is handled by the in-body rule in place)
                self._err("unexpected-start-tag", t0)
                self._merge_root_attrs(self.html_id, attrs)
                return None
            if self.stack and self.ntag[self._current()] == "noscript":
                # "in head noscript" (scripting disabled): only
                # basefont/bgsound/link/meta/noframes/style may nest;
                # anything else pops the noscript and reprocesses in
                # head (fuzz-found: <noscript><script> must make the
                # script a SIBLING of the noscript)
                if name == "noscript" or name == "head":
                    self._err("unexpected-start-tag", t0)
                    return None
                if name not in ("basefont", "bgsound", "link", "meta", "noframes", "style"):
                    self._err("unexpected-start-tag", t0)
                    self._close_implied(self.stack.pop(), t0)
                    return self.handle_start(name, attrs, self_closing, t0, t1)
            if name in ("base", "basefont", "bgsound", "link", "meta"):
                self._insert_element(name, attrs, t0, t1, push=False)
                return None
            if name in ("title", "style", "script", "noframes", "noscript", "template"):
                if name == "noscript":
                    self._insert_element(name, attrs, t0, t1)
                    return None
                if name == "template":
                    self._start_template(attrs, t0, t1)
                    return None
                self._insert_element(name, attrs, t0, t1)
                return "rcdata" if name in RCDATA_ELEMENTS else "rawtext"
            if name == "head":
                self._err("unexpected-start-tag", t0)
                return None
            self._pop_head(t0)
            return self.handle_start(name, attrs, self_closing, t0, t1)
        if mode == AFTER_HEAD:
            if name == "frameset":
                nid = self._new_node(ELEMENT, "frameset", attrs, "", t0, self.n, t0, t1, self.n, self.n)
                self._attach(nid, self.html_id)
                self.stack.append(nid)
                self.mode = IN_FRAMESET
                return None
            if name == "body":
                nid = self._new_node(ELEMENT, "body", attrs, "", t0, self.n, t0, t1, self.n, self.n)
                self._attach(nid, self.html_id)
                self.stack.append(nid)
                self.body_id = nid
                self.mode = IN_BODY
                return None
            if name in ("html", "head"):
                self._err("unexpected-start-tag", t0)
                if name == "html":
                    self._merge_root_attrs(self.html_id, attrs)
                return None
            if name in (
                "base", "basefont", "bgsound", "link", "meta",
                "noframes", "script", "style", "template", "title",
            ):
                # spec "after head": parse error; push the head back on
                # the stack, process per in-head, remove it again (for
                # RCDATA/RAWTEXT the matching end tag removes it)
                self._err("unexpected-start-tag-after-head", t0)
                self.stack.append(self.head_id)
                if name in ("base", "basefont", "bgsound", "link", "meta"):
                    self._insert_element(name, attrs, t0, t1, push=False)
                    self.stack.pop()
                    return None
                if name == "template":
                    # in-head rule, then remove the re-pushed head IN
                    # PLACE (spec: "it might not be the current node")
                    self._start_template(attrs, t0, t1)
                    self.stack.remove(self.head_id)
                    return None
                self._insert_element(name, attrs, t0, t1)
                return "rcdata" if name == "title" else "rawtext"
            self._ensure_body(t0)
            return self.handle_start(name, attrs, self_closing, t0, t1)
        if mode == IN_TEMPLATE:
            return self._start_in_template(name, attrs, self_closing, t0, t1)
        if mode in _TABLE_MODES:
            return self._start_in_table(name, attrs, self_closing, t0, t1)
        if mode == IN_SELECT:
            return self._start_in_select(name, attrs, self_closing, t0, t1)
        if mode == IN_COLGROUP:
            if name == "col":
                self._insert_element(name, attrs, t0, t1, push=False)
                return None
            if name == "html":
                self._err("unexpected-start-tag", t0)
                self._merge_root_attrs(self.html_id, attrs)
                return None
            # anything else: close the colgroup, reprocess in table —
            # unless the current node is NOT a colgroup (the
            # colgroup-context FRAGMENT case): parse error, ignore
            if self.stack and self.ntag[self._current()] == "colgroup":
                self._close_implied(self.stack.pop(), t0)
                self.mode = IN_TABLE
                return self.handle_start(name, attrs, self_closing, t0, t1)
            self._err("unexpected-start-tag", t0)
            return None
        if mode == IN_FRAMESET:
            if name == "frameset":
                self._insert_element(name, attrs, t0, t1)
                return None
            if name == "frame":
                self._insert_element(name, attrs, t0, t1, push=False)
                return None
            if name == "noframes":
                self._insert_element(name, attrs, t0, t1)
                return "rawtext"
            if name == "html":
                self._merge_root_attrs(self.html_id, attrs)
            self._err("unexpected-start-tag-in-frameset", t0)
            return None
        if mode == AFTER_FRAMESET:
            if name == "noframes":
                self._insert_element(name, attrs, t0, t1)
                return "rawtext"
            if name == "html":
                self._merge_root_attrs(self.html_id, attrs)
            self._err("unexpected-start-tag-after-frameset", t0)
            return None
        if mode == AFTER_BODY or mode == AFTER_AFTER_BODY:
            if name == "html":
                # merge attributes WITHOUT leaving the after-body state
                self._err("unexpected-start-tag", t0)
                self._merge_root_attrs(self.html_id, attrs)
                return None
            self._err("unexpected-start-tag", t0)
            self.mode = IN_BODY
            return self.handle_start(name, attrs, self_closing, t0, t1)
        # IN_BODY / IN_CELL
        return self._start_in_body(name, attrs, self_closing, t0, t1)

    def _start_in_select(self, name, attrs, self_closing, t0, t1) -> str | None:
        """WHATWG 'in select' (subset): only option/optgroup content is
        honored; form controls and table structure break out of the
        select; anything else is ignored."""
        if name == "template":
            self._start_template(attrs, t0, t1)
            return None
        if name == "option":
            if self.ntag[self._current()] == "option":
                self._pop_until("option", t0)
            self._insert_element(name, attrs, t0, t1)
            return None
        if name == "optgroup":
            if self.ntag[self._current()] == "option":
                self._pop_until("option", t0)
            if self.ntag[self._current()] == "optgroup":
                self._pop_until("optgroup", t0)
            self._insert_element(name, attrs, t0, t1)
            return None
        if name == "html":
            self._err("unexpected-start-tag-in-select", t0)
            self._merge_root_attrs(self.html_id, attrs)
            return None
        if name in ("select", "input", "keygen", "textarea"):
            # parse error: close the select, reprocess (except a
            # duplicate <select>, which just closes it).  With no open
            # select element (the select-context FRAGMENT case) the
            # token is ignored per spec.
            self._err("unexpected-start-tag-in-select", t0)
            if not self._stack_has("select"):
                return None
            self._pop_until("select", t0)
            self._reset_mode()
            if name == "select":
                return None
            return self.handle_start(name, attrs, self_closing, t0, t1)
        if name in ("caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th"):
            # table-structure tags break out ONLY for a select opened
            # in a table context ("in select in table" — flag set at
            # select open, so a table-MODE fragment with no table
            # element still breaks out); a bare select (or a
            # select-context fragment) ignores them
            if self.select_in_table and self._stack_has("select"):
                self._err("unexpected-start-tag-in-select", t0)
                self._pop_until("select", t0)
                self._reset_mode()
                return self.handle_start(name, attrs, self_closing, t0, t1)
            self._err("unexpected-start-tag-in-select", t0)
            return None
        if name in ("script", "template"):
            self._insert_element(name, attrs, t0, t1)
            return "rawtext" if name == "script" else None
        self._err("unexpected-start-tag-in-select", t0)  # anything else: ignored
        return None

    def _start_in_body(self, name, attrs, self_closing, t0, t1) -> str | None:
        # fast path: one flag lookup replays the generic steps for tags
        # with no bespoke rule (and unknown tags: reconstruct+insert);
        # bespoke tags (-1) fall through to the full chain below
        fl = _IB_FAST.get(name, _F_RECONSTRUCT)
        if fl >= 0:
            if fl & _F_P_CLOSE and self.open_p > 0 and self._in_scope("p", _BUTTON_SCOPE):
                self._pop_until("p", t0)
            if self.afe and fl & _F_RECONSTRUCT:
                self._reconstruct_formatting()
            if fl & _F_FRAMESET_BREAK:
                self.frameset_ok = False
            if fl & _F_VOID:
                self._insert_element(name, attrs, t0, t1, push=False)
                return None
            nid = self._insert_element(name, attrs, t0, t1)
            if fl & _F_FORMATTING:
                self._afe_push([name, attrs, t0, t1, nid])
            if fl & _F_RAWTEXT:
                return "rawtext"
            if fl & _F_RCDATA:
                return "rcdata"
            return None
        if name == "image":
            name = "img"  # WHATWG "in body": image → img (parse error)
            self._err("unexpected-start-tag", t0)
        if name == "isindex":
            # legacy <isindex> expansion (gumbo's spec era; libgumbo
            # handle_in_body GUMBO_TAG_ISINDEX and html5lib
            # startTagIsIndex agree): parse error; IGNORED when a form
            # is open; else synthesized
            # form>hr,label(prompt-text,input),hr — the input carries
            # every isindex attribute except action/prompt/name, plus
            # name="isindex"; action moves to the form
            self._err("deprecated-tag", t0)
            if self.form_ptr >= 0:
                return None
            form_attrs = {}
            if attrs and "action" in attrs:
                form_attrs["action"] = attrs["action"]
            self._start_in_body("form", form_attrs, False, t0, t1)
            self._start_in_body("hr", {}, False, t0, t1)
            self._start_in_body("label", {}, False, t0, t1)
            prompt = (
                attrs["prompt"]
                if attrs and "prompt" in attrs
                else "This is a searchable index. Enter search keywords: "
            )
            self._insert_text(prompt, t0, t1)
            input_attrs = dict(attrs) if attrs else {}
            input_attrs.pop("action", None)
            input_attrs.pop("prompt", None)
            input_attrs["name"] = "isindex"
            self._start_in_body("input", input_attrs, self_closing, t0, t1)
            self._end_html("label", t0, t1)
            self._start_in_body("hr", {}, False, t0, t1)
            self._end_html("form", t0, t1)
            return None
        if name in ("html", "head", "body", "frame"):
            self._err("unexpected-start-tag", t0)
            # spec: duplicate <html>/<body> merge missing attributes
            # into the existing element
            if name == "html":
                self._merge_root_attrs(self.html_id, attrs)
            elif name == "body" and self.body_id != self.html_id:
                # the != guard is the FRAGMENT case: body_id aliases
                # the synthetic root there, and the spec ignores a
                # <body> token when the stack's second element is not
                # a body (round-4 fragment fuzz, html5lib-verified)
                self._merge_root_attrs(self.body_id, attrs)
            return None
        if name == "frameset":
            # WHATWG in-body frameset: gated on the frameset-ok flag;
            # the body element is DETACHED — its subtree is discarded
            # from the document (finalize drops unreachable nodes)
            b = self.body_id
            if b >= 0 and b != self.html_id and self.frameset_ok and self.nparent[b] >= 0:
                self._detach(b)
                while self.stack and self.stack[-1] != self.html_id:
                    self._close_implied(self.stack.pop(), t0)
                nid = self._new_node(
                    ELEMENT, "frameset", attrs, "", t0, self.n, t0, t1, self.n, self.n
                )
                self._attach(nid, self.html_id)
                self.stack.append(nid)
                self.body_id = -1
                self.mode = IN_FRAMESET
                self.preorder_ok = False  # orphaned body subtree
            else:
                self._err("unexpected-frameset", t0)
            return None
        if name in _TABLEISH:  # one gate for the three table-part rules
            if self.mode == IN_CELL:
                # close the NEAREST cell, reprocess in the row/section
                # context (a <table> start tag is NOT here: tables nest
                # in cells)
                if not self._close_cell(t0):
                    self._err("unexpected-start-tag-in-table", t0)
                    return None
                self._reset_mode()
                return self.handle_start(name, attrs, self_closing, t0, t1)
            # TABLE scope (boundaries html/table/template only) — the
            # generic scope list would let an open <marquee>/<object>
            # inside the caption hide it (fuzz-found:
            # '<table><caption><marquee><tr>')
            if self._in_table_scope("caption") and self.ntag[self._current()] != "table":
                # table-structure start tag while inside <caption>: close
                # the caption and reprocess in the table context
                self._pop_until("caption", t0)
                self._reset_mode()
                return self.handle_start(name, attrs, self_closing, t0, t1)
            if not self._in_table_scope("table"):
                self._err("unexpected-start-tag", t0)  # table parts outside a table: ignored
                return None
        if name in P_CLOSERS and self.open_p > 0 and self._in_scope("p", _BUTTON_SCOPE):
            # quirks mode: <table> does NOT close an open <p>.
            # <form> closes the p only when it will actually insert —
            # a nested form (non-null form pointer) is IGNORED before
            # any p-closing (WHATWG in-body <form> step order;
            # fuzz-found: '<form><p><form>text' keeps text in the p)
            if not (name == "table" and self.quirks) and not (
                name == "form" and self.form_ptr >= 0
            ):
                self._pop_until("p", t0)
        if name in HEADINGS:
            if self.stack and self.ntag[self._current()] in HEADINGS:
                self._err("unexpected-start-tag", t0)
                self._pop_until(self.ntag[self._current()], t0)
        elif name == "li":
            self._close_list_item(("li",), t0)
        elif name in ("dd", "dt"):
            self._close_list_item(("dd", "dt"), t0)
        elif name == "a":
            # an <a> with an active formatting entry runs the adoption
            # agency for "a", then force-drops the old element from
            # both lists (WHATWG "in body" a rule)
            a_entry = None
            for k in range(len(self.afe) - 1, -1, -1):
                e = self.afe[k]
                if e is None:
                    break
                if e[0] == "a":
                    a_entry = e
                    break
            if a_entry is not None:
                self._err("unexpected-start-tag", t0)
                self._adoption_agency("a", t0, t0)
                if a_entry in self.afe:
                    self.afe.remove(a_entry)
                if a_entry[4] in self.stack:
                    self.stack.remove(a_entry[4])
                    self._close_implied(a_entry[4], t0)
        elif name == "nobr":
            # spec order: reconstruct FIRST — a reconstructed <nobr>
            # clone is then in scope and gets adoption-agency-closed
            # before the new one opens
            self._reconstruct_formatting()
            if self._in_scope("nobr"):
                self._err("unexpected-start-tag", t0)
                self._adoption_agency("nobr", t0, t0)
                self._reconstruct_formatting()
        elif name == "button":
            if self._in_scope("button"):
                # spec: a nested <button> closes the open one first
                self._err("unexpected-start-tag", t0)
                self._pop_until("button", t0)
                return self.handle_start(name, attrs, self_closing, t0, t1)
        elif name in ("option", "optgroup"):
            if self.stack and self.ntag[self._current()] == "option":
                self._pop_until("option", t0)
        elif name in ("rp", "rt"):
            # WHATWG in-body rp/rt: if a ruby element is in scope,
            # generate implied end tags; insert WITHOUT reconstructing
            # active formatting (fuzz-found: html5lib startTagRpRt)
            if self._in_scope("ruby"):
                stk = self.stack
                while stk and self.ntag[stk[-1]] in _IMPLIED_END:
                    self._close_implied(stk.pop(), t0)
                if self.ntag[self._current()] != "ruby":
                    self._err("unexpected-start-tag", t0)
            self._insert_element(name, attrs, t0, t1)
            return None

        # WHATWG: character tokens, formatting tags, several voids and
        # "any other start tag" reconstruct active formatting first;
        # block-level groups (P_CLOSERS, headings, li/dd/dt, rawtext)
        # do not
        if self.afe and (
            name in _FORMATTING
            or name in _RECONSTRUCT_VOIDS
            or (
                name not in P_CLOSERS
                and name not in HEADINGS
                and name not in VOID_ELEMENTS
                and name not in RAWTEXT_ELEMENTS
                and name not in ("li", "dd", "dt", "template", "textarea")
            )
        ):
            self._reconstruct_formatting()

        if name == "form":
            # WHATWG in-body <form>: both the ignore check and the form
            # pointer assignment are waived while a template element is
            # on the stack (libgumbo: !has_open_element(TEMPLATE))
            no_template = not self._stack_has("template")
            if self.form_ptr >= 0 and no_template:
                self._err("nested-form-ignored", t0)
                return None
            if self.open_p > 0 and self._in_scope("p", _BUTTON_SCOPE):
                self._pop_until("p", t0)
            nid = self._insert_element(name, attrs, t0, t1)
            if no_template:
                self.form_ptr = nid
            return None
        if name in _FRAMESET_BREAKERS:
            self.frameset_ok = False
        if name in ("applet", "marquee", "object"):
            # formatting-scope marker containers (WHATWG in-body rule)
            self._insert_element(name, attrs, t0, t1)
            self.afe.append(None)
            return None
        if name in ("svg", "math"):
            # foreign-content root: subsequent tokens dispatch to the
            # foreign rules until the subtree closes / breaks out
            ns = NS_SVG if name == "svg" else NS_MATHML
            if attrs:
                if ns == NS_SVG:
                    attrs = {SVG_ATTR_CASE.get(k, k): v for k, v in attrs.items()}
                elif "definitionurl" in attrs:
                    attrs = {
                        ("definitionURL" if k == "definitionurl" else k): v
                        for k, v in attrs.items()
                    }
            self._insert_element(name, attrs, t0, t1, push=not self_closing, ns=ns)
            self.has_foreign = True
            return None
        if name in VOID_ELEMENTS:
            self._insert_element(name, attrs, t0, t1, push=False)
            return None
        if name == "template":
            self._start_template(attrs, t0, t1)
            return None
        nid = self._insert_element(name, attrs, t0, t1)
        if name in _FORMATTING:
            self._afe_push([name, attrs, t0, t1, nid])
        if name == "table":
            self.mode = IN_TABLE
            return None
        if name == "select":
            # spec: a select opened while the insertion mode is a
            # table mode (in table/caption/colgroup/tbody/row/cell)
            # switches to "in select in table" — recorded as a flag.
            # foster is True exactly while the in-table "anything
            # else" delegation runs (the delegating table mode is
            # saved); IN_CELL reaches here directly; "in caption" is
            # approximated by IN_BODY, so a caption in TABLE scope
            # (boundary: template — a select inside <template> nested
            # in a table stays plain in-select, mode is in-template
            # there) stands in for the caption modes; the frag check
            # covers a caption-context fragment (round-4 fragment
            # fuzz), likewise only outside any open template
            self.select_in_table = (
                self.mode == IN_CELL
                or self.foster
                or self._in_table_scope("caption")
                or (self.frag_name == "caption" and not self.tmpl_modes)
            )
            self.mode = IN_SELECT
            return None
        if name in ("pre", "listing", "textarea"):
            self.skip_newline = True
        if name == "plaintext":
            return "plaintext"  # tokenizer PLAINTEXT state: never exits
        if name in RAWTEXT_ELEMENTS:
            return "rawtext"
        if name in RCDATA_ELEMENTS:
            return "rcdata"
        return None

    def _close_list_item(self, names: tuple, pos: int) -> None:
        for k in range(len(self.stack) - 1, -1, -1):
            nid = self.stack[k]
            tag = self.ntag[nid]
            if self.nns[nid] != NS_HTML:
                # foreign specials (MathML text IPs, annotation-xml,
                # SVG HTML IPs) abort the scan like any other special;
                # other foreign elements don't match HTML names
                # (fuzz-found: '<dt><math><mo><dd>' must not close the
                # dt through the mo)
                if self._is_foreign_boundary(nid):
                    break
                continue
            if tag in names:
                self._pop_until(tag, pos)
                break
            if tag in _SPECIAL_LI_STOP:
                break
        if self.open_p > 0 and self._in_scope("p", _BUTTON_SCOPE):
            self._pop_until("p", pos)

    def _clear_to_table_context(self, stops: tuple, pos: int) -> None:
        # the spec's clear-back-to-*-context steps always stop at
        # <template> too (template contents host table structure)
        while (
            self.stack
            and self.ntag[self._current()] not in stops
            and self.ntag[self._current()] != "html"
            and self.ntype[self._current()] != TEMPLATE
        ):
            nid = self.stack.pop()
            if self.ntag[nid] == "p":
                self.open_p -= 1
            base = 6 * nid
            self.nspan[base + 4] = self.nspan[base + 5] = pos
            self.nspan[base + 1] = pos

    def _start_in_table(self, name, attrs, self_closing, t0, t1) -> str | None:
        mode = self.mode
        if name == "template":
            # spec in-table/in-table-body/in-row: template -> in-head
            # rule (inserted at the current location, no fostering)
            self._start_template(attrs, t0, t1)
            return None
        if mode == IN_TABLE:
            if name in TABLE_SECTIONS:
                self._clear_to_table_context(("table",), t0)
                self._insert_element(name, attrs, t0, t1)
                self.mode = IN_TABLE_BODY
                return None
            if name in ("td", "th", "tr"):
                self._err("unexpected-start-tag-in-table", t0)
                self._clear_to_table_context(("table",), t0)
                nid = self._new_node(ELEMENT, "tbody", {}, "", t0, self.n, t0, t0, self.n, self.n)
                parent, before = self._insert_target()
                self._attach(nid, parent, before)
                self.stack.append(nid)
                self.mode = IN_TABLE_BODY
                return self.handle_start(name, attrs, self_closing, t0, t1)
            if name == "caption":
                self._clear_to_table_context(("table",), t0)
                self._insert_element(name, attrs, t0, t1)
                self.afe.append(None)  # formatting-scope marker
                # "in caption" approximated by in-body; table-structure
                # tags and </caption> close it (see _start_in_body)
                self.mode = IN_BODY
                return None
            if name == "colgroup":
                self._clear_to_table_context(("table",), t0)
                self._insert_element(name, attrs, t0, t1)
                self.mode = IN_COLGROUP
                return None
            if name == "col":
                # implied <colgroup> (spec: reprocess in in-column-group)
                self._clear_to_table_context(("table",), t0)
                nid = self._new_node(ELEMENT, "colgroup", {}, "", t0, self.n, t0, t0, self.n, self.n)
                parent, before = self._insert_target()
                self._attach(nid, parent, before)
                self.stack.append(nid)
                self.mode = IN_COLGROUP
                return self.handle_start(name, attrs, self_closing, t0, t1)
            if name == "table":
                # spec in-table <table>: IGNORE when no table is in
                # table scope (the table-context FRAGMENT case)
                self._err("unexpected-start-tag-in-table", t0)
                if not self._in_table_scope("table"):
                    return None
                self._pop_until("table", t0)
                self._reset_mode()
                return self.handle_start(name, attrs, self_closing, t0, t1)
            if name in ("style", "script"):
                self._insert_element(name, attrs, t0, t1)
                return "rawtext"
            if name == "form":
                self._err("unexpected-start-tag-in-table", t0)
                if self.form_ptr < 0:
                    self.form_ptr = self._insert_element(name, attrs, t0, t1, push=False)
                return None
            # anything else: foster-parented in-body processing
            self._err("unexpected-start-tag-in-table", t0)
            self.foster = True
            saved = self.mode
            self.mode = IN_BODY
            r = self._start_in_body(name, attrs, self_closing, t0, t1)
            if self.mode == IN_BODY:
                self.mode = saved
            self.foster = False
            return r
        if mode == IN_TABLE_BODY:
            if name == "tr":
                self._clear_to_table_context(("tbody", "thead", "tfoot", "table"), t0)
                self._insert_element(name, attrs, t0, t1)
                self.mode = IN_ROW
                return None
            if name in ("td", "th"):
                self._err("unexpected-start-tag-in-table", t0)
                self._clear_to_table_context(("tbody", "thead", "tfoot", "table"), t0)
                nid = self._new_node(ELEMENT, "tr", {}, "", t0, self.n, t0, t0, self.n, self.n)
                parent, before = self._insert_target()
                self._attach(nid, parent, before)
                self.stack.append(nid)
                self.mode = IN_ROW
                return self.handle_start(name, attrs, self_closing, t0, t1)
            if name in TABLE_SECTIONS or name in ("caption", "col", "colgroup", "table"):
                # spec: if the stack has no tbody/thead/tfoot in TABLE
                # scope, parse error and IGNORE the token (the
                # tbody-context FRAGMENT case — round-4 fragment fuzz)
                if not any(
                    self._in_table_scope(s) for s in ("tbody", "thead", "tfoot")
                ):
                    self._err("unexpected-start-tag-in-table", t0)
                    return None
                # close the NEAREST open section of THIS table — the
                # previous frozenset iteration was hash-seed-
                # nondeterministic and unbounded (could pop through a
                # nested table to an outer section)
                for k in range(len(self.stack) - 1, -1, -1):
                    tag = self.ntag[self.stack[k]]
                    if tag in TABLE_SECTIONS:
                        self._pop_until(tag, t0)
                        break
                    if tag == "table":
                        break
                self.mode = IN_TABLE
                return self.handle_start(name, attrs, self_closing, t0, t1)
            self.mode = IN_TABLE
            r = self.handle_start(name, attrs, self_closing, t0, t1)
            if self.mode == IN_TABLE:
                self.mode = IN_TABLE_BODY
            return r
        # IN_ROW
        if name in ("td", "th"):
            self._clear_to_table_context(("tr", "table"), t0)
            self._insert_element(name, attrs, t0, t1)
            self.afe.append(None)  # formatting-scope marker
            self.mode = IN_CELL
            return None
        if name in ("tr", "caption", "col", "colgroup", "table") or name in TABLE_SECTIONS:
            # spec in-row: act as </tr> then reprocess — but if no tr
            # is in table scope (the tr-context FRAGMENT case) the
            # token is ignored
            if not self._in_table_scope("tr"):
                self._err("unexpected-start-tag-in-table", t0)
                return None
            self._pop_until("tr", t0)
            self.mode = IN_TABLE_BODY
            return self.handle_start(name, attrs, self_closing, t0, t1)
        self.mode = IN_TABLE
        r = self.handle_start(name, attrs, self_closing, t0, t1)
        if self.mode == IN_TABLE:
            self.mode = IN_ROW
        return r

    # ------------------------------------------------------------------
    def _end_html(self, name, t0, t1) -> None:
        if self.pending_tt:
            self._flush_tt()
        self.skip_newline = False
        mode = self.mode
        if mode != IN_BODY and mode != IN_CELL:  # hot path guard
            if mode == IN_TEMPLATE:
                # spec "in template" end tags: template via in-head,
                # anything else is a parse error, ignored
                if name == "template":
                    self._end_template(t0, t1)
                else:
                    self._err("unexpected-end-tag", t0)
                return
            if mode in (INITIAL, BEFORE_HTML, BEFORE_HEAD):
                if name in ("head", "body", "html", "br"):
                    self._ensure_head(t0)
                    self._end_html(name, t0, t1)
                else:
                    self._err("unexpected-end-tag", t0)
                return
            if mode == IN_HEAD:
                if self.stack and self.ntag[self._current()] == "noscript":
                    # "in head noscript" end tags: </noscript> pops
                    # (handled below), </br> acts as anything-else
                    # (pop noscript, reprocess), everything else is
                    # a parse error and IGNORED
                    if name == "br":
                        self._err("unexpected-end-tag", t0)
                        self._close_implied(self.stack.pop(), t0)
                        self._end_html(name, t0, t1)
                        return
                    if name != "noscript":
                        self._err("unexpected-end-tag", t0)
                        return
                if name == "head":
                    self._pop_head(t0, t0, t1)
                    return
                if name in ("body", "html", "br"):
                    self._pop_head(t0)
                    self._end_html(name, t0, t1)
                    return
                if name == "template":
                    self._end_template(t0, t1)
                    return
                if name in ("title", "style", "script", "noscript"):
                    self._pop_until(name, t0, t0, t1)
                    return
                self._err("unexpected-end-tag", t0)
                return
            if mode == AFTER_HEAD:
                if name in ("body", "html", "br"):
                    self._ensure_body(t0)
                    self._end_html(name, t0, t1)
                    return
                if name in ("title", "noframes", "script", "style"):
                    # closes an after-head re-entered head element
                    self._pop_until(name, t0, t0, t1)
                    if self.stack and self.stack[-1] == self.head_id:
                        self.stack.pop()
                    return
                self._err("unexpected-end-tag", t0)
                return
            if mode in _TABLE_MODES:
                self._end_in_table(name, t0, t1)
                return
            if mode == IN_SELECT:
                if name == "template":
                    self._end_template(t0, t1)
                    return
                if name == "option":
                    # spec "in select" </option>: pop ONLY if the
                    # current node is an option — never through the
                    # select (fuzz-found: <option><select></option x>)
                    stk = self.stack
                    if stk and self.ntag[stk[-1]] == "option":
                        self._pop_until("option", t0, t0, t1)
                    else:
                        self._err("unexpected-end-tag", t0)
                    return
                if name == "optgroup":
                    # spec: an option directly inside an optgroup is
                    # implied-closed first; then pop only a current
                    # optgroup
                    stk = self.stack
                    if (
                        len(stk) >= 2
                        and self.ntag[stk[-1]] == "option"
                        and self.ntag[stk[-2]] == "optgroup"
                    ):
                        self._close_implied(stk.pop(), t0)
                    if stk and self.ntag[stk[-1]] == "optgroup":
                        self._pop_until("optgroup", t0, t0, t1)
                    else:
                        self._err("unexpected-end-tag", t0)
                    return
                if name == "select":
                    if self._pop_until("select", t0, t0, t1):
                        self._reset_mode()
                    else:
                        self._err("unexpected-end-tag", t0)
                    return
                if name in (
                    "caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th",
                ):
                    # "in select in table" end tags: if the NAMED element
                    # is in table scope, close the select and reprocess;
                    # otherwise ignore (spec + html5lib scope check)
                    self._err("unexpected-end-tag-in-select-in-table", t0)
                    if self._in_table_scope(name):
                        self._pop_until("select", t0)
                        self._reset_mode()
                        self._end_html(name, t0, t1)
                    return
                self._err("unexpected-end-tag", t0)  # anything else: ignored
                return
            if mode == IN_FRAMESET:
                if name == "frameset":
                    cur = self.stack[-1] if self.stack else -1
                    if cur >= 0 and self.ntag[cur] == "frameset":
                        self._pop_until("frameset", t0, t0, t1)
                        cur2 = self.stack[-1] if self.stack else -1
                        if cur2 >= 0 and self.ntag[cur2] != "frameset":
                            self.mode = AFTER_FRAMESET
                    else:
                        self._err("unexpected-end-tag-in-frameset", t0)
                elif name == "noframes":
                    self._pop_until("noframes", t0, t0, t1)
                else:
                    self._err("unexpected-end-tag-in-frameset", t0)
                return
            if mode == AFTER_FRAMESET:
                if name == "noframes":
                    self._pop_until("noframes", t0, t0, t1)
                elif name == "html" and self.html_id >= 0:
                    base = 6 * self.html_id
                    self.nspan[base + 4], self.nspan[base + 5] = t0, t1
                    self.nspan[base + 1] = t1
                else:
                    self._err("unexpected-end-tag-after-frameset", t0)
                return
            if mode == IN_COLGROUP:
                if name == "colgroup":
                    if self.stack and self.ntag[self._current()] == "colgroup":
                        self._pop_until("colgroup", t0, t0, t1)
                        self.mode = IN_TABLE
                    else:
                        self._err("unexpected-end-tag", t0)
                    return
                if name == "col":
                    self._err("unexpected-end-tag", t0)
                    return
                if self.stack and self.ntag[self._current()] == "colgroup":
                    self._close_implied(self.stack.pop(), t0)
                    self.mode = IN_TABLE
                    self._end_html(name, t0, t1)
                else:  # colgroup-context fragment case: ignore
                    self._err("unexpected-end-tag", t0)
                return
            if mode == AFTER_AFTER_BODY:
                self._err("unexpected-end-tag", t0)
                self.mode = IN_BODY
                self._end_html(name, t0, t1)
                return
            if mode == AFTER_BODY:
                if name == "html":
                    if self.frag_name:
                        # spec after-body </html>: "if the parser was
                        # created as part of the HTML fragment parsing
                        # algorithm ... ignore the token (fragment
                        # case)" — html5lib likewise never reaches
                        # after-after-body in innerHTML mode
                        self._err("unexpected-end-tag", t0)
                        return
                    if self.html_id >= 0:
                        base = 6 * self.html_id
                        self.nspan[base + 4], self.nspan[base + 5] = t0, t1
                        self.nspan[base + 1] = t1
                        self.mode = AFTER_AFTER_BODY
                    return
                self._err("unexpected-end-tag", t0)
                self.mode = IN_BODY
                self._end_html(name, t0, t1)
                return
        # IN_BODY / IN_CELL
        # fast path: current node IS the named element and its rule
        # reduces to pop-through (see _END_BESPOKE) — the pop is
        # inlined (the _pop_until fast path would re-test the name and
        # re-dispatch the formatting/cell sets _END_BESPOKE already
        # excludes)
        stk = self.stack
        if (
            stk
            and name not in _END_BESPOKE
            and self.ntag[stk[-1]] == name
            and self.nns[stk[-1]] == NS_HTML
        ):
            nid = stk.pop()
            if name == "p":
                self.open_p -= 1
            elif name in ("applet", "marquee", "object"):
                self._afe_clear_to_marker()
            sp = self.nspan
            base = 6 * nid
            sp[base + 4], sp[base + 5] = t0, t1
            sp[base + 1] = t1
            return
        if name == "body":
            # spec: ignored unless the body element is IN SCOPE (an
            # open applet/marquee/object/td/... boundary blocks it)
            if (self.body_id >= 0 and self.body_id != self.html_id
                    and self._node_in_scope(self.body_id)):
                # spec: do not pop; record the span, switch mode
                base = 6 * self.body_id
                self.nspan[base + 4], self.nspan[base + 5] = t0, t1
                self.nspan[base + 1] = t1
                self.mode = AFTER_BODY
            else:
                self._err("unexpected-end-tag", t0)
            return
        if name == "html":
            if not (self.body_id >= 0 and self.body_id != self.html_id
                    and self._node_in_scope(self.body_id)):
                self._err("unexpected-end-tag", t0)
                return
            self.mode = AFTER_BODY
            base = 6 * self.body_id
            self.nspan[base + 1] = t0
            self.nspan[base + 4] = self.nspan[base + 5] = t0
            self._end_html(name, t0, t1)
            return
        if mode == IN_CELL and name in ("td", "th"):
            # spec: IGNORE unless the named cell is in TABLE scope —
            # '<table><th><table><td></th>' must not pop the outer th
            # through the inner table (round-4 closing fuzz)
            if not self._in_table_scope(name):
                self._err("unexpected-end-tag", t0)
                return
            if self._pop_until(name, t0, t0, t1):
                self._reset_mode()
            else:
                self._err("unexpected-end-tag", t0)
            return
        if mode == IN_CELL and (name in ("table", "tr") or name in TABLE_SECTIONS):
            # spec in-cell: IGNORE unless the named element is in TABLE
            # scope (fuzz-found: '<table><td></tfoot> ' must keep the
            # following text inside the cell)
            if not self._in_table_scope(name):
                self._err("unexpected-end-tag-in-table", t0)
                return
            self._close_cell(t0)
            self._reset_mode()
            self._end_html(name, t0, t1)
            return
        if name == "p":
            if self.open_p > 0 and self._in_scope("p", _BUTTON_SCOPE):
                self._pop_until("p", t0, t0, t1)
            else:
                # spec: synthesize an empty <p> then close it
                self._err("unexpected-end-tag", t0)
                nid = self._insert_element("p", {}, t0, t0)
                self.stack.pop()
                self.open_p -= 1
                base = 6 * nid
                self.nspan[base + 4], self.nspan[base + 5] = t0, t1
                self.nspan[base + 1] = t1
            return
        if name in HEADINGS:
            # spec: an h1-h6 end tag closes the nearest open heading of
            # ANY rank (</h2> closes an open <h3>) — but only if one is
            # IN SCOPE: the walk stops at scope boundaries including
            # the foreign ones (fuzz-found: '<h2><math><ms></h2>' must
            # not pop the heading through the MathML text IP)
            target = None
            for k in range(len(self.stack) - 1, -1, -1):
                nid = self.stack[k]
                tag = self.ntag[nid]
                if self.nns[nid] != NS_HTML:
                    if self._is_foreign_boundary(nid):
                        break
                    continue
                if tag in HEADINGS:
                    target = tag
                    break
                if tag in SCOPE_BOUNDARIES:
                    break
            if target is None:
                self._err("unexpected-end-tag", t0)
            else:
                self._pop_until(target, t0, t0, t1)
            return
        if name == "br":
            # spec: </br> acts as a <br> START tag → reconstruct
            # active formatting before inserting
            self._err("unexpected-end-tag", t0)
            if self.afe:
                self._reconstruct_formatting()
            self._insert_element("br", {}, t0, t1, push=False)
            return
        if name in ("applet", "marquee", "object"):
            if self._in_scope(name):
                self._pop_until(name, t0, t0, t1)  # clears AFE to marker
            else:
                self._err("unexpected-end-tag", t0)
            return
        if name in _FORMATTING and self._adoption_agency(name, t0, t1):
            return
        if name == "caption":
            if self._pop_until("caption", t0, t0, t1):
                self._reset_mode()
            else:
                self._err("unexpected-end-tag", t0)
            return
        if name == "table" and self._in_table_scope("caption"):
            # </table> while inside <caption> (approximated as in-body):
            # close the caption, then let the table context handle it
            self._pop_until("caption", t0)
            self._reset_mode()
            self.handle_end(name, t0, t1)
            return
        if name == "template":
            self._end_template(t0, t1)
            return
        if name == "form":
            # spec form end rule: the form POINTER's element is REMOVED
            # from the stack IN PLACE — elements above it stay open
            # (they remain its children in the tree)
            stk = self.stack
            nid = self.form_ptr
            self.form_ptr = -1
            if nid >= 0 and nid in stk and self._node_in_scope(nid):
                while stk[-1] != nid and self.ntag[stk[-1]] in _IMPLIED_END:
                    self._close_implied(stk.pop(), t0)
                if stk[-1] != nid:
                    self._err("unexpected-end-tag", t0)
                del stk[stk.index(nid)]
                base = 6 * nid
                self.nspan[base + 4], self.nspan[base + 5] = t0, t1
                self.nspan[base + 1] = t1
                return
            self._err("unexpected-end-tag", t0)
            return
        if name in ("li", "dd", "dt"):
            # list-item end rule: implied end tags except self, then pop
            # through the element (li uses list-item scope)
            extra = frozenset({"ul", "ol"}) if name == "li" else frozenset()
            if self._in_scope(name, extra):
                self._pop_until(name, t0, t0, t1)
            else:
                self._err("unexpected-end-tag", t0)
            return
        if name in _BLOCK_END:
            # block rule: implied end tags (p/li/dd/...) close, then pop
            # through the element regardless of intermediates
            if self._in_scope(name):
                self._pop_until(name, t0, t0, t1)
            else:
                self._err("unexpected-end-tag", t0)
            return
        self._end_any_other(name, t0, t1)

    def _end_any_other(self, name, t0, t1) -> None:
        # "any other end tag": walk the stack for a same-name HTML
        # element; a SPECIAL element found first aborts (token ignored)
        # instead of popping through it (WHATWG in-body
        # any-other-end-tag).  Separate method so the oracle-artifact
        # tests can emulate html5lib's legacy walk (namespace-blind
        # name match + its specialElements gaps) by patching it.
        stk = self.stack
        for k in range(len(stk) - 1, -1, -1):
            nid = stk[k]
            if self.ntag[nid] == name and self.nns[nid] == NS_HTML:
                self._pop_until(name, t0, t0, t1)
                return
            if self._is_special(nid):
                self._err("unexpected-end-tag", t0)
                return
        self._err("unexpected-end-tag", t0)

    def _stack_has(self, name: str) -> bool:
        return any(self.ntag[x] == name for x in self.stack)

    def _end_in_table(self, name, t0, t1) -> None:
        # spec: every table-structure end tag is gated on "has an
        # element in TABLE scope" BEFORE any popping — a blind pop
        # could close fostered elements for an ignorable token
        # (fuzz-found: '<table><tr><u></thead>&amp;')
        mode = self.mode
        if name == "template":
            self._end_template(t0, t1)
            return
        if name == "table":
            # spec: each mode gates on ITS OWN scope check before any
            # popping — in-row on tr, in-table-body on an open SECTION
            # (a tbody/tfoot/thead-context fragment must still close
            # its open section even with no table element on the
            # stack; round-4 fragment fuzz), in-table on the table
            if mode == IN_ROW:
                if not self._in_table_scope("tr"):
                    self._err("unexpected-end-tag-in-table", t0)
                    return
                self._pop_until("tr", t0)
                self.mode = IN_TABLE_BODY
                self._end_in_table(name, t0, t1)  # reprocess
                return
            if mode == IN_TABLE_BODY:
                if not any(
                    self._in_table_scope(x) for x in ("tbody", "thead", "tfoot")
                ):
                    self._err("unexpected-end-tag-in-table", t0)
                    return
                # clear back to table-body context and pop the NEAREST
                # open section of THIS table (walk from the top, stop
                # at the table boundary) — iterating the
                # TABLE_SECTIONS frozenset here was both
                # hash-seed-NONDETERMINISTIC and able to pop through
                # an inner table to an outer section
                for k in range(len(self.stack) - 1, -1, -1):
                    tag = self.ntag[self.stack[k]]
                    if tag in TABLE_SECTIONS:
                        self._pop_until(tag, t0)
                        break
                    if tag == "table":
                        break
                self.mode = IN_TABLE
                self._end_in_table(name, t0, t1)  # reprocess
                return
            if not self._in_table_scope("table"):
                self._err("unexpected-end-tag-in-table", t0)
                return
            self._pop_until("table", t0, t0, t1)
            self._reset_mode()
            return
        if mode == IN_TABLE_BODY and name in TABLE_SECTIONS:
            if not self._in_table_scope(name):
                self._err("unexpected-end-tag-in-table", t0)
                return
            self._pop_until(name, t0, t0, t1)
            self.mode = IN_TABLE
            return
        if mode == IN_ROW and name == "tr":
            if not self._in_table_scope("tr"):
                self._err("unexpected-end-tag-in-table", t0)
                return
            self._pop_until("tr", t0, t0, t1)
            self.mode = IN_TABLE_BODY
            return
        if mode == IN_ROW and name in TABLE_SECTIONS:
            if not self._in_table_scope(name):
                self._err("unexpected-end-tag-in-table", t0)
                return
            self._pop_until("tr", t0)
            self.mode = IN_TABLE_BODY
            self._end_in_table(name, t0, t1)
            return
        if name in ("body", "html", "td", "th", "tr", "caption", "col", "colgroup"):
            self._err("unexpected-end-tag-in-table", t0)
            return
        # anything else (spec "in table" fallthrough): process using the
        # in-body rules with foster parenting for any insertions (e.g. a
        # stray </br> materializes a foster-parented <br>)
        saved = self.mode
        self.foster = True
        self.mode = IN_BODY
        self._end_html(name, t0, t1)
        if self.mode == IN_BODY:
            self.mode = saved
        self.foster = False

    # ------------------------------------------------------------------
    def handle_comment(self, text, t0, t1) -> None:
        if self.pending_tt:
            self._flush_tt()
        self.skip_newline = False
        if "\x00" in text:
            # tokenizer comment/bogus-comment states: U+0000 is a parse
            # error emitted as U+FFFD
            self._err("unexpected-null-character", t0)
            text = text.replace("\x00", "�")
        # WHATWG dispatcher: a comment token with a FOREIGN adjusted
        # current node goes to the foreign rules (insert at the current
        # node) even when the insertion mode already moved past the
        # body — fuzz-found via '<svg></html><!--c-->'
        if self.has_foreign and self.stack and self._use_foreign("comment"):
            nid = self._new_node(COMMENT, "", None, text, t0, t1)
            self._attach(nid, self._current())
            return
        if self.mode in (INITIAL, BEFORE_HTML, AFTER_AFTER_BODY):
            nid = self._new_node(COMMENT, "", None, text, t0, t1)
            self._attach(nid, 0)
            if self.html_id >= 0:
                # post-<html> document-level comment: later tokens can
                # REOPEN body content, putting creation order out of
                # preorder (fuzz-found containment violation) — take
                # the DFS finalize path
                self.preorder_ok = False
            return
        if self.mode == AFTER_BODY and self.html_id >= 0:
            nid = self._new_node(COMMENT, "", None, text, t0, t1)
            self._attach(nid, self.html_id)
            self.preorder_ok = False  # body content may reopen after
            return
        parent, before = self._insert_target()
        nid = self._new_node(COMMENT, "", None, text, t0, t1)
        self._attach(nid, parent, before)

    def handle_cdata(self, text, t0, t1) -> None:
        if self.pending_tt:
            self._flush_tt()
        self.skip_newline = False
        parent, before = self._insert_target()
        nid = self._new_node(CDATA, "", None, text, t0, t1)
        self._attach(nid, parent, before)

    def handle_doctype(self, t0, t1, ok: bool) -> None:
        if self.pending_tt:
            self._flush_tt()
        if self.mode == INITIAL:
            self.quirks = not ok
            self.mode = BEFORE_HTML
        else:
            self._err("unexpected-doctype", t0)

    def handle_eof(self) -> None:
        if self.pending_tt:
            self._flush_tt()
        # ensure even empty/fragment input yields the implied skeleton
        pos = self.n
        if self.html_id < 0:
            self._ensure_html(pos)
        if self.head_id < 0:
            self._ensure_head(pos)
            self._pop_head(pos)
        if self.body_id < 0 and self.mode not in (IN_FRAMESET, AFTER_FRAMESET):
            self._ensure_body(pos)
        # still-open elements keep their initialized spans: zero-length
        # end-tag span at end-of-input, src extent to end-of-input
        # (libgumbo leaves original_end_tag empty for them).
        self.stack.clear()

    # ==================================================================
    def finalize(self) -> NodeTable:
        total = len(self.ntype)
        if self.preorder_ok:
            # fast path: creation order IS preorder (the only
            # out-of-order mutation is a foster before-insert) —
            # subtree_end falls out of one reverse pass over the
            # children lists, everything else converts directly.
            order = range(total)
            parent_new = np.array(self.nparent, dtype=np.int32)
            iwp = np.array(self.niwp, dtype=np.int32)
            # int8 columns: bytes(list) is a C conversion, frombuffer a view
            ns_arr = np.frombuffer(bytes(self.nns), dtype=np.int8)
            se = list(range(1, total + 1))
            nch = self.nchildren
            for i in range(total - 1, -1, -1):
                kids = nch[i]
                if kids:
                    se[i] = se[kids[-1]]
            subtree_end = np.array(se, dtype=np.int32)
            ntype = np.frombuffer(bytes(self.ntype), dtype=np.int8)
            tag_id = np.array(self.ntid, dtype=np.int16)
            tag_name = np.array(self.ntag, dtype=object)
            text = np.array(self.ntext, dtype=object)
            attrs = np.empty(total, dtype=object)
            attrs[:] = self.nattrs
            spans = np.array(self.nspan, dtype=np.int64).reshape(total, 6)
            src_start, src_end = spans[:, 0], spans[:, 1]
            tag_start, tag_end = spans[:, 2], spans[:, 3]
            endtag_start, endtag_end = spans[:, 4], spans[:, 5]
        else:
            # general path: DFS flatten to preorder.  Only nodes
            # reachable from the document survive — a detached subtree
            # (e.g. the body discarded by a <frameset> takeover) is
            # dropped here, so ``total`` shrinks to the reachable count.
            order_arr = np.empty(total, dtype=np.int64)
            subtree_end = np.empty(total, dtype=np.int32)
            new_id = np.empty(total, dtype=np.int64)
            parent_new = np.empty(total, dtype=np.int32)
            iwp = np.empty(total, dtype=np.int32)
            idx = 0
            stack: list[tuple[int, int, int, bool]] = [(0, -1, 0, False)]
            while stack:
                bid, pnew, k, done = stack.pop()
                if done:
                    subtree_end[new_id[bid]] = idx
                    continue
                nid = idx
                idx += 1
                order_arr[nid] = bid
                new_id[bid] = nid
                parent_new[nid] = pnew
                iwp[nid] = k
                stack.append((bid, pnew, k, True))
                kids = self.nchildren[bid]
                for j in range(len(kids) - 1, -1, -1):
                    stack.append((kids[j], nid, j, False))
            total = idx
            subtree_end = subtree_end[:idx]
            parent_new = parent_new[:idx]
            iwp = iwp[:idx]
            order = order_arr[:idx].tolist()
            ntype = np.array([self.ntype[b] for b in order], dtype=np.int8)
            ns_arr = np.array([self.nns[b] for b in order], dtype=np.int8)
            tag_id = np.array([self.ntid[b] for b in order], dtype=np.int16)
            tag_name = np.array([self.ntag[b] for b in order], dtype=object)
            text = np.array([self.ntext[b] for b in order], dtype=object)
            attrs = np.empty(total, dtype=object)
            attrs[:] = [self.nattrs[b] for b in order]
            spans = np.array(self.nspan, dtype=np.int64).reshape(-1, 6)[order]
            src_start, src_end = spans[:, 0], spans[:, 1]
            tag_start, tag_end = spans[:, 2], spans[:, 3]
            endtag_start, endtag_end = spans[:, 4], spans[:, 5]
        return NodeTable(
            source=self.src,
            type=ntype,
            tag_id=tag_id,
            tag_name=tag_name,
            parent=parent_new,
            index_within_parent=iwp,
            subtree_end=subtree_end,
            text=text,
            attrs=attrs,
            src_start=src_start,
            src_end=src_end,
            tag_start=tag_start,
            tag_end=tag_end,
            endtag_start=endtag_start,
            endtag_end=endtag_end,
            parse_errors=self.errors,
            ns=ns_arr,
            error_records=self.errlog,
            quirks=self.quirks,
        )


# ======================================================================
# tokenizer
# ======================================================================
def parse_html(source: str | bytes, options: dict | None = None) -> NodeTable:
    """Parse one HTML document into a preorder NodeTable.

    Mirrors ``gumbo_range(html)`` / ``gumbo_range(html, options)``
    (reference ``src/gumbo_pp.cpp:27-34``): error-recovering HTML5
    parse of the whole input, producing the document node, implied
    structure, decoded text nodes, attribute maps and per-node source
    spans.  Bytes decode as UTF-8 with replacement; a ``str`` parses as
    its UTF-8 bytes.  Offsets index the decoded, newline-normalized
    ``source``; :meth:`NodeTable.byte_offsets` maps them to bytes.

    ``options`` is the GumboOptions analogue:

    * ``fragment_context``: context element tag name → fragment
      parsing (root <html>, insertion mode reset per context, RCDATA/
      RAWTEXT contexts consume the whole input as text);
    * ``fragment_namespace``: ``"html" | "svg" | "math"`` (default
      html) — foreign contexts dispatch tokens to the foreign rules;
    * ``max_errors``: cap on the error RECORD vector (count still
      counts; −1 = unlimited, gumbo semantics).

    * ``tab_stop``: column computation for error source positions —
      consumed by :meth:`NodeTable.error_positions` (gumbo's
      GumboSourcePosition model; default 8);
    * ``stop_on_first_error``: ACCEPTED and ignored — exact libgumbo
      parity: the field exists in GumboOptions but libgumbo never
      implemented it (its parser.c never reads it), so the reference
      is always error-recovering too.

    C fast path: a document-mode parse is offered once to the compiled
    engine (parser/cengine.py) as raw bytes.  It decodes and
    normalizes them itself, covers the whole document-mode surface
    and is verified column-identical on every document it accepts; it
    returns None for its few designed bails, and this pure-Python
    engine — the reference implementation — runs instead.  Fragments
    and strs that cannot be UTF-8 encoded (lone surrogates) go
    straight to the Python engine.
    """
    fragment = None
    if options and options.get("fragment_context"):
        nsname = options.get("fragment_namespace", "html")
        nsmap = {"html": NS_HTML, "svg": NS_SVG, "math": NS_MATHML}
        ctx_name = str(options["fragment_context"]).lower()
        if nsmap[nsname] == NS_SVG:
            # the context element carries the ADJUSTED (camelCase)
            # SVG name — "foreignobject" must become
            # "foreignObject" or the HTML-integration-point check
            # for the context never matches (round-6)
            ctx_name = SVG_TAG_CASE.get(ctx_name, ctx_name)
        fragment = (ctx_name, nsmap[nsname])
    raw = source
    if isinstance(source, str):
        try:
            raw = source.encode("utf-8")
        except UnicodeEncodeError:
            raw = None  # lone surrogates: no bytes to map offsets to
    nt = None
    if _cparse_fast is not None and fragment is None:
        if raw is not None:
            nt = _cparse_fast(raw)
        _cstats["py" if nt is None else "c"] += 1
    if nt is None:
        # str(buffer, ...) decodes straight from the caller's memory
        # (e.g. a memoryview slice of an Arrow batch); then input-stream
        # preprocessing: newline normalization
        s = source if isinstance(source, str) else str(source, "utf-8", "replace")
        nt = _parse_py(s.replace("\r\n", "\n").replace("\r", "\n"), fragment)
    if options:
        nt.tab_stop = int(options.get("tab_stop", 8))
        me = options.get("max_errors", -1)
        if me is not None and 0 <= me < len(nt.error_records):
            # gumbo max_errors caps the RECORD vector; the count keeps
            # counting
            nt.error_records = nt.error_records[:me]
    # one decoded char per input byte (ASCII, and mojibake where every
    # invalid byte became one U+FFFD; a lone CR normalizes in place)
    # means decoded offset == byte offset.  Any other page keeps its
    # input (a copy: it must outlive the caller's Arrow batch) for the
    # lazy byte map.
    if raw is not None and len(nt.source) != (
        raw.nbytes if isinstance(raw, memoryview) else len(raw)
    ):
        nt.raw = bytes(raw)
    return nt


def _parse_py(s: str, fragment: tuple[str, int] | None) -> NodeTable:
    """The pure-Python engine over the decoded, newline-normalized
    document ``s``; ``fragment`` is the (context tag, namespace) pair
    of a fragment parse."""
    n = len(s)
    tb = _TreeBuilder(s, fragment=fragment)
    if fragment and fragment[1] == NS_HTML and (
        fragment[0] in RAWTEXT_ELEMENTS or fragment[0] in RCDATA_ELEMENTS
        or fragment[0] == "plaintext"
    ):
        # tokenizer starts in the context's data state; with no open
        # start tag no end tag is ever "appropriate", so the entire
        # input is one text run (RCDATA still decodes references)
        if s:
            decoded = _decode(s) if fragment[0] in RCDATA_ELEMENTS else s
            tb._insert_text(decoded, 0, n, rawtextual=True)
        tb.handle_eof()
        return tb.finalize()
    # hoisted hot-path bindings (the dispatch wrappers stay for
    # tree-builder-internal reprocessing; the tokenizer inlines them)
    sfind = s.find
    end_match = _END_TAG_RE.match
    chars_html = tb._chars_html
    i = 0
    while i < n:
        lt = sfind("<", i)
        if lt < 0:
            raw = s[i:]
            if tb.has_foreign and tb._use_foreign("chars"):
                tb._foreign_chars(raw, i)
            else:
                chars_html(raw, i)
            break
        if lt > i:
            raw = s[i:lt]
            if tb.has_foreign and tb._use_foreign("chars"):
                tb._foreign_chars(raw, i)
            else:
                chars_html(raw, i)
        if lt + 1 >= n:
            chars_html(s[lt:], lt)
            break
        c = s[lt + 1]
        if c == "/":
            fm = end_match(s, lt)
            if fm:
                name = _ascii_lower(fm.group(1))
                if tb.has_foreign and tb._use_foreign("end", name):
                    tb._foreign_end(name, lt, fm.end())
                else:
                    tb._end_html(name, lt, fm.end())
                i = fm.end()
                continue
            m = _TAG_NAME_RE.match(s, lt + 2)
            if m:
                # end tag with attributes: tokenize them quote-aware
                # (and discard, per spec) so '</div a=">">' ends at the
                # final '>' — a parse error, but the tag still closes
                name = _ascii_lower(m.group(0))
                endpos, had_attrs = _scan_end_tag_tail(s, m.end(), n)
                if endpos < 0:
                    tb._err("eof-in-end-tag", lt)
                    break  # EOF inside tag: token ignored
                if had_attrs:
                    tb._err("end-tag-with-attributes", lt)
                tb.handle_end(name, lt, endpos)
                i = endpos
            elif lt + 2 >= n:
                # spec: '</' at EOF is a parse error emitted as TEXT
                tb._err("eof-before-tag-name", lt)
                tb.handle_chars("</", lt)
                break
            elif s[lt + 2: lt + 3] == ">":
                tb._err("empty-end-tag", lt)  # '</>' ignored entirely
                i = lt + 3
            else:
                gt = s.find(">", lt + 2)  # bogus comment
                if gt < 0:
                    tb.handle_comment(s[lt + 2:], lt, n)
                    break
                tb.handle_comment(s[lt + 2: gt], lt, gt + 1)
                i = gt + 1
            continue
        if c == "!":
            if s.startswith("<!--", lt):
                # abruptly closed comments: '<!-->' and '<!--->'
                if s.startswith(">", lt + 4):
                    tb._err("abrupt-closing-of-empty-comment", lt)
                    tb.handle_comment("", lt, lt + 5)
                    i = lt + 5
                    continue
                if s.startswith("->", lt + 4):
                    tb._err("abrupt-closing-of-empty-comment", lt)
                    tb.handle_comment("", lt, lt + 6)
                    i = lt + 6
                    continue
                close = s.find("-->", lt + 4)
                bang = s.find("--!>", lt + 4)
                if bang >= 0 and (close < 0 or bang < close):
                    # '--!>' also closes a comment (parse error)
                    tb._err("incorrectly-closed-comment", lt)
                    tb.handle_comment(s[lt + 4: bang], lt, bang + 4)
                    i = bang + 4
                    continue
                if close < 0:
                    # EOF in comment: pending end dashes (at most two)
                    # are NOT part of the data
                    raw = s[lt + 4:]
                    if raw.endswith("--"):
                        raw = raw[:-2]
                    elif raw.endswith("-"):
                        raw = raw[:-1]
                    tb.handle_comment(raw, lt, n)
                    break
                tb.handle_comment(s[lt + 4: close], lt, close + 3)
                i = close + 3
            elif s.startswith("<![CDATA[", lt) and tb._cdata_allowed():
                # CDATA sections exist only in foreign content (adjusted
                # current node not in the HTML namespace); in HTML
                # content '<![CDATA[' is a bogus comment like any '<!'
                close = s.find("]]>", lt + 9)
                if close < 0:
                    tb.handle_cdata(s[lt + 9:], lt, n)
                    break
                tb.handle_cdata(s[lt + 9: close], lt, close + 3)
                i = close + 3
            elif _ascii_lower(s[lt + 2: lt + 9]) == "doctype":
                gt = s.find(">", lt + 2)
                if gt < 0:
                    break
                tb.handle_doctype(lt, gt + 1, ok=not _doctype_quirks(s[lt + 9: gt]))
                i = gt + 1
            else:
                gt = s.find(">", lt + 2)  # bogus comment
                if gt < 0:
                    tb.handle_comment(s[lt + 2:], lt, n)
                    break
                tb.handle_comment(s[lt + 2: gt], lt, gt + 1)
                i = gt + 1
            continue
        if c == "?":
            gt = s.find(">", lt + 2)  # bogus comment per spec
            tb._err("processing-instruction", lt)
            if gt < 0:
                tb.handle_comment(s[lt + 1:], lt, n)
                break
            tb.handle_comment(s[lt + 1: gt], lt, gt + 1)
            i = gt + 1
            continue
        # START-TAG MEMO CACHE: real pages repeat the same tag literal
        # (template chrome, list rows) constantly.  The probe key is
        # the naive slice up to the FIRST '>'; entries are created only
        # from scans that ended exactly there, and the scanner is
        # deterministic on its prefix, so a hit can never stand for a
        # tag whose true end lies beyond the slice (a '>' inside a
        # quoted value leaves the scan mid-quote at the slice end and
        # the entry is simply never created).
        gt = sfind(">", lt + 1)
        hit = _TAG_CACHE.get(s[lt: gt + 1]) if gt > 0 else None
        if hit is not None:
            # the cached attrs dict is SHARED across nodes/documents —
            # safe because nothing mutates a node's attrs in place
            # (_merge_root_attrs, the one writer, copies on write)
            name, attrs, self_closing, dups = hit
            pos = gt + 1
            if dups:
                for _ in range(dups):
                    tb._err("duplicate-attribute", lt)
        else:
            m = _TAG_NAME_RE.match(s, lt + 1)
            if not m:
                # '<' followed by neither letter nor markup: literal text
                tb.handle_chars("<", lt)
                i = lt + 1
                continue
            name = _ascii_lower(m.group(0))
            attrs, self_closing, pos, found_gt, dups = _scan_start_attrs(s, m.end(), n)
            if dups:
                for _ in range(dups):
                    tb._err("duplicate-attribute", lt)
            if not found_gt:
                tb._err("eof-in-tag", lt)
                break  # EOF in tag
            if pos == gt + 1 and gt - lt <= 256:
                if len(_TAG_CACHE) >= _TAG_CACHE_MAX:
                    _TAG_CACHE.clear()
                _TAG_CACHE[s[lt: gt + 1]] = (name, attrs, self_closing, dups)
        if tb.has_foreign and tb._use_foreign("start", name):
            content_model = tb._foreign_start(name, attrs, self_closing, lt, pos)
        elif tb.mode == IN_BODY:
            # hot-mode shortcut: skip the _start_html mode dispatcher
            # (it would only reset skip_newline and forward here)
            tb.skip_newline = False
            content_model = tb._start_in_body(name, attrs, self_closing, lt, pos)
        else:
            content_model = tb._start_html(name, attrs, self_closing, lt, pos)
        i = pos
        if content_model is None:
            continue
        if content_model == "plaintext":
            raw = s[pos:]
            if raw:
                # PLAINTEXT never switches insertion mode — its chars
                # are ordinary in-body character tokens, which
                # RECONSTRUCT active formatting (fuzz-found:
                # '<i><nobr></i><plaintext>x' reopens the nobr)
                if tb.afe:
                    tb._reconstruct_formatting()
                tb._insert_text(raw, pos, n, rawtextual=True)
            break
        # the self-closing flag is IGNORED on RCDATA/RAWTEXT elements
        # (they are not void; the tokenizer still switches state) —
        # foreign <script/> returns no content model, so svg icons with
        # self-closed scripts are unaffected
        if content_model in ("rawtext", "rcdata"):
            mclose = _rawtext_close_re(name).search(s, i)
            if mclose:
                raw = s[i: mclose.start()]
                if raw:
                    if tb.skip_newline:
                        tb.skip_newline = False
                        if raw.startswith("\n"):
                            raw = raw[1:]
                    if raw:
                        decoded = _decode(raw) if content_model == "rcdata" else raw
                        tb._insert_text(decoded, i, mclose.start(), rawtextual=True)
                # tokenize the end tag's attributes quote-aware (and
                # discard, per spec) — a '>' inside a quoted value of
                # '</script a=">">' must not end the tag early
                endpos, had_attrs = _scan_end_tag_tail(s, mclose.end(), n)
                if endpos < 0:
                    endpos = n  # EOF in the close tag: consume the rest
                elif had_attrs:
                    tb._err("end-tag-with-attributes", mclose.start())
                # spec "text" insertion mode: the appropriate end tag
                # pops the rawtext element directly.  Modes whose end
                # rules already handle it (head/body/table) keep their
                # bookkeeping; IN_SELECT's rules would IGNORE the end
                # tag, leaving the script open and swallowing following
                # text (fuzz-found) — pop directly there.
                if (
                    tb.mode == IN_SELECT
                    and tb.stack
                    and tb.ntag[tb.stack[-1]] == name
                ):
                    tb._pop_until(name, mclose.start(), mclose.start(), endpos)
                else:
                    tb.handle_end(name, mclose.start(), endpos)
                i = endpos
            else:
                raw = s[i:]
                if raw and tb.skip_newline:
                    tb.skip_newline = False
                    if raw.startswith("\n"):
                        raw = raw[1:]
                        i += 1
                if raw:
                    decoded = _decode(raw) if content_model == "rcdata" else raw
                    tb._insert_text(decoded, i, n, rawtextual=True)
                i = n
    tb.handle_eof()
    return tb.finalize()


# ----------------------------------------------------------------------
# C fast-path hookup (parser/cengine.py).  Loaded last so the module
# namespace above is complete; parse_html dispatches to the compiled
# engine for documents inside its subset and falls back here.
# GUMBO_PP_CENGINE=0 disables it.
_cparse_fast = None
_cstats = {"c": 0, "py": 0}
try:  # pragma: no cover - environment-dependent (needs gcc once)
    from . import cengine as _cengine

    if _cengine.available():
        _cparse_fast = _cengine.cparse
        _cstats = _cengine.stats
except Exception:  # noqa: BLE001 - any build/load failure → pure Python
    _cparse_fast = None
