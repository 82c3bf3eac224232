"""Flat preorder node table — the engine's per-document "DOM".

Design note (SURVEY.md §1.4): the reference keeps a pointer-based
``GumboNode`` tree (``gumbo_handle.h``, ``gumbo_node_iterator.h``).  We
instead materialize the tree in **DFS-preorder structure-of-arrays**
form so every reference traversal becomes interval arithmetic over
numpy arrays:

* DFS-preorder successor (``gumbo_node_iterator.h:158-195``)  ==  ``node_id + 1``
* subtree of ``i``                                            ==  ``[i, subtree_end[i])``
* reference ``children_t`` range (``gumbo_node_iterator.h:35-88``:
  ``[first_child, dfs_next(last_child))``)                    ==  one interval
* direct children                                             ==  ``parent[j] == i``
* ``advance_until`` (``gumbo_node_iterator.h:268-275``)       ==  ``argmax(mask[i:])``

Text extraction (``gumbo_text.h:23-58``) becomes O(1) per node after a
prefix-sum precompute because text-like descendants contribute
contiguously in preorder.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


# Node type codes — fixed closed enumeration, mirrors GumboNodeType as
# listed by to_string(GumboNodeType) (reference gumbo_util.h:161-180).
DOCUMENT = 0
ELEMENT = 1
TEXT = 2
CDATA = 3
COMMENT = 4
WHITESPACE = 5
TEMPLATE = 6

NODE_TYPE_NAMES = ["Document", "Element", "Text", "CData", "Comment", "Whitespace", "Template"]

# Element namespaces (GumboNamespaceEnum analogue).
NS_HTML = 0
NS_SVG = 1
NS_MATHML = 2
NS_NAMES = ["html", "svg", "math"]

# Types whose ``v.text.text`` flows into node_content_text (the
# reference's default: branch returns v.text.text for every
# non-element/non-document node — gumbo_text.h:55-57 — so CData,
# Comment and Whitespace text IS included).
_TEXTLIKE = (TEXT, CDATA, COMMENT, WHITESPACE)


def to_string(node_type: int) -> str:
    """Node-type display name (reference gumbo_util.h:161-180)."""
    return NODE_TYPE_NAMES[node_type] if 0 <= node_type < len(NODE_TYPE_NAMES) else "Unknown"


@dataclass
class NodeTable:
    """One parsed document as preorder structure-of-arrays."""

    source: str                    # decoded document source (offset space)
    type: np.ndarray               # int8
    tag_id: np.ndarray             # int16; -1 for non-elements
    tag_name: np.ndarray           # object; '' for non-elements
    parent: np.ndarray             # int32; -1 for root document node
    index_within_parent: np.ndarray  # int32
    subtree_end: np.ndarray        # int32; preorder id one past subtree
    text: np.ndarray               # object; decoded text for text-like
    attrs: np.ndarray              # object; dict[str,str] | None
    src_start: np.ndarray          # int64 source extent start
    src_end: np.ndarray            # int64 source extent end (see note)
    tag_start: np.ndarray          # int64 original_tag span start ('<')
    tag_end: np.ndarray            # int64 original_tag span end (past '>')
    endtag_start: np.ndarray       # int64 original_end_tag start; == endtag_end when implied
    endtag_end: np.ndarray         # int64 original_end_tag end
    parse_errors: int = 0
    # element namespace (GumboNamespaceEnum analogue): 0=HTML 1=SVG
    # 2=MathML; None (legacy constructors) means all-HTML
    ns: np.ndarray | None = None
    # parse-error detail records [(code, offset), ...] — mirrors the
    # reference errors() vector (gumbo_node_iterator.h:247-249)
    error_records: list = field(default_factory=list)
    # GumboOptions.tab_stop (column positions; error_positions default)
    tab_stop: int = 8
    # document quirks mode (GumboDocument.doc_type_quirks_mode
    # analogue, parser.c reset via the WHATWG 13.2.6.4.1 table):
    # True = full quirks; limited-quirks parses identically and maps
    # to False
    quirks: bool = True
    # the input bytes, kept only when decoded offsets are not byte
    # offsets (len(source) != len(raw)); None = identity, or a str
    # with lone surrogates that has no bytes at all.  They feed
    # the lazy decoded-offset → byte-offset map, cached in _byte_map
    # (gumbo's offsets are byte offsets into the raw buffer,
    # gumbo_util.h:121-146)
    raw: bytes | None = field(default=None, repr=False)
    _byte_map: np.ndarray | None = field(default=None, repr=False)

    _ctext_joined: str | None = field(default=None, repr=False)
    _ctext_off: np.ndarray | None = field(default=None, repr=False)
    # lazy per-node decoded-text lengths (int64; 0 for textless nodes)
    _text_len: np.ndarray | None = field(default=None, repr=False)
    # lazy flat attribute index: one pass over the node dicts, then
    # every attr_values() query is a vectorized compare over the SHORT
    # (attrs-only) arrays instead of a per-node Python dict probe
    _attr_owner: np.ndarray | None = field(default=None, repr=False)
    _attr_names: np.ndarray | None = field(default=None, repr=False)
    _attr_vals: np.ndarray | None = field(default=None, repr=False)

    # ------------------------------------------------------------------
    @property
    def n(self) -> int:
        return len(self.type)

    def class_values(self) -> np.ndarray:
        return self.attr_values("class")

    def _ensure_attr_index(self) -> None:
        if self._attr_owner is not None:
            return
        owners: list[int] = []
        names: list[str] = []
        vals: list[str] = []
        attrs = self.attrs
        for i in range(self.n):
            a = attrs[i]
            if a:
                for k, v in a.items():
                    owners.append(i)
                    names.append(k)
                    vals.append(v)
        self._attr_owner = np.array(owners, dtype=np.int32)
        na = np.empty(len(names), dtype=object)
        na[:] = names
        va = np.empty(len(vals), dtype=object)
        va[:] = vals
        self._attr_names = na
        self._attr_vals = va

    def attr_values(self, name: str, ids: np.ndarray | None = None) -> np.ndarray:
        """Attribute ``name``'s value, or None, at nodes ``ids`` (every
        node when ``ids`` is None) (gumbo_util.h:148-159).

        Answered from the lazy flat index: the name compare runs over
        the attrs-only arrays (|attrs| entries), and ``ids`` are found
        among that name's owners by ``searchsorted`` (owners ascend in
        preorder; a node holds at most one value per name), so a small
        ``ids`` costs no n-length pass."""
        self._ensure_attr_index()
        m = self._attr_names == name
        owners, vals = self._attr_owner[m], self._attr_vals[m]
        if ids is None:
            out = np.full(self.n, None, dtype=object)
            out[owners] = vals
            return out
        out = np.full(len(ids), None, dtype=object)
        if len(owners):
            pos = np.searchsorted(owners, ids).clip(max=len(owners) - 1)
            hit = owners[pos] == ids
            out[hit] = vals[pos[hit]]
        return out

    # -- traversal primitives ------------------------------------------
    def subtree(self, i: int) -> tuple[int, int]:
        """True subtree interval [i, subtree_end)."""
        return i, int(self.subtree_end[i])

    def children_ids(self, i: int) -> np.ndarray:
        """Direct child ids of node i, in order."""
        lo, hi = self.subtree(i)
        ids = np.nonzero(self.parent[lo:hi] == i)[0]
        return ids + lo

    def child_range_dfs(self, i: int) -> tuple[int, int]:
        """Reference ``children_t`` / ``gumbo_child_range`` semantics
        (gumbo_node_iterator.h:73-84, src/gumbo_pp.cpp:37-59):
        ``[first_child, dfs_next(last_child))`` — the interval covers
        all children AND the descendants of every child except the last
        child's descendants.  Empty parent → degenerate [i+?, same).
        """
        kids = self.children_ids(i)
        if len(kids) == 0:
            return i + 1, i + 1
        # preorder successor of the last child is last_child + 1, so the
        # range covers every child plus the descendants of all children
        # EXCEPT the last child's descendants.
        return int(kids[0]), int(kids[-1]) + 1

    def last_sibling(self, i: int) -> int:
        """Last child of i's parent (gumbo_node_iterator.h:147-156)."""
        p = int(self.parent[i])
        if p < 0:
            return i
        kids = self.children_ids(p)
        return int(kids[-1])

    def node_attribute_value(self, i: int, name: str) -> str:
        """Named attribute value, '' if absent or non-element
        (gumbo_util.h:148-159)."""
        a = self.attrs[i]
        if not a:
            return ""
        return a.get(name, "") or ""

    def next_sibling(self, i: int) -> int:
        """Next sibling id or -1 (correct semantics; the reference's
        ``next_sibling`` at gumbo_node_iterator.h:131-145 reads the
        parent's own index — a documented reference bug we do NOT
        reproduce)."""
        p = int(self.parent[i])
        if p < 0:
            return -1
        j = int(self.subtree_end[i])
        if j < self.n and int(self.parent[j]) == p:
            return j
        return -1

    def first_match(self, mask: np.ndarray, start: int = 0) -> int:
        """std::find_if over DFS order from ``start`` (anchored-iterator
        semantics of ``it.begin()``: NOT bounded to the subtree —
        gumbo_node_iterator.h:98-104, exploited by table_scrape.cpp:52).
        Returns node id or -1."""
        sub = mask[start:]
        if not sub.any():
            return -1
        return start + int(np.argmax(sub))

    def matches_in(self, mask: np.ndarray, lo: int, hi: int) -> np.ndarray:
        ids = np.nonzero(mask[lo:hi])[0]
        return ids + lo

    def iter_matches(self, mask: np.ndarray, start: int = 0):
        """daw::find_iterator analogue (used table_scrape.cpp:54-62):
        lazily yield successive matching node ids in DFS order."""
        i = start
        n = self.n
        while i < n:
            i = self.first_match(mask, i)
            if i < 0:
                return
            yield i
            i += 1

    # -- extraction (gumbo_text.h) -------------------------------------
    def text_lengths(self) -> np.ndarray:
        """len(decoded text) per node (0 for textless), computed once.
        ``np.frompyfunc(len, ...)`` walks the object array in C calling
        str ``len`` slots — no per-element Python bytecode, unlike a
        listcomp — and the result is shared by content-text prefix
        sums and the dom-stats kernel."""
        if self._text_len is None:
            if self.n:
                self._text_len = np.frompyfunc(len, 1, 1)(self.text).astype(np.int64)
            else:
                self._text_len = np.zeros(0, dtype=np.int64)
        return self._text_len

    def _ensure_ctext_index(self) -> None:
        if self._ctext_off is not None:
            return
        # Text-like rows contribute contiguously in preorder, EXCEPT
        # that the reference's recursion never descends into TEMPLATE
        # nodes (gumbo_text.h:55-57 returns early) — exclude template
        # subtrees from the joined stream.
        t = self.type
        textlike = (t >= TEXT) & (t <= WHITESPACE)  # codes 2..5
        if (t == TEMPLATE).any():
            excluded = np.zeros(self.n + 1, dtype=np.int8)
            for tm in np.nonzero(t == TEMPLATE)[0]:
                excluded[tm + 1] += 1
                excluded[self.subtree_end[tm]] -= 1
            textlike &= ~(np.cumsum(excluded[:-1]) > 0)
        parts = self.text[textlike].tolist()
        lens = np.where(textlike, self.text_lengths(), 0)
        contrib = np.empty(self.n + 1, dtype=np.int64)
        contrib[0] = 0
        np.cumsum(lens, out=contrib[1:])
        self._ctext_joined = "".join(parts)
        self._ctext_off = contrib

    def content_text(self, i: int) -> str:
        """node_content_text semantics (gumbo_text.h:23-58): recursive
        child-order concat of text-like descendants' decoded text, no
        separators/trimming; comment and whitespace text included."""
        self._ensure_ctext_index()
        if self.type[i] in _TEXTLIKE or self.type[i] == TEMPLATE:
            return self.text[i]
        lo, hi = self.subtree(i)
        return self._ctext_joined[self._ctext_off[lo]: self._ctext_off[hi]]

    def content_text_many(self, ids) -> list[str]:
        self._ensure_ctext_index()
        off = self._ctext_off
        se = self.subtree_end
        joined = self._ctext_joined
        out = []
        for i in ids:
            if self.type[i] in _TEXTLIKE or self.type[i] == TEMPLATE:
                out.append(self.text[i])
            else:
                out.append(joined[off[i]: off[se[i]]])
        return out

    def outer_text(self, i: int) -> str:
        """node_outer_text (gumbo_text.h:60-76): raw source slice from
        start of original_tag to end of original_end_tag; whole source
        for the document; decoded text otherwise."""
        t = self.type[i]
        if t == ELEMENT:
            return self.source[int(self.tag_start[i]): int(self.endtag_end[i])]
        if t == DOCUMENT:
            return self.source
        return self.text[i]

    def inner_text(self, i: int) -> str:
        """node_inner_text (gumbo_text.h:78-108): raw source between the
        tags.  Document case mirrors the reference quirk (§1.3 of
        SURVEY.md): end offset of a text-like last child is its DECODED
        length, not a source offset."""
        t = self.type[i]
        if t == ELEMENT:
            return self.source[int(self.tag_end[i]): int(self.endtag_start[i])]
        if t == DOCUMENT:
            kids = self.children_ids(i)
            if len(kids) == 0:
                return ""
            first, last = int(kids[0]), int(kids[-1])
            return self.source[int(self.src_start[first]): self.node_end_offset(last)]
        return self.text[i]

    def text_spans(self, kind: str):
        """(haystack, lo, hi, is_range) for span-based text predicates.

        Rows with ``is_range`` evaluate as a range of ``haystack``
        WITHOUT materializing the per-node string (str.startswith/
        endswith/find accept start/end bounds) — the round-1 matchers
        built outer_text of every node, O(n·doc) per document.  Rows
        with ``is_range`` False fall back to the node's own text (their
        inner/outer/content text IS ``text[i]``), except the document
        node, which callers route through the slow getter.
        """
        if kind == "content":
            self._ensure_ctext_index()
            off = self._ctext_off
            lo = off[: self.n]
            hi = off[self.subtree_end]
            is_range = (self.type == ELEMENT) | (self.type == DOCUMENT)
            # the reference returns v.text for templates (no recursion)
            return self._ctext_joined, lo, hi, is_range
        if kind == "inner":
            is_range = self.type == ELEMENT
            return self.source, self.tag_end, self.endtag_start, is_range
        is_range = (self.type == ELEMENT) | (self.type == DOCUMENT)
        lo = self.tag_start.copy()
        hi = self.endtag_end.copy()
        doc = self.type == DOCUMENT
        lo[doc] = 0
        hi[doc] = len(self.source)
        return self.source, lo, hi, is_range

    def error_positions(self, tab_stop: int | None = None) -> list:
        """GumboSourcePosition analogue for every error record:
        ``[(code, offset, line, column), ...]`` with 1-based line/
        column and tab-aware columns using libgumbo's exact formula
        (utf8.c update_position: ``column = ((column / tab_stop) + 1)
        * tab_stop`` on a TAB — so with the default tab_stop=8 a tab
        at column 1 puts the NEXT char at column 8, not 9; the
        GumboOptions.tab_stop knob).  Offsets index the decoded source
        like every other engine offset."""
        if tab_stop is None:
            tab_stop = self.tab_stop
        src = self.source
        out = []
        for code, off in self.error_records:
            line = src.count("\n", 0, off) + 1
            start = src.rfind("\n", 0, off) + 1
            col = 1
            for ch in src[start:off]:
                if ch == "\t":
                    col = (col // tab_stop + 1) * tab_stop
                else:
                    col += 1
            out.append((code, off, line, col))
        return out

    # -- byte-offset span contract ---------------------------------------
    def byte_offsets(self, pos) -> np.ndarray:
        """Map decoded-source offsets (``src_start``/``src_end`` space)
        to BYTE offsets into the raw ``html`` bytes — gumbo's offset
        model (gumbo_util.h:121-146).  Identity for ASCII/CR-free
        pages; exact per-char mapping otherwise (parser/bytemap.py).
        Accepts a scalar or array; returns int64."""
        if self.raw is None:
            if not self.source.isascii():
                # no input kept on a non-ASCII source: one byte per
                # char (mojibake U+FFFDs), or a str with lone
                # surrogates, which has no UTF-8 bytes and raises here
                self.source.encode("utf-8")
            return np.asarray(pos, dtype=np.int64)
        if self._byte_map is None:
            from .parser.bytemap import build_byte_map

            self._byte_map = build_byte_map(
                self.raw, str(self.raw, "utf-8", "replace"), len(self.source)
            )
        return self._byte_map[np.asarray(pos)]

    def node_start_offset(self, i: int) -> int:
        return int(self.src_start[i])

    def node_end_offset(self, i: int) -> int:
        """Reference quirk preserved (gumbo_util.h:134-146): end offset
        of a text-like node is strlen(decoded text), NOT a source
        offset."""
        if self.type[i] == ELEMENT or self.type[i] == DOCUMENT:
            return int(self.src_end[i])
        return len(self.text[i])
