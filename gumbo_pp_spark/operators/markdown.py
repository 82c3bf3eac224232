"""HTML → Markdown serialization over the NodeTable.

The training-data tier of a web pipeline rarely ships raw HTML or
bare text: the common interchange is Markdown (structure kept,
chrome dropped, bytes ~10x smaller than the DOM).  This operator
renders a parsed page to CommonMark-flavoured Markdown directly from
the preorder NodeTable — no re-parse, no external library.

Reference parity anchor: the reference engine (gumbo_pp) exposes
traversal + text projections (include/gumbo_node_iterator.h) and
leaves serialization to callers; this is the corpus-scale caller
side, same family as extract.py's projection programs.

Supported structure: h1-h6, p, ul/ol/li (nested), a, img, strong/b,
em/i, code, pre (fenced), blockquote, br, hr, tables (pipe form,
separator after the first row).  Unknown elements pass their content
through — inline elements inline, everything else as blocks.  Text
passes through verbatim except whitespace normalization (Markdown
special characters are NOT escaped; a round-tripping renderer would
need that, a corpus tier does not — documented contract).

Execution shape: per-document kernel inside the same map-only
``mapInArrow`` stage as every other extraction program (run_program);
the walker is an explicit-stack traversal, so pathological nesting
depth (2000+ <div>s) cannot hit the Python recursion limit.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..nodetable import COMMENT, DOCUMENT, ELEMENT, TEXT, WHITESPACE, NodeTable

# elements whose subtrees never contribute to the document tier
SKIP_TAGS = frozenset(
    {"head", "script", "style", "template", "noscript", "iframe"}
)

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
# rendered inline (their output joins the surrounding text run);
# everything else unknown is treated as a block container
_INLINE = frozenset(
    {"a", "strong", "b", "em", "i", "code", "span", "u", "s", "small",
     "sub", "sup", "abbr", "cite", "q", "mark", "time", "kbd", "samp",
     "var", "wbr", "bdi", "bdo", "data", "dfn", "ins", "del", "label"}
)
_CELL = "\x1f"  # td/th boundary sentinel consumed by the tr wrapper
_ITEM = "\x02"  # li sentinel consumed by the ul/ol wrapper

_WS_RUN = re.compile(r"\s+")
_BLANKS = re.compile(r"\n{3,}")
_TRAIL = re.compile(r"[ \t]+\n")


def _inline_join(parts: list[str]) -> str:
    s = "".join(parts)
    return re.sub(r" {2,}", " ", s).strip()


class _Frame:
    __slots__ = ("i", "tag", "parts", "pre", "end")

    def __init__(self, i, tag, pre, end):
        self.i = i
        self.tag = tag
        self.parts: list[str] = []
        self.pre = pre
        self.end = end


def _wrap(nt: NodeTable, f: _Frame) -> str:
    tag = f.tag
    parts = f.parts
    if tag in _HEADINGS:
        t = _inline_join(parts)
        return f"\n\n{'#' * _HEADINGS[tag]} {t}\n\n" if t else ""
    if tag == "p":
        t = _inline_join(parts)
        return f"\n\n{t}\n\n" if t else ""
    if tag in ("strong", "b"):
        t = _inline_join(parts)
        return f"**{t}**" if t else ""
    if tag in ("em", "i"):
        t = _inline_join(parts)
        return f"*{t}*" if t else ""
    if tag == "code":
        if f.pre:  # inside a fence: the fence renders the literal
            return "".join(parts)
        t = _inline_join(parts)
        return f"`{t}`" if t else ""
    if tag == "pre":
        body = "".join(parts).strip("\n")
        return f"\n\n```\n{body}\n```\n\n"
    if tag == "a":
        t = _inline_join(parts)
        a = nt.attrs[f.i]
        href = (a or {}).get("href")
        return f"[{t}]({href})" if href and t else t
    if tag == "img":
        a = nt.attrs[f.i] or {}
        src = a.get("src")
        return f"![{a.get('alt', '')}]({src})" if src else ""
    if tag == "br":
        return "\n"
    if tag == "hr":
        return "\n\n---\n\n"
    if tag == "blockquote":
        inner = _finalize("".join(parts))
        if not inner:
            return ""
        quoted = "\n".join(
            ("> " + ln if ln else ">") for ln in inner.split("\n")
        )
        return f"\n\n{quoted}\n\n"
    if tag == "li":
        inner = _finalize("".join(parts))
        return _ITEM + inner.replace("\n\n", "\n") + _ITEM
    if tag in ("ul", "ol"):
        items = [p for p in "".join(parts).split(_ITEM) if p.strip()]
        lines = []
        for k, item in enumerate(items, 1):
            mark = f"{k}. " if tag == "ol" else "- "
            body = item.split("\n")
            lines.append(mark + body[0])
            pad = " " * len(mark)
            lines.extend(pad + ln for ln in body[1:])
        return "\n\n" + "\n".join(lines) + "\n\n" if lines else ""
    if tag in ("td", "th"):
        return _inline_join(parts).replace("|", "\\|") + _CELL
    if tag == "tr":
        cells = "".join(parts).split(_CELL)[:-1]
        if not cells:
            return ""
        return "| " + " | ".join(cells) + " |\n"
    if tag == "table":
        rows = [ln for ln in "".join(parts).split("\n") if ln.startswith("|")]
        if not rows:
            return ""
        ncols = rows[0].count(" |")
        sep = "|" + " --- |" * max(ncols, 1)
        return "\n\n" + "\n".join([rows[0], sep, *rows[1:]]) + "\n\n"
    if tag in _INLINE:
        return "".join(parts)
    # unknown / generic container (div, section, article, body, html,
    # document, thead, tbody, figure, ...): pass blocks through
    return "".join(parts)


def _finalize(md: str) -> str:
    md = _TRAIL.sub("\n", md)
    md = _BLANKS.sub("\n\n", md)
    return md.strip()


def render_markdown(nt: NodeTable) -> str:
    """Render one parsed document to Markdown (explicit-stack walk —
    no recursion, depth-proof).

    Round-8 shape: one LINEAR pass over the preorder arrays.  The
    round-7 walker called ``children_ids`` per element — an O(subtree)
    numpy scan each, O(n·depth) total with ~µs numpy call overhead per
    node — and indexed numpy scalars per child.  Here the arrays are
    converted to Python lists once per document and the walk advances
    a single preorder cursor, skipping pruned subtrees via
    ``subtree_end`` in O(1); frames finalize (postorder) exactly when
    the cursor leaves their interval, so the emitted Markdown is
    byte-identical to the recursive-order walk."""
    n = nt.n
    types = nt.type.tolist()
    tags = nt.tag_name.tolist()
    texts = nt.text.tolist()
    se = nt.subtree_end.tolist()
    ns = nt.ns.tolist() if nt.ns is not None else None
    _TEXT, _WS, _EL, skip_tags = TEXT, WHITESPACE, ELEMENT, SKIP_TAGS
    _sub = _WS_RUN.sub
    root = _Frame(0, "", False, n)
    stack = [root]
    top = root
    i = 1
    while i < n:
        while i >= top.end:
            stack.pop()
            f = top
            top = stack[-1]
            top.parts.append(_wrap(nt, f) if f.tag else "".join(f.parts))
        t = types[i]
        if t == _TEXT or t == _WS:
            raw = texts[i] or ""
            top.parts.append(raw if top.pre else _sub(" ", raw))
            i += 1
        elif t == _EL:
            tag = tags[i]
            if tag in skip_tags or (ns is not None and ns[i] != 0):
                i = se[i]  # foreign content (svg/math) is not Markdown
            else:
                f = _Frame(i, tag, top.pre or tag == "pre", se[i])
                stack.append(f)
                top = f
                i += 1
        else:  # COMMENT / DOCUMENT / CDATA: subtree never rendered
            i = se[i]
    while len(stack) > 1:
        stack.pop()
        f = top
        top = stack[-1]
        top.parts.append(_wrap(nt, f) if f.tag else "".join(f.parts))
    return _finalize("".join(root.parts))


def markdown_program(nt: NodeTable) -> dict:
    return {"markdown": render_markdown(nt)}


MARKDOWN_FIELDS = "markdown string"


def to_markdown(df: DataFrame) -> DataFrame:
    """Map-only HTML → Markdown stage (pruned scan → mapInArrow →
    markdown column; zero shuffle, same shape as the flagship)."""
    from .extract import run_program

    return run_program(df, markdown_program, MARKDOWN_FIELDS, passthrough=("doc_id",))
