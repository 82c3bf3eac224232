"""CSS selector string front-end over the matcher algebra.

The reference exposes matcher composition in C++ (tag / class /
attribute predicates with ``&&``-style combinators,
``include/daw/gumbo_pp/gumbo_matchers.h``) but no selector *string*
parser; this module closes that usability gap: ``css("nav.menu ~
footer p.fine")`` compiles a CSS subset straight into the existing
:class:`~.matchers.Matcher` algebra, so selector strings drop into
every program (``select_first_program``, ``all_matches_program``,
``count_matches_program``) and into the serializable IR
(``selector.py`` verb ``["css", <string>]``).

Supported subset (CSS Selectors Level 3, public spec):

* simple selectors: ``tag``, ``*``, ``.class`` (token match), ``#id``,
  ``[attr]``, ``[attr=v]``, ``[attr^=v]``, ``[attr$=v]``,
  ``[attr*=v]``, ``[attr|=v]``, ``[attr~=v]``, ``:not(<compound>)``;
* combinators: descendant (space), child ``>``, adjacent sibling
  ``+``, general sibling ``~``; selector groups via ``,``.

Evaluation stays columnar: a compound selector is an AND of vectorized
mask kernels, and each combinator is one structural pass over the
preorder node table —

* descendant: subtree-interval painting (one diff-array cumsum, the
  same kernel family as extract._excluded_mask);
* child: a single ``parent`` gather;
* ``+``/``~``: segmented prefix over elements sorted by
  ``(parent, preorder_id)`` (siblings are contiguous in that order) —
  CSS sibling combinators see ELEMENTS only, text/comment nodes
  between siblings are transparent per spec.

No per-node Python in any combinator; text-free selectors evaluate as
pure numpy over the whole document batch.
"""

from __future__ import annotations

import re

import numpy as np

from . import matchers as m
from .matchers import Matcher
from .nodetable import ELEMENT, NodeTable

DESCENDANT, CHILD, ADJACENT, SIBLING = " ", ">", "+", "~"


# ----------------------------------------------------------------------
# parsing
# ----------------------------------------------------------------------
_SIMPLE = re.compile(
    r"""
    (?P<star>\*)
  | (?P<tag>[a-zA-Z][-\w]*)
  | \.(?P<cls>[-\w]+)
  | \#(?P<idv>[-\w]+)
  | \[\s*(?P<an>[-\w]+)\s*
        (?:(?P<op>[~^$*|]?=)\s*(?P<q>["']?)(?P<av>[^\]]*?)(?P=q)\s*)?\]
  | :not\(\s*(?P<neg>[^)]+?)\s*\)
""",
    re.X,
)

_COMBINATOR = re.compile(r"\s*([>+~])\s*|(\s+)")


def _split_groups(s: str) -> list[str]:
    """Top-level comma split (commas inside [...] belong to the attr)."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return [p.strip() for p in out if p.strip()]


def parse_css(selector: str) -> list[list[tuple[str, str]]]:
    """``[[(combinator, compound_str), ...], ...]`` — one chain per
    comma group; the first compound of a chain carries combinator
    ``None``-equivalent (stored as '')."""
    groups = []
    for part in _split_groups(selector):
        chain: list[tuple[str, str]] = []
        pos, comb = 0, ""
        while pos < len(part):
            cm = _COMBINATOR.match(part, pos)
            if cm:
                if not chain:
                    raise ValueError(f"selector starts with combinator: {selector!r}")
                comb = cm.group(1) or DESCENDANT
                pos = cm.end()
                continue
            # one compound: consecutive simple selectors
            simples_start = pos
            while pos < len(part):
                sm = _SIMPLE.match(part, pos)
                if not sm:
                    break
                pos = sm.end()
            if pos == simples_start:
                raise ValueError(
                    f"cannot parse selector at {part[pos:]!r} in {selector!r}"
                )
            chain.append((comb, part[simples_start:pos]))
            comb = ""
        if not chain or comb:
            raise ValueError(f"dangling combinator in {selector!r}")
        groups.append(chain)
    if not groups:
        raise ValueError("empty selector")
    return groups


# ----------------------------------------------------------------------
# compound → Matcher
# ----------------------------------------------------------------------
_ANY_ELEMENT = Matcher(lambda nt, gate: gate & (nt.type == ELEMENT), "css(*)")


def _attr_token(name: str, token: str) -> Matcher:
    """CSS ``[a~=v]``: whitespace-token membership, any attribute (the
    general form of class_type.has_token)."""
    return m._value_matcher(name, m._has_token(token), f"css[{name}~={token}]")


_ATTR_OPS = {
    "=": lambda n, v: m.attribute.value.is_(n, v),
    "^=": lambda n, v: m.attribute.value.starts_with(n, v),
    "$=": lambda n, v: m.attribute.value.ends_with(n, v),
    "*=": lambda n, v: m.attribute.value.contains(n, v),
    "|=": lambda n, v: m.attribute.value.contains_prefix(n, v),
    "~=": _attr_token,
}


def compile_compound(compound: str) -> Matcher:
    """AND of the compound's simple selectors, always element-gated
    (CSS selectors match elements; a bare ``:not(.x)`` must not match
    text nodes through matcher negation)."""
    out: Matcher | None = None
    saw_element_gate = False
    pos = 0
    while pos < len(compound):
        sm = _SIMPLE.match(compound, pos)
        if not sm:
            raise ValueError(f"bad compound {compound!r}")
        pos = sm.end()
        g = sm.groupdict()
        if g["star"]:
            piece = _ANY_ELEMENT
            saw_element_gate = True
        elif g["tag"]:
            piece = m.tag.types(g["tag"].lower())
            saw_element_gate = True
        elif g["cls"]:
            piece = m.class_type.has_token(g["cls"])
        elif g["idv"]:
            piece = m.id_.is_(g["idv"])
        elif g["an"]:
            if g["op"]:
                piece = _ATTR_OPS[g["op"]](g["an"].lower(), g["av"])
            else:
                piece = m.attribute.exists(g["an"].lower())
        elif g["neg"]:
            piece = ~compile_compound(g["neg"])
        else:  # pragma: no cover — regex alternatives are exhaustive
            raise AssertionError
        out = piece if out is None else out & piece
    if out is None:
        raise ValueError(f"empty compound in selector")
    if not saw_element_gate:
        out = _ANY_ELEMENT & out
    return out


# ----------------------------------------------------------------------
# combinator kernels (vectorized structural passes)
# ----------------------------------------------------------------------
def _descendants_of(nt: NodeTable, mask: np.ndarray) -> np.ndarray:
    """Strict-descendant painting: intervals [i+1, subtree_end[i])."""
    ids = np.nonzero(mask)[0]
    diff = np.zeros(nt.n + 1, dtype=np.int32)
    np.add.at(diff, ids + 1, 1)
    np.subtract.at(diff, nt.subtree_end[ids], 1)
    return np.cumsum(diff[:-1]) > 0


def _children_of(nt: NodeTable, mask: np.ndarray) -> np.ndarray:
    par = nt.parent
    ok = par >= 0
    out = np.zeros(nt.n, dtype=bool)
    out[ok] = mask[par[ok]]
    return out


def _sibling_of(nt: NodeTable, mask: np.ndarray, adjacent: bool) -> np.ndarray:
    """Nodes with an earlier ELEMENT sibling in ``mask`` (``~``), or
    whose nearest earlier element sibling is in ``mask`` (``+``).
    Elements sorted by (parent, preorder id) put sibling runs
    contiguous and in document order."""
    elems = np.nonzero(nt.type == ELEMENT)[0]
    out = np.zeros(nt.n, dtype=bool)
    if len(elems) == 0:
        return out
    par = nt.parent[elems]
    order = np.lexsort((elems, par))
    e, p = elems[order], par[order]
    in_mask = mask[e]
    same_run = np.empty(len(e), dtype=bool)
    same_run[0] = False
    same_run[1:] = p[1:] == p[:-1]
    if adjacent:
        prev_in_mask = np.empty(len(e), dtype=bool)
        prev_in_mask[0] = False
        prev_in_mask[1:] = in_mask[:-1]
        out[e] = same_run & prev_in_mask
    else:
        c = np.cumsum(in_mask)
        excl = c - in_mask  # matches strictly before this element
        run_start = np.nonzero(~same_run)[0]
        base = excl[run_start][np.cumsum(~same_run) - 1]  # per-element run base
        out[e] = (excl - base) > 0
    return out


_STRUCTURAL = {
    DESCENDANT: lambda nt, mask: _descendants_of(nt, mask),
    CHILD: lambda nt, mask: _children_of(nt, mask),
    ADJACENT: lambda nt, mask: _sibling_of(nt, mask, adjacent=True),
    SIBLING: lambda nt, mask: _sibling_of(nt, mask, adjacent=False),
}


# ----------------------------------------------------------------------
# public API
# ----------------------------------------------------------------------
def css(selector: str) -> Matcher:
    """Compile a CSS selector string into a :class:`Matcher` usable in
    every program/driver algorithm.  Left-to-right chain evaluation:
    the running mask is pushed through each combinator's structural
    kernel, then ANDed with the next compound."""
    groups = [
        [(comb, compile_compound(comp)) for comb, comp in chain]
        for chain in parse_css(selector)
    ]

    def mask(nt: NodeTable, gate: np.ndarray) -> np.ndarray:
        out = np.zeros(nt.n, dtype=bool)
        for chain in groups:
            cur = np.ones(nt.n, dtype=bool)
            for k, (comb, matcher) in enumerate(chain):
                if k:
                    # structural gate first: the compound's priciest
                    # conjunct then runs on candidate rows only
                    cur = _STRUCTURAL[comb](nt, cur)
                # only the last compound's rows are the result; the
                # earlier ones are context (ancestors, siblings)
                cur = matcher.eval(nt, cur & gate if k == len(chain) - 1 else cur)
            out |= cur
        return out

    return Matcher(mask, f"css({selector})", cost=1)
