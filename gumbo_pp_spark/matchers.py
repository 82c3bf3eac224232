"""Composable node matchers as vectorized numpy mask kernels.

Re-expresses the reference's matcher algebra
(``include/daw/gumbo_pp/gumbo_matchers.h``): lazily composed predicates
over nodes with ``and/or/xor/not`` combinators (``match_all`` /
``match_any`` / ``match_one`` / ``match_not``,
``gumbo_matchers.h:29-152``) and seven predicate families — tag, class,
id, attribute, content text, inner text, outer text
(``gumbo_matchers.h:160-1077``; verb sets per SURVEY.md §2.3).

Where the reference evaluates one fused closure per node during
iterator traversal, we evaluate each matcher once per *document* (or
per concatenated batch) as a boolean mask over the preorder node
table — combinators become ``& | ^ ~`` on masks, first-match becomes
``argmax``.  User-defined predicates remain first-class via ``where``
verbs accepting vectorized callables (mirroring the reference's
``where(preds...)`` escape hatches at ``gumbo_matchers.h:160,438,482,
509,644,773,904``).

Reference bugs intentionally NOT reproduced (documented divergences,
SURVEY.md §2.3): ``content_text::ends_with`` variadic testing
starts_with for its first argument (``gumbo_matchers.h:610``) and the
never-instantiated broken container overloads.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

import numpy as np

from .nodetable import DOCUMENT, ELEMENT, NodeTable
from .parser.tags import TAG_NAMES


class Matcher:
    """A node predicate over a :class:`NodeTable`, held as ONE mask
    function ``mask(nt, gate) -> bool[n]``.

    ``gate`` is the candidate-row set (a selection vector): the mask
    tests those rows only and is always a subset of ``gate``.  ``a & b``
    feeds one conjunct's mask as the other's gate, so in ``tag.P &
    content_text.contains(...)`` the text predicate runs on the <p>
    rows alone — the vectorized tag/type leaves prune the per-node
    Python work.  ``|``/``^``/``~`` pass the incoming gate to their
    children (``(l|r)&g == (l&g)|(r&g)``, ``(~l)&g == g & ~(l&g)``), so
    gating is exact, not a heuristic.

    Compose with ``&`` (match_all), ``|`` (match_any), ``^``
    (match_one), ``~`` (match_not) — the reference's operator sugar
    (``gumbo_matchers.h:1081-1127``).

    COST-ORDERED CONJUNCTION: every matcher carries a ``cost`` rank —
    0 for vectorized leaves (tag/type), 2 for leaves that run Python
    per candidate row.  ``&`` and :func:`match_all` evaluate the
    cheapest conjunct first regardless of written order, so
    ``content_text.contains(...) & tag.P`` costs the same as ``tag.P &
    content_text.contains(...)`` — the reference's per-node
    ``match_all`` short-circuits inside one node visit and never pays
    this asymmetry either (gumbo_matchers.h:29-62).  Ties keep written
    order.
    """

    __slots__ = ("eval", "name", "cost")

    def __init__(
        self,
        mask: Callable[[NodeTable, np.ndarray], np.ndarray],
        name: str = "matcher",
        cost: int = 0,
    ):
        """INVARIANT (required by cost-ordered conjunction): ``mask``
        is PURE — no side effects, same result for the same table and
        gate — and ``mask(nt, gate)`` is a subset of ``gate``.  ``&``/
        ``match_all`` reorder conjuncts by ``cost``; if evaluation
        order matters for a custom matcher, give the order-sensitive
        matchers equal costs (ties keep written order)."""
        self.eval = mask
        self.name = name
        self.cost = cost

    def fn(self, nt: NodeTable) -> np.ndarray:
        """Mask over every row of ``nt``."""
        return self.eval(nt, np.ones(nt.n, dtype=bool))

    __call__ = fn

    def __and__(self, other: "Matcher") -> "Matcher":
        return match_all(self, other)

    def __or__(self, other: "Matcher") -> "Matcher":
        return match_any(self, other)

    def __xor__(self, other: "Matcher") -> "Matcher":
        return match_one(self, other)

    def __invert__(self) -> "Matcher":
        return match_not(self)

    def __repr__(self) -> str:
        return f"<Matcher {self.name}>"


def _named(op: str, ms) -> str:
    return "(" + f" {op} ".join(m.name for m in ms) + ")"


def match_all(*ms: Matcher) -> Matcher:
    """AND-fold (gumbo_matchers.h:29-62) — predicates evaluate in
    ascending cost order (stable, so equal-cost predicates keep their
    written order), each only on the survivors of the previous ones.
    Reordering is exact: the masks are pure and gating distributes
    over AND."""
    ordered = sorted(ms, key=lambda m: m.cost)

    def mask(nt: NodeTable, gate: np.ndarray) -> np.ndarray:
        for m in ordered:
            gate = m.eval(nt, gate)
        return gate

    return Matcher(mask, _named("and", ms), ordered[0].cost)


def match_any(*ms: Matcher) -> Matcher:
    """OR-fold (gumbo_matchers.h:65-99)."""
    return Matcher(
        lambda nt, gate: np.logical_or.reduce([m.eval(nt, gate) for m in ms]),
        _named("or", ms),
        max(m.cost for m in ms),
    )


def match_one(*ms: Matcher) -> Matcher:
    """XOR-fold: odd number of matches (gumbo_matchers.h:101-134)."""
    return Matcher(
        lambda nt, gate: np.logical_xor.reduce([m.eval(nt, gate) for m in ms]),
        _named("xor", ms),
        max(m.cost for m in ms),
    )


def match_not(m: Matcher) -> Matcher:
    """Negation (gumbo_matchers.h:136-152)."""
    return Matcher(lambda nt, gate: gate & ~m.eval(nt, gate), f"(not {m.name})", m.cost)


def find_some(nt: NodeTable, *ms: Matcher):
    """daw::algorithm::find_some analogue (used test.cpp:96-102): first
    node matching ANY predicate, plus the per-predicate hit bitmap at
    that node.  Returns (node_id or -1, list[bool])."""
    masks = [m(nt) for m in ms]
    any_mask = np.logical_or.reduce(masks)
    i = nt.first_match(any_mask)
    if i < 0:
        return -1, [False] * len(ms)
    return i, [bool(mk[i]) for mk in masks]


# ----------------------------------------------------------------------
# per-node Python leaves: one gather-then-fromiter loop over the gate
# ----------------------------------------------------------------------
def _per_row(gate: np.ndarray, test: Callable[..., object], *cols: np.ndarray) -> np.ndarray:
    """``test(*row)`` on the ``gate`` rows only: gather each per-node
    column at those rows, then one ``np.fromiter`` (truthiness) — a
    full gate costs one pass over the table, an empty gate nothing."""
    ids = np.flatnonzero(gate)
    out = np.zeros(len(gate), dtype=bool)
    out[ids] = np.fromiter(map(test, *(c[ids].tolist() for c in cols)), dtype=bool, count=len(ids))
    return out


def _given(gate: np.ndarray, col: np.ndarray) -> np.ndarray:
    """The ``gate`` rows whose ``col`` value is not None, so per-row
    tests never see a missing value (checked on the gate rows only)."""
    ids = np.flatnonzero(gate)
    out = np.zeros(len(gate), dtype=bool)
    out[ids[np.not_equal(col[ids], None)]] = True
    return out


def _value_matcher(attr: str, pred: Callable[[str], object], label: str) -> Matcher:
    """Per-node test of attribute ``attr``'s value; nodes without it
    never match.  Only the gate rows' values are looked up, and the
    test runs on those that have one."""

    def mask(nt: NodeTable, gate: np.ndarray) -> np.ndarray:
        ids = np.flatnonzero(gate)
        out = np.zeros(len(gate), dtype=bool)
        out[ids] = [v is not None and bool(pred(v)) for v in nt.attr_values(attr, ids).tolist()]
        return out

    return Matcher(mask, label, cost=2)


def _contains_any(v: str, subs: tuple[str, ...]) -> bool:
    return any(s in v for s in subs)


def _has_token(token: str) -> Callable[[str], bool]:
    return lambda v: token in v.split()


# ----------------------------------------------------------------------
# tag matchers (gumbo_matchers.h:904-1077)
# ----------------------------------------------------------------------
class _TagNS:
    """``match::tag`` — element-gated tag predicates.  Note the
    reference quirk preserved here: tag matchers gate on node type
    Element, so a parsed ``<template>`` (node type Template) never
    matches ``tag::TEMPLATE`` (gumbo_matchers.h:917-924)."""

    @staticmethod
    def types(*names: str) -> Matcher:
        low = tuple(n.lower() for n in names)
        return Matcher(
            lambda nt, gate: gate & (nt.type == ELEMENT) & np.isin(nt.tag_name, low),
            f"tag::types{low}",
        )

    @staticmethod
    def where(pred: Callable[[np.ndarray], np.ndarray]) -> Matcher:
        """pred receives the tag-name object array, returns a mask
        (vectorized user predicate — gumbo_matchers.h:904-913)."""
        return Matcher(
            lambda nt, gate: gate & (nt.type == ELEMENT) & np.asarray(pred(nt.tag_name), dtype=bool),
            "tag::where",
        )

    def __getattr__(self, name: str) -> Matcher:
        tag_l = name.lower().replace("_", "-")
        if tag_l not in TAG_NAMES:
            raise AttributeError(f"unknown tag constant: {name}")
        return self.types(tag_l)


tag = _TagNS()


# ----------------------------------------------------------------------
# attribute matchers (gumbo_matchers.h:160-431) — existential over the
# node's attribute list
# ----------------------------------------------------------------------
class _AttrValueNS:
    @staticmethod
    def is_(name: str, *values: str) -> Matcher:
        return _value_matcher(name, frozenset(values).__contains__, f"attribute::value::is({name})")

    @staticmethod
    def contains(name: str, *subs: str) -> Matcher:
        return _value_matcher(
            name, lambda v: _contains_any(v, subs), f"attribute::value::contains({name})"
        )

    @staticmethod
    def starts_with(name: str, *prefixes: str) -> Matcher:
        ps = tuple(prefixes)
        return _value_matcher(
            name, lambda v: v.startswith(ps), f"attribute::value::starts_with({name})"
        )

    @staticmethod
    def ends_with(name: str, *suffixes: str) -> Matcher:
        ss = tuple(suffixes)
        return _value_matcher(
            name, lambda v: v.endswith(ss), f"attribute::value::ends_with({name})"
        )

    @staticmethod
    def contains_prefix(name: str, prefix: str) -> Matcher:
        """CSS ``|=``: value == prefix or starts with prefix + '-'
        (gumbo_matchers.h:244-259)."""
        pd = prefix + "-"
        return _value_matcher(
            name,
            lambda v: v == prefix or v.startswith(pd),
            f"attribute::value::contains_prefix({name})",
        )

    @staticmethod
    def is_empty(name: str) -> Matcher:
        return _value_matcher(name, lambda v: v == "", f"attribute::value::is_empty({name})")

    @staticmethod
    def is_null(name: str) -> Matcher:
        """Parity verb for attribute::value::is_null
        (gumbo_matchers.h:418-423, value pointer null).  libgumbo
        materializes "" (never a null pointer) for valueless
        attributes, and so does our parser — on any parsed tree this
        matcher is constant-false, preserved for API parity."""
        return Matcher(lambda nt, gate: np.zeros(nt.n, dtype=bool), f"attribute::value::is_null({name})")

    @staticmethod
    def has_value(name: str) -> Matcher:
        return _value_matcher(
            name, lambda v: v != "", f"attribute::value::has_value({name})"
        )


class _AttrNameNS:
    @staticmethod
    def is_(*names: str) -> Matcher:
        return _AttrNS.exists(*names)


class _AttrNS:
    value = _AttrValueNS()
    name = _AttrNameNS()

    @staticmethod
    def exists(*names: str) -> Matcher:
        nset = frozenset(n.lower() for n in names)
        return Matcher(
            lambda nt, gate: _per_row(_given(gate, nt.attrs), lambda a: not nset.isdisjoint(a), nt.attrs),
            f"attribute::exists{tuple(nset)}",
            cost=2,
        )

    @staticmethod
    def has() -> Matcher:
        return Matcher(lambda nt, gate: _per_row(gate, bool, nt.attrs), "attribute::has", cost=2)

    @staticmethod
    def has_none() -> Matcher:
        return ~_AttrNS.has()

    @staticmethod
    def where(pred: Callable[[str, str], bool]) -> Matcher:
        """∃ attribute for which pred(name, value) holds
        (gumbo_matchers.h:160-172)."""
        return Matcher(
            lambda nt, gate: _per_row(
                _given(gate, nt.attrs), lambda a: any(pred(k, v) for k, v in a.items()), nt.attrs
            ),
            "attribute::where",
            cost=2,
        )


attribute = _AttrNS()


# ----------------------------------------------------------------------
# class / id matchers — whole-attribute-value equality, NO CSS token
# splitting (gumbo_matchers.h:466-476: class="hello world" does NOT
# match is("hello"))
# ----------------------------------------------------------------------
class _ClassNS:
    @staticmethod
    def is_(*names: str) -> Matcher:
        return _value_matcher("class", frozenset(names).__contains__, f"class_type::is{names}")

    @staticmethod
    def where(pred: Callable[[str], bool]) -> Matcher:
        return _value_matcher("class", pred, "class_type::where")

    @staticmethod
    def has_token(token: str) -> Matcher:
        """EXTENSION (clearly separated from the reference verb set):
        CSS-style whitespace-token membership."""
        return _value_matcher("class", _has_token(token), f"class_type::has_token({token})")


class _IdNS:
    @staticmethod
    def is_(*names: str) -> Matcher:
        return _value_matcher("id", frozenset(names).__contains__, f"id::is{names}")

    @staticmethod
    def where(pred: Callable[[str], bool]) -> Matcher:
        return _value_matcher("id", pred, "id::where")


class_type = _ClassNS()
id_ = _IdNS()


# ----------------------------------------------------------------------
# content / inner / outer text matchers (gumbo_matchers.h:509-898)
# ----------------------------------------------------------------------
class _TextNS:
    """Shared verb set over one of the three text projections.  The
    reference's inner/outer verbs take the document string explicitly
    (gumbo_matchers.h:644-898); our NodeTable carries the source.

    Verbs evaluate per node WITHOUT materializing node text
    (``NodeTable.text_spans``): element rows test a (lo, hi) range of
    one haystack string via bounded str.startswith/endswith/find
    (C-level, zero-copy) — building the text of every node first is
    O(n·doc) per document on real pages.  Non-range rows (text-likes,
    comments) test their own text; the document node uses the slow
    getter (its inner text is child-span based).  User predicates
    (``where``/``map``) get the range sliced out."""

    def __init__(self, kind: str):
        self._kind = kind
        self._label = {"content": "content_text", "inner": "inner_text", "outer": "outer_text"}[kind]

    def _mk(self, range_fn, str_fn, verb: str) -> Matcher:
        kind = self._kind

        def mask(nt: NodeTable, gate: np.ndarray) -> np.ndarray:
            hay, lo, hi, is_range = nt.text_spans(kind)
            own = nt.text
            docs = np.flatnonzero(gate & ~is_range & (nt.type == DOCUMENT))
            if len(docs):
                own = own.copy()
                own[docs] = [getattr(nt, f"{kind}_text")(i) for i in docs.tolist()]
            return _per_row(gate & is_range, partial(range_fn, hay), lo, hi) | _per_row(
                gate & ~is_range, str_fn, own
            )

        return Matcher(mask, f"{self._label}::{verb}", cost=2)

    def where(self, pred: Callable[[str], bool]) -> Matcher:
        return self._mk(lambda h, a, b: pred(h[a:b]), pred, "where")

    def map(self, proj: Callable[[str], object], pred: Callable[[object], bool]) -> Matcher:
        """projection-then-test (gumbo_matchers.h:518-524)."""
        return self._mk(lambda h, a, b: pred(proj(h[a:b])), lambda s: pred(proj(s)), "map")

    def contains(self, *texts: str) -> Matcher:
        return self._mk(
            lambda h, a, b: any(h.find(t, a, b) != -1 for t in texts),
            lambda s: _contains_any(s, texts),
            "contains",
        )

    def is_(self, *texts: str) -> Matcher:
        return self._mk(
            lambda h, a, b: any(b - a == len(t) and h.startswith(t, a, b) for t in texts),
            lambda s: s in texts,
            "is",
        )

    def starts_with(self, *prefixes: str) -> Matcher:
        ps = tuple(prefixes)
        return self._mk(
            lambda h, a, b: h.startswith(ps, a, b),
            lambda s: s.startswith(ps),
            "starts_with",
        )

    def ends_with(self, *suffixes: str) -> Matcher:
        ss = tuple(suffixes)
        return self._mk(
            lambda h, a, b: h.endswith(ss, a, b),
            lambda s: s.endswith(ss),
            "ends_with",
        )

    @property
    def is_empty(self) -> Matcher:
        return self._mk(
            lambda h, a, b: b <= a,
            lambda s: s == "",
            "is_empty",
        )


content_text = _TextNS("content")
inner_text = _TextNS("inner")
outer_text = _TextNS("outer")
