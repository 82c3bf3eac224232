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

from typing import Callable

import numpy as np

from .nodetable import DOCUMENT, ELEMENT, NodeTable
from .parser.tags import TAG_NAMES


class Matcher:
    """A node predicate: ``NodeTable → bool mask``.

    Compose with ``&`` (match_all), ``|`` (match_any), ``^``
    (match_one), ``~`` (match_not) — mirroring the reference's
    operator sugar (``gumbo_matchers.h:1081-1127``).

    CANDIDATE-SET EVALUATION: predicates that cost Python per node
    (text verbs, attribute existence/where) carry an optional gated
    form ``gfn(nt, gate) == full_mask & gate`` that touches ONLY the
    rows set in ``gate``.  ``a & b`` feeds one conjunct's mask as the
    other's gate, so in ``tag.P & content_text.contains(...)`` the
    text predicate runs on the <p> rows alone — the vectorized
    tag/type gates prune the Python work instead of every matcher
    paying O(n·doc).  ``|``/``^``/``~`` propagate the incoming gate to
    their children (identities ``(l|r)&g == (l&g)|(r&g)``, ``(~l)&g ==
    g & ~(l&g)``), so gating is exact, not a heuristic.

    COST-ORDERED CONJUNCTION (round 4): every matcher carries a
    ``cost`` rank — 0 for fully vectorized kernels (tag/type), 2 for
    predicates whose UNGATED evaluation is a per-node Python loop.
    ``&`` and :func:`match_all` evaluate the cheapest conjunct first
    regardless of written order (legal: AND over pure mask predicates
    is commutative, and gating is exact), so ``content_text.
    contains(...) & tag.P`` costs the same as ``tag.P & content_text.
    contains(...)`` — the reference's per-node ``match_all`` never
    pays this asymmetry either, it short-circuits inside one node
    visit (gumbo_matchers.h:29-62).  Ties keep written order.
    """

    __slots__ = ("fn", "name", "gfn", "cost")

    def __init__(
        self,
        fn: Callable[[NodeTable], np.ndarray],
        name: str = "matcher",
        gfn: Callable[[NodeTable, np.ndarray], np.ndarray] | None = None,
        cost: int | None = None,
    ):
        """Build a matcher from a mask function.

        CONTRACT (required by cost-ordered conjunction): ``fn`` must be
        PURE — no side effects, same mask for the same ``NodeTable`` —
        and, when ``gfn`` is supplied, it must satisfy exactly
        ``gfn(nt, gate) == fn(nt) & gate``.  ``&``/``match_all``
        reorder conjunct evaluation by cost, so a side-effecting
        ``fn`` or an inconsistent ``gfn`` would observably change
        behavior depending on cost ranks.  If evaluation order
        matters for a custom matcher, pin it with an explicit
        ``cost=``: ties keep written order, so give order-sensitive
        matchers equal costs.
        """
        self.fn = fn
        self.name = name
        self.gfn = gfn
        # default rank: kernels that ship a gated form do so because
        # their ungated path is a Python loop; pure-vectorized leaves
        # don't need one (eval() just ANDs the mask with the gate)
        self.cost = cost if cost is not None else (2 if gfn is not None else 0)

    def __call__(self, nt: NodeTable) -> np.ndarray:
        return self.fn(nt)

    def eval(self, nt: NodeTable, gate: np.ndarray | None) -> np.ndarray:
        """Mask restricted to ``gate`` rows (``full & gate``); rows
        outside the gate are False and cost nothing when a gated form
        exists."""
        if gate is None:
            return self.fn(nt)
        if self.gfn is not None:
            return self.gfn(nt, gate)
        return self.fn(nt) & gate

    def __and__(self, other: "Matcher") -> "Matcher":
        # cheapest conjunct first — its full mask gates the pricier
        # one, making candidate-set evaluation order-insensitive
        first, second = (self, other) if self.cost <= other.cost else (other, self)
        return Matcher(
            lambda nt: second.eval(nt, first.fn(nt)),
            f"({self.name} and {other.name})",
            lambda nt, gate: second.eval(nt, first.eval(nt, gate)),
            cost=first.cost,
        )

    def __or__(self, other: "Matcher") -> "Matcher":
        return Matcher(
            lambda nt: self.fn(nt) | other.fn(nt),
            f"({self.name} or {other.name})",
            lambda nt, gate: self.eval(nt, gate) | other.eval(nt, gate),
            cost=max(self.cost, other.cost),
        )

    def __xor__(self, other: "Matcher") -> "Matcher":
        return Matcher(
            lambda nt: self.fn(nt) ^ other.fn(nt),
            f"({self.name} xor {other.name})",
            lambda nt, gate: self.eval(nt, gate) ^ other.eval(nt, gate),
            cost=max(self.cost, other.cost),
        )

    def __invert__(self) -> "Matcher":
        return Matcher(
            lambda nt: ~self.fn(nt),
            f"(not {self.name})",
            lambda nt, gate: gate & ~self.eval(nt, gate),
            cost=self.cost,
        )

    def __repr__(self) -> str:
        return f"<Matcher {self.name}>"


def match_all(*ms: Matcher) -> Matcher:
    """AND-fold (gumbo_matchers.h:29-62) — predicates evaluate in
    ascending cost order (stable, so equal-cost predicates keep their
    written order), each only on the survivors of the previous ones
    (candidate-set chaining).  Reordering is exact: the masks are pure
    predicates and gating distributes over AND."""
    ordered = sorted(ms, key=lambda m: m.cost)

    def fn(nt: NodeTable) -> np.ndarray:
        g = ordered[0](nt)
        for m in ordered[1:]:
            g = m.eval(nt, g)
        return g

    def gfn(nt: NodeTable, gate: np.ndarray) -> np.ndarray:
        g = gate
        for m in ordered:
            g = m.eval(nt, g)
        return g

    return Matcher(fn, "match_all", gfn, cost=ordered[0].cost)


def match_any(*ms: Matcher) -> Matcher:
    """OR-fold (gumbo_matchers.h:65-99)."""
    return Matcher(
        lambda nt: np.logical_or.reduce([m(nt) for m in ms]),
        "match_any",
        lambda nt, gate: np.logical_or.reduce([m.eval(nt, gate) for m in ms]),
        cost=max(m.cost for m in ms),
    )


def match_one(*ms: Matcher) -> Matcher:
    """XOR-fold: odd number of matches (gumbo_matchers.h:101-134)."""
    return Matcher(
        lambda nt: np.logical_xor.reduce([m(nt) for m in ms]),
        "match_one",
        lambda nt, gate: gate
        & np.logical_xor.reduce([m.eval(nt, gate) for m in ms]),
        cost=max(m.cost for m in ms),
    )


def match_not(m: Matcher) -> Matcher:
    """Negation (gumbo_matchers.h:136-152)."""
    return ~m


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
# string-predicate helpers over object arrays (None-safe)
# ----------------------------------------------------------------------
def _obj_eq(vals: np.ndarray, targets: tuple[str, ...], gate: np.ndarray | None = None) -> np.ndarray:
    tset = set(targets)
    if gate is None:
        return np.fromiter((v in tset if v is not None else False for v in vals), dtype=bool, count=len(vals))
    out = np.zeros(len(vals), dtype=bool)
    for i in np.nonzero(gate)[0]:
        v = vals[i]
        if v is not None and v in tset:
            out[i] = True
    return out


def _obj_pred(vals: np.ndarray, pred: Callable[[str], bool], gate: np.ndarray | None = None) -> np.ndarray:
    if gate is None:
        return np.fromiter((pred(v) if v is not None else False for v in vals), dtype=bool, count=len(vals))
    out = np.zeros(len(vals), dtype=bool)
    for i in np.nonzero(gate)[0]:
        v = vals[i]
        if v is not None and pred(v):
            out[i] = True
    return out




def _contains_any(v: str, subs: tuple[str, ...]) -> bool:
    return any(s in v for s in subs)


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
            lambda nt: (nt.type == ELEMENT) & np.isin(nt.tag_name, low),
            f"tag::types{low}",
        )

    @staticmethod
    def where(pred: Callable[[np.ndarray], np.ndarray]) -> Matcher:
        """pred receives the tag-name object array, returns a mask
        (vectorized user predicate — gumbo_matchers.h:904-913)."""
        return Matcher(lambda nt: (nt.type == ELEMENT) & np.asarray(pred(nt.tag_name), dtype=bool), "tag::where")

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
def _val_matcher(name: str, pred: Callable[[str], bool], label: str) -> Matcher:
    """Attribute-value predicate with a gated form: the per-node Python
    test runs only on candidate rows when composed after vectorized
    gates (the attr_values flat-index gather stays vectorized)."""
    return Matcher(
        lambda nt: _obj_pred(nt.attr_values(name), pred),
        label,
        lambda nt, gate: _obj_pred(nt.attr_values(name), pred, gate),
    )


class _AttrValueNS:
    @staticmethod
    def is_(name: str, *values: str) -> Matcher:
        return Matcher(
            lambda nt: _obj_eq(nt.attr_values(name), values),
            f"attribute::value::is({name})",
            lambda nt, gate: _obj_eq(nt.attr_values(name), values, gate),
        )

    @staticmethod
    def contains(name: str, *subs: str) -> Matcher:
        return _val_matcher(
            name, lambda v: _contains_any(v, subs), f"attribute::value::contains({name})"
        )

    @staticmethod
    def starts_with(name: str, *prefixes: str) -> Matcher:
        ps = tuple(prefixes)
        return _val_matcher(
            name, lambda v: v.startswith(ps), f"attribute::value::starts_with({name})"
        )

    @staticmethod
    def ends_with(name: str, *suffixes: str) -> Matcher:
        ss = tuple(suffixes)
        return _val_matcher(
            name, lambda v: v.endswith(ss), f"attribute::value::ends_with({name})"
        )

    @staticmethod
    def contains_prefix(name: str, prefix: str) -> Matcher:
        """CSS ``|=``: value == prefix or starts with prefix + '-'
        (gumbo_matchers.h:244-259)."""
        pd = prefix + "-"
        return _val_matcher(
            name,
            lambda v: v == prefix or v.startswith(pd),
            f"attribute::value::contains_prefix({name})",
        )

    @staticmethod
    def is_empty(name: str) -> Matcher:
        return Matcher(
            lambda nt: _obj_eq(nt.attr_values(name), ("",)),
            f"attribute::value::is_empty({name})",
            lambda nt, gate: _obj_eq(nt.attr_values(name), ("",), gate),
        )

    @staticmethod
    def is_null(name: str) -> Matcher:
        """Parity verb for attribute::value::is_null
        (gumbo_matchers.h:418-423, value pointer null).  libgumbo
        materializes "" (never a null pointer) for valueless
        attributes, and so does our parser — on any parsed tree this
        matcher is constant-false, preserved for API parity."""
        return Matcher(lambda nt: np.zeros(nt.n, dtype=bool), f"attribute::value::is_null({name})")

    @staticmethod
    def has_value(name: str) -> Matcher:
        return _val_matcher(
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

        def fn(nt: NodeTable) -> np.ndarray:
            return np.fromiter(
                ((not nset.isdisjoint(a)) if a else False for a in nt.attrs),
                dtype=bool,
                count=nt.n,
            )

        def gfn(nt: NodeTable, gate: np.ndarray) -> np.ndarray:
            out = np.zeros(nt.n, dtype=bool)
            attrs = nt.attrs
            for i in np.nonzero(gate)[0]:
                a = attrs[i]
                if a and not nset.isdisjoint(a):
                    out[i] = True
            return out

        return Matcher(fn, f"attribute::exists{tuple(nset)}", gfn)

    @staticmethod
    def has() -> Matcher:
        def gfn(nt: NodeTable, gate: np.ndarray) -> np.ndarray:
            out = np.zeros(nt.n, dtype=bool)
            attrs = nt.attrs
            for i in np.nonzero(gate)[0]:
                if attrs[i]:
                    out[i] = True
            return out

        return Matcher(
            lambda nt: np.fromiter((bool(a) for a in nt.attrs), dtype=bool, count=nt.n),
            "attribute::has",
            gfn,
        )

    @staticmethod
    def has_none() -> Matcher:
        return ~_AttrNS.has()

    @staticmethod
    def where(pred: Callable[[str, str], bool]) -> Matcher:
        """∃ attribute for which pred(name, value) holds
        (gumbo_matchers.h:160-172)."""

        def fn(nt: NodeTable) -> np.ndarray:
            return np.fromiter(
                (any(pred(k, v) for k, v in a.items()) if a else False for a in nt.attrs),
                dtype=bool,
                count=nt.n,
            )

        def gfn(nt: NodeTable, gate: np.ndarray) -> np.ndarray:
            out = np.zeros(nt.n, dtype=bool)
            attrs = nt.attrs
            for i in np.nonzero(gate)[0]:
                a = attrs[i]
                if a and any(pred(k, v) for k, v in a.items()):
                    out[i] = True
            return out

        return Matcher(fn, "attribute::where", gfn)


attribute = _AttrNS()


# ----------------------------------------------------------------------
# class / id matchers — whole-attribute-value equality, NO CSS token
# splitting (gumbo_matchers.h:466-476: class="hello world" does NOT
# match is("hello"))
# ----------------------------------------------------------------------
class _ClassNS:
    @staticmethod
    def is_(*names: str) -> Matcher:
        return Matcher(
            lambda nt: _obj_eq(nt.class_values(), names),
            f"class_type::is{names}",
            lambda nt, gate: _obj_eq(nt.class_values(), names, gate),
        )

    @staticmethod
    def where(pred: Callable[[str], bool]) -> Matcher:
        return Matcher(
            lambda nt: _obj_pred(nt.class_values(), pred),
            "class_type::where",
            lambda nt, gate: _obj_pred(nt.class_values(), pred, gate),
        )

    @staticmethod
    def has_token(token: str) -> Matcher:
        """EXTENSION (clearly separated from the reference verb set):
        CSS-style whitespace-token membership."""
        tok = token

        def pred(v: str) -> bool:
            return tok in v.split()

        return Matcher(
            lambda nt: _obj_pred(nt.class_values(), pred),
            f"class_type::has_token({token})",
            lambda nt, gate: _obj_pred(nt.class_values(), pred, gate),
        )


class _IdNS:
    @staticmethod
    def is_(*names: str) -> Matcher:
        return Matcher(
            lambda nt: _obj_eq(nt.id_values(), names),
            f"id::is{names}",
            lambda nt, gate: _obj_eq(nt.id_values(), names, gate),
        )

    @staticmethod
    def where(pred: Callable[[str], bool]) -> Matcher:
        return Matcher(
            lambda nt: _obj_pred(nt.id_values(), pred),
            "id::where",
            lambda nt, gate: _obj_pred(nt.id_values(), pred, gate),
        )


class_type = _ClassNS()
id_ = _IdNS()


# ----------------------------------------------------------------------
# content / inner / outer text matchers (gumbo_matchers.h:509-898)
# ----------------------------------------------------------------------
def _textcol(nt: NodeTable, kind: str, ids=None) -> list[str]:
    if ids is None:
        ids = range(nt.n)
    if kind == "content":
        return nt.content_text_many(ids)
    getter = nt.inner_text if kind == "inner" else nt.outer_text
    return [getter(i) for i in ids]


def _span_mask(nt: NodeTable, kind: str, range_fn, str_fn, gate=None) -> np.ndarray:
    """Evaluate a text predicate per node WITHOUT materializing node
    text: element rows test a (lo, hi) range of one haystack string via
    bounded str.startswith/endswith/find (C-level, zero-copy); the
    round-1 version built outer/inner text of EVERY node first —
    O(n·doc) per document on real pages.  Non-range rows (text-likes,
    comments) test their own text; the document node uses the slow
    getter (its inner text is child-span based).

    ``gate`` restricts the per-node Python loop to candidate rows
    (round-3: a composed program's vectorized tag/type gates prune the
    loop, so a 5-matcher program on a 50k-node page no longer pays
    ~250k Python iterations)."""
    hay, lo, hi, is_range = nt.text_spans(kind)
    out = np.zeros(nt.n, dtype=bool)
    text = nt.text
    getter = {"content": nt.content_text, "inner": nt.inner_text, "outer": nt.outer_text}[kind]
    if gate is None:
        rng = is_range.tolist()
        lo_l = lo.tolist()
        hi_l = hi.tolist()
        for i in range(nt.n):
            if rng[i]:
                out[i] = range_fn(hay, lo_l[i], hi_l[i])
            elif nt.type[i] == DOCUMENT:
                out[i] = str_fn(getter(i))
            else:
                out[i] = str_fn(text[i])
        return out
    # gated path: touch candidate rows only — no O(n) tolist either
    for i in np.nonzero(gate)[0].tolist():
        if is_range[i]:
            out[i] = range_fn(hay, int(lo[i]), int(hi[i]))
        elif nt.type[i] == DOCUMENT:
            out[i] = str_fn(getter(i))
        else:
            out[i] = str_fn(text[i])
    return out


class _TextNS:
    """Shared verb set over one of the three text projections.  The
    reference's inner/outer verbs take the document string explicitly
    (gumbo_matchers.h:644-898); our NodeTable carries the source."""

    def __init__(self, kind: str):
        self._kind = kind
        self._label = {"content": "content_text", "inner": "inner_text", "outer": "outer_text"}[kind]

    def _mk(self, pred: Callable[[str], bool], verb: str) -> Matcher:
        # materializing fallback — only for user-supplied predicates
        # (where/map), which need the concrete string; gated form
        # materializes candidate rows' text only
        kind = self._kind

        def gfn(nt: NodeTable, gate: np.ndarray) -> np.ndarray:
            out = np.zeros(nt.n, dtype=bool)
            ids = np.nonzero(gate)[0].tolist()
            for i, t in zip(ids, _textcol(nt, kind, ids)):
                out[i] = pred(t)
            return out

        return Matcher(
            lambda nt: np.fromiter((pred(t) for t in _textcol(nt, kind)), dtype=bool, count=nt.n),
            f"{self._label}::{verb}",
            gfn,
        )

    def _mk_span(self, range_fn, str_fn, verb: str) -> Matcher:
        kind = self._kind
        return Matcher(
            lambda nt: _span_mask(nt, kind, range_fn, str_fn),
            f"{self._label}::{verb}",
            lambda nt, gate: _span_mask(nt, kind, range_fn, str_fn, gate),
        )

    def where(self, pred: Callable[[str], bool]) -> Matcher:
        return self._mk(pred, "where")

    def map(self, proj: Callable[[str], object], pred: Callable[[object], bool]) -> Matcher:
        """projection-then-test (gumbo_matchers.h:518-524)."""
        return self._mk(lambda t: pred(proj(t)), "map")

    def contains(self, *texts: str) -> Matcher:
        return self._mk_span(
            lambda h, a, b: any(h.find(t, a, b) != -1 for t in texts),
            lambda s: _contains_any(s, texts),
            "contains",
        )

    def is_(self, *texts: str) -> Matcher:
        return self._mk_span(
            lambda h, a, b: any(b - a == len(t) and h.startswith(t, a, b) for t in texts),
            lambda s: s in texts,
            "is",
        )

    def starts_with(self, *prefixes: str) -> Matcher:
        ps = tuple(prefixes)
        return self._mk_span(
            lambda h, a, b: h.startswith(ps, a, b),
            lambda s: s.startswith(ps),
            "starts_with",
        )

    def ends_with(self, *suffixes: str) -> Matcher:
        ss = tuple(suffixes)
        return self._mk_span(
            lambda h, a, b: h.endswith(ss, a, b),
            lambda s: s.endswith(ss),
            "ends_with",
        )

    @property
    def is_empty(self) -> Matcher:
        return self._mk_span(
            lambda h, a, b: b <= a,
            lambda s: s == "",
            "is_empty",
        )


content_text = _TextNS("content")
inner_text = _TextNS("inner")
outer_text = _TextNS("outer")
