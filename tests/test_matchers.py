"""Matcher-algebra tests — the reference's predicate families and
combinators (gumbo_matchers.h; SURVEY.md §2.3) evaluated as masks."""

import numpy as np

from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark import matchers as m

DOC = (
    '<html><body>'
    '<div class="hello">one</div>'
    '<div class="hello world">two</div>'
    '<p id="example" data-x="a-b">Ex &amp; more</p>'
    '<a href="https://example.com/path">link</a>'
    '<span lang="en-US">text</span>'
    '<input disabled>'
    "</body></html>"
)


def ids_of(nt, mask):
    return list(np.nonzero(mask)[0])


class TestCombinators:
    def test_and_or_xor_not(self):
        nt = parse_html(DOC)
        div = m.tag.DIV(nt)
        hello = m.class_type.is_("hello")(nt)
        assert ids_of(nt, div & hello) == ids_of(nt, m.match_all(m.tag.DIV, m.class_type.is_("hello"))(nt))
        both = m.tag.DIV | m.tag.P
        assert (both(nt)).sum() == 3
        only_one = m.tag.DIV ^ m.class_type.is_("hello")
        # div.hello matches both → xor false there; div.hello-world → true
        assert only_one(nt).sum() == 1
        not_div = ~m.tag.DIV
        assert ((not_div(nt)) & div).sum() == 0

    def test_find_some(self):
        nt = parse_html('<p id="example">x</p>')
        i, hits = m.find_some(nt, m.tag.P, m.id_.is_("example"))
        assert i >= 0
        assert hits == [True, True]


class TestTag:
    def test_constants_and_types(self):
        nt = parse_html(DOC)
        assert m.tag.DIV(nt).sum() == 2
        assert m.tag.types("div", "p")(nt).sum() == 3
        assert m.tag.A(nt).sum() == 1

    def test_template_never_matches_tag(self):
        # reference quirk (gumbo_matchers.h:917-924): node type Template
        # is not Element, so tag::TEMPLATE can't match
        nt = parse_html("<body><template><b>x</b></template></body>")
        assert m.tag.TEMPLATE(nt).sum() == 0

    def test_where(self):
        nt = parse_html(DOC)
        got = m.tag.where(lambda names: np.array([n.startswith("d") for n in names]))(nt)
        assert got.sum() == 2  # both divs


class TestAttribute:
    def test_exists_has(self):
        nt = parse_html(DOC)
        assert m.attribute.exists("href")(nt).sum() == 1
        assert m.attribute.exists("nope", "href")(nt).sum() == 1
        has = m.attribute.has()(nt)
        assert has.sum() == 6
        none = m.attribute.has_none()(nt)
        assert (has & none).sum() == 0

    def test_value_verbs(self):
        nt = parse_html(DOC)
        assert m.attribute.value.is_("class", "hello")(nt).sum() == 1
        assert m.attribute.value.contains("href", "example.com")(nt).sum() == 1
        assert m.attribute.value.starts_with("href", "https://")(nt).sum() == 1
        assert m.attribute.value.ends_with("href", "/path")(nt).sum() == 1
        # CSS |= prefix: en-US matches 'en', not 'e'
        assert m.attribute.value.contains_prefix("lang", "en")(nt).sum() == 1
        assert m.attribute.value.contains_prefix("lang", "e")(nt).sum() == 0
        assert m.attribute.value.is_empty("disabled")(nt).sum() == 1
        assert m.attribute.value.has_value("disabled")(nt).sum() == 0

    def test_where_and_name_is(self):
        nt = parse_html(DOC)
        assert m.attribute.where(lambda k, v: k.startswith("data-"))(nt).sum() == 1
        assert m.attribute.name.is_("disabled")(nt).sum() == 1


class TestClassId:
    def test_whole_value_equality(self):
        nt = parse_html(DOC)
        # class="hello world" must NOT match is("hello")
        # (gumbo_matchers.h:466-476 — no CSS token splitting)
        assert m.class_type.is_("hello")(nt).sum() == 1
        assert m.class_type.is_("hello world")(nt).sum() == 1

    def test_has_token_extension(self):
        nt = parse_html(DOC)
        assert m.class_type.has_token("hello")(nt).sum() == 2

    def test_id(self):
        nt = parse_html(DOC)
        assert m.id_.is_("example")(nt).sum() == 1
        assert m.id_.where(lambda v: v.startswith("ex"))(nt).sum() == 1


class TestTextMatchers:
    def test_content_text(self):
        nt = parse_html(DOC)
        # entity-decoded content text
        assert m.content_text.contains("Ex & more")(nt).any()
        p = nt.first_match((m.tag.P & m.content_text.starts_with("Ex"))(nt))
        assert p >= 0
        assert m.content_text.is_("link")(nt)[nt.first_match(m.tag.A(nt))]
        assert m.content_text.ends_with("more")(nt)[p]
        assert m.content_text.map(len, lambda n: n == len("Ex & more"))(nt)[p]

    def test_inner_outer_text(self):
        nt = parse_html(DOC)
        p = nt.first_match(m.tag.P(nt))
        # raw source, entities NOT decoded
        assert m.inner_text.is_("Ex &amp; more")(nt)[p]
        assert m.outer_text.starts_with('<p id="example"')(nt)[p]
        assert m.outer_text.ends_with("</p>")(nt)[p]

    def test_is_empty(self):
        nt = parse_html("<div></div><p>x</p>")
        d = nt.first_match(m.tag.DIV(nt))
        assert m.content_text.is_empty(nt)[d]
        assert m.inner_text.is_empty(nt)[d]


class TestSpanVerbFastPath:
    """The round-2 span-based text verbs (no per-node materialization)
    must agree with the materializing where() fallback on every node."""

    PAGE = (
        '<html><head><title>t&amp;t</title></head><body>'
        '<div id="a"><p>one &lt;two&gt;</p><span>three</span></div>'
        '<!--note--><svg><text>s</text></svg>tail</body></html>'
    )

    def _agree(self, ns, verb_args):
        nt = parse_html(self.PAGE)
        for verb, args in verb_args:
            fast = getattr(ns, verb)(*args) if verb != "is_empty" else ns.is_empty
            texts_pred = {
                "contains": lambda t: any(s in t for s in args),
                "is_": lambda t: t in args,
                "starts_with": lambda t: t.startswith(tuple(args)),
                "ends_with": lambda t: t.endswith(tuple(args)),
                "is_empty": lambda t: t == "",
            }[verb]
            slow = ns.where(texts_pred)
            assert (fast(nt) == slow(nt)).all(), (ns._label, verb, args)

    def test_outer_agrees_with_where(self):
        self._agree(m.outer_text, [
            ("contains", ("two", "<p>")), ("is_", ("three",)),
            ("starts_with", ("<div", "<p")), ("ends_with", ("</p>", "l")),
            ("is_empty", ()),
        ])

    def test_inner_agrees_with_where(self):
        self._agree(m.inner_text, [
            ("contains", ("&lt;",)), ("is_", ("one &lt;two&gt;",)),
            ("starts_with", ("one",)), ("ends_with", ("three",)),
            ("is_empty", ()),
        ])

    def test_content_agrees_with_where(self):
        self._agree(m.content_text, [
            ("contains", ("one <two>",)), ("is_", ("three", "note")),
            ("starts_with", ("t&t",)), ("ends_with", ("tail",)),
            ("is_empty", ()),
        ])

    def test_attr_index_vectorized(self):
        nt = parse_html('<div class="x" id="d1"><p class="y">t</p><a href="h">l</a></div>')
        vals = nt.attr_values("class")
        got = {nt.tag_name[i]: vals[i] for i in range(nt.n) if vals[i] is not None}
        assert got == {"div": "x", "p": "y"}
        assert nt.attr_values("missing").tolist().count(None) == nt.n
        # at given ids: the full column gathered there, with and
        # without the attribute, unordered and repeated, and empty
        for name in ("class", "id", "href", "missing"):
            full = nt.attr_values(name)
            for ids in (np.arange(nt.n), np.array([nt.n - 1, 0, 2, 2]), np.array([], dtype=np.int64)):
                assert nt.attr_values(name, ids).tolist() == full[ids].tolist()


class TestGatedEvaluation:
    """Candidate-set evaluation (round 3): composed programs feed each
    matcher's mask as the next one's gate — identical results to
    independent full evaluation, with the Python-loop predicates
    touching only surviving rows."""

    def _doc(self):
        parts = ["<html><body>"]
        for i in range(200):
            parts.append(
                f'<div class="c{i % 7}" data-k="v{i % 13}">'
                f"<span>row {i} text</span><a href=\"/l/{i}\">link</a></div>"
            )
        parts.append('<p id="x1" lang="en-US" title="">x1 para</p><p id="y2">y2</p>')
        parts.append("<!--note--></body></html>")
        return parse_html("".join(parts))

    def test_gated_equals_full_on_compositions(self):
        import numpy as np

        from gumbo_pp_spark.css import css
        from gumbo_pp_spark.selector import compile_selector

        nt = self._doc()
        atoms = [
            m.tag.DIV,
            m.tag.SPAN,
            m.attribute.value.starts_with("data-k", "v7"),
            m.attribute.exists("data-k", "href"),
            m.attribute.has(),
            m.class_type.is_("c3"),
            m.content_text.contains("row 7"),
            m.inner_text.ends_with("text</span>"),
            m.outer_text.starts_with("<a"),
            m.content_text.is_empty,
            m.id_.where(lambda v: v.startswith("x")),
            m.attribute.where(lambda k, v: k == "href" and "/l/9" in v),
            m.content_text.where(lambda t: "row 19" in t),
            # every remaining verb of each namespace, so each leaf's one
            # mask function is checked under a partial gate
            m.tag.types("p", "a"),
            m.tag.where(lambda names: names == "p"),
            m.attribute.name.is_("lang"),
            m.attribute.has_none(),
            m.attribute.value.is_("data-k", "v3", "v4"),
            m.attribute.value.contains("href", "/1"),
            m.attribute.value.ends_with("href", "7"),
            m.attribute.value.contains_prefix("lang", "en"),
            m.attribute.value.is_empty("title"),
            m.attribute.value.is_null("title"),
            m.attribute.value.has_value("data-k"),
            m.class_type.where(lambda v: v.endswith("5")),
            m.class_type.has_token("c2"),
            m.id_.is_("x1", "y2"),
            m.content_text.is_("link"),
            m.content_text.starts_with("row 1"),
            m.content_text.ends_with("text"),
            m.content_text.map(len, lambda n: n > 10),
            m.inner_text.where(lambda t: "row 3" in t),
            m.inner_text.map(str.upper, lambda t: "LINK" in t),
            m.inner_text.contains("row 4"),
            m.inner_text.is_("link"),
            m.inner_text.starts_with("<span>row 2"),
            m.inner_text.is_empty,
            m.outer_text.where(lambda t: "/l/5" in t),
            m.outer_text.map(len, lambda n: n < 20),
            m.outer_text.contains("c4"),
            m.outer_text.is_("<a href=\"/l/8\">link</a>"),
            m.outer_text.ends_with("</div>"),
            m.outer_text.is_empty,
            css("div.c2 > a[href$='2'], p#x1"),
            compile_selector(["and", ["tag", "span"], ["content_contains", "row 6"]]),
        ]
        third = np.zeros(nt.n, dtype=bool)
        third[:: 3] = True
        for a in atoms:
            full = a.fn(nt)
            # complementary gates: every matching row is tested gated
            for gate in (third, ~third):
                got = a.eval(nt, gate)
                assert not (got & ~gate).any(), a.name
                assert (got == (full & gate)).all(), a.name
        progs = [
            atoms[0] & atoms[2] & atoms[6],
            (atoms[0] | atoms[1]) & atoms[6],
            atoms[0] & ~atoms[5] & atoms[3],
            m.match_all(atoms[0], atoms[3], atoms[7]),
            m.match_any(atoms[5], atoms[6]) & atoms[0],
            m.match_one(atoms[0], atoms[1]) & atoms[6],
            atoms[0] ^ atoms[2],
            atoms[0] & atoms[11],
            (atoms[1] & atoms[12]) | atoms[9],
            ~(atoms[0] & atoms[6]),
        ]
        for p in progs:
            full_independent = p.fn(nt)
            gated_all = p.eval(nt, np.ones(nt.n, dtype=bool))
            assert (full_independent == gated_all).all(), p.name
            # arbitrary gate: result == full & gate
            gate = np.zeros(nt.n, dtype=bool)
            gate[:: 3] = True
            assert (p.eval(nt, gate) == (full_independent & gate)).all(), p.name


class TestCostOrderedConjunction:
    """Round-4: `&` / match_all evaluate the cheapest conjunct first
    regardless of written order — a text/attr predicate written FIRST
    must still be gated by a vectorized tag written second."""

    def _page(self):
        from gumbo_pp_spark.parser.html5 import parse_html

        parts = ["<html><body>"]
        for i in range(300):
            parts.append(
                f'<div id="d{i}" class="c{i % 7}"><span>row {i}</span>'
                f'<a href="/l/{i}">link</a></div>'
            )
        parts.append("</body></html>")
        return parse_html("".join(parts))

    def test_reversed_order_same_mask(self):
        from gumbo_pp_spark import matchers as m

        nt = self._page()
        fwd = m.tag.DIV & m.content_text.contains("row 7")
        rev = m.content_text.contains("row 7") & m.tag.DIV
        assert (fwd.fn(nt) == rev.fn(nt)).all()
        assert fwd.fn(nt).sum() > 0

    def test_python_predicate_gated_both_orders(self):
        from gumbo_pp_spark import matchers as m

        nt = self._page()
        n_div = int(m.tag.DIV.fn(nt).sum())
        # every <div> carries one id and one class, so each leaf's
        # user predicate sees exactly one value per <div> row
        for leaf in (
            m.content_text.where,
            m.inner_text.where,
            m.outer_text.where,
            lambda pred: m.inner_text.map(str.lower, pred),
            lambda pred: m.outer_text.map(str.lower, pred),
            m.class_type.where,
            m.id_.where,
            lambda pred: m.attribute.where(lambda k, v: k == "id" and pred(v)),
        ):
            for mk in (
                lambda pred: leaf(pred) & m.tag.DIV,
                lambda pred: m.tag.DIV & leaf(pred),
                lambda pred: m.match_all(leaf(pred), m.tag.DIV),
            ):
                calls = []
                prog = mk(lambda t: calls.append(1) or "row 7" in t)
                prog.fn(nt)
                # the user predicate ran on the <div> candidates only,
                # never the full node table
                assert len(calls) == n_div, (len(calls), n_div, nt.n)

    def test_cost_ranks(self):
        from gumbo_pp_spark import matchers as m

        assert m.tag.DIV.cost == 0
        assert m.content_text.contains("x").cost == 2
        assert m.attribute.exists("href").cost == 2
        assert (m.content_text.contains("x") & m.tag.DIV).cost == 0
        assert (m.tag.DIV | m.content_text.contains("x")).cost == 2
        assert (~m.content_text.contains("x")).cost == 2
