"""HTML → Markdown serialization (operators/markdown.py)."""

from gumbo_pp_spark.parser.html5 import parse_html
from gumbo_pp_spark.operators.markdown import render_markdown, to_markdown


def md(html: str) -> str:
    return render_markdown(parse_html(html))


class TestBlocks:
    def test_headings(self):
        assert md("<h1>a</h1><h3>b</h3>") == "# a\n\n### b"

    def test_paragraphs_and_blank_line_joins(self):
        assert md("<p>one</p><p>two</p>") == "one\n\ntwo"

    def test_empty_paragraph_dropped(self):
        assert md("<p>a</p><p>   </p><p>b</p>") == "a\n\nb"

    def test_hr(self):
        assert md("<p>a</p><hr><p>b</p>") == "a\n\n---\n\nb"

    def test_blockquote_multiline(self):
        assert md("<blockquote><p>a</p><p>b</p></blockquote>") == "> a\n>\n> b"

    def test_pre_fenced_preserves_whitespace(self):
        assert md("<pre>x\n  y</pre>") == "```\nx\n  y\n```"

    def test_pre_code_not_backticked(self):
        assert md("<pre><code>f(1)</code></pre>") == "```\nf(1)\n```"


class TestInline:
    def test_strong_em_code(self):
        assert md("<p><strong>a</strong> <em>b</em> <code>c</code></p>") == (
            "**a** *b* `c`"
        )

    def test_b_i_aliases(self):
        assert md("<p><b>a</b><i>b</i></p>") == "**a***b*"

    def test_link(self):
        assert md('<p><a href="https://x/1">t</a></p>') == "[t](https://x/1)"

    def test_link_without_href_is_plain_text(self):
        assert md("<p><a>t</a></p>") == "t"

    def test_img(self):
        assert md('<p><img src="i.png" alt="pic"></p>') == "![pic](i.png)"
        assert md('<p><img alt="no-src"></p>') == ""

    def test_br(self):
        assert md("<p>a<br>b</p>") == "a\nb"

    def test_whitespace_collapsed(self):
        assert md("<p>a   b\n\tc</p>") == "a b c"

    def test_no_markdown_escaping_contract(self):
        # verbatim pass-through is the documented corpus-tier contract
        assert md("<p>*lit* _x_</p>") == "*lit* _x_"


class TestLists:
    def test_unordered(self):
        assert md("<ul><li>a</li><li>b</li></ul>") == "- a\n- b"

    def test_ordered_numbering(self):
        assert md("<ol><li>a</li><li>b</li><li>c</li></ol>") == (
            "1. a\n2. b\n3. c"
        )

    def test_nested_list_indented(self):
        got = md("<ol><li>one</li><li>two<ul><li>n</li></ul></li></ol>")
        assert got == "1. one\n2. two\n   - n"

    def test_empty_items_dropped(self):
        assert md("<ul><li>a</li><li> </li></ul>") == "- a"


class TestTables:
    def test_pipe_table_with_separator(self):
        got = md(
            "<table><tr><th>a</th><th>b</th></tr>"
            "<tr><td>1</td><td>2</td></tr></table>"
        )
        assert got == "| a | b |\n| --- | --- |\n| 1 | 2 |"

    def test_pipe_char_escaped_in_cells(self):
        assert md("<table><tr><td>x|y</td></tr></table>") == (
            "| x\\|y |\n| --- |"
        )


class TestSkipsAndEdges:
    def test_head_script_style_dropped(self):
        assert md(
            "<head><title>T</title><style>p{}</style></head>"
            "<body><script>x()</script><p>keep</p></body>"
        ) == "keep"

    def test_foreign_content_dropped(self):
        assert md("<p>a</p><svg><text>vector</text></svg><p>b</p>") == "a\n\nb"

    def test_deep_nesting_no_recursion_limit(self):
        assert md("<div>" * 3000 + "deep") == "deep"

    def test_empty_and_textless(self):
        assert md("") == ""
        assert md("<div></div>") == ""

    def test_comments_dropped(self):
        assert md("<p>a<!-- hidden -->b</p>") == "ab"


class TestSparkStage:
    def test_map_only_and_values(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"<h1>T</h1><p>body</p>"))],
            "doc_id long, html binary",
        )
        out = to_markdown(df)
        assert out.collect()[0].markdown == "# T\n\nbody"
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
