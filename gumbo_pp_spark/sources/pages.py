"""Pages-table synthesis (Common-Crawl-style input per BASELINE.json
input_hint: ``(url, warc_ts, html, text, lang)``).

There is no external HTML corpus in the sandbox, so pages are
synthesized deterministically from the driver-generated ``documents``
table.  The HTML construction is written as a **single SQL expression
valid in both Spark SQL and DuckDB** — the same expression is embedded
in ``oracle_sql()`` strings, so the DuckDB oracle can recompute the
exact page bytes and the expected extraction output independently of
any engine code (this is what makes the in-UDF parser's output
oracle-checkable, FIXTURES.md §5).

Template shape mirrors a typical CC page: chrome (nav/footer +
conditional comment) around a main region (h1 + body paragraph),
attribute-bearing anchors and class/id hooks for the matcher queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# -- shared SQL fragments (Spark SQL ∩ DuckDB dialect) -----------------
# doc_id rendered once
_ID = "CAST(doc_id AS STRING)"

# HTML-escape of the document text (order matters: '&' first).  The
# parser's entity decoder inverts this exactly, so content_text of the
# body paragraph is byte-identical to the original `text` column.
ESC_TEXT = "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"

# page prefix up to and including the opening <p class="body"> tag —
# kept as its own fragment so span oracles can take length() of it
HTML_PREFIX = (
    "'<html><head><title>Doc ' || " + _ID + " || '</title></head><body>'"
    " || '<nav class=\"menu\"><ul><li>"
    "<a href=\"https://site.example/' || " + _ID + " || '\">home</a></li></ul></nav>'"
    " || '<div id=\"doc-' || " + _ID + " || '\" class=\"doc ' || lang || '\">'"
    " || '<main><article><h1>Heading ' || " + _ID + " || '</h1>'"
    " || '<p class=\"body\">'"
)

HTML_SUFFIX = (
    "'</p>'"
    " || CASE WHEN lang = 'en' THEN '<!--promoted-->' ELSE '' END"
    " || '</article></main></div>'"
    " || '<footer><p class=\"fine\">source ' || source || '</p></footer>'"
    " || '</body></html>'"
)

HTML_EXPR = HTML_PREFIX + " || " + ESC_TEXT + " || " + HTML_SUFFIX

URL_EXPR = "'https://' || source || '.example.com/doc/' || " + _ID

# pages projection over a registered `documents` view (works verbatim
# in Spark SQL and DuckDB)
PAGES_SQL = (
    "SELECT doc_id, "
    + URL_EXPR + " AS url, "
    + HTML_EXPR + " AS html_str, "
    "text, lang, source, n_chars "
    "FROM documents"
)


# table-scrape page family: the reference's tests/src/table_scrape.cpp
# structural query re-expressed at corpus scale; real newlines between
# structural blocks (chr(10)) pin whitespace-node insertion-mode
# semantics through the DuckDB oracle
TABLE_HTML_EXPR = (
    "'<html>' || chr(10) || '<head><title>T' || " + _ID + " || '</title></head>'"
    " || chr(10) || '<body>' || chr(10)"
    " || '<div id=\"important_table\"><table><tbody>'"
    " || '<tr><td>k</td><td>v</td></tr>'"
    " || '<tr><td>lang</td><td>' || lang || '</td></tr>'"
    " || '<tr><td>source</td><td>' || source || '</td></tr>'"
    " || '<tr><td>chars</td><td>' || CAST(n_chars AS STRING) || '</td></tr>'"
    " || '</tbody></table></div>' || chr(10) || '</body>' || chr(10) || '</html>'"
)


# misnested-formatting page family: the adoption-agency pattern
# (<b>..<p>..</b>text</p>) on every page — pins the full AAA tree shape
# (clone inside the block, tail text a direct child of the block)
# through the DuckDB oracle
MISNESTED_HTML_EXPR = (
    "'<html><head><title>M' || " + _ID + " || '</title></head><body>'"
    " || '<b>B' || " + _ID + " || '<p>P' || " + _ID + " || '</b>' || "
    + ESC_TEXT + " || '</p><div>after</div>'"
    " || '</body></html>'"
)


# foreign-content page family: SVG (self-closing, case-adjusted attrs,
# HTML integration point via foreignObject) + MathML (text integration
# point via mi, annotation-xml with encoding=text/html)
FOREIGN_HTML_EXPR = (
    "'<html><head><title>F' || " + _ID + " || '</title></head><body><p>pre</p>'"
    " || '<svg viewbox=\"0 0 10 10\"><circle r=\"1\"/><text>S' || " + _ID + " || '</text>'"
    " || '<foreignObject><div class=\"fo\">' || " + ESC_TEXT
    + " || '</div></foreignObject></svg>'"
    " || '<math><mi>x' || " + _ID + " || '</mi>"
    "<annotation-xml encoding=\"text/html\"><p class=\"ax\">A' || " + _ID
    + " || '</p></annotation-xml></math>'"
    " || '<p>post</p></body></html>'"
)


# byte-span page family: non-ASCII (2-, 3- and 4-byte UTF-8) text plus
# CRLF newlines — the pages where decoded offsets and byte offsets
# DIVERGE, pinning the start_byte/end_byte span contract through the
# DuckDB oracle (which recomputes byte offsets via octet_length of the
# raw prefix and char offsets via the CRLF-normalized prefix)
BYTESPAN_HTML_EXPR = (
    "'<html><head><title>Béta ' || " + _ID + " || '</title></head>' || chr(13) || chr(10)"
    " || '<body>' || chr(13) || chr(10)"
    " || '<p class=\"bytes\">é€ ' || " + ESC_TEXT + " || ' 😀</p>' || chr(13) || chr(10)"
    " || '</body></html>'"
)


def synth_mojibake_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invalid-UTF-8 page family (round 7): each page carries a stray
    0xFF byte (1-byte ill-formed subsequence → one U+FFFD) and a
    truncated 0xC2 lead rejected by the following ASCII byte (another
    U+FFFD), beside 2-byte UTF-8 and CRLF newlines — the dirty-CC tail
    where ``decode(errors='replace')`` and the exact byte map are
    load-bearing.  Built as BINARY concat (a str column cannot hold
    invalid bytes); the oracle predicts spans from the same fixed
    construction."""
    load_documents(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT doc_id, concat("
        " encode('<html><body>' || chr(13) || chr(10) || '<p class=\"mix\">', 'utf-8'),"
        " X'FF',"
        " encode('é ' || text || ' ', 'utf-8'),"
        " X'C2',"
        " encode('tail</p>' || chr(13) || chr(10) || '</body></html>', 'utf-8')"
        ") AS html FROM documents"
    )


def read_pages(spark: SparkSession, path: str, salt: bool = False,
               size_bins: bool = False) -> DataFrame:
    """A pages parquet directory, read with the run's one decision
    about input parallelism: the per-document operators downstream
    (``extract_main_text``, ``run_program``, ``extract_with_resume``)
    run one task per partition they are given, so this is where a
    narrow input gets spread.  ``salt``/``size_bins`` repartition by
    host instead (:func:`~gumbo_pp_spark.plans.partitioning.salt_skewed_keys`,
    :func:`~gumbo_pp_spark.plans.partitioning.size_balanced_bins`).

    Sets the session's scan-split confs
    (:func:`~gumbo_pp_spark.plans.partitioning.tune_input_splits`)."""
    from ..plans.partitioning import (
        ensure_min_parallelism,
        salt_skewed_keys,
        size_balanced_bins,
        tune_input_splits,
    )

    # Level-aware scan splits (round-6): size maxPartitionBytes off the
    # input's on-disk bytes so every cluster size gets ≥3 task waves —
    # a fixed value sized for N executors runs a single straggler-bound
    # wave at 4N.  At TB scale the 64MB clamp applies and splits ≫
    # cores anyway.
    tune_input_splits(spark, path, waves=3, max_split_bytes=64 << 20)
    pages = spark.read.parquet(path)
    if salt:
        pages = salt_skewed_keys(pages)
    if size_bins:
        pages = size_balanced_bins(pages)
    if salt or size_bins:
        return pages  # both already repartition the input
    # A single row group cannot be split by the scan tuning above: a
    # scan with fewer partitions than cores is round-robin spread once,
    # here; a wider one passes through untouched.
    return ensure_min_parallelism(pages)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan, spread across cores BEFORE any derived page
    synthesis: the table is one small parquet row group, so without
    this every page family built from it (and the per-document Python
    stage downstream) planned into a single task.  Spreading the
    NARROW scan here means the exchange carries the raw text column
    once, not the ~10× larger synthesized html (which made a
    post-synthesis repartition a net loss); the per-document operators
    downstream run one task per partition and never spread again."""
    from ..plans.partitioning import ensure_min_parallelism

    # waves=1: these rows are uniform and small, so one task wave per
    # core minimizes task-launch overhead (waves>1 only pays off for
    # skewed / long-tailed per-row work)
    return ensure_min_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), waves=1
    )


def synth_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pages table from the documents table.

    Columns: ``doc_id, url, warc_ts, html (binary), text, lang`` —
    exactly the input_hint shape (plus doc_id/source for test joins).
    """
    load_documents(spark, sf_dir).createOrReplaceTempView("documents")
    pages = spark.sql(PAGES_SQL)
    return pages.selectExpr(
        "doc_id",
        "url",
        "timestampadd(SECOND, CAST(doc_id AS INT), TIMESTAMP'2024-01-01 00:00:00') AS warc_ts",
        "CAST(encode(html_str, 'UTF-8') AS BINARY) AS html",
        "text",
        "lang",
        "source",
    )


def synth_family_pages(spark: SparkSession, sf_dir: str, html_expr: str) -> DataFrame:
    """``(doc_id, html)`` pages of one synthetic page family: the SQL
    ``html_expr`` (one of the ``*_HTML_EXPR`` constants the DuckDB
    oracles embed) over the documents table, encoded as UTF-8 binary."""
    load_documents(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(f"SELECT doc_id, {html_expr} AS html_str FROM documents").selectExpr(
        "doc_id", "CAST(encode(html_str, 'UTF-8') AS BINARY) AS html")


def synth_pages_bench(
    spark: SparkSession, sf_dir: str, replicate: int, paragraphs: int
) -> DataFrame:
    """Larger deterministic corpus for throughput runs: each document is
    replicated ``replicate`` times with distinct urls, and the body
    carries ``paragraphs`` paragraphs (≈5-40 KB pages).  Host skew is
    real: one heavy host gets ~50% of pages (Zipf-ish head) so salting
    is exercised.
    """
    load_documents(spark, sf_dir).createOrReplaceTempView("documents")
    p_open = "'<p class=\"body\">'"
    prefix_no_p = HTML_PREFIX.replace(p_open, "''")
    # each repeated paragraph closes itself — drop the suffix's own </p>
    suffix = HTML_SUFFIX.replace("'</p>'", "''", 1)
    return spark.sql(
        f"""
        SELECT
          doc_id * 1000 + rep AS page_id,
          'https://' || CASE WHEN rep % 2 = 0 THEN 'heavy-host'
                             ELSE source END
            || '.example.com/doc/' || CAST(doc_id AS STRING)
            || '/' || CAST(rep AS STRING) AS url,
          timestampadd(SECOND, CAST(doc_id AS INT),
                       TIMESTAMP'2024-01-01 00:00:00') AS warc_ts,
          CAST(encode(
            {prefix_no_p}
            || repeat({p_open} || {ESC_TEXT} || ' rep-'
                      || CAST(rep AS STRING) || '</p>', {paragraphs})
            || {suffix}, 'UTF-8') AS BINARY) AS html,
          text, lang, source
        FROM documents
        LATERAL VIEW explode(sequence(0, {replicate - 1})) t AS rep
        """
    )


# head-metadata page family: rel=canonical + meta robots — the crawl
# frontier / index-gating signals a CC-style pipeline reads before
# dedup (canonical clusters collapse mirrors; noindex drops pages).
# Canonical targets doc_id % 100: a deterministic many-to-one cluster
# structure for the downstream grouping oracle.
META_HTML_EXPR = (
    "'<html><head><title>Doc ' || " + _ID + " || '</title>'"
    " || '<link rel=\"canonical\" href=\"https://' || source || '.example.com/doc/'"
    " || CAST(doc_id % 100 AS STRING) || '\">'"
    " || '<meta name=\"robots\" content=\"'"
    " || CASE WHEN doc_id % 10 = 3 THEN 'noindex,nofollow' ELSE 'index,follow' END"
    " || '\">'"
    " || '</head><body><p>' || " + ESC_TEXT + " || '</p></body></html>'"
)


# charset page family: the same logical page serialized in four
# transfer encodings a real crawl mixes — (doc_id % 4) 0: utf-8 with
# meta charset; 1: ISO-8859-1 bytes with meta (label → windows-1252
# per the Encoding Standard); 2: UTF-16LE with BOM (BOM beats meta);
# 3: ISO-8859-1 bytes with NO declaration (→ the windows-1252
# default).  Body text carries 0xE9/0xBA bytes ('café nº') so a wrong
# decode is a loud value mismatch, not a silent pass.
CHARSET_BODY = "'café nº ' || CAST(doc_id AS STRING)"
_CHARSET_DOC = (
    "'<html><head>' || m.meta || '<title>Doc ' || " + _ID + " || '</title>'"
    " || '</head><body><p>' || " + CHARSET_BODY + " || '</p></body></html>'"
)


def synth_charset_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_documents(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT doc_id,
          CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN encode(html_str, 'UTF-8')
            WHEN 1 THEN encode(html_str, 'ISO-8859-1')
            WHEN 2 THEN X'FFFE' || encode(html_str, 'UTF-16LE')
            ELSE encode(html_str, 'ISO-8859-1')
          END AS html
        FROM (
          SELECT doc_id, """ + _CHARSET_DOC + """ AS html_str
          FROM documents,
          LATERAL (SELECT CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN '<meta charset="utf-8">'
            WHEN 1 THEN '<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">'
            ELSE '' END AS meta) m
        )
        """
    )


# markdown page family: every structure the markdown serializer
# renders (heading, inline strong/link, list, fence, blockquote) with
# a closed-form expected rendering; the paragraph carries the real
# documents.text through entity escape → parse → whitespace collapse
MD_HTML_EXPR = (
    "'<html><head><title>Doc ' || " + _ID + " || '</title></head><body>'"
    " || '<h1>Title ' || " + _ID + " || '</h1>'"
    " || '<p>' || " + ESC_TEXT + " || '</p>'"
    " || '<p>Intro <strong>bold ' || " + _ID + " || '</strong> and "
    "<a href=\"https://x/' || " + _ID + " || '\">link</a>.</p>'"
    " || '<ul><li>alpha</li><li>beta ' || " + _ID + " || '</li></ul>'"
    " || '<pre>code ' || " + _ID + " || '</pre>'"
    " || '<blockquote><p>quote ' || " + _ID + " || '</p></blockquote>'"
    " || '</body></html>'"
)


# OpenGraph/JSON-LD page family: og:* metas on every page, an ld+json
# payload on even ids only (odd ids exercise the null path)
_OG_DATE = "'2024-' || lpad(CAST(doc_id % 12 + 1 AS STRING), 2, '0') || '-01'"
_OG_TYPE = (
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'article' "
    "WHEN 1 THEN 'website' ELSE 'video.other' END"
)
OG_HTML_EXPR = (
    "'<html><head><meta property=\"og:title\" content=\"OG Doc ' || " + _ID + " || '\">'"
    " || '<meta property=\"og:type\" content=\"' || " + _OG_TYPE + " || '\">'"
    " || '<meta property=\"article:published_time\" content=\"' || " + _OG_DATE
    + " || 'T00:00:00Z\">'"
    " || CASE WHEN doc_id % 2 = 0 THEN"
    " '<script type=\"application/ld+json\">{\"@type\":\"NewsArticle\",\"headline\":\"Doc '"
    " || " + _ID + " || '\",\"datePublished\":\"' || " + _OG_DATE + " || '\"}</script>'"
    " ELSE '' END"
    " || '</head><body><p>' || " + ESC_TEXT + " || '</p></body></html>'"
)


# link page family: two anchors per page — a 'ref N' link into the
# doc_id%100 cluster and a constant-text 'see also' link into the
# (doc_id*7)%100 cluster — deterministic fan-in for the per-target
# anchor-text aggregation oracle
LINK_HTML_EXPR = (
    "'<html><body>'"
    " || '<p><a href=\"https://site.example/doc/' || CAST(doc_id % 100 AS STRING)"
    " || '\">ref ' || CAST(doc_id % 100 AS STRING) || '</a></p>'"
    " || '<p><a href=\"https://site.example/doc/' || CAST((doc_id * 7) % 100 AS STRING)"
    " || '\">see also</a></p>'"
    " || '</body></html>'"
)
