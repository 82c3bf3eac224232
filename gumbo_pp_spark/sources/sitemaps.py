"""Sitemap ingestion: the crawl-frontier side of the politeness layer.

A sitemap (sitemaps.org protocol, the format robots.txt points at via
``Sitemap:`` lines) is an XML ``<urlset>`` of ``<url>`` entries with
``loc`` / ``lastmod`` / ``changefreq`` / ``priority``.  Parsing is
ENTIRELY JVM-side: ``from_xml`` with an explicit schema + one
``explode`` — no Python touches the bytes, Catalyst prunes unused
fields, and a million-sitemap table is just a map stage plus the
explode.

The synthetic family builds one deterministic sitemap per host from
the documents table (order pinned by sorting the per-host entry array
— ``collect_list`` order is NOT deterministic under parallel
aggregation, the classic trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pages import load_documents

SITEMAP_ENTRY_SCHEMA = (
    "ARRAY<STRUCT<loc: STRING, lastmod: STRING, priority: DOUBLE>>"
)


def parse_sitemaps(df: DataFrame) -> DataFrame:
    """(host, sitemap_xml) → one row per URL entry:
    ``host, loc, lastmod, priority``.  All JVM-side (from_xml +
    explode); malformed XML yields a null struct → zero rows for that
    sitemap (PERMISSIVE mode), never a task failure."""
    parsed = df.select(
        "host",
        F.from_xml("sitemap_xml", f"STRUCT<url: {SITEMAP_ENTRY_SCHEMA}>").alias("p"),
    )
    return parsed.select(
        "host", F.explode("p.url").alias("u")
    ).select(
        "host",
        F.col("u.loc").alias("loc"),
        F.col("u.lastmod").alias("lastmod"),
        F.col("u.priority").alias("priority"),
    )


# deterministic per-document sitemap entry (shared Spark/DuckDB shape)
_ENTRY_EXPR = (
    "'<url><loc>https://' || source || '.example.com/doc/' || "
    "CAST(doc_id AS STRING) || '</loc><lastmod>2024-' || "
    "lpad(CAST(doc_id % 12 + 1 AS STRING), 2, '0') || '-01</lastmod>"
    "<priority>0.' || CAST(doc_id % 10 AS STRING) || '</priority></url>'"
)


def synth_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One sitemap XML per host (host = source domain), entries in
    doc_id order (array_sort over (doc_id, entry) structs — pinned
    against collect_list's nondeterministic arrival order)."""
    load_documents(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT source || '.example.com' AS host,
               '<?xml version="1.0" encoding="UTF-8"?>'
               || '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
               || array_join(transform(
                    array_sort(collect_list(struct(doc_id, entry))),
                    x -> x.entry), '')
               || '</urlset>' AS sitemap_xml
        FROM (SELECT doc_id, source, """ + _ENTRY_EXPR + """ AS entry
              FROM documents)
        GROUP BY source
        """
    )
