"""gumbo_pp_spark — PySpark-native HTML parse/query/extract engine.

A from-scratch re-expression of the capabilities of beached/gumbo_pp
(C++ helpers over Google's Gumbo HTML5 parser) as an idiomatic PySpark
analytics engine for Common-Crawl-style web page corpora:

* :mod:`gumbo_pp_spark.parser` — WHATWG-HTML5-style parser producing a
  flat DFS-preorder node table per document;
* :mod:`gumbo_pp_spark.matchers` — the reference's composable matcher
  algebra (tag/class/id/attribute/content/inner/outer text +
  and/or/xor/not) as vectorized numpy mask kernels;
* :mod:`gumbo_pp_spark.operators` — Spark DataFrame operators: Arrow
  batched parse/select/extract stage, dedup (exact/MinHash-LSH/SimHash/
  n-gram Jaccard), similarity search, text analysis, multimodal column
  plumbing;
* :mod:`gumbo_pp_spark.plans` — scale mechanics: host-skew salting,
  size-balanced coalescing, per-partition checkpoint/lineage ledger;
* :mod:`gumbo_pp_spark.sources` — pages-table synthesis and readers.
"""

__version__ = "0.1.0"
