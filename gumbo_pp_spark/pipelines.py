"""End-to-end training-corpus pipeline — the composition the engine
exists for: pages → extract main text → quality gate → exact+near
dedup → PII scrub → fingerprint.

Every stage is one of the engine's operators; the composition is a
single lazy DataFrame plan (Catalyst sees the whole pipeline), with
the parse stage map-only and every join either broadcast or
band-bucketed.  At 10^12 pages each stage's shuffle key is documented
on the operator itself (SURVEY.md §4, BENCH/BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .operators.dedup import (
    _cache,
    cache_scope,
    canonical_docs,
    minhash_lsh_pairs,
)
from .operators.extract import extract_main_text
from .operators.textstats import _quality_fail_expr, top_word_frac_e4_expr

#: the corpus quality gate's alphabetic-character floor (its token
#: floor is ``min_tokens``) and the repetition gate's ceiling on the
#: most frequent word's share, both ×1e-4
MIN_ALPHA_RATIO_E4 = 6000
MAX_TOP_WORD_FRAC_E4 = 5000
#: the host gate: hosts with at least this many documents, of which
#: more than this share (×1e-4) fail the quality gate, are dropped
HOST_GATE_MIN_DOCS = 5
HOST_GATE_MAX_BAD_FRAC_E4 = 5000


def build_training_corpus(
    pages: DataFrame,
    min_tokens: int = 20,
    near_dup_min_equal: int = 7,
    near_dup_policy: str = "pairs",
    strip_boilerplate: bool = False,
    host_gate: bool = False,
) -> DataFrame:
    """pages(doc_id,url,html) → deduped, scrubbed, fingerprinted corpus
    (doc_id, url, clean_text, n_tokens, fp_md5).

    Crawl-layer stages run before it: apply
    :func:`~.operators.robots.robots_filter` (the RFC 9309 politeness
    gate) or :func:`~.operators.encoding.sniff_and_transcode` (the
    WHATWG charset sniff) to ``pages`` first.

    Optional per-host stages over the extracted text (each documented
    on its operator): ``strip_boilerplate`` removes segments repeating
    across ≥ :data:`~.operators.textstats.BOILERPLATE_MIN_DOCS`
    documents of the same host (site chrome) before any quality
    scoring; ``host_gate`` drops every document of hosts whose
    bad-document fraction exceeds :data:`HOST_GATE_MAX_BAD_FRAC_E4`
    (the domain blocklist).  Turning
    either on caches the extraction output — both are two-pass
    operators and the parse stage must not run per subplan.

    Order matters at scale: extraction first (it is the expensive
    map-only stage and reduces bytes ~10x), the cheap quality gate
    next (drops rows before any shuffle), the repetition gate after it
    (two small keyed shuffles over survivors), then exact dedup (one
    digest shuffle), then MinHash-LSH near-dup (band-bucketed joins on
    the survivors only), PII scrub and fingerprints last (map-only).

    Exact dedup keeps one document per distinct text: the smallest
    ``doc_id``.  NULL contract: a row with a NULL ``doc_id`` is dropped.

    ``near_dup_policy`` picks the near-dup drop rule:

    * ``"pairs"`` (default, fully lazy) — drop the higher doc_id of
      every confident pair.  Cheap (no extra shuffle beyond the pair
      join) but transitively incomplete: for pairs (1,3),(2,3) it
      keeps BOTH 1 and 2 even though they share a cluster via 3.
    * ``"components"`` — resolve the pair graph into connected
      components (:func:`~.operators.dedup.connected_components`) and
      keep exactly one representative (the smallest doc_id) per
      cluster.  Component resolution is iterative, so this policy
      RUNS Spark jobs at build time (O(log n) star-contraction
      rounds); the returned plan is lazy as usual afterwards.
    """
    extracted = extract_main_text(pages, passthrough=("doc_id", "url"))
    docs = extracted.select("doc_id", "url", F.col("text"))

    # per-host stages (both optional, both two-pass over the extracted
    # docs by construction — the stats/boilerplate table is one pass,
    # applying it is another): cache the extraction output so the
    # expensive parse stage is not recomputed per subplan.  Boilerplate
    # strip runs FIRST (site chrome would otherwise inflate the quality
    # stats the host gate aggregates), host blocklist second.
    if strip_boilerplate or host_gate:
        host = F.regexp_extract("url", "https?://([^/]+)", 1)
        docs = _cache(docs.withColumn("host", host))
    if strip_boilerplate:
        from .operators.textstats import remove_boilerplate

        docs = remove_boilerplate(docs, keep=("url", "host")).select(
            "doc_id", "url", "host", F.col("clean_text").alias("text")
        )
    if host_gate:
        from .operators.textstats import host_quality_gate

        docs = host_quality_gate(
            docs,
            min_docs=HOST_GATE_MIN_DOCS,
            max_bad_frac_e4=HOST_GATE_MAX_BAD_FRAC_E4,
            min_tokens=min_tokens,
            min_stopword_ratio_e4=0,
            min_alpha_ratio_e4=MIN_ALPHA_RATIO_E4,
        )
    if strip_boilerplate or host_gate:
        docs = docs.drop("host")

    # quality gate — ROW-LOCAL filter (round-8): the round-7 shape
    # computed survivors as a derived table and joined it back on
    # doc_id, which (a) shuffled the corpus for a predicate every row
    # can answer itself and (b) duplicated the expensive parse subtree
    # on both sides of the join (the un-cached plan held 132 copies of
    # the extraction stage; guide §2.4 "remove shuffles outright").
    # ``NOT _quality_fail_expr`` is bit-identical to ``quality_filter``
    # including NULL semantics (a NULL ratio fails both forms).
    docs = docs.where(~F.expr(_quality_fail_expr(min_tokens, 0, MIN_ALPHA_RATIO_E4)))

    # repetition gate: drop degenerate/looping documents (a page whose
    # most frequent word is more than half its tokens).  Row-local
    # longest-equal-run form — same integer math as repetition_stats'
    # explode→groupBy, zero shuffle (guide §2.3 "aggregate before you
    # shuffle" taken to its limit: no shuffle at all).
    docs = docs.where(F.expr(top_word_frac_e4_expr()) <= MAX_TOP_WORD_FRAC_E4)

    # exact dedup: keep the minimum doc_id of each content group.
    # One digest-keyed window exchange replaces the round-7
    # groupBy+self-join (two exchanges + another duplicated parse
    # subtree).  A viral duplicate group sorts in one task; the
    # map-side-combined alternative, min(struct(doc_id, url, text)) per
    # digest, plans as a SortAggregate that sorts every row, text
    # included, before the exchange, and was slower on a corpus with
    # few duplicates.
    from pyspark.sql.window import Window

    wd = Window.partitionBy(F.md5("text"))
    docs = (
        docs.withColumn("_keep", F.min("doc_id").over(wd))
        .where(F.col("doc_id") == F.col("_keep"))
        .drop("_keep")
    )

    # cache the gated/deduped docs: the near-dup stage reads them once
    # to build signatures and the final corpus projection reads them
    # again — without this barrier the map-only parse stage runs once
    # per reference (guide §5; released at the caller's cache_scope
    # barrier like the signature caches).
    docs = _cache(docs)

    # near-dup drop (policy documented in the docstring)
    pairs = minhash_lsh_pairs(docs, min_equal=near_dup_min_equal)
    if near_dup_policy == "components":
        flagged = canonical_docs(docs.select("doc_id"), pairs)
        docs = docs.join(
            flagged.where(F.col("is_canonical") == 1).select("doc_id"), "doc_id"
        )
    elif near_dup_policy == "pairs":
        losers = pairs.select(F.col("b").alias("doc_id")).distinct()
        docs = docs.join(losers, "doc_id", "left_anti")
    else:
        raise ValueError(f"unknown near_dup_policy: {near_dup_policy!r}")

    # PII scrub + fingerprint — map-only projection (round-8): the
    # scrub is a row-local regexp over the doc's own text, so the
    # round-7 ``docs.join(scrub_pii(docs))`` self-join (one more
    # doc_id shuffle + another duplicated subtree) collapses into a
    # withColumn.  n_tokens = spaces+1 is the exact value of
    # ``size(split(clean_text, ' '))`` without allocating the word
    # array (guide §2.3 narrower per-row work).
    from .operators.textstats import PII_EMAIL, PII_PHONE

    clean = (
        f"regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>'), "
        f"'{PII_PHONE}', '<PHONE>')"
    )
    return (
        docs.withColumn("clean_text", F.expr(clean))
        .select(
            "doc_id",
            "url",
            "clean_text",
            (
                F.length("clean_text")
                - F.length(F.replace(F.col("clean_text"), F.lit(" "), F.lit("")))
                + 1
            ).cast("bigint").alias("n_tokens"),
            F.md5("clean_text").alias("fp_md5"),
        )
    )


def extend_training_corpus(
    new_pages: DataFrame,
    prior_corpus: DataFrame,
    near_dup_min_equal: int = 7,
    **corpus_kwargs,
) -> DataFrame:
    """The rolling-crawl extension: build the full corpus pipeline over
    a NEW page batch, then drop everything the shipped corpus already
    carries — exact dups via the digest anti-join (the prior side
    contributes only its ``fp_md5`` column: a pruned scan, prior text
    bytes never reread) and near-dups via cross-corpus MinHash-LSH
    (:func:`~.operators.dedup.minhash_lsh_pairs_between`; at 100 TB
    retain the prior SIGNATURES with the corpus instead of recomputing
    them from ``clean_text``).  Returns the rows to APPEND; union with
    the prior corpus for the extended table."""
    from .operators.dedup import incremental_dedup, minhash_lsh_pairs_between

    # near_dup_min_equal governs BOTH dedup stages (ADVICE r7: it
    # previously bound only to the cross-corpus parameter, so a CLI
    # --near-dup-min-equal silently did not apply within-batch)
    batch = build_training_corpus(
        new_pages, near_dup_min_equal=near_dup_min_equal, **corpus_kwargs
    )
    batch = _cache(
        incremental_dedup(
            batch, prior_corpus.select("fp_md5"), text_col="clean_text"
        )
    )
    pairs = minhash_lsh_pairs_between(
        batch.select("doc_id", F.col("clean_text").alias("text")),
        prior_corpus.select("doc_id", F.col("clean_text").alias("text")),
        min_equal=near_dup_min_equal,
    )
    losers = pairs.select(F.col("new_id").alias("doc_id")).distinct()
    return batch.join(losers, "doc_id", "left_anti")


#: default ANN-recall floor (×1e-4): hyperplane LSH with multi-probe
#: should hold recall@k ≥ 0.90 at the shipped dim/n_planes; below that
#: the bucketing configuration has drifted and neighbors are not
#: trustworthy.  Pass ``ann_recall_floor_e4=None`` for report-only
#: (``ann_recall_ok`` stays None — never a vacuous pass).
ANN_RECALL_FLOOR_E4 = 9000


def run_training_corpus(
    pages: DataFrame,
    out_dir: str,
    *,
    embeddings: DataFrame | None = None,
    ann_recall_floor_e4: int | None = ANN_RECALL_FLOOR_E4,
    **corpus_kwargs,
) -> dict:
    """Materialize :func:`build_training_corpus` to parquet and release
    the dedup signature caches (the stage barrier the cached
    intermediates are scoped to — see ``dedup.cache_scope``).  The
    caches are scoped with ``cache_scope`` so they are released even
    when the write / audit raises (no leaked InMemoryRelations), and a
    concurrent pipeline on another thread keeps its own.

    The row count is taken with ``DataFrame.observe`` DURING the
    write — a second full scan of the output (at 100 TB: a second pass
    over the corpus) just for one metric would be wasteful.

    Optional ANN-recall audit (the in-pipeline mirror of the LSH
    cap-accounting rule: no silent approximation): when ``embeddings``
    is supplied, the measured recall@k of the hyperplane-LSH
    path vs the exact cosine baseline, over the 16 lowest ``vec_id``
    queries, is computed on the SAME session
    and returned in the metrics — at 100 TB this is the cheap canary
    that the ANN configuration (dim/n_planes) still holds before any
    downstream consumer trusts bucketed neighbors.  If the measured
    recall falls below ``ann_recall_floor_e4`` (default
    ``ANN_RECALL_FLOOR_E4``; pass None for report-only) the run still
    completes but the metrics carry ``ann_recall_ok=False``.

    Returns ``{"rows": n, "out_dir": ..., "caches_released": k,
    "ann_recall_e4": r | None, "ann_recall_ok": bool | None}``.
    """
    from pyspark.sql import Observation

    ann_recall_e4 = None
    ann_ok = None
    with cache_scope() as scope:
        corpus = build_training_corpus(pages, **corpus_kwargs)
        obs = Observation("corpus_rows")
        corpus = corpus.observe(obs, F.count(F.lit(1)).alias("rows"))
        corpus.write.mode("overwrite").parquet(out_dir)
        n = int(obs.get["rows"])

        if embeddings is not None:
            from .operators.similarity import lsh_recall_vs_exact

            q = embeddings.orderBy("vec_id").limit(16)
            row = lsh_recall_vs_exact(embeddings, q).collect()[0]
            ann_recall_e4 = int(row["recall_e4"])
            if ann_recall_floor_e4 is not None:
                ann_ok = ann_recall_e4 >= ann_recall_floor_e4

    return {
        "rows": n,
        "out_dir": out_dir,
        "caches_released": scope.released,
        "ann_recall_e4": ann_recall_e4,
        "ann_recall_ok": ann_ok,
    }
