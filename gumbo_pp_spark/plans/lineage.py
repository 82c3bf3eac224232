"""Per-partition checkpoint/lineage ledger with deterministic resume
(BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics, so a killed job resumes without
re-parsing completed partitions").

Design (SURVEY.md §4 c/d):

* the corpus is split into ``n_splits`` stable work units by
  ``pmod(xxhash64(url), n_splits)`` — url-hash splits are reproducible
  across runs and clusters, unlike task/partition ids;
* the run is the unit of data: a run processes its pending splits in
  one Spark job, and each write task writes all of its rows, with
  ``split_id`` as a column, to one file
  ``data/run=<run_id>/part-<partition>.parquet`` (its own directory →
  a killed run can never corrupt committed data);
* the run then commits one ledger record per split it processed, all
  of them in one atomic rewrite of ``_ledger/manifest.json``
  (tmp+rename), so readers see whole runs or nothing;
* resume = recompute pending as ``all_splits − committed`` and process
  only those; a split is pending until its one commit, so every row of
  a committed run belongs to a committed split, and readers read
  exactly the directories of committed runs — partially-written
  uncommitted runs are invisible;
* the files are written by the extraction task itself: one
  ``mapInArrow`` pass parses, writes its rows as Parquet with pyarrow
  and returns per-split tallies; the ledger commit is the only commit
  (no JVM writer, no Hadoop commit protocol);
* ledger records carry the per-split metrics the bench reports (rows,
  bytes, parse time, parse errors, engine counts, wall_ms),
  summed from those tallies — never by re-reading the written output;
  the manifest stores the files' DDL once, so the committed read
  declares its schema instead of inferring it, and a resume that
  would write another schema is refused, as is one with another
  ``n_splits`` (the modulus of the stored split ids);
* input parallelism is the caller's decision, made once where the
  pages are read (``sources.pages.read_pages``): the write stage runs
  one task per input partition and adds no exchange.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


class PartitionLedger:
    """Per-split commit records and the table's DDL in one
    ``manifest.json`` on a filesystem (works on any rename-capable
    store; on object stores use a conditional-put variant).

    The manifest is the only place a committed record lives.
    :meth:`commit` reads it once, adds its records and replaces the
    file atomically (tmp+rename): the records of one call become
    visible together, and a crash before the rename leaves the previous
    manifest, so those splits stay pending and a resume redoes them.
    :meth:`committed` opens that one file, so a resume over 10^5-10^6
    committed splits is one file read, not one per split (VERDICT r6
    #7).  The driver is the only writer."""

    MANIFEST = "manifest.json"
    #: version 1 was the per-split leaf layout
    #: ``data/run=<id>/split_id=<s>/``, which this module does not read
    VERSION = 2

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _load(self) -> tuple[str | None, int | None, dict[int, dict]]:
        """``(stored DDL, stored n_splits, committed records by split)``;
        ``(None, None, {})`` before the first commit.  A manifest written
        before ``n_splits`` was stored gives ``None`` for it."""
        mpath = os.path.join(self.path, self.MANIFEST)
        try:
            with open(mpath) as f:
                doc = json.load(f)
        except FileNotFoundError:
            return None, None, {}
        if doc.get("version") != self.VERSION:
            raise ValueError(
                f"{mpath} is a version-{doc.get('version')} ledger: its data uses the "
                "per-split leaf layout data/run=<id>/split_id=<s>/, which this reader "
                f"does not read (version {self.VERSION} writes one file per write task, "
                "data/run=<id>/part-<p>.parquet); extract into a new out_dir")
        return (doc["schema"], doc.get("n_splits"),
                {int(r["split_id"]): r for r in doc["records"]})

    def committed(self) -> dict[int, dict]:
        """Committed split records, by split id."""
        return self._load()[2]

    def commit(self, schema: str, n_splits: int, *recs: dict) -> None:
        """Commit ``recs`` in one atomic manifest write, storing
        ``schema``, the DDL of the run files, and ``n_splits``, the
        modulus their split ids are taken in.  Each record replaces any
        earlier record of its split."""
        out = self.committed()
        out.update((int(rec["split_id"]), rec) for rec in recs)
        mpath = os.path.join(self.path, self.MANIFEST)
        tmp = mpath + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"version": self.VERSION, "schema": schema, "n_splits": n_splits,
                       "records": list(out.values())}, f)
        os.replace(tmp, mpath)  # atomic on POSIX


#: one row per (task, split) the writer wrote; the driver sums them per split
# (``kernel_us`` is not tallied: main_text_batch fuses it into parse_us)
_TALLY_DDL = ("split_id int, rows bigint, chars bigint, parse_us bigint, "
              "parse_errors bigint, c_docs bigint")
_TALLY_FIELDS = ("rows", "chars", "parse_us", "parse_errors", "c_docs")


def _write_splits(run_dir: str, schema, batches, part: int | None = None):
    """Executor side of :func:`extract_with_resume`: extract every
    input Arrow batch (``passthrough..., split_id, html``), write all
    of its rows, ``split_id`` included, to one file of ``run_dir`` and
    yield the per-split tallies of what was written (``_TALLY_DDL``).

    One ``pyarrow.parquet.ParquetWriter`` streams the task's rows, in
    input order, into a hidden temporary file; once the input is
    drained the file is ``os.replace``d to ``part-<part:05d>.parquet``
    (``part`` defaults to the Spark partition index), and only then
    are the tallies yielded.  The same partition therefore always
    writes the same file name: a retried attempt replaces its file,
    never adds one.  A task with no rows writes no file.  numpy
    tallies keep Arrow's exec-plan thread pool out of the Python
    workers; float64 ``bincount`` sums are exact below 2**53."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..operators.extract import main_text_batch

    if part is None:
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
    name = f"part-{part:05d}"
    tmp = os.path.join(run_dir, f".{name}-{uuid.uuid4().hex[:8]}.tmp")
    writer = None
    sums: dict[int, np.ndarray] = {}
    try:
        for rb in batches:
            if not rb.num_rows:
                continue
            out = main_text_batch(rb, stage_metrics=True)
            sids, inv = np.unique(out.column("split_id").to_numpy(), return_inverse=True)
            weights = [pc.utf8_length(out.column("text")),  # Spark's length(): chars
                       out.column("parse_us"), out.column("parse_errors"),
                       out.column("c_engine")]
            batch_sums = np.stack(
                [np.bincount(inv, minlength=len(sids)),
                 *(np.bincount(inv, weights=w.to_numpy(), minlength=len(sids))
                   for w in weights)], axis=1).astype(np.int64)
            for s, row in zip(sids.tolist(), batch_sums):
                sums[s] = sums.get(s, 0) + row
            if writer is None:
                os.makedirs(run_dir, exist_ok=True)
                writer = pq.ParquetWriter(tmp, schema)
            writer.write_batch(out.cast(schema))
        if writer is not None:
            writer.close()
            os.replace(tmp, os.path.join(run_dir, f"{name}.parquet"))  # atomic on POSIX
    except BaseException:
        if writer is not None:
            writer.close()
            if os.path.exists(tmp):
                os.remove(tmp)
        raise
    if sums:
        cols = [pa.array(list(sums), pa.int32()), *map(pa.array, np.array(list(sums.values())).T)]
        yield pa.RecordBatch.from_arrays(cols, names=["split_id", *_TALLY_FIELDS])


def extract_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_splits: int = 32,
    max_splits_this_run: int | None = None,
    passthrough: tuple[str, ...] = ("doc_id", "url"),
) -> dict:
    """Run the flagship extraction over all not-yet-committed splits.

    One Spark job: a ``mapInArrow`` task parses its input partition
    (:func:`~gumbo_pp_spark.operators.extract.main_text_batch`, the
    per-batch body of ``extract_main_text``), writes its rows as one
    Parquet file with pyarrow (:func:`_write_splits`) and returns
    per-split tallies; ``collect`` brings the tallies to the driver,
    which sums them per split and commits every split's record in one
    ledger write, so the run becomes visible whole.  No JVM write job
    and no commit protocol run, and no job reads the output back:
    readers see only ledger-committed runs, so the ledger commit is the
    only commit.  ``out_dir`` must be a filesystem path that the
    executors share with the driver.

    The files and the counts are exactly-once because:

    * ``collect`` keeps the result of one successful attempt per
      partition, so each task's tallies are summed once;
    * a retried or speculative attempt reads the same (deterministic)
      input partition and writes the same file name with the same
      rows (only the measured ``parse_us`` timings differ), so it
      replaces the file and never adds one.  A failed attempt leaves at
      most a hidden ``.part-*.tmp`` file, which readers skip and
      :func:`vacuum_uncommitted` sweeps.

    Each file has the schema ``extract_main_text(..., stage_metrics=True)``
    declares over ``passthrough + ("split_id",)``; the ledger stores
    that DDL once, and :func:`read_extracted` declares it instead of
    inferring it.  It stores ``n_splits`` too: committed split ids mean
    nothing under another modulus.  A resume whose ``passthrough``
    gives another DDL than the stored one, or whose ``n_splits``
    differs from the stored one, raises ``ValueError`` before any job
    runs.

    Parallelism contract: the write stage runs one task per partition
    of ``pages`` and adds no exchange, so a run writes at most one file
    per input partition, whatever ``n_splits`` is.  A narrow input — one
    row group, one small file — is spread by the caller where it reads
    the data, as :func:`~gumbo_pp_spark.sources.pages.read_pages` does.

    ``max_splits_this_run`` exists for fault-injection tests (process
    only K pending splits and leave the rest pending, as a job killed
    after committing K splits would).
    Returns run metrics, including the run's ``rows``, ``c_docs``,
    ``py_docs`` and ``parse_errors`` totals (the sums of the records it
    committed); a run with no pending split returns the same keys, with
    ``run_id`` ``None`` and zero counts.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from ..operators.extract import main_text_ddl

    ledger = PartitionLedger(os.path.join(out_dir, "_ledger"))
    stored, stored_splits, committed = ledger._load()
    work = pages.select(
        *passthrough,
        F.pmod(F.xxhash64("url"), F.lit(n_splits)).cast("int").alias("split_id"),
        "html",
    )
    ddl = main_text_ddl(work, (*passthrough, "split_id"), stage_metrics=True)
    if stored not in (None, ddl):
        raise ValueError(f"{out_dir} holds files of schema {stored!r}; this run would "
                         f"write {ddl!r} (another passthrough?)")
    if stored_splits not in (None, n_splits):
        raise ValueError(f"{out_dir} holds splits of n_splits={stored_splits}; this run "
                         f"would take split ids modulo n_splits={n_splits}")
    pending = [s for s in range(n_splits) if s not in committed]
    if max_splits_this_run is not None:
        pending = pending[:max_splits_this_run]
    if not pending:
        return {"run_id": None, "splits_processed": 0, "skipped": len(committed),
                "wall_ms": 0, "rows": 0, "c_docs": 0, "py_docs": 0, "parse_errors": 0}

    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()
    writer = functools.partial(
        _write_splits, os.path.join(out_dir, "data", f"run={run_id}"),
        to_arrow_schema(StructType.fromDDL(ddl)))
    tallies = work.where(F.col("split_id").isin(pending)).mapInArrow(writer, _TALLY_DDL).collect()
    wall_ms = int((time.time() - t0) * 1000)
    stats = {s: dict.fromkeys(_TALLY_FIELDS, 0) for s in pending}
    for r in tallies:
        for k in _TALLY_FIELDS:
            stats[r["split_id"]][k] += r[k]
    # Per-split wall attribution: all splits commit from ONE Spark job,
    # so the only measured per-split time is the executor-side parse_us
    # sum (parse and kernel, fused).  wall_ms is the run's wall
    # apportioned by that share (splits with more work get more wall),
    # so per-split wall is distinct and sums to the run wall instead of
    # repeating it n_splits times.
    total_us = sum(r["parse_us"] for r in stats.values()) or 1
    committed_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    records = []
    for s, r in stats.items():
        records.append(
            {
                "split_id": s,
                "run_id": run_id,
                "rows": r["rows"],
                "bytes": r["chars"],
                "parse_ms": r["parse_us"] // 1000,
                "parse_errors": r["parse_errors"],
                # engine engagement telemetry (round-6): at 100 TB this
                # is how a run sees what fraction of documents paid the
                # ~10x slower Python-tail price
                "c_docs": r["c_docs"],
                "py_docs": r["rows"] - r["c_docs"],
                "wall_ms": int(wall_ms * r["parse_us"] / total_us),
                "run_wall_ms": wall_ms,
                "committed_at": committed_at,
            }
        )
    ledger.commit(ddl, n_splits, *records)
    rows = sum(r["rows"] for r in stats.values())
    c_docs = sum(r["c_docs"] for r in stats.values())
    return {
        "run_id": run_id,
        "splits_processed": len(pending),
        "skipped": len(committed),
        "wall_ms": wall_ms,
        "rows": rows,
        "c_docs": c_docs,
        "py_docs": rows - c_docs,
        "parse_errors": sum(r["parse_errors"] for r in stats.values()),
    }


def vacuum_uncommitted(out_dir: str, min_age_sec: float = 24 * 3600.0) -> dict:
    """Remove run directories that no committed ledger record names —
    crashed/abandoned run leftovers (the Iceberg remove-orphan-files
    analogue; without it a table that survives many partial runs
    slowly accretes dead bytes no read will ever touch).  The ledger
    and every committed run directory are kept; in those, hidden
    ``.part-*.tmp`` files (left by failed or killed writer attempts)
    older than ``min_age_sec`` are deleted.

    CONCURRENCY (ADVICE r7): ``extract_with_resume`` writes data
    files BEFORE committing their ledger records, so an uncommitted
    run directory may belong to an in-flight run — deleting it would
    let that run commit records pointing at vanished files (splits
    marked committed forever but unreadable).  Run directories younger
    than ``min_age_sec`` (default 24 h — Iceberg's remove-orphan-files
    default) are therefore kept; pass ``min_age_sec=0`` only when no
    writer can be running.  ``read_extracted`` only reads the
    directories of committed runs, which vacuum keeps by construction.
    Returns ``{"removed": [run dirs], "kept": n, "skipped_recent": m,
    "removed_tmp": k}``."""
    import shutil

    keep = {r["run_id"] for r in PartitionLedger(os.path.join(out_dir, "_ledger"))
            .committed().values()}
    data = os.path.join(out_dir, "data")
    res = {"removed": [], "kept": 0, "skipped_recent": 0, "removed_tmp": 0}
    now = time.time()

    def old_enough(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) >= min_age_sec
        except OSError:
            return False  # freshly gone / racing writer: leave it

    if not os.path.isdir(data):
        return res
    for run_dir in sorted(os.listdir(data)):
        if not run_dir.startswith("run="):
            continue
        path = os.path.join(data, run_dir)
        if run_dir[len("run="):] in keep:
            res["kept"] += 1
            for fn in os.listdir(path):
                tmp = os.path.join(path, fn)
                if fn.startswith(".part-") and fn.endswith(".tmp") and old_enough(tmp):
                    try:
                        os.remove(tmp)
                        res["removed_tmp"] += 1
                    except FileNotFoundError:
                        pass
        elif old_enough(path):
            shutil.rmtree(path)
            res["removed"].append(run_dir)
        else:
            res["skipped_recent"] += 1
    return res


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed table: every row of every ledger-committed run
    with rows, read with the stored DDL plus ``run string`` (the
    directory column) — no schema-inference job runs, and a run id
    made only of digits stays a string.  Uncommitted partial runs are
    invisible.  When every committed run is empty (no file was
    written), the result is the empty frame of that schema."""
    from pyspark.sql.types import StructType

    ddl, _, recs = PartitionLedger(os.path.join(out_dir, "_ledger"))._load()
    if not recs:
        raise FileNotFoundError(f"no committed splits under {out_dir}")
    schema = StructType.fromDDL(ddl + ", run string")
    runs = sorted({r["run_id"] for r in recs.values() if r["rows"] > 0})
    if not runs:
        return spark.createDataFrame([], schema)
    data = os.path.join(out_dir, "data")
    # basePath keeps the run partition column while reading only the
    # committed run directories
    return (spark.read.option("basePath", data).schema(schema)
            .parquet(*(os.path.join(data, f"run={r}") for r in runs)))
