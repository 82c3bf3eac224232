"""Per-partition checkpoint/lineage ledger with deterministic resume
(BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics, so a killed job resumes without
re-parsing completed partitions").

Design (SURVEY.md §4 c/d):

* the corpus is split into ``n_splits`` stable work units by
  ``pmod(xxhash64(url), n_splits)`` — url-hash splits are reproducible
  across runs and clusters, unlike task/partition ids;
* each run writes output under ``data/run=<run_id>/`` (its own
  directory → a killed run can never corrupt committed data), then
  commits one ledger record per finished split, all of them in one
  atomic rewrite of ``_ledger/manifest.json`` (tmp+rename);
* resume = recompute pending as ``all_splits − committed`` and process
  only those; readers union exactly the (split, run) pairs the ledger
  committed, so partially-written uncommitted runs are invisible;
* the split files are written by the extraction task itself: one
  ``mapInArrow`` pass parses, writes each split's rows as Parquet with
  pyarrow and returns per-split tallies; the ledger commit is the only
  commit (no JVM writer, no Hadoop commit protocol);
* ledger records carry the per-partition metrics the bench reports
  (rows, bytes, parse/kernel time, parse errors, engine counts,
  wall_ms, attempt), summed from those tallies — never by re-reading
  the written output — and the DDL of the files they point at, so the
  committed read declares its schema instead of inferring it;
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
    """Per-split commit records in one ``manifest.json`` on a
    filesystem (works on any rename-capable store; on object stores use
    a conditional-put variant).

    The manifest is the only place a committed record lives.
    :meth:`commit` reads it once, adds its records and replaces the
    file atomically (tmp+rename): the records of one call become
    visible together, and a crash before the rename leaves the previous
    manifest, so those splits stay pending and a resume redoes them.
    :meth:`committed` opens that one file, so a resume over 10^5-10^6
    committed splits is one file read, not one per split (VERDICT r6
    #7).  The driver is the only writer."""

    MANIFEST = "manifest.json"

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _load(self) -> dict[int, dict]:
        try:
            with open(os.path.join(self.path, self.MANIFEST)) as f:
                return {int(r["split_id"]): r for r in json.load(f)["records"]}
        except FileNotFoundError:
            return {}

    def committed(self, as_of: int | None = None) -> dict[int, dict]:
        """Committed split records; ``as_of`` (a commit ``seq``) gives
        the Iceberg-style snapshot view — only records committed at or
        before that sequence number.  Pre-``seq`` ledgers (records
        without the field) read as seq 0: part of every snapshot."""
        recs = self._load()
        if as_of is None:
            return recs
        return {s: r for s, r in recs.items() if r.get("seq", 0) <= as_of}

    def committed_between(
        self, since: int, as_of: int | None = None
    ) -> dict[int, dict]:
        """Incremental view (the Iceberg incremental-read analogue):
        records committed AFTER snapshot ``since`` and at-or-before
        ``as_of`` — the change set a downstream consumer processes to
        catch up from ``since`` to ``as_of`` without re-reading the
        whole table."""
        return {
            s: r
            for s, r in self.committed(as_of=as_of).items()
            if r.get("seq", 0) > since
        }

    def snapshot_diff(self, since: int, as_of: int | None = None) -> dict:
        """Metadata summary of a change set (the Iceberg snapshot-diff
        analogue): which splits and how many rows a catch-up from
        ``since`` to ``as_of`` would touch — cheap to inspect before
        deciding whether an incremental read is worth launching a job."""
        win = self.committed_between(since, as_of=as_of)
        return {
            "since": since,
            "as_of": as_of if as_of is not None else self.current_snapshot(),
            "n_commits": len(win),
            "split_ids": sorted(win),
            "rows": sum(int(r.get("rows", 0)) for r in win.values()),
        }

    def snapshot_log(self) -> list[dict]:
        """The snapshot history (Iceberg metadata-table analogue):
        commit records ordered by ``seq``.  Each record's ``seq`` is a
        valid ``as_of`` cursor for :meth:`committed` /
        :func:`read_extracted`."""
        return sorted(self._load().values(), key=lambda r: r.get("seq", 0))

    def current_snapshot(self) -> int:
        return max((r.get("seq", 0) for r in self._load().values()), default=0)

    def commit(self, *recs: dict) -> None:
        """Commit ``recs`` in one atomic manifest write.  Each record
        gets the next commit ``seq``, in argument order, and replaces
        any earlier record of its split.  Sequencing is single-writer:
        the driver is the only committer, as with an Iceberg catalog's
        optimistic lock (a multi-driver deployment would CAS the
        manifest)."""
        out = self._load()
        seq = max((r.get("seq", 0) for r in out.values()), default=0)
        for rec in recs:
            seq += 1
            rec["seq"] = seq
            out[int(rec["split_id"])] = rec
        mpath = os.path.join(self.path, self.MANIFEST)
        tmp = mpath + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"version": 1, "records": list(out.values())}, f)
        os.replace(tmp, mpath)  # atomic on POSIX


#: one row per (task, split) the writer wrote; the driver sums them per split
_TALLY_DDL = ("split_id int, rows bigint, chars bigint, parse_us bigint, "
              "kernel_us bigint, parse_errors bigint, c_docs bigint")
_TALLY_FIELDS = ("rows", "chars", "parse_us", "kernel_us", "parse_errors", "c_docs")


def _write_splits(data_dir: str, schema, batches, part: int | None = None):
    """Executor side of :func:`extract_with_resume`: extract every
    input Arrow batch (``passthrough..., split_id, html``), write its
    rows to their split's leaf ``data_dir/split_id=<s>/`` and yield the
    per-split tallies of what was written (``_TALLY_DDL``).

    One ``pyarrow.parquet.ParquetWriter`` per split streams this
    task's rows of that split, in input order, into a hidden temporary
    file; once the input is drained each file is ``os.replace``d to
    ``part-<part:05d>.parquet`` (``part`` defaults to the Spark
    partition index), and only then are the tallies yielded.  The same
    partition therefore always writes the same file names: a retried
    attempt replaces files, never adds them.  numpy grouping keeps
    Arrow's exec-plan thread pool out of the Python workers; float64
    ``bincount`` sums are exact below 2**53."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..operators.extract import main_text_batch

    if part is None:
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
    name = f"part-{part:05d}"
    tmp_tag = uuid.uuid4().hex[:8]
    files: dict[int, tuple] = {}  # split -> (writer, tmp path, final path)
    sums: dict[int, np.ndarray] = {}
    try:
        for rb in batches:
            if not rb.num_rows:
                continue
            out = main_text_batch(rb, stage_metrics=True)
            sids, inv = np.unique(out.column("split_id").to_numpy(), return_inverse=True)
            counts = np.bincount(inv, minlength=len(sids))
            weights = [pc.utf8_length(out.column("text")),  # Spark's length(): chars
                       out.column("parse_us"), out.column("kernel_us"),
                       out.column("parse_errors"), out.column("c_engine")]
            batch_sums = np.stack(
                [counts, *(np.bincount(inv, weights=w.to_numpy(), minlength=len(sids))
                           for w in weights)], axis=1).astype(np.int64)
            # stable: rows keep their input order within each split
            grouped = pa.Table.from_batches([out.take(np.argsort(inv, kind="stable"))])
            grouped = grouped.select(schema.names).cast(schema)
            start = 0
            for i, s in enumerate(sids.tolist()):
                if s not in files:
                    leaf = os.path.join(data_dir, f"split_id={s}")
                    os.makedirs(leaf, exist_ok=True)
                    tmp = os.path.join(leaf, f".{name}-{tmp_tag}.tmp")
                    files[s] = (pq.ParquetWriter(tmp, schema), tmp,
                                os.path.join(leaf, f"{name}.parquet"))
                files[s][0].write_table(grouped.slice(start, counts[i]))
                sums[s] = sums.get(s, 0) + batch_sums[i]
                start += counts[i]
        for writer, tmp, final in files.values():
            writer.close()
            os.replace(tmp, final)  # atomic on POSIX
    except BaseException:
        for writer, tmp, _ in files.values():
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
    per-batch body of ``extract_main_text``), writes each split's rows
    as Parquet with pyarrow (:func:`_write_splits`) and returns the
    split's tallies; ``collect`` brings the tallies to the driver,
    which sums them per split and commits every split's record in one
    ledger write, so the run's splits become visible together.  No JVM
    write job and no commit protocol run, and no job reads the output
    back: readers see only ledger-committed leaves, so the ledger
    commit is the only commit.  ``out_dir`` must be a filesystem path
    that the executors share with the driver.

    The files and the counts are exactly-once because:

    * ``collect`` keeps the result of one successful attempt per
      partition, so each task's tallies are summed once;
    * a retried or speculative attempt reads the same (deterministic)
      input partition and writes the same file names with the same
      rows (only the measured ``parse_us``/``kernel_us`` timings
      differ), so it replaces files and never adds them.  A failed
      attempt leaves at most hidden ``.part-*.tmp`` files, which
      readers skip and :func:`vacuum_uncommitted` sweeps.

    Each file has the schema ``extract_main_text(..., stage_metrics=True)``
    declares over ``passthrough`` (``split_id`` is the leaf directory);
    every ledger record stores that DDL as ``schema``, which
    :func:`read_extracted` declares instead of inferring it.

    Parallelism contract: the write stage runs one task per partition
    of ``pages`` and adds no exchange.  A narrow input — one row group,
    one small file — is spread by the caller where it reads the data,
    as :func:`~gumbo_pp_spark.sources.pages.read_pages` does.

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
    done = set(ledger.committed())
    pending = [s for s in range(n_splits) if s not in done]
    if max_splits_this_run is not None:
        pending = pending[:max_splits_this_run]
    if not pending:
        return {"run_id": None, "splits_processed": 0, "skipped": len(done),
                "wall_ms": 0, "rows": 0, "c_docs": 0, "py_docs": 0, "parse_errors": 0}

    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()
    work = pages.select(
        *passthrough,
        F.pmod(F.xxhash64("url"), F.lit(n_splits)).cast("int").alias("split_id"),
        "html",
    ).where(F.col("split_id").isin(pending))
    ddl = main_text_ddl(pages, passthrough, stage_metrics=True)
    writer = functools.partial(
        _write_splits, os.path.join(out_dir, "data", f"run={run_id}"),
        to_arrow_schema(StructType.fromDDL(ddl)))
    tallies = work.mapInArrow(writer, _TALLY_DDL).collect()
    wall_ms = int((time.time() - t0) * 1000)
    stats = {s: dict.fromkeys(_TALLY_FIELDS, 0) for s in pending}
    for r in tallies:
        for k in _TALLY_FIELDS:
            stats[r["split_id"]][k] += r[k]
    # Per-split wall attribution: all splits commit from ONE Spark job,
    # so the only measured per-split times are the executor-side
    # parse_us/kernel_us sums.  busy_ms is that measured work; wall_ms
    # is the run's wall apportioned by busy share (splits with more
    # work get more wall), so per-split wall is distinct and sums to
    # the run wall instead of repeating it n_splits times.
    total_busy = sum(r["parse_us"] + r["kernel_us"] for r in stats.values()) or 1
    records = []
    for s, r in stats.items():
        busy_us = r["parse_us"] + r["kernel_us"]
        records.append(
            {
                "split_id": s,
                "run_id": run_id,
                "status": "committed",
                "rows": r["rows"],
                "bytes": r["chars"],
                "parse_ms": r["parse_us"] // 1000,
                "kernel_ms": r["kernel_us"] // 1000,
                "parse_errors": r["parse_errors"],
                # engine engagement telemetry (round-6): at 100 TB this
                # is how a run sees what fraction of documents paid the
                # ~10x slower Python-tail price
                "c_docs": r["c_docs"],
                "py_docs": r["rows"] - r["c_docs"],
                "busy_ms": busy_us // 1000,
                "wall_ms": int(wall_ms * busy_us / total_busy),
                "run_wall_ms": wall_ms,
                "attempt": 1,
                "schema": ddl,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
    ledger.commit(*records)
    rows = sum(r["rows"] for r in stats.values())
    c_docs = sum(r["c_docs"] for r in stats.values())
    return {
        "run_id": run_id,
        "splits_processed": len(pending),
        "skipped": len(done),
        "wall_ms": wall_ms,
        "rows": rows,
        "c_docs": c_docs,
        "py_docs": rows - c_docs,
        "parse_errors": sum(r["parse_errors"] for r in stats.values()),
    }


def vacuum_uncommitted(out_dir: str, min_age_sec: float = 24 * 3600.0) -> dict:
    """Remove data leaf directories not referenced by any committed
    ledger record — crashed/abandoned run leftovers (the Iceberg
    remove-orphan-files analogue; without it a table that survives
    many partial runs slowly accretes dead bytes no read will ever
    touch).  The ledger and every committed ``run=…/split_id=…`` leaf
    are kept; a run directory left with no leaves is removed whole.
    In the leaves it keeps, hidden ``.part-*.tmp`` files (left by
    failed or killed writer attempts) older than ``min_age_sec`` are
    deleted.

    CONCURRENCY (ADVICE r7): ``extract_with_resume`` writes data
    files BEFORE committing their ledger records, so an uncommitted
    leaf may belong to an in-flight run — deleting it would let that
    run commit records pointing at vanished paths (splits marked
    committed forever but unreadable).  Leaves younger than
    ``min_age_sec`` (default 24 h — Iceberg's remove-orphan-files
    default) are therefore kept; pass ``min_age_sec=0`` only when no
    writer can be running.  ``read_extracted`` (incl.
    ``as_of``/``since``) only resolves paths through committed
    records, which vacuum keeps by construction.  Returns
    ``{"removed": [...], "kept": n, "skipped_recent": m,
    "removed_tmp": k}``."""
    import shutil

    ledger = PartitionLedger(os.path.join(out_dir, "_ledger"))
    keep = {
        (r["run_id"], str(s)) for s, r in ledger.committed().items()
    }
    data = os.path.join(out_dir, "data")
    removed: list[str] = []
    kept = 0
    skipped_recent = 0
    removed_tmp = 0
    now = time.time()

    def old_enough(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) >= min_age_sec
        except OSError:
            return False  # freshly gone / racing writer: leave it

    if not os.path.isdir(data):
        return {"removed": removed, "kept": kept, "skipped_recent": 0, "removed_tmp": 0}
    for run_dir in sorted(os.listdir(data)):
        if not run_dir.startswith("run="):
            continue
        run_id = run_dir[len("run="):]
        rpath = os.path.join(data, run_dir)
        for leaf in sorted(os.listdir(rpath)):
            if not leaf.startswith("split_id="):
                continue
            sid = leaf.split("=", 1)[1]
            lpath = os.path.join(rpath, leaf)
            if (run_id, sid) in keep:
                kept += 1
                for fn in os.listdir(lpath):
                    tmp = os.path.join(lpath, fn)
                    if fn.startswith(".part-") and fn.endswith(".tmp") and old_enough(tmp):
                        try:
                            os.remove(tmp)
                            removed_tmp += 1
                        except FileNotFoundError:
                            pass
                continue
            if not old_enough(lpath):
                skipped_recent += 1
                continue
            shutil.rmtree(lpath)
            removed.append(f"{run_dir}/{leaf}")
        if not any(d.startswith("split_id=") for d in os.listdir(rpath)):
            shutil.rmtree(rpath)
    return {"removed": removed, "kept": kept, "skipped_recent": skipped_recent,
            "removed_tmp": removed_tmp}


def read_extracted(
    spark: SparkSession, out_dir: str, as_of: int | None = None,
    since: int | None = None,
) -> DataFrame:
    """Union of exactly the ledger-committed (split, run) outputs —
    uncommitted partial runs are invisible.  ``as_of`` time-travels to
    the table state as of that commit seq (see
    :meth:`PartitionLedger.snapshot_log`), reading only the data files
    those commits referenced — the Iceberg snapshot-read analogue.
    ``since`` gives the INCREMENTAL read — only splits committed after
    that snapshot (Iceberg incremental scan): a downstream consumer
    stores the last seq it processed and reads ``since=that`` to catch
    up touching none of the already-processed files.  An empty change
    set raises ``LookupError`` (check
    :meth:`PartitionLedger.committed_between` first when empty-is-ok).

    When every record read carries the same ``schema`` DDL (the file
    schema :func:`extract_with_resume` wrote), the reader declares it,
    plus ``run string, split_id int`` for the directory columns: no
    schema-inference job runs, and a run id made only of digits stays
    a string.  Otherwise — records from before the field existed, or
    runs whose ``passthrough`` differed — Spark infers the schema from
    the files and the directory names.  When every record read has
    zero rows (no file was written), the result is the empty frame of
    the stored schema."""
    from pyspark.sql.types import StructType

    ledger = PartitionLedger(os.path.join(out_dir, "_ledger"))
    if since is not None:
        recs = ledger.committed_between(since, as_of=as_of)
        if not recs:
            raise LookupError(
                f"no commits in ({since}, {as_of or 'current'}] under {out_dir}"
            )
    else:
        recs = ledger.committed(as_of=as_of)
    if not recs:
        raise FileNotFoundError(f"no committed splits under {out_dir}")
    full = {s: r for s, r in recs.items() if r["rows"] > 0}
    ddls = {r.get("schema") for r in (full or recs).values()}
    schema = (StructType.fromDDL(ddls.pop() + ", run string, split_id int")
              if len(ddls) == 1 and None not in ddls else None)
    if not full:
        # every committed split is empty and wrote no file
        if schema is None:
            raise FileNotFoundError(f"no committed rows and no stored schema under {out_dir}")
        return spark.createDataFrame([], schema)
    paths = sorted(
        os.path.join(out_dir, "data", f"run={r['run_id']}", f"split_id={s}")
        for s, r in full.items()
    )
    # basePath keeps run/split_id partition columns while reading only
    # the committed leaf directories
    reader = spark.read.option("basePath", os.path.join(out_dir, "data"))
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)
