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
  atomically commits one ledger record per finished split
  (``_ledger/split_<id>.json`` via tmp+rename);
* resume = recompute pending as ``all_splits − committed`` and process
  only those; readers union exactly the (split, run) pairs the ledger
  committed, so partially-written uncommitted runs are invisible;
* ledger records carry the per-partition metrics the bench reports
  (rows, bytes, parse/kernel time, parse errors, engine counts,
  wall_ms, attempt).  They are tallied executor-side in the same
  ``mapInArrow`` pass that extracts and writes the split (per-batch
  ``split_id`` sums into an accumulator) — never by re-reading the
  written output.  Exactly-once counts rely on that pass staying in
  the write's result stage: no ``Exchange`` above ``MapInArrow``.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession, functions as F


class PartitionLedger:
    """Atomic per-split commit records on a filesystem (works on any
    rename-capable store; on object stores use a conditional-put
    variant).

    Manifest compaction (VERDICT r6 #7): at the north-star scale the
    ledger holds 10^5-10^6 committed splits, and a resume that opens
    one JSON file per split is a driver file-stat storm.  Committed
    records are periodically rolled into a single atomically-rewritten
    ``manifest.json``; :meth:`committed` reads manifest + the per-split
    tail files written since the last roll (O(1) file reads on a
    compacted ledger, one tiny read per split committed since).
    Crash-safe ordering: the manifest is replaced FIRST (tmp+rename),
    folded tail files are deleted after — a crash between the two
    leaves records present in both places with identical content, and
    the tail overlay wins harmlessly."""

    MANIFEST = "manifest.json"

    def __init__(self, path: str, compact_every: int = 256):
        self.path = path
        self.compact_every = compact_every
        self._since_compact = 0
        self._next_seq: int | None = None  # lazily seeded from the ledger
        os.makedirs(path, exist_ok=True)

    def _load(self) -> tuple[dict[int, dict], list[str]]:
        """(records, tail filenames) — manifest first, tail overlays."""
        out: dict[int, dict] = {}
        mpath = os.path.join(self.path, self.MANIFEST)
        if os.path.exists(mpath):
            with open(mpath) as f:
                for rec in json.load(f)["records"]:
                    out[int(rec["split_id"])] = rec
        tails = [
            fn
            for fn in os.listdir(self.path)
            if fn.startswith("split_") and fn.endswith(".json")
        ]
        for fn in tails:
            with open(os.path.join(self.path, fn)) as f:
                rec = json.load(f)
            out[int(rec["split_id"])] = rec
        return out, tails

    def committed(self, as_of: int | None = None) -> dict[int, dict]:
        """Committed split records; ``as_of`` (a commit ``seq``) gives
        the Iceberg-style snapshot view — only records committed at or
        before that sequence number.  Pre-``seq`` ledgers (records
        without the field) read as seq 0: part of every snapshot."""
        recs = self._load()[0]
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
        return sorted(self._load()[0].values(), key=lambda r: r.get("seq", 0))

    def current_snapshot(self) -> int:
        recs = self._load()[0]
        return max((r.get("seq", 0) for r in recs.values()), default=0)

    def commit(self, rec: dict) -> None:
        # single-writer commit sequencing (the driver is the only
        # committer, as with an Iceberg catalog's optimistic lock; a
        # multi-driver deployment would CAS the counter in the catalog)
        if self._next_seq is None:
            self._next_seq = self.current_snapshot() + 1
        rec.setdefault("seq", self._next_seq)
        self._next_seq = max(self._next_seq, rec["seq"]) + 1
        final = os.path.join(self.path, f"split_{rec['split_id']}.json")
        tmp = final + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, final)  # atomic on POSIX
        self._since_compact += 1
        if self.compact_every and self._since_compact >= self.compact_every:
            self.compact()

    def compact(self) -> int:
        """Roll tail files into the manifest; returns how many folded."""
        recs, tails = self._load()
        self._since_compact = 0
        if not tails:
            return 0
        mpath = os.path.join(self.path, self.MANIFEST)
        tmp = mpath + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"version": 1, "records": list(recs.values())}, f)
        os.replace(tmp, mpath)
        for fn in tails:
            try:
                os.remove(os.path.join(self.path, fn))
            except FileNotFoundError:
                pass  # concurrent compaction already folded it
        return len(tails)


#: fields of one split's tally (see ``_tally_batch``)
_TALLY_FIELDS = ("rows", "chars", "parse_us", "kernel_us", "parse_errors", "c_docs")


class _SplitTallies(AccumulatorParam):
    """``{split_id: {"rows": n, "chars": n, ...}}``, summed per split
    and field."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, upd):
        for s, v in upd.items():
            cur = acc.setdefault(s, dict.fromkeys(v, 0))
            for k, n in v.items():
                cur[k] += n
        return acc


def _tally_batch(acc, rb) -> None:
    """Executor-side ``on_batch`` hook: group one extraction output
    batch by ``split_id`` and add its sums to ``acc``.  numpy grouping
    (no Arrow exec plan, so no compute thread pool in the Python
    workers); float64 ``bincount`` sums are exact below 2**53."""
    import numpy as np
    import pyarrow.compute as pc

    sids, inv = np.unique(rb.column("split_id").to_numpy(), return_inverse=True)
    cols = {
        # Spark's length(text): characters, not UTF-8 bytes
        "chars": pc.utf8_length(rb.column("text")),
        "parse_us": rb.column("parse_us"),
        "kernel_us": rb.column("kernel_us"),
        "parse_errors": rb.column("parse_errors"),
        "c_docs": rb.column("c_engine"),
    }
    sums = {"rows": np.bincount(inv, minlength=len(sids))}
    for k, v in cols.items():
        sums[k] = np.bincount(inv, weights=v.to_numpy(), minlength=len(sids))
    acc.add({int(s): {k: int(v[i]) for k, v in sums.items()} for i, s in enumerate(sids)})


def extract_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_splits: int = 32,
    max_splits_this_run: int | None = None,
    passthrough: tuple[str, ...] = ("doc_id", "url"),
) -> dict:
    """Run the flagship extraction over all not-yet-committed splits.

    The ledger statistics come from the write pass itself: every
    extraction output batch is grouped by ``split_id`` inside the
    ``mapInArrow`` task that produced it and summed into an accumulator;
    the driver commits the records from the accumulator's value once
    the write returns.  No job reads the output back.

    The counts are exact because Spark merges a result task's
    accumulator updates once per partition and drops those of failed
    attempts.  That holds only while the extraction runs in the write's
    result stage — no ``Exchange`` above ``MapInArrow`` in the write
    plan; an extraction in a shuffle-map stage could be re-run by a
    retried stage and counted twice.

    ``max_splits_this_run`` exists for fault-injection tests (process
    only K pending splits, as if the job were killed after K commits).
    Returns run metrics, including the run's ``rows``, ``c_docs``,
    ``py_docs`` and ``parse_errors`` totals (the sums of the records it
    committed).
    """
    from ..operators.extract import extract_main_text

    ledger = PartitionLedger(os.path.join(out_dir, "_ledger"))
    done = set(ledger.committed())
    pending = [s for s in range(n_splits) if s not in done]
    if max_splits_this_run is not None:
        pending = pending[:max_splits_this_run]
    if not pending:
        return {"run_id": None, "splits_processed": 0, "skipped": len(done),
                "rows": 0, "c_docs": 0, "py_docs": 0, "parse_errors": 0}

    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()
    work = pages.withColumn(
        "split_id", F.pmod(F.xxhash64("url"), F.lit(n_splits)).cast("int")
    ).where(F.col("split_id").isin(pending))
    tallies = spark.sparkContext.accumulator({}, _SplitTallies())
    out = extract_main_text(
        work, passthrough=(*passthrough, "split_id"), stage_metrics=True,
        on_batch=functools.partial(_tally_batch, tallies),
    )
    data_dir = os.path.join(out_dir, "data", f"run={run_id}")
    out.write.partitionBy("split_id").mode("error").parquet(data_dir)
    wall_ms = int((time.time() - t0) * 1000)
    zero = dict.fromkeys(_TALLY_FIELDS, 0)
    stats = {s: tallies.value.get(s, zero) for s in pending}
    # Per-split wall attribution: all splits commit from ONE Spark job,
    # so the only measured per-split times are the executor-side
    # parse_us/kernel_us sums.  busy_ms is that measured work; wall_ms
    # is the run's wall apportioned by busy share (splits with more
    # work get more wall), so per-split wall is distinct and sums to
    # the run wall instead of repeating it n_splits times.
    total_busy = sum(r["parse_us"] + r["kernel_us"] for r in stats.values()) or 1
    for s, r in stats.items():
        busy_us = r["parse_us"] + r["kernel_us"]
        ledger.commit(
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
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
    # roll this run's commits into the manifest so the NEXT resume
    # starts from O(1) file reads regardless of how many splits ran
    ledger.compact()
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
    are untouched; a run directory left with no leaves is removed
    whole (including its ``_SUCCESS`` marker).

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
    ``{"removed": [...], "kept": n, "skipped_recent": m}``."""
    import shutil

    ledger = PartitionLedger(os.path.join(out_dir, "_ledger"))
    keep = {
        (r["run_id"], str(s)) for s, r in ledger.committed().items()
    }
    data = os.path.join(out_dir, "data")
    removed: list[str] = []
    kept = 0
    skipped_recent = 0
    now = time.time()
    if not os.path.isdir(data):
        return {"removed": removed, "kept": kept, "skipped_recent": 0}
    for run_dir in sorted(os.listdir(data)):
        if not run_dir.startswith("run="):
            continue
        run_id = run_dir[len("run="):]
        rpath = os.path.join(data, run_dir)
        for leaf in sorted(os.listdir(rpath)):
            if not leaf.startswith("split_id="):
                continue
            sid = leaf.split("=", 1)[1]
            if (run_id, sid) in keep:
                kept += 1
                continue
            lpath = os.path.join(rpath, leaf)
            try:
                age = now - os.path.getmtime(lpath)
            except OSError:
                age = 0.0  # freshly gone / racing writer: leave it
            if age < min_age_sec:
                skipped_recent += 1
                continue
            shutil.rmtree(lpath)
            removed.append(f"{run_dir}/{leaf}")
        if not any(d.startswith("split_id=") for d in os.listdir(rpath)):
            shutil.rmtree(rpath)
    return {"removed": removed, "kept": kept, "skipped_recent": skipped_recent}


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
    :meth:`PartitionLedger.committed_between` first when empty-is-ok)."""
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
    paths = sorted(
        {
            os.path.join(out_dir, "data", f"run={r['run_id']}", f"split_id={s}")
            for s, r in recs.items()
            if r["rows"] > 0
        }
    )
    # basePath keeps run/split_id partition columns while reading only
    # the committed leaf directories
    return spark.read.option("basePath", os.path.join(out_dir, "data")).parquet(*paths)
