"""The one runner for per-row Python kernels over Arrow batches.

A row kernel sees one input row as plain Python values and returns
that row's output tuples; :func:`map_rows` does everything around it
in one ``mapInArrow`` stage — the pruned input projection, the output
DDL, explicit Arrow output types, the NULL rule and the passthrough
columns.  The split follows "Accelerating Python UDFs in Vectorized
Query Execution" (CIDR 2022): the per-invocation work is the kernel,
the transfer (Arrow in, Arrow out) is the runner's and the same for
every operator.

Its callers: ``operators.extract.run_program`` (and every extraction
program built on it), ``operators.pdf.extract_pdf_text``,
``operators.encoding.sniff_and_transcode``,
``operators.multimodal.image_features``, ``operators.robots.robots_filter``
and ``crawl_schedule``, and ``sources.pdfs.synth_pdfs``.

Left hand-written, because their batch body is not a per-row loop:

* ``operators.extract.extract_main_text`` and the split writer of
  ``plans.lineage.extract_with_resume`` (``_write_splits``): one C
  call parses and extracts a whole batch
  (``extract.main_text_batch``);
* ``operators.extract.explode_nodes``: each document's node arrays
  are concatenated column-wise with numpy, not built row by row;
* the WARC reader ``sources.warc.read_warc_cdx``: a row is one of a
  file's member spans, read with seeks grouped per file, and the
  records carry no input column.

``tests/test_physical_plans.py`` pins the ``mapInArrow`` call sites
to this set.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame


def passthrough_ddl(df: DataFrame, passthrough: Sequence[str], *fields: str) -> str:
    """DDL of the ``passthrough`` columns with their ``df`` types, in
    ``passthrough`` order, followed by the DDL fragments ``fields``."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join([*(f"{c} {types[c]}" for c in passthrough), *fields])


def row_values(arr) -> list:
    """One Arrow column as a list of per-row Python values, NULL as
    ``None``.  A binary column yields zero-copy ``memoryview`` slices
    of its data buffer (a kernel that needs ``bytes`` calls ``bytes()``
    itself); every other type comes from ``to_pylist``."""
    import pyarrow as pa

    large = pa.types.is_large_binary(arr.type)
    if not (large or pa.types.is_binary(arr.type)):
        return arr.to_pylist()
    if len(arr) == 0:
        return []
    dt = np.dtype(np.int64 if large else np.int32)
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dt, len(arr) + 1, arr.offset * dt.itemsize).tolist()
    data = memoryview(bufs[2] or b"")
    if arr.null_count == 0:
        return [data[a:b] for a, b in zip(off, off[1:])]
    valid = arr.is_valid().to_pylist()
    return [data[a:b] if v else None for a, b, v in zip(off, off[1:], valid)]


def map_rows(
    df: DataFrame,
    inputs: Sequence[str],
    out_ddl: str,
    row_fn: Callable[..., list[tuple]],
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Run ``row_fn(*inputs)`` over every row of ``df``: output
    ``passthrough`` columns (with their ``df`` types), then the
    ``out_ddl`` columns.

    ``row_fn`` gets one value per ``inputs`` column (see
    :func:`row_values`: NULL is ``None``, binary is a ``memoryview``)
    and returns a list of the row's output tuples in ``out_ddl``
    order: one tuple for a 1→1 kernel, any number for a 1→N kernel.
    Each output column is built with the Arrow type its ``out_ddl``
    field maps to, never inferred.  The passthrough columns stay Arrow arrays; when
    some row does not yield exactly one tuple they are taken by
    repeated row index.

    The input projection is ``passthrough`` + ``inputs`` (a column
    named in both is shipped once), so a parquet scan reads only those
    columns.  One task per partition of ``df``, no exchange: a narrow
    input is spread where it is read."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    out = StructType.fromDDL(out_ddl)
    names = [*passthrough, *out.fieldNames()]
    types = [to_arrow_type(f.dataType) for f in out.fields]
    cols = [*passthrough, *(c for c in inputs if c not in passthrough)]
    at = [cols.index(c) for c in inputs]
    n_pt = len(passthrough)

    def fn(batches):
        import pyarrow as pa

        for rb in batches:
            counts, rows = [], []
            for vals in zip(*(row_values(rb.column(i)) for i in at)):
                outs = row_fn(*vals)
                counts.append(len(outs))
                rows += outs
            pt = [rb.column(i) for i in range(n_pt)]
            if n_pt and any(k != 1 for k in counts):
                take = pa.array(np.repeat(np.arange(rb.num_rows), counts))
                pt = [c.take(take) for c in pt]
            out_cols = list(zip(*rows)) if rows else [()] * len(types)
            yield pa.RecordBatch.from_arrays(
                [*pt, *(pa.array(v, t) for v, t in zip(out_cols, types))], names=names
            )

    return df.select(*cols).mapInArrow(fn, passthrough_ddl(df, passthrough, out_ddl))
