"""C fast-path engine loader + NodeTable assembly.

The extension exports two entries over one input path: each document's
raw bytes are classified, decoded as UTF-8 with replacement and
CR-normalized in C (``prep_input`` in _cext/chtml.c), so ASCII, CRLF,
multibyte and invalid-UTF-8 pages all reach the engine in one step.

* ``cextract_batch`` (``_cextract_batch`` here) parses a whole Arrow
  binary column and runs the main-text kernel on it in one call — the
  flagship stage's engine (``operators/extract.py`` ``main_text_batch``);
* ``cparse(raw)`` (wrapped by :func:`cparse` below) takes one
  document's bytes and returns a :class:`NodeTable` for the whole
  document-mode surface: error recording, adoption agency, foster
  parenting, foreign content, templates, framesets, NUL input,
  non-ASCII tag/attr names, ws-decoding charref classification,
  unbounded depth and name lengths — or ``None`` for the designed
  bails (colgroup/frameset-content NUL and its ws-charref
  intersection), where the pure-Python engine must run.

The Python engine in ``html5.py`` and the Python main-text kernel
remain the reference implementation; the C engine is required to be
column-for-column identical whenever it engages (tests/test_cengine.py
runs that A/B over the conformance corpus, offering each case once as
parse_html does, and through the batch entry).

Build: the extension is compiled on demand with the in-sandbox gcc
(`python -m gumbo_pp_spark.parser.cengine` or first import).  For a
cluster run, build once and ship the ``.so`` with ``--py-files`` (it
lives inside the package directory).

Env:
  GUMBO_PP_CENGINE=0   disable the C engine entirely
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import sysconfig

import numpy as np

_DIR = os.path.join(os.path.dirname(__file__), "_cext")
_SO = os.path.join(_DIR, "_chtml.so")
_SRCHASH = _SO + ".srchash"

#: engagement counters: documents parsed by each engine this process
stats = {"c": 0, "py": 0}

_cparse = None
_cextract_batch = None
_NodeTable = None


def _source_hash() -> str:
    """sha256 over the C sources — stored beside the .so so a stale
    binary is detected after editing chtml.c/chtml_tables.h (ADVICE
    r5: `exists(_SO)` alone silently kept loading old engines)."""
    h = hashlib.sha256()
    for name in ("chtml.c", "chtml_tables.h"):
        path = os.path.join(_DIR, name)
        if os.path.exists(path):
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _so_fresh() -> bool:
    if not os.path.exists(_SO):
        return False
    try:
        with open(_SRCHASH) as f:
            return f.read().strip() == _source_hash()
    except OSError:
        # No hash sidecar next to the .so.  Two very different cases
        # (ADVICE r6): a checkout that compiled the extension BEFORE
        # the sidecar existed has the sources on disk — treat that .so
        # as stale and rebuild, else a binary with an old return arity
        # keeps loading.  A --py-files bundle shipped without sources
        # can't rebuild anyway — trust it (arity is still guarded at
        # call time in cparse()).
        return not os.path.exists(os.path.join(_DIR, "chtml.c"))


def _build() -> bool:
    """Compile the extension in-tree (idempotent). Returns success."""
    src = os.path.join(_DIR, "chtml.c")
    hdr = os.path.join(_DIR, "chtml_tables.h")
    if not os.path.exists(src):
        return False
    if not os.path.exists(hdr):
        from . import _cext  # noqa: F401
        from ._cext.gen_tables import main as _gen

        _gen()
    inc = sysconfig.get_paths()["include"]
    np_inc = np.get_include()
    # pid-suffixed temp: many Spark python workers may import (and so
    # build) concurrently on a fresh checkout; os.replace is atomic
    tmp = f"{_SO}.{os.getpid()}.tmp"
    cmd = ["gcc", "-O2", "-fPIC", "-shared", "-I", inc, "-I", np_inc, src, "-o", tmp]
    try:
        r = subprocess.run(cmd, capture_output=True, timeout=120)
    except Exception:
        return False
    if r.returncode != 0:
        return False
    srchash = _source_hash()
    os.replace(tmp, _SO)
    try:
        with open(_SRCHASH + f".{os.getpid()}.tmp", "w") as f:
            f.write(srchash)
        os.replace(_SRCHASH + f".{os.getpid()}.tmp", _SRCHASH)
    except OSError:
        pass
    return True


def _load() -> None:
    global _cparse, _cextract_batch
    if os.environ.get("GUMBO_PP_CENGINE", "1") == "0":
        return
    if not _so_fresh() and not _build():
        return
    if _DIR not in sys.path:
        sys.path.insert(0, _DIR)
    try:
        import _chtml  # type: ignore

        _cparse = _chtml.cparse
        _cextract_batch = getattr(_chtml, "cextract_batch", None)
    except Exception:
        _cparse = None
        _cextract_batch = None


def available() -> bool:
    return _cparse is not None


def cparse(raw):
    """C fast-path parse of one document's bytes (bytes / bytearray /
    memoryview) → NodeTable, or None (use the Python engine).  The
    byte map is the caller's (:func:`parser.html5.parse_html`)."""
    global _cparse, _cextract_batch
    if _cparse is None:
        return None
    res = _cparse(raw)
    if res is None:
        return None
    if len(res) != 19:
        # Stale binary with a different return arity (e.g. a shipped
        # .so without its source-hash sidecar): disable the engine and
        # fall back to the Python reference instead of raising on
        # every document it accepts.
        _cparse = _cextract_batch = None
        return None
    # the extension materializes the final numpy columns itself
    # (round-6: the former bytearray/frombuffer + object-list copies
    # cost ~42us/doc — comparable to the C parse itself)
    (cnt, a_type, a_ns, a_tid, a_parent, a_iwp, a_sub,
     s0, s1, t0, t1, e0, e1, tags, texts, attrs, quirks, errors, src) = res
    global _NodeTable
    if _NodeTable is None:
        from ..nodetable import NodeTable as _NT

        _NodeTable = _NT
    nt = _NodeTable(
        source=src,
        type=a_type,
        tag_id=a_tid,
        tag_name=tags,
        parent=a_parent,
        index_within_parent=a_iwp,
        subtree_end=a_sub,
        text=texts,
        attrs=attrs,
        src_start=s0,
        src_end=s1,
        tag_start=t0,
        tag_end=t1,
        endtag_start=e0,
        endtag_end=e1,
        parse_errors=len(errors),
        ns=a_ns,
        error_records=errors,
        quirks=bool(quirks),
    )
    return nt


_load()


if __name__ == "__main__":
    ok = _build()
    print(_SO if ok else "BUILD FAILED")
