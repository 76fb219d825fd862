"""Plan-time input identity and the one plan-time memo.

Reference parity: pyresample caches its plan-time inputs by geometry
identity (resampler.py:69-88, _caching.py:21-113). Here the plan-time
inputs are small driver-side reads made while a builder runs — a
parquet footer (scan spread), a collected centroid set (IVF literal
tier), a PQ codebook — and their identity is the input files' version:
``file_identity`` fingerprints them once, ``plan_memo`` keeps what was
read from them. A file rewritten in place gets a new size or mtime,
hence a new key, so it is read again rather than served stale.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import unquote

# Entries are small (footers, ≤ IVF_LITERAL_MAX centroid literals, a
# 50-row codebook's columns); the cap bounds what a long-lived driver
# that sees many input versions can pin.
PLAN_MEMO_CAP = 64
_MEMO: OrderedDict = OrderedDict()
_LOCK = threading.Lock()


def file_identity(df_or_path) -> tuple | None:
    """``((abs path, size, mtime_ns), …)`` sorted, one per input file
    of a DataFrame (its ``inputFiles()``) or of a single path; None
    when the input is not a file scan (e.g. range-generated or
    in-memory frames) or any file cannot be stat'ed."""
    if isinstance(df_or_path, str):
        uris = [df_or_path]
    else:
        try:
            uris = df_or_path.inputFiles()
        except Exception:
            return None
    out = []
    for uri in sorted(uris):
        path = uri
        if path.startswith("file:"):
            # a URI: percent-encoded (a space arrives as %20)
            path = unquote(path[5:])
            while path.startswith("//"):
                path = path[1:]
        try:
            st = os.stat(path)
        except OSError:
            return None
        out.append((os.path.abspath(path), st.st_size, st.st_mtime_ns))
    return tuple(out) or None


def plan_memo(key, compute):
    """``compute()``, memoized process-wide under ``key`` in an LRU of
    PLAN_MEMO_CAP entries. A None key (an input with no stable
    identity) computes and stores nothing. A computed None is stored
    like any other value, so a failed gate is not re-read. Namespace
    keys by caller, e.g. ``("scan-spread", file_identity(path))``."""
    if key is None:
        return compute()
    with _LOCK:
        if key in _MEMO:
            _MEMO.move_to_end(key)
            return _MEMO[key]
    value = compute()
    with _LOCK:
        _MEMO[key] = value
        _MEMO.move_to_end(key)
        while len(_MEMO) > PLAN_MEMO_CAP:
            _MEMO.popitem(last=False)
    return value
