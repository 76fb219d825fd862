"""Keep a reused PySpark Python worker from re-reading zip archives.

Every task a PySpark worker runs starts with
``importlib.invalidate_caches()`` (``pyspark/worker_util.py
setup_spark_files``). The worker imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``; on CPython < 3.13,
``zipimporter.invalidate_caches`` re-reads the whole zip directory
eagerly, once per zipimporter (one per imported pyspark subpackage), so
each task of a Python stage paid 0.1-0.2 s before running any user code
(PERF.md "Python-stage fixed cost"). CPython 3.13 made it lazy.

``install`` (called from the package ``__init__``, so unpickling any
function of this package installs it) wraps the method so that an
archive is re-read only when its ``(st_ino, st_size, st_mtime_ns)``
changed since its last read; importers of an unchanged archive share
the directory read under that stamp, as zipimporters do at creation.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` inside a PySpark Python
    worker on Python < 3.13; idempotent. True when the wrap is on."""
    if ("PYTHON_WORKER_FACTORY_SECRET" not in os.environ
            or sys.version_info >= (3, 13)):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "__wrapped__", None) is not None:
        return True
    reread = cls.invalidate_caches
    read = {}  # archive path -> (stamp, directory dict read under it)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = st.st_ino, st.st_size, st.st_mtime_ns
        except OSError:
            stamp = None
        seen = read.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None:
            read.pop(self.archive, None)
        else:
            read[self.archive] = (stamp, files)

    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches
    return True


def probe(batches):
    """``mapInArrow`` function reporting this worker: its pid, whether
    the wrap is on, and how many zip directories one
    ``importlib.invalidate_caches()`` reads (what each task start costs)."""
    import importlib

    import pyarrow as pa

    for _ in batches:
        pass
    reads, read_directory = [], zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    installed = getattr(zipimport.zipimporter.invalidate_caches,
                        "__wrapped__", None) is not None
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()], "installed": [installed],
        "reads": [len(reads)],
    })
