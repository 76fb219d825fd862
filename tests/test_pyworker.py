"""pyworker: a reused Python worker re-reads a zip archive's directory
only when the archive changed (counted through zipimport._read_directory
calls, never timed)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pyresample_spark import pyworker

PKG = "pyworker_zip_fixture_pkg"
needs_eager = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport is lazy from 3.13 on")


def _write_zip(path, members):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A package in a zip on sys.path, imported twice deep (two
    zipimporters over one archive), a counter of its directory reads,
    and the wrap's state restored afterwards."""
    path = str(tmp_path / "fixture.zip")
    _write_zip(path, {f"{PKG}/__init__.py": "", f"{PKG}/sub/__init__.py": ""})
    monkeypatch.syspath_prepend(path)
    for name in [m for m in sys.modules if m.startswith(PKG)]:
        monkeypatch.delitem(sys.modules, name)
    importlib.import_module(f"{PKG}.sub")
    reads = []
    read_directory = zipimport._read_directory

    def counted(p):
        if p == path:
            reads.append(p)
        return read_directory(p)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    yield path, reads
    for name in [m for m in sys.modules if m.startswith(PKG)]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


def _reads_per_invalidate(reads):
    reads.clear()
    importlib.invalidate_caches()
    return len(reads)


@needs_eager
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    path, reads = archive
    assert _reads_per_invalidate(reads) >= 2  # one per zipimporter
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "x")
    assert pyworker.install()
    assert _reads_per_invalidate(reads) == 1  # first sight of the stamp
    assert _reads_per_invalidate(reads) == 0
    assert _reads_per_invalidate(reads) == 0


@needs_eager
def test_rewritten_archive_is_reread(archive, monkeypatch):
    path, reads = archive
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "x")
    assert pyworker.install()
    _reads_per_invalidate(reads)
    assert _reads_per_invalidate(reads) == 0
    _write_zip(path, {f"{PKG}/__init__.py": "", f"{PKG}/sub/__init__.py": "",
                      f"{PKG}/sub/new.py": "VALUE = 7\n"})
    assert _reads_per_invalidate(reads) == 1
    assert importlib.import_module(f"{PKG}.sub.new").VALUE == 7
    assert _reads_per_invalidate(reads) == 0
    # same inode and size, new mtime: still a change
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _reads_per_invalidate(reads) == 1


def test_install_outside_worker_is_a_noop(archive):
    before = zipimport.zipimporter.invalidate_caches
    assert not pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_install_on_lazy_zipimport_is_a_noop(archive, monkeypatch):
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "x")
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    before = zipimport.zipimporter.invalidate_caches
    assert not pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before


@needs_eager
def test_install_is_idempotent(archive, monkeypatch):
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "x")
    original = zipimport.zipimporter.invalidate_caches
    assert pyworker.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.__wrapped__ is original


def test_reused_worker_reads_no_archive(spark):
    """1-partition mapInArrow jobs running a function of this package:
    every worker reports the wrap installed, and once a worker answers
    a second time its task start reads no zip directory. A new worker
    reads each archive once (its first task installs the wrap)."""
    schema = "pid long, installed boolean, reads long"
    seen = {}
    for _ in range(2 * spark.sparkContext.defaultParallelism + 2):
        (pid, installed, reads), = spark.range(1, numPartitions=1) \
            .mapInArrow(pyworker.probe, schema).collect()
        assert installed
        if pid in seen:
            assert reads == 0
            return
        seen[pid] = reads
        assert reads <= 4  # one per archive, not one per importer
    pytest.fail(f"no Python worker was reused: {seen}")


_UNPICKLE = """
import sys
from pyspark import cloudpickle
cloudpickle.loads(sys.stdin.buffer.read())
print("pyresample_spark" in sys.modules)
"""


def test_python_stage_functions_import_the_package(spark, sf_dir,
                                                   monkeypatch):
    """Every Python function a stage ships must import this package when
    a worker unpickles it, or that worker never installs the wrap.
    Closures are pickled by value (their module is not imported); these
    sites ship module-level functions instead."""
    import subprocess

    from pyspark import serializers
    from pyspark.sql import functions as F

    from pyresample_spark.queries import load_all
    from pyresample_spark.streaming.windows import running_user_totals

    shipped = []
    dumps = serializers.CloudPickleSerializer.dumps

    def recorded(self, obj):
        blob = dumps(self, obj)
        shipped.append(blob)
        return blob

    monkeypatch.setattr(serializers.CloudPickleSerializer, "dumps", recorded)
    registry = load_all()
    for name in ("q_custom_weight", "q_frame_sample", "q_raster_ingest"):
        registry[name].builder(spark, sf_dir)
    running_user_totals(spark.readStream.format("rate").load().select(
        (F.col("value") % 3).alias("user_id"),
        F.col("value").cast("double").alias("value")))
    assert len(shipped) == 4
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for blob in shipped:
        out = subprocess.run(
            [sys.executable, "-c", _UNPICKLE], input=blob, cwd=root,
            capture_output=True, check=True, timeout=120)
        assert out.stdout.strip() == b"True"
