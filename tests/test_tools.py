"""Pins for the measurement scripts (``bench.py`` and ``tools/``): they
import only names the engine still has, read Spark's REST API only
through ``perfbench/tracing.py SparkRest``, build sessions only through
``session.get_spark``, and ``tools/profile_query.py`` runs end to end."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(ROOT, "bench.py")] + sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
)


def _ids(paths):
    return [os.path.relpath(p, ROOT) for p in paths]


def _engine_imports(path):
    """(module, name) for every ``from pyresample_spark… import name``
    and ``from perfbench… import name`` in ``path``, at any depth."""
    tree = ast.parse(open(path).read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and (
            node.module.split(".")[0] in ("pyresample_spark", "perfbench")
        ):
            for alias in node.names:
                yield node.module, alias.name


@pytest.mark.parametrize("path", SCRIPTS, ids=_ids(SCRIPTS))
def test_engine_imports_resolve(path):
    missing = []
    for module, name in _engine_imports(path):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{module}.{name}")
    assert not missing, f"{os.path.relpath(path, ROOT)} imports {missing}"


@pytest.mark.parametrize("path", SCRIPTS, ids=_ids(SCRIPTS))
def test_no_private_scraper_or_session(path):
    text = open(path).read()
    found = [s for s in ("urllib", "/api/v1", "SparkSession.builder")
             if s in text]
    assert not found, (
        f"{os.path.relpath(path, ROOT)} contains {found}: read metrics "
        "through perfbench/tracing.py SparkRest, build the session "
        "with session.get_spark"
    )


def test_profile_query_prints_stages_and_exchanges(sf_dir):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "profile_query.py"),
         "q_bucket_avg"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "=== q_bucket_avg:" in out.stdout
    assert re.search(r"^- \d+ shuffle exchange\(s\)$", out.stdout, re.M)
    # one row per completed stage: id, cpu_s, run_s, tasks, ...
    assert re.search(r"^\s+\d+\s+\d+\.\d{3}\s+\d+\.\d{3}\s+\d+\s",
                     out.stdout, re.M), out.stdout
