"""Plan-time input identity and the bounded plan memo
(plans/inputs.py): file fingerprints, LRU eviction, None semantics,
re-reads after an in-place rewrite, and the LUT source digests."""

import hashlib
import os
import shutil
from collections import OrderedDict

import pytest

from pyresample_spark.plans import inputs
from pyresample_spark.plans.inputs import file_identity, plan_memo

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture
def memo(monkeypatch):
    fresh = OrderedDict()
    monkeypatch.setattr(inputs, "_MEMO", fresh)
    return fresh


def _counting(calls, name, value):
    def compute():
        calls.append(name)
        return value

    return compute


def test_plan_memo_evicts_least_recently_used_past_cap(memo):
    cap = inputs.PLAN_MEMO_CAP
    calls = []
    for i in range(cap):
        plan_memo(("t", i), _counting(calls, i, i))
    assert plan_memo(("t", 0), _counting(calls, "again", -1)) == 0
    plan_memo(("t", cap), _counting(calls, cap, cap))
    assert len(memo) == cap
    # key 1 was the least recently used (key 0 was just read)
    assert ("t", 1) not in memo and ("t", 0) in memo
    assert plan_memo(("t", 1), _counting(calls, "re1", 1)) == 1
    assert calls == [*range(cap + 1), "re1"]


def test_plan_memo_none_key_and_none_value(memo):
    calls = []
    for _ in range(2):
        assert plan_memo(None, _counting(calls, "unkeyed", 7)) == 7
    assert calls == ["unkeyed", "unkeyed"] and len(memo) == 0
    # a computed None (a failed gate) is kept, not recomputed
    for _ in range(2):
        assert plan_memo(("gate",), _counting(calls, "gate", None)) is None
    assert calls.count("gate") == 1


def test_file_identity_of_paths_and_frames(spark, tmp_path):
    from pyresample_spark.operators.knn import _scan_bytes_hint

    p = os.path.join(SF_DIR, "events.parquet")
    st = os.stat(p)
    want = ((os.path.abspath(p), st.st_size, st.st_mtime_ns),)
    assert file_identity(p) == want
    assert file_identity(spark.read.parquet(p)) == want
    assert _scan_bytes_hint(spark.read.parquet(p)) == st.st_size
    assert file_identity(str(tmp_path / "absent.parquet")) is None
    # inputFiles() URIs are percent-encoded: a space arrives as %20
    spaced = tmp_path / "a dir"
    spaced.mkdir()
    shutil.copy(p, spaced)
    q = str(spaced / "events.parquet")
    assert file_identity(spark.read.parquet(q)) == file_identity(q)
    assert file_identity(q) is not None
    # no file inputs: no identity, no size hint
    assert file_identity(spark.range(5)) is None
    assert _scan_bytes_hint(spark.range(5)) is None


def _bump_mtime(path):
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_spread_parts_rereads_a_rewritten_file(tmp_path, monkeypatch, memo):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyresample_spark.queries import _spread_parts

    reads = []
    real = pq.ParquetFile

    def counting(path, *a, **kw):
        reads.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(512))}), p)
    assert _spread_parts(p, cores=32) == 8
    assert _spread_parts(p, cores=32) == 8
    assert len(reads) == 1
    # same path rewritten in place with more rows: new size, re-read
    pq.write_table(pa.table({"x": list(range(1024))}), p)
    assert _spread_parts(p, cores=32) == 16
    assert len(reads) == 2
    # touched only (new mtime): re-read
    _bump_mtime(p)
    assert _spread_parts(p, cores=32) == 16
    assert len(reads) == 3


def test_pq_codebook_recollects_a_rewritten_file(
    spark, tmp_path, monkeypatch, memo
):
    from pyresample_spark.queries.similarity import _emb, _pq_codebook

    shutil.copy(os.path.join(SF_DIR, "embeddings.parquet"), tmp_path)
    sf = str(tmp_path)
    emb = _emb(spark, sf)
    collects = []
    real = type(emb).collect

    def counting(self):
        collects.append(1)
        return real(self)

    monkeypatch.setattr(type(emb), "collect", counting)
    cb = _pq_codebook(emb, sf)
    assert len(cb) == 8
    assert _pq_codebook(_emb(spark, sf), sf) is cb
    assert len(collects) == 1
    _bump_mtime(os.path.join(sf, "embeddings.parquet"))
    assert _pq_codebook(_emb(spark, sf), sf) is not cb
    assert len(collects) == 2


@pytest.mark.parametrize(
    "tag,name",
    [
        ("bilinear-src", "events"),
        ("events-points", "events"),
        ("lsh-bands-mod10lt8", "documents"),
        ("ivf-index", "embeddings"),
        ("pq-codes", "embeddings"),
        ("ivfpq-index", "embeddings"),
    ],
)
def test_lut_src_hash_keeps_the_on_disk_digest(tag, name):
    """The six LUT queries' source hashes are byte-identical to the
    formula their caches on disk were written under, so existing LUTs
    still hit."""
    from pyresample_spark.queries import lut_src_hash

    st = os.stat(os.path.join(SF_DIR, f"{name}.parquet"))
    old = hashlib.sha1(
        f"{tag}|{os.path.abspath(SF_DIR)}|{st.st_size}|"
        f"{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    assert lut_src_hash(tag, SF_DIR, name) == old
