"""Tests of the benchmark itself: seeded inputs, metric names, the tail
helper, and that a wrong result counts as a failed op.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from stats import METRIC_NAME, tail  # noqa: E402


def _swath_bytes(seed, index):
    sw = inputs.swath(seed, index, 24, 32, inputs.stratified(index, 0))
    chans = inputs.channels(seed, index, sw, 2)
    return b"".join(a.tobytes() for a in
                    (sw.pix_id, sw.lon, sw.lat, sw.value, *chans))


def _granule_bytes(seed, index):
    gs = inputs.granule_set(seed, index, 16, 32, 0.05, chunk=(8, 16))
    return b"".join(buf for _, buf in gs.files)


def _parquet_bytes(tmp_path, seed, name):
    sw = inputs.swath(seed, 0, 24, 32)
    path = os.path.join(tmp_path, name)
    workloads.write_parquet(path, {"pix_id": sw.pix_id, "lon": sw.lon,
                                   "lat": sw.lat, "value": sw.value})
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _swath_bytes(5, 3) == _swath_bytes(5, 3)
    assert _granule_bytes(5, 3) == _granule_bytes(5, 3)
    assert (_parquet_bytes(tmp_path, 5, "a.parquet")
            == _parquet_bytes(tmp_path, 5, "b.parquet"))


def test_other_seed_gives_other_inputs(tmp_path):
    assert _swath_bytes(5, 3) != _swath_bytes(6, 3)
    assert _granule_bytes(5, 3) != _granule_bytes(6, 3)
    assert (_parquet_bytes(tmp_path, 5, "a.parquet")
            != _parquet_bytes(tmp_path, 6, "b.parquet"))
    # and within one run, every op gets its own granule
    assert _swath_bytes(5, 3) != _swath_bytes(5, 4)


def test_swath_reaches_high_latitudes():
    lats = [abs(inputs.swath(1, i, 8, 96, inputs.stratified(i, 0)).lat)
            .max() for i in range(40)]
    assert max(lats) > 70.0
    assert min(lats) < 20.0


def test_metric_names_are_well_formed_and_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert e2e == list(run.E2E_NAMES)
    assert layer == run.per_layer_names()
    for name in e2e + layer + [w["name"] for w in spec["workloads"]]:
        assert METRIC_NAME.fullmatch(name), name
    assert len(set(e2e + layer)) == len(e2e + layer)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(
        workloads.WORKLOADS)


def test_tail_is_highest_percentile_with_ten_beyond():
    samples = list(np.random.default_rng(0).permutation(30) + 1.0)
    value, pct, beyond = tail(samples)
    assert value == 20.0 and beyond == 10
    assert pct == pytest.approx(100.0 * 20 / 30)
    # the next rank up would leave only nine beyond
    assert sum(v > 21.0 for v in samples) == 9


def test_tail_moves_down_past_ties():
    samples = [1.0] * 5 + [2.0] * 8 + [3.0] * 10
    value, pct, beyond = tail(samples)
    assert (value, beyond) == (2.0, 10)
    assert pct == pytest.approx(100.0 * 13 / 23)
    samples = [1.0] * 5 + [3.0] * 12
    value, _, beyond = tail(samples)
    assert (value, beyond) == (1.0, 12)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_perturbed_observation_is_a_mismatch():
    exp = oracle.Expected({1: 10.0, 2: 20.5}, rows=7,
                          sums={"id_sum": 21.0})
    good = {"rows": 7, "n_s": 2, "s_s": 30.5, "id_sum": 21.0}
    assert exp.mismatches(good) == []
    assert exp.mismatches({**good, "s_s": 30.5 + 0.01}) == ["s_s"]
    assert exp.mismatches({**good, "rows": 6}) == ["rows"]
    assert exp.mismatches({**good, "n_s": 3}) == ["n_s"]
    assert exp.mismatches({**good, "id_sum": 22.0}) == ["id_sum"]


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("run"))
    for k, v in run.host_env(run_dir).items():
        os.environ.setdefault(k, v)
    from pyresample_spark.session import get_spark

    ctx = run.Ctx(get_spark("perfbench-test"), 3, run_dir)
    yield ctx
    ctx.spark.stop()


class _Small(workloads.SwathToGrid):
    LINES, PIXELS = 32, 48
    CELLS, SIDE_M = 16, 400_000.0


@pytest.mark.parametrize("method", ["nearest", "bilinear", "bucket_avg"])
def test_perturbed_result_counts_as_failed_op(ctx, method):
    wl = _Small(ctx)
    op = wl._op(method, 1, 0.3)
    assert run.run_op(ctx, op, f"ok_{method}")["ok"]

    op = wl._op(method, 1, 0.3)
    build = op.build

    def perturbed():
        from pyspark.sql import functions as F

        df, exprs, inner = build()
        return df.withColumn("value", F.col("value") + 0.5), exprs, inner

    op.build = perturbed
    rec = run.run_op(ctx, op, f"bad_{method}")
    assert not rec["ok"]
    assert "s_s" in rec["mismatch"]


def test_op_that_raises_counts_as_failed(ctx):
    op = _Small(ctx)._op("nearest", 2, 0.6)

    def broken():
        raise RuntimeError("boom")

    op.build = broken
    rec = run.run_op(ctx, op, "raises")
    assert not rec["ok"] and "boom" in rec["error"]


def test_trace_overhead_cancels_a_linear_warm_up_trend():
    # px/s rises by 10 per cycle; traced (odd) cycles are on the trend
    timed = [{"cycle": c, "px": 100 + 10 * c, "wall": 1.0} for c in range(5)]
    assert run.trace_overhead(timed) == pytest.approx(0.0)
    # traced cycles 10 % slower than their neighbours' mean
    for r in timed:
        if r["cycle"] % 2:
            r["wall"] = 1.0 / 0.9
    assert run.trace_overhead(timed) == pytest.approx(0.1)
