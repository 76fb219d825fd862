"""Irregular-swath bilinear: golden values, the LUT split, and the
cross-check of the production plan against a reference-shaped kernel.

The irregular-swath operator must reproduce exact analytic bilinear
interpolation when the 'swath' is a regular grid in disguise (the
reference's cross-implementation equivalence idiom,
test_dask_ewa.py:325 style). The per-target Python kernel below is the
independent reference (pyresample/bilinear/_base.py one-to-one, NumPy
over Arrow batches) that the fused Spark plan must match row for row."""

import math
import re
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from pyresample_spark.operators.bilinear_irregular import bilinear_irregular
from pyresample_spark.operators.knn import knn_join

# --- reference kernel ----------------------------------------------------

OUT_SCHEMA = (
    "tgt_id long, c00 long, c01 long, c10 long, c11 long, "
    "t double, s double, bilinear_value double"
)


def _quad_root(p1, p2, p3, p4, X, Y):
    """Valid root in [0,1] of the bilinear quadratic — _calc_abc
    (bilinear/_base.py:423-443) + _solve_quadratic (:382-413) with the
    reference's x1 → x2 → −c/b fallback chain. Divisions are guarded
    (the reference relies on inf/NaN falling out of [0,1])."""
    (x1, y1), (x2, y2), (x3, y3), (x4, y4) = p1, p2, p3, p4
    x21, x31, x42 = x2 - x1, x3 - x1, x4 - x2
    y21, y31, y42 = y2 - y1, y3 - y1, y4 - y2
    a = x31 * y42 - y31 * x42
    b = (
        Y * (x42 - x31) - X * (y42 - y31)
        + x31 * y2 - y31 * x2 + y42 * x1 - x42 * y1
    )
    c = Y * x21 - X * y21 + x1 * y2 - x2 * y1
    d = b * b - 4.0 * a * c
    if a != 0.0 and d >= 0.0:
        sq = math.sqrt(d)
        for cand in ((-b + sq) / (2.0 * a), (-b - sq) / (2.0 * a)):
            if 0.0 <= cand <= 1.0:
                return cand
    if b != 0.0:
        cand = -c / b
        if 0.0 <= cand <= 1.0:
            return cand
    return None


def _lin_other(f, ya, yb, yc, yd, Y):
    """_solve_another_fractional_distance (bilinear/_base.py:452-470):
    g = (Y − ya − (yb−ya)f) / (yc + (yd−yc)f − ya − (yb−ya)f),
    valid in [0,1]."""
    den = yc + (yd - yc) * f - ya - (yb - ya) * f
    if den == 0.0:
        return None
    g = (Y - ya - (yb - ya) * f) / den
    return g if 0.0 <= g <= 1.0 else None


def _solve_ts_quadratic(corners_xy, X, Y):
    """Closed-form (t, s) with the reference's full fallback chain
    (_get_fractional_distances, bilinear/_base.py:336-521):
    irregular → uprights-parallel → parallelogram. corners_xy rows:
    p1=UL, p2=UR, p3=LL, p4=LR (the reference corner order)."""
    p1, p2, p3, p4 = [tuple(c) for c in corners_xy]
    # 1. irregular quadrilateral: t from the quadratic, s linear from t
    t = _quad_root(p1, p2, p3, p4, X, Y)
    if t is not None:
        s = _lin_other(t, p1[1], p3[1], p2[1], p4[1], Y)
        if s is not None:
            return t, s
    # 2. uprights parallel: s from the quadratic on reordered corners,
    #    t linear from s (axis-aligned grids land here: the irregular
    #    s-denominator degenerates to 0)
    s = _quad_root(p1, p3, p2, p4, X, Y)
    if s is not None:
        t = _lin_other(s, p1[1], p2[1], p3[1], p4[1], Y)
        if t is not None:
            return t, s
    # 3. parallelogram (reference formula verbatim, incl. its
    #    '+ x31·t' term, for parity)
    x21, y21 = p2[0] - p1[0], p2[1] - p1[1]
    x31, y31 = p3[0] - p1[0], p3[1] - p1[1]
    den = x21 * y31 - y21 * x31
    if den == 0.0 or x21 == 0.0:
        return None
    t = (x21 * (Y - p1[1]) - y21 * (X - p1[0])) / den
    if not (0.0 <= t <= 1.0):
        return None
    s = (X - p1[0] + x31 * t) / x21
    if not (0.0 <= s <= 1.0):
        return None
    return t, s


def _per_target(pdf: pd.DataFrame) -> pd.DataFrame:
    tgt_id = pdf["tgt_id"].iloc[0]
    tx, ty = pdf["t_lon"].iloc[0], pdf["t_lat"].iloc[0]
    dlon = pdf["s_lon"].to_numpy() - tx
    dlat = pdf["s_lat"].to_numpy() - ty
    dist = pdf["dist_m"].to_numpy()
    sid = pdf["src_id"].to_numpy()
    # strict-sign quadrants, reference order (x_diff = out − in):
    # p1 UL: in left (dlon<0), in above (dlat>0); p2 UR; p3 LL; p4 LR
    quads = {
        "p1": (dlon < 0) & (dlat > 0),
        "p2": (dlon > 0) & (dlat > 0),
        "p3": (dlon < 0) & (dlat < 0),
        "p4": (dlon > 0) & (dlat < 0),
    }
    idx = {}
    for name, mask in quads.items():
        if not mask.any():
            return pd.DataFrame(columns=pdf.columns[:0])
        cand = np.flatnonzero(mask)
        # nearest valid, ties by src_id — deterministic across engines
        best = cand[np.lexsort((sid[cand], dist[cand]))[0]]
        idx[name] = best
    corners_xy = [
        (pdf["s_lon"].iloc[idx[n]], pdf["s_lat"].iloc[idx[n]])
        for n in ("p1", "p2", "p3", "p4")
    ]
    ts = _solve_ts_quadratic(corners_xy, tx, ty)
    if ts is None:
        return pd.DataFrame(columns=pdf.columns[:0])
    t, s = ts
    v1, v2, v3, v4 = (
        pdf["value"].iloc[idx[n]] for n in ("p1", "p2", "p3", "p4")
    )
    v = (
        v1 * (1.0 - s) * (1.0 - t)
        + v2 * s * (1.0 - t)
        + v3 * (1.0 - s) * t
        + v4 * s * t
    )
    # output columns keep the grid naming: c00=LL(p3), c01=LR(p4),
    # c10=UL(p1), c11=UR(p2)
    return pd.DataFrame(
        {
            "tgt_id": [tgt_id],
            "c00": [sid[idx["p3"]]],
            "c01": [sid[idx["p4"]]],
            "c10": [sid[idx["p1"]]],
            "c11": [sid[idx["p2"]]],
            "t": [t],
            "s": [s],
            "bilinear_value": [v],
        }
    )


def bilinear_irregular_pandas(src, tgt, radius_m: float, k: int = 16):
    """The per-target Arrow kernel over knn_join candidates — same
    output contract as :func:`bilinear_irregular`."""
    # Python workers cannot import a test module: ship the kernel and
    # its helpers by value
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    pairs = knn_join(src, tgt, radius_m, k=k)
    enriched = (
        pairs.join(
            src.select(
                F.col("src_id"),
                F.col("lon").alias("s_lon"),
                F.col("lat").alias("s_lat"),
                "value",
            ),
            "src_id",
        )
        .join(
            tgt.select(
                F.col("tgt_id"),
                F.col("lon").alias("t_lon"),
                F.col("lat").alias("t_lat"),
            ),
            "tgt_id",
        )
    )
    return enriched.groupBy("tgt_id").applyInPandas(_per_target, OUT_SCHEMA)


# --- tests ---------------------------------------------------------------


def test_irregular_matches_analytic_on_regular_grid(spark):
    # 'swath' = 1° regular lon/lat grid, value = closed form of (i, j)
    src_rows = [
        (i * 100 + j, float(j), float(i), float(i * 10 + j))
        for i in range(10)
        for j in range(10)
    ]
    src = spark.createDataFrame(
        src_rows, "src_id long, lon double, lat double, value double"
    )
    # targets at known fractional positions: (lon=j+0.25, lat=i+0.75)
    tgt_rows = [
        (i * 100 + j, j + 0.25, i + 0.75)
        for i in range(2, 7)
        for j in range(2, 7)
    ]
    tgt = spark.createDataFrame(
        tgt_rows, "tgt_id long, lon double, lat double"
    )
    out = {
        r.tgt_id: r
        for r in bilinear_irregular(src, tgt, 300_000.0, k=16).collect()
    }
    assert len(out) == 25
    for (tid, lon, lat) in tgt_rows:
        i0, j0 = int(lat), int(lon)
        t, s = lon - j0, lat - i0  # fractions in x (t) and y (s)
        exact = (
            (1 - t) * (1 - s) * (i0 * 10 + j0)
            + t * (1 - s) * (i0 * 10 + j0 + 1)
            + (1 - t) * s * ((i0 + 1) * 10 + j0)
            + t * s * ((i0 + 1) * 10 + j0 + 1)
        )
        assert out[tid].bilinear_value == pytest.approx(exact, abs=1e-6), tid


def test_proj_columns_analytic(spark):
    from pyresample_spark.functions.geo import R_EARTH
    from pyresample_spark.operators.proj_udf import proj_columns

    df = spark.createDataFrame([(10.0, 45.0)], "lon double, lat double")
    out = proj_columns(df, "eqc").first()
    import math

    assert out.x == pytest.approx(math.radians(10.0) * R_EARTH)
    assert out.y == pytest.approx(math.radians(45.0) * R_EARTH)
    ll = proj_columns(df, "longlat").first()
    assert ll.x == 10.0 and ll.y == 45.0

    import pyresample_spark.operators.proj_udf as pu

    if not pu.HAS_PYPROJ:
        with pytest.raises(NotImplementedError):
            proj_columns(df, "+proj=stere +lat_0=90")


def test_bilinear_lut_persist_and_reuse(spark, sf_dir, tmp_path):
    """The bilinear precompute/apply split (VERDICT r4 item 6,
    reference bilinear/xarr.py:198-219): the corner/weight LUT persists
    once; a second channel goes through bilinear_apply whose plan has
    NO kNN cell-join stages (no applyInPandas kernel, no explode, no
    ranking) and NO shuffle exchange (bucketed LUT), and its values
    equal the full kernel's output on the same channel."""
    import os

    from pyspark.sql import functions as F

    from pyresample_spark.operators.bilinear_irregular import (
        bilinear_apply,
        bilinear_irregular,
        bilinear_lut,
    )
    from pyresample_spark.plans.lut import LutCache
    from pyresample_spark.queries.joins import _src

    src = _src(spark, sf_dir)
    tgt = src.filter(F.col("src_id") % 20 == 0).select(
        F.col("src_id").alias("tgt_id"),
        (F.col("lon") + 0.21).alias("lon"),
        (F.col("lat") + 0.13).alias("lat"),
    )
    cache = LutCache(str(tmp_path / "bl_luts"))
    kw = dict(cache=cache, src_hash="s1", tgt_hash="t1")

    lut1 = bilinear_lut(src, tgt, 150_000.0, k=32, **kw)
    n1 = lut1.count()
    assert n1 > 0
    # second call loads — same table, no recompute (files untouched)
    files = sorted(os.listdir(str(tmp_path / "bl_luts")))
    lut2 = bilinear_lut(src, tgt, 150_000.0, k=32, **kw)
    assert sorted(os.listdir(str(tmp_path / "bl_luts"))) == files
    plan = lut2._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan  # no kernel
    assert "Generate" not in plan  # no cell explode
    assert "lut_" in plan

    # apply a second channel: plan must stay free of the kNN join AND
    # of shuffle exchanges (bucketed tgt_id layout + broadcast values)
    ch2 = src.select("src_id", (F.col("value") * 2.0 + 1.0).alias("v2"))
    applied = bilinear_apply(lut2, ch2, value_col="v2")
    aplan = applied._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in aplan
    assert "Exchange hashpartitioning" not in aplan, aplan

    # value parity: apply(ch2) == kernel(ch2) per target
    got = {
        r.tgt_id: round(r.bilinear_value, 6) for r in applied.collect()
    }
    src2 = src.withColumn("value", F.col("value") * 2.0 + 1.0)
    want = {
        r.tgt_id: round(r.bilinear_value, 6)
        for r in bilinear_irregular(src2, tgt, 150_000.0, k=32).collect()
    }
    assert got == want and len(got) > 0


# Reference _get_fractional_distances goldens (test_bilinear.py:178-207):
# corners p1 UL, p2 UR, p3 LL, p4 LR, the target (X, Y), the published
# (t, s) and the absolute tolerance of the check.
GOLDEN_CORNER_SETS = (
    # irregular quadrilateral
    ([(-1.0, 1.0), (1.0, 2.0), (-2.0, -1.0), (2.0, -4.0)],
     (0.0, 0.0), (0.375, 0.5), 1e-12),
    # both sides parallel (parallelogram fallback)
    ([(-1.0, 1.0), (1.0, 1.0), (-1.0, -1.0), (1.0, -1.0)],
     (0.0, 0.0), (0.5, 0.5), 1e-7),
    # uprights parallel
    ([(-1.0, 1.0), (1.0, 2.0), (-1.0, -1.0), (1.0, -2.0)],
     (0.0, 0.0), (0.5, 0.5), 1e-7),
    # the published division-by-zero corner set (8 published digits)
    ([(-64.9936752319336, -5.140199184417725),
      (-64.98487091064453, -5.142156600952148),
      (-64.98683166503906, -5.151054859161377),
      (-64.97802734375, -5.153012275695801)],
     (-64.985, -5.145), (0.30769689, 0.74616628), 1e-7),
)


def test_reference_golden_fractional_distances():
    """The irregular quadrilateral gives (t, s) = (0.375, 0.5); the
    uprights-parallel and parallelogram fixtures give (0.5, 0.5)
    through the fallback chain; and the published division-by-zero
    corner set solves to (0.30769689, 0.74616628). Only the corner
    constants come from the reference; the solver is the reference
    kernel above (_solve_ts_quadratic)."""
    for corners, (X, Y), (t0, s0), tol in GOLDEN_CORNER_SETS:
        t, s = _solve_ts_quadratic(corners, X, Y)
        assert t == pytest.approx(t0, abs=tol)
        assert s == pytest.approx(s0, abs=tol)


def test_staged_solve_reference_goldens(spark):
    """The production staged solve (_ts_chain_staged) reaches the same
    published (t, s) for all four golden corner sets — the irregular,
    both-parallel, uprights-parallel and division-by-zero sets take
    each fallback branch of the chain inside the Spark plan — and
    interpolates the corner values with the reference weights."""
    from pyresample_spark.operators.bilinear_irregular import (
        _ts_chain_staged,
    )

    vals = (1.0, 2.0, 3.0, 4.0)
    rows = [
        (i, 10 * i + 1, 10 * i + 2, 10 * i + 3, 10 * i + 4,
         *(p[0] for p in corners), *(p[1] for p in corners), *vals, X, Y)
        for i, (corners, (X, Y), _, _) in enumerate(GOLDEN_CORNER_SETS)
    ]
    cols = (["tgt_id", "id1", "id2", "id3", "id4"]
            + [f"x{i}" for i in (1, 2, 3, 4)]
            + [f"y{i}" for i in (1, 2, 3, 4)]
            + [f"v{i}" for i in (1, 2, 3, 4)] + ["xx", "yy"])
    schema = ", ".join(
        f"{c} {'long' if c.startswith(('tgt', 'id')) else 'double'}"
        for c in cols
    )
    wide = spark.createDataFrame(rows, schema)
    got = {r.tgt_id: r.r for r in _ts_chain_staged(wide).collect()}
    assert sorted(got) == [0, 1, 2, 3]
    for i, (_, _, (t0, s0), tol) in enumerate(GOLDEN_CORNER_SETS):
        t, s, v = got[i].t, got[i].s, got[i].v
        assert t == pytest.approx(t0, abs=tol), i
        assert s == pytest.approx(s0, abs=tol), i
        want = (vals[0] * (1 - s) * (1 - t) + vals[1] * s * (1 - t)
                + vals[2] * (1 - s) * t + vals[3] * s * t)
        assert v == pytest.approx(want, abs=1e-12), i


def test_bilinear_lut_cache_requires_geometry_hashes(spark, tmp_path):
    """With a cache, the LUT key is built from src_hash and tgt_hash; a
    missing hash must raise instead of falling back to a shared
    literal, which would let two geometries with the same radius and k
    read each other's LUT."""
    from pyresample_spark.operators.bilinear_irregular import bilinear_lut
    from pyresample_spark.plans.lut import LutCache

    src = spark.createDataFrame(
        [(0, 0.0, 0.0, 1.0)], "src_id long, lon double, lat double, "
        "value double"
    )
    tgt = spark.createDataFrame([(0, 0.5, 0.5)],
                                "tgt_id long, lon double, lat double")
    cache = LutCache(str(tmp_path / "luts"))
    for kw in (dict(src_hash="s1"), dict(tgt_hash="t1"), {}):
        with pytest.raises(ValueError, match="src_hash and tgt_hash"):
            bilinear_lut(src, tgt, 150_000.0, k=32, cache=cache, **kw)
    assert not (tmp_path / "luts").exists()


def test_fused_plan_matches_pandas_kernel(spark, sf_dir):
    """The staged production plan (no Python in the plan) must
    reproduce the reference-shaped per-target Arrow kernel row-for-row
    on the real swath fixture, including corner ids and the (t, s)
    fallback-chain branches."""
    from pyresample_spark.queries.joins import _src

    src = _src(spark, sf_dir)
    tgt = src.filter(F.col("src_id") % 20 == 0).select(
        F.col("src_id").alias("tgt_id"),
        (F.col("lon") + 0.21).alias("lon"),
        (F.col("lat") + 0.13).alias("lat"),
    )
    a = bilinear_irregular(src, tgt, 150_000.0, k=32).toPandas()
    b = bilinear_irregular_pandas(src, tgt, 150_000.0, k=32).toPandas()
    assert len(a) == len(b) > 0
    ka = sorted(map(tuple, a.round(9).values.tolist()))
    kb = sorted(map(tuple, b.round(9).values.tolist()))
    assert ka == kb


_JOIN_NODE = re.compile(
    r"\b(?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"
    r"|BroadcastNestedLoopJoin|CartesianProduct)\b")


@pytest.mark.parametrize("topology", ["broadcast", "shuffle"])
def test_exact_plan_holds_only_the_cell_join(spark, sf_dir, topology):
    """The exact schemes carry the target lon/lat through the top-k
    rows and group the corner pick by (tgt_id, xx, yy): the cell join
    is the plan's only join in both topologies (no join re-attaches
    the target coordinates), and the rows still equal the reference
    kernel's."""
    from pyresample_spark.queries.joins import _src

    src = _src(spark, sf_dir)
    tgt = src.filter(F.col("src_id") % 20 == 0).select(
        F.col("src_id").alias("tgt_id"),
        (F.col("lon") + 0.21).alias("lon"),
        (F.col("lat") + 0.13).alias("lat"),
    )
    if topology == "shuffle":
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bilinear_irregular(src, tgt, 150_000.0, k=32)
        qe = df._jdf.queryExecution()
        logical = qe.optimizedPlan().treeString(
            True, False, 2**31 - 1, False, False)
        joins = re.findall(r"Join Inner, \(?(.*)", logical)
        assert len(joins) == 1 and "cx3" in joins[0], logical
        physical = qe.executedPlan().toString()
        kinds = _JOIN_NODE.findall(physical)
        want = ("BroadcastHashJoin" if topology == "broadcast"
                else "ShuffledHashJoin")
        assert kinds == [want], physical
        a = df.toPandas()
        b = bilinear_irregular_pandas(src, tgt, 150_000.0, k=32).toPandas()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert len(a) == len(b) > 0
    ka = sorted(map(tuple, a.round(9).values.tolist()))
    kb = sorted(map(tuple, b.round(9).values.tolist()))
    assert ka == kb
