"""Plan guard: projection math is evaluated once per pixel.

Catalyst's filter pushdown copies projected expressions into pushed
bounds filters and join conditions, with no cost guard. Without a
Generate barrier (functions/exprs.py generate_barrier) a LAEA regrid
ran its CRS math three times per pixel. These tests build plans and
never execute them: the optimized plan may hold at most two more
transcendental calls than the analyzed plan, for the kNN probes
(nearest, gauss, bilinear) as for the regrid. The session runs with
constraint propagation off, so no inferred join filter re-inlines the
cell join's lon/lat -> xyz projection.
"""

from __future__ import annotations

import inspect
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from explain_audit import python_stages, transcendental_counts  # noqa: E402

from pyresample_spark.geometry import AreaDefinition  # noqa: E402
from pyresample_spark.image import GeoImage  # noqa: E402
from pyresample_spark.pyworker import probe  # noqa: E402
from pyresample_spark.queries import load_all  # noqa: E402

SLACK = 2
SRC_AREA = AreaDefinition("src", "longlat", 64, 32, (0.0, 40.0, 12.8, 46.4))
TARGETS = {
    "longlat": AreaDefinition(
        "t", "longlat", 16, 16, (2.0, 41.0, 8.0, 45.0)),
    "laea": AreaDefinition(
        "t", "+proj=laea +lat_0=43 +lon_0=6", 16, 16,
        (-200e3, -200e3, 200e3, 200e3)),
    "stere": AreaDefinition(
        "t", "+proj=stere +lat_0=90 +lat_ts=60 +lon_0=6", 16, 16,
        (-200e3, -5200e3, 200e3, -4800e3)),
}
KNN = ("nearest", "gauss", "bilinear")


def _resampled(spark, method: str, target: AreaDefinition):
    if method == "regrid":
        n = SRC_AREA.width * SRC_AREA.height
        grid = spark.range(n).select(
            (F.col("id") / SRC_AREA.width).cast("long").alias("row"),
            (F.col("id") % SRC_AREA.width).alias("col"),
            F.col("id").cast("double").alias("value"),
        )
        img = GeoImage.from_area(grid, SRC_AREA)
        return img.resample(target, method="regrid").df
    swath = spark.range(500).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 50 * 0.25).alias("lon"),
        (40.0 + F.col("id") / 50 * 0.6).alias("lat"),
        F.col("id").cast("double").alias("value"),
    )
    img = GeoImage.from_swath(swath)
    return img.resample(target, method=method, key_col="event_id").df


def _growth(df) -> tuple[int, int, int]:
    analyzed, optimized = transcendental_counts(df)
    return optimized - analyzed, analyzed, optimized


@pytest.mark.parametrize("target", sorted(TARGETS))
@pytest.mark.parametrize("method", [*KNN, "regrid"])
def test_projection_math_not_reinlined(spark, method, target):
    growth, analyzed, optimized = _growth(
        _resampled(spark, method, TARGETS[target]))
    assert growth <= SLACK, (
        f"{method} onto {target}: {optimized} transcendental calls "
        f"optimized vs {analyzed} analyzed (allowance +{SLACK})"
    )


def _regrid_queries() -> list[str]:
    return sorted(
        name for name, spec in load_all().items()
        if "regrid_nearest" in inspect.getsource(spec.builder)
    )


def test_regrid_registry_queries_found():
    assert len(_regrid_queries()) >= 40


@pytest.mark.parametrize("name", _regrid_queries())
def test_regrid_query_math_not_reinlined(spark, sf_dir, name):
    growth, analyzed, optimized = _growth(
        load_all()[name].builder(spark, sf_dir))
    assert growth <= SLACK, (
        f"{name}: {optimized} transcendental calls optimized vs "
        f"{analyzed} analyzed"
    )


def test_regrid_derived_source_row_evaluated_once(spark):
    """The gather's equi-join copies the target-side bounds onto the
    source image; a source row derived per pixel (a band offset parsed
    from the file name, as an ingest stacks granules) must not be
    re-evaluated in that copied filter."""
    w = SRC_AREA.width
    band = F.regexp_extract(
        F.concat(F.lit("granule_"), (F.col("id") / (w * 16)).cast("long")
                 .cast("string"), F.lit(".nc")), r"granule_(\d+)\.nc$", 1)
    grid = spark.range(w * SRC_AREA.height).select(
        (band.cast("long") * 16
         + (F.col("id") / w).cast("long") % 16).alias("row"),
        (F.col("id") % w).alias("col"),
        F.col("id").cast("double").alias("value"),
    )
    df = GeoImage.from_area(grid, SRC_AREA).resample(
        TARGETS["laea"], method="regrid").df
    plan = df._jdf.queryExecution().optimizedPlan().treeString(
        True, False, 2**31 - 1, False, False)
    assert plan.count("regexp_extract(") == 1, plan


def test_python_stages_counts_python_operator_nodes(spark):
    def formatted(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    df = spark.range(3)
    arrow = df.mapInArrow(probe, "pid long, installed boolean, reads long")
    udf = F.pandas_udf(lambda s: s, "long")
    assert python_stages(formatted(df.selectExpr("id + 1"))) == 0
    assert python_stages(formatted(arrow)) == 1
    assert python_stages(formatted(arrow.select(udf("pid")))) == 2
