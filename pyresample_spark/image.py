"""Fluent data+geometry facade — the ImageContainer analog
(pyresample/image.py:29-299; SURVEY.md §1.1).

A ``GeoImage`` binds a long-format point/pixel DataFrame to its
geometry and exposes ``.resample(target, method=...)`` returning a new
GeoImage over the target area, dispatching through the method registry
(plans/planner.py, mirroring future/resamplers/registry.py:33-151).

Usage::

    img = GeoImage.from_swath(points_df)           # (lon, lat, value)
    out = img.resample(area, method="bucket_avg")  # or nearest / gauss /
                                                   # ewa / bilinear
    out.df                                          # (cell_id, value...)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyresample_spark.geometry import AreaDefinition
from pyresample_spark.operators.crs import grid_lonlat
from pyresample_spark.operators.ids import with_compact_id
from pyresample_spark.plans.planner import create_resampler, register_resampler


@dataclass
class GeoImage:
    df: DataFrame
    area: AreaDefinition | None = None  # None for irregular swaths

    @classmethod
    def from_swath(cls, df: DataFrame) -> "GeoImage":
        """df: (lon, lat, value[, ...]) irregular points."""
        return cls(df=df, area=None)

    @classmethod
    def from_area(cls, df: DataFrame, area: AreaDefinition) -> "GeoImage":
        """df: (row, col, value[, ...]) gridded pixels."""
        return cls(df=df, area=area)

    def resample(
        self, target: AreaDefinition, method: str = "nearest", **kwargs
    ) -> "GeoImage":
        if self.area is not None and self.area == target:
            return self  # no-op elimination (resampler.py:121-122)
        if method == "auto":
            method = choose_method(self, target)
        out = create_resampler(method, self, target, **kwargs)
        return GeoImage(df=out, area=target)


def _analytic(fn, crs: str) -> bool:
    """True when operators/crs.py has an analytic builder for ``crs``
    (fn = forward or inverse); False → the family is outside the
    registry and only the walk / cell-join / pyproj-UDF paths apply."""
    try:
        fn(crs)
        return True
    except NotImplementedError:
        return False


def choose_method(img: GeoImage, target: AreaDefinition) -> str:
    """Strategy dispatch for ``resample(method="auto")``, mirroring the
    reference's create_gradient_search_resampler selection
    (gradient/__init__.py:54-60: gridded source → blockwise resampler,
    swath source → stacking walk) plus the analytic shortcut the
    reference cannot take:

    1. gridded source AND analytic inverse(target) ∘ forward(source)
       available → ``"regrid"`` (pure column math, one equi-join —
       strictly cheaper than any iterative walk);
    2. dense (row, col)-indexed source with per-pixel lon/lat AND an
       analytic forward for the target CRS → ``"gradient"`` (the walk
       needs only the forward transform, covering targets whose
       inverse is not in the registry);
    3. lon/lat source with an analytic inverse for the target →
       ``"nearest"`` (cell-bucketed kNN join — the fully general
       path; the target grid must still invert to lon/lat probes);
    4. a target CRS with no analytic transform at all cannot be
       served natively — raise the actionable error HERE at dispatch
       time instead of deep inside plan construction (the general
       pyproj pandas-UDF path, operators/proj_udf.py, is the
       escape hatch when pyproj is installed).
    """
    from pyresample_spark.operators.crs import forward, inverse

    if (
        img.area is not None
        and _analytic(inverse, target.crs)
        and _analytic(forward, img.area.crs)
    ):
        return "regrid"
    has_grid_index = {"row", "col", "lon", "lat"} <= set(img.df.columns)
    if has_grid_index and _analytic(forward, target.crs):
        return "gradient"
    if _analytic(inverse, target.crs):
        return "nearest"
    raise NotImplementedError(
        f"no native strategy for target CRS {target.crs!r}: it is "
        "outside the analytic registry (operators/crs.py), so neither "
        "the regrid shortcut, the gradient walk (needs a (row, col) "
        "lon/lat source grid), nor the kNN probe (needs the target "
        "inverse) applies — use the pyproj pandas-UDF path "
        "(operators/proj_udf.py) where pyproj is available"
    )


def _src_keyed(img: GeoImage, key_col: str | None = None) -> DataFrame:
    """Source frame with a unique BIGINT ``src_id`` — WITHOUT
    materialization when a natural key exists (VERDICT r3 item 6):

    1. caller-supplied ``key_col`` (must be a unique integer — e.g.
       ``event_id``; knn_join's in-aggregate id-range guard raises on
       ids too large for the packed top-k rather than corrupting),
    2. gridded images pack ``row·width + col`` — dense in [0, W·H),
    3. only keyless irregular swaths fall back to ``with_compact_id``
       (which localCheckpoints to pin ids — the expensive path; at
       100 TB callers should pass a natural key instead).
    """
    df = img.df
    if key_col is not None:
        if key_col == "src_id":
            return df
        # Cheap distributed guard (ADVICE r4): a NULL or non-integer key
        # would become a NULL src_id and silently corrupt the value
        # re-join in _nearest/_bilinear; raise in the first offending
        # task instead (try_cast so ANSI string-cast errors also route
        # through this one message). Uniqueness stays documented-only —
        # a full check would cost a shuffle per resample.
        key = F.col(key_col).try_cast("long")
        return df.withColumn(
            "src_id",
            F.when(key.isNotNull(), key).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"key_col {key_col!r} is not "
                              "integer-castable: "),
                        F.coalesce(F.col(key_col).cast("string"),
                                   F.lit("NULL")),
                    )
                )
            ),
        )
    if img.area is not None and {"row", "col"}.issubset(df.columns):
        return df.withColumn(
            "src_id",
            (F.col("row") * img.area.width + F.col("col")).cast("long"),
        )
    return with_compact_id(df, "src_id")


@register_resampler("bucket_avg")
def _bucket_avg(img: GeoImage, target: AreaDefinition, value_col="value"):
    from pyresample_spark.operators.bucket import BucketResampler

    r = BucketResampler(img.df, target, x_col="lon", y_col="lat")
    return r.get_average(value_col).select(
        "cell_id", F.col("avg_value").alias("value")
    )


@register_resampler("nearest")
def _nearest(
    img: GeoImage,
    target: AreaDefinition,
    radius_m: float = 50_000.0,
    value_col="value",
    fill=None,
    key_col: str | None = None,
    approx: bool = False,
):
    """``approx=True`` switches the cell join to the shift2
    approximate tier (operators/knn.py) — the facade spelling of the
    reference's ``epsilon`` accuracy/speed knob; measure acceptability
    with the q_knn_approx_recall pattern before shipping results."""
    from pyresample_spark.operators.knn import knn_join

    src = _src_keyed(img, key_col)
    tgt = grid_lonlat(target, img.df.sparkSession, "tgt_id")
    nn = knn_join(
        src, tgt, radius_m, k=1,
        neighbor_scheme="shift2" if approx else "c27",
    )
    joined = nn.join(src.select("src_id", value_col), "src_id")
    out = joined.select(
        F.col("tgt_id").alias("cell_id"), F.col(value_col).alias("value")
    )
    if fill is not None:
        grid = target.grid(img.df.sparkSession).select("cell_id")
        # shuffle_hash on the values side: the fill join would otherwise
        # plan SortMergeJoin (sorting BOTH sides); hash-building on the
        # ≤1-row-per-cell values side needs no sort at any grid scale,
        # and AQE still broadcasts it when truly small.
        out = grid.join(out.hint("shuffle_hash"), "cell_id", "left").select(
            "cell_id", F.coalesce("value", F.lit(fill)).alias("value")
        )
    return out


@register_resampler("gauss")
def _gauss(
    img: GeoImage,
    target: AreaDefinition,
    radius_m: float = 50_000.0,
    sigma: float = 25_000.0,
    k: int = 8,
    value_col="value",
    key_col: str | None = None,
    approx: bool = False,
):
    """``approx=True`` routes the candidate join through the shift2
    approximate tier (it emits each candidate pair once, so the same
    top-k and sums run) — the same epsilon-style knob as nearest."""
    from pyresample_spark.operators.knn import knn_gauss_fold

    # fused top-k + weighted sums (no value re-join); the window top-k
    # has no packed-id range precondition, so any caller-supplied
    # natural key works unchanged
    src = _src_keyed(img, key_col)
    tgt = grid_lonlat(target, img.df.sparkSession, "tgt_id")
    sums = knn_gauss_fold(
        src, tgt, radius_m, k=k, sigma=sigma, value_col=value_col,
        neighbor_scheme="shift2" if approx else "c27",
    )
    return sums.select(
        F.col("tgt_id").alias("cell_id"),
        (F.col("swv") / F.col("v1")).alias("value"),
    )


@register_resampler("ewa")
def _ewa(img: GeoImage, target: AreaDefinition, value_col="value", **kw):
    from pyresample_spark.operators.ewa import ewa_fornav

    return ewa_fornav(img.df, target, value_col=value_col, **kw).select(
        "cell_id", F.col("ewa_value").alias("value")
    )


@register_resampler("bilinear")
def _bilinear(
    img: GeoImage,
    target: AreaDefinition,
    radius_m: float = 100_000.0,
    value_col="value",
    key_col: str | None = None,
    approx: bool = False,
):
    """``approx=True`` routes the 32-NN candidate stage through the
    shift2 approximate tier (it emits each candidate pair once, so
    the same corner pick runs, ids in the same packable range) — the
    same epsilon-style knob as the nearest/gauss facades; a target
    whose corner candidates straddle both shifted grids' walls may
    solve from a slightly different quadrant pick or drop out, so
    measure with the q_knn_approx_recall pattern before shipping
    results."""
    from pyresample_spark.operators.bilinear_irregular import bilinear_irregular

    src = _src_keyed(img, key_col)
    out = bilinear_irregular(
        src.select("src_id", "lon", "lat", F.col(value_col).alias("value")),
        grid_lonlat(target, img.df.sparkSession, "tgt_id"),
        radius_m,
        neighbor_scheme="shift2" if approx else "c27",
    )
    return out.select(
        F.col("tgt_id").alias("cell_id"),
        F.col("bilinear_value").alias("value"),
    )


@register_resampler("regrid")
def _regrid(img: GeoImage, target: AreaDefinition, value_col="value", **kw):
    """Analytic cross-CRS nearest regrid (operators/crs.py): both areas
    in the analytic family table (operators/crs.py ``_FAMILIES``) → pure
    column-math inverse∘forward + one equi-join. The gradient-search
    replacement for projected grids (gradient/__init__.py:54-60)."""
    from pyresample_spark.operators.crs import regrid_nearest

    if img.area is None:
        raise ValueError("regrid needs a gridded source (from_area)")
    return regrid_nearest(target, img.area, img.df, value_col=value_col)


@register_resampler("gradient")
def _gradient(
    img: GeoImage,
    target: AreaDefinition,
    value_col="value",
    n_iters: int = 8,
    interp: str = "bil",
    swath_shape: tuple | None = None,
    broadcast: bool = True,
):
    """Swath→area via the iterative gradient-search walk
    (operators/gradient_walk.py): needs only the FORWARD projection of
    the target CRS — the walk replaces the inverse — so it covers
    target CRSs whose inverse is not in the analytic registry, the
    exact case the reference built gradient search for
    (gradient/__init__.py:54-60). The source must be a (row, col)-
    indexed DENSE swath grid with lon/lat per pixel.

    ``interp``: "bil"/"bilinear" or "nn"/"nearest" — the reference's
    two gathers. ``broadcast=False`` switches the per-step gradient
    joins to shuffle joins for monster swaths (gradient_walk docs).
    """
    from pyresample_spark.operators.crs import forward
    from pyresample_spark.operators.gradient_walk import gradient_walk

    gathers = {"bil": "bil_value", "bilinear": "bil_value",
               "nn": "nn_value", "nearest": "nn_value"}
    if interp not in gathers:
        raise ValueError(
            f"interp={interp!r}; valid: {sorted(gathers)}"
        )
    df = img.df
    missing = {"row", "col", "lon", "lat"} - set(df.columns)
    if missing:
        raise ValueError(
            "gradient resampling needs a (row, col)-indexed swath grid "
            f"with per-pixel lon/lat; missing columns: {sorted(missing)}"
        )
    if swath_shape is not None:
        h, w = swath_shape
    elif img.area is not None:
        h, w = img.area.height, img.area.width
    else:
        r = df.agg(
            F.max("row").alias("r"), F.max("col").alias("c")
        ).collect()[0]
        if r["r"] is None:
            raise ValueError("gradient resampling got an EMPTY swath")
        h, w = r["r"] + 1, r["c"] + 1
    sx, sy = forward(target.crs)("lon", "lat")
    src = df.select(
        F.col("row").alias("l"),
        F.col("col").alias("p"),
        sx.alias("sx"),
        sy.alias("sy"),
        F.col(value_col).alias("value"),
    )
    tgt = target.grid(df.sparkSession).select(
        F.col("cell_id").alias("tgt_id"),
        F.col("cx").alias("dstx"),
        F.col("cy").alias("dsty"),
    )
    out = gradient_walk(
        tgt, src, lmax=h - 1, pmax=w - 1, n_iters=n_iters,
        broadcast=broadcast,
    )
    return out.select(
        F.col("tgt_id").alias("cell_id"),
        F.col(gathers[interp]).alias("value"),
    )
