"""M1 queries: scalar/geo column library (SURVEY.md §2.2, §2.8).

All pure built-in column expressions — JVM-side, WholeStageCodegen, no
Python in the data path. Inputs are the events table with FIXTURES.md §3
derived lon/lat so Spark and DuckDB compute identical values.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pyresample_spark.functions.geo import (
    DERIVED_LAT_SQL,
    DERIVED_LON_SQL,
    R_EARTH,
    eqc_x,
    eqc_y,
    haversine_m,
    haversine_sql,
    lonlat2xyz,
    round_to_resolution,
    wrap_longitude,
)
from pyresample_spark.queries import register, rnd, rnd_sql, table
from pyresample_spark.queries.core import TEST_AREA

# Shared derived-point input (FIXTURES.md §3).
PTS_SQL = (
    "SELECT event_id, user_id, event_type, value, "
    f"{DERIVED_LON_SQL} AS lon, {DERIVED_LAT_SQL} AS lat FROM events"
)


def _pts(spark, sf_dir, spread: bool = True):
    """Events-derived points. ``spread=True`` applies the adaptive
    scan-spread (queries.table r17-opt): the events file is a single
    parquet row group, so without it every per-row projection in this
    module runs as ONE task. The kNN family opts out (joins._src) —
    its source feeds a broadcast build where a repartition would only
    add an exchange."""
    from pyresample_spark.operators.bucket import events_points
    from pyresample_spark.queries import _spread_parts

    pts = events_points(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "lon", "lat"
    )
    if spread:
        import os as _os

        n = _spread_parts(
            _os.path.join(sf_dir, "events.parquet"),
            spark.sparkContext.defaultParallelism,
        )
        if n:
            pts = pts.repartition(n)
    return pts


@register(
    "q_lonlat2xyz",
    oracle=f"""
    SELECT event_id,
           ROUND(cos(radians(lat)) * cos(radians(lon)), 6) + 0.0 AS gx,
           ROUND(cos(radians(lat)) * sin(radians(lon)), 6) + 0.0 AS gy,
           ROUND(sin(radians(lat)), 6) + 0.0 AS gz
    FROM ({PTS_SQL})
    """,
)
def q_lonlat2xyz(spark, sf_dir):
    """lon/lat → unit-sphere geocentric xyz
    (_transform_utils.py:1-33)."""
    x, y, z = lonlat2xyz("lon", "lat")
    return _pts(spark, sf_dir).select(
        "event_id",
        rnd(x, 6).alias("gx"),
        rnd(y, 6).alias("gy"),
        rnd(z, 6).alias("gz"),
    )


@register(
    "q_haversine",
    oracle=f"""
    SELECT event_id,
           ROUND({haversine_sql('lon', 'lat', '10.0', '55.0')}, 3) + 0.0 AS dist_m
    FROM ({PTS_SQL})
    """,
)
def q_haversine(spark, sf_dir):
    """Great-circle distance to a fixed point (spherical.py:80-98)."""
    d = haversine_m("lon", "lat", F.lit(10.0), F.lit(55.0))
    return _pts(spark, sf_dir).select(
        "event_id", rnd(d, 3).alias("dist_m")
    )


@register(
    "q_proj_eqc",
    oracle=f"""
    SELECT event_id,
           ROUND({R_EARTH!r} * radians(lon), 3) + 0.0 AS px,
           ROUND({R_EARTH!r} * radians(lat), 3) + 0.0 AS py
    FROM ({PTS_SQL})
    """,
)
def q_proj_eqc(spark, sf_dir):
    """Equirectangular forward projection as pure column math (the
    analytic-CRS native path; general CRSs use the pandas-UDF wrapper)."""
    return _pts(spark, sf_dir).select(
        "event_id",
        rnd(eqc_x("lon"), 3).alias("px"),
        rnd(eqc_y("lat"), 3).alias("py"),
    )


@register(
    "q_lonlat_to_cell",
    oracle=f"""
    SELECT event_id,
           CASE WHEN r BETWEEN 0 AND {TEST_AREA.height - 1}
                 AND c BETWEEN 0 AND {TEST_AREA.width - 1}
                THEN CAST(r AS BIGINT) END AS cell_row,
           CASE WHEN r BETWEEN 0 AND {TEST_AREA.height - 1}
                 AND c BETWEEN 0 AND {TEST_AREA.width - 1}
                THEN CAST(c AS BIGINT) END AS cell_col,
           CASE WHEN r BETWEEN 0 AND {TEST_AREA.height - 1}
                 AND c BETWEEN 0 AND {TEST_AREA.width - 1}
                THEN CAST(r * {TEST_AREA.width} + c AS BIGINT) END AS cell_id
    FROM (
      SELECT event_id,
             CAST(FLOOR((lon - ({TEST_AREA.area_extent[0]!r})) / {TEST_AREA.pixel_size_x!r}) AS BIGINT) AS c,
             CAST(FLOOR(({TEST_AREA.area_extent[3]!r} - lat) / {TEST_AREA.pixel_size_y!r}) AS BIGINT) AS r
      FROM ({PTS_SQL})
    )
    """,
)
def q_lonlat_to_cell(spark, sf_dir):
    """lonlat → array index affine math with out-of-bounds → NULL
    (geometry.py:2195-2336, masked-int decorator geometry.py:1456-1482)."""
    pts = _pts(spark, sf_dir)
    r = TEST_AREA.row_from_y(F.col("lat"))
    c = TEST_AREA.col_from_x(F.col("lon"))
    ok = TEST_AREA.in_bounds(r, c)
    return pts.select(
        "event_id",
        F.when(ok, r).alias("cell_row"),
        F.when(ok, c).alias("cell_col"),
        F.when(ok, r * TEST_AREA.width + c).alias("cell_id"),
    )


@register(
    "q_wrap_lons",
    oracle=f"""
    SELECT event_id,
           ROUND(((lon * 3.0 + 180.0) % 360.0 + 360.0) % 360.0 - 180.0, 6) + 0.0 AS wrapped_lon
    FROM ({PTS_SQL})
    WHERE lat BETWEEN -90.0 AND 90.0
    """,
)
def q_wrap_lons(spark, sf_dir):
    """wrap_longitudes + check_and_wrap validity filter
    (utils/__init__.py:186-227); lon*3 manufactures out-of-range input."""
    pts = _pts(spark, sf_dir)
    return pts.filter((F.col("lat") >= -90.0) & (F.col("lat") <= 90.0)).select(
        "event_id",
        rnd(wrap_longitude(F.col("lon") * 3.0), 6).alias("wrapped_lon"),
    )


@register(
    "q_round_resolution",
    oracle="""
    SELECT o_orderkey,
           500.0 * ROUND(o_totalprice / 500.0) AS snapped
    FROM orders
    """,
)
def q_round_resolution(spark, sf_dir):
    """Snap to resolution grid (bucket/__init__.py:480-497)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        round_to_resolution(F.col("o_totalprice"), 500.0).alias("snapped"),
    )


@register(
    "q_math_suite",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(sin(l_discount) + cos(l_tax), 6) + 0.0 AS trig,
           ROUND(atan2(l_discount, l_tax + 0.01), 6) + 0.0 AS at2,
           CAST(FLOOR(l_quantity / 7.0) AS BIGINT) AS fl,
           CAST(CAST(l_quantity AS BIGINT) % 7 AS BIGINT) AS md,
           ROUND(exp(l_discount) * ln(l_quantity + 1.0), 6) + 0.0 AS explog,
           ROUND(pow(l_tax + 1.0, 2.5), 6) + 0.0 AS pw,
           ROUND(sqrt(l_extendedprice), 6) + 0.0 AS sq,
           CAST(sign(l_discount - 0.05) AS BIGINT) AS sg,
           ROUND(least(l_discount, l_tax), 6) + 0.0 AS lst,
           ROUND(greatest(l_discount, l_tax), 6) + 0.0 AS grt
    FROM lineitem
    """,
)
def q_math_suite(spark, sf_dir):
    """One SELECT exercising the trig/floor/mod/exp/log scalar stack
    (SURVEY §2.8)."""
    li = table(spark, sf_dir, "lineitem")
    d, t, q = F.col("l_discount"), F.col("l_tax"), F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd(F.sin(d) + F.cos(t), 6).alias("trig"),
        rnd(F.atan2(d, t + 0.01), 6).alias("at2"),
        F.floor(q / 7.0).alias("fl"),
        (q.cast("bigint") % 7).alias("md"),
        rnd(F.exp(d) * F.log(q + 1.0), 6).alias("explog"),
        rnd(F.pow(t + 1.0, 2.5), 6).alias("pw"),
        rnd(F.sqrt("l_extendedprice"), 6).alias("sq"),
        F.signum(d - 0.05).cast("bigint").alias("sg"),
        rnd(F.least(d, t), 6).alias("lst"),
        rnd(F.greatest(d, t), 6).alias("grt"),
    )


@register(
    "q_geocentric_res",
    oracle=f"""
    WITH pts AS ({PTS_SQL}),
    spacing AS (
      SELECT event_id,
             {haversine_sql('lon', 'lat', 'lead(lon) OVER w', 'lead(lat) OVER w')} AS d
      FROM pts
      WINDOW w AS (ORDER BY event_id)
    ),
    binned AS (
      SELECT CAST(FLOOR(d / 100000.0) AS BIGINT) AS bin,
             CAST(ROUND(d * 1000.0) AS BIGINT) AS d_mm
      FROM spacing WHERE d IS NOT NULL
    ),
    hist AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d_mm) AS BIGINT) AS sum_mm
      FROM binned GROUP BY bin
    )
    SELECT bin AS dominant_bin, n AS bin_count,
           ROUND(sum_mm / n / 1000.0, 6) + 0.0 AS avg_dist_m
    FROM hist
    QUALIFY row_number() OVER (ORDER BY n DESC, bin ASC) = 1
    """,
)
def q_geocentric_res(spark, sf_dir):
    """Geocentric resolution estimate: histogram of consecutive point
    spacing → dominant bin average (geometry.py:2691-2764).

    The reference's np.histogram + argmax becomes groupBy(bin).count()
    + row_number; the bin average uses exact integer-mm sums so the
    result is order-insensitive. The spacing sits behind a Generate
    barrier: the IS NOT NULL filter would otherwise carry an inlined
    copy of the haversine (functions/exprs.py generate_barrier)."""
    from pyresample_spark.functions.exprs import generate_barrier

    pts = _pts(spark, sf_dir)
    w = W.orderBy("event_id")
    nxt = pts.select(
        "lon", "lat",
        F.lead("lon").over(w).alias("lon2"),
        F.lead("lat").over(w).alias("lat2"),
    )
    spacing = generate_barrier(
        nxt, [], [("d", haversine_m("lon", "lat", "lon2", "lat2"))], "h"
    ).select(F.col("h.d").alias("d")).filter(F.col("d").isNotNull())
    binned = spacing.select(
        F.floor(F.col("d") / 100000.0).alias("bin"),
        rnd(F.col("d") * 1000.0, 0).cast("bigint").alias("d_mm"),
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("d_mm").alias("sum_mm")
    )
    top = hist.withColumn(
        "rn",
        F.row_number().over(W.orderBy(F.col("n").desc(), F.col("bin").asc())),
    ).filter(F.col("rn") == 1)
    return top.select(
        F.col("bin").alias("dominant_bin"),
        F.col("n").alias("bin_count"),
        F.round(F.col("sum_mm") / F.col("n") / 1000.0, 6).alias("avg_dist_m"),
    )


@register(
    "q_gradient_lead_lag",
    oracle="""
    SELECT event_id,
           ROUND(
             (COALESCE(lead(value) OVER w, value) - COALESCE(lag(value) OVER w, value))
             / (CASE WHEN lead(value) OVER w IS NULL OR lag(value) OVER w IS NULL
                     THEN 1.0 ELSE 2.0 END), 6) + 0.0 AS grad
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def q_gradient_lead_lag(spark, sf_dir):
    """np.gradient as lead/lag central difference with one-sided edges
    (gradient/__init__.py:357-358)."""
    from pyresample_spark.operators.bucket import load_events

    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("event_id")
    lead_v, lag_v = F.lead("value").over(w), F.lag("value").over(w)
    denom = F.when(lead_v.isNull() | lag_v.isNull(), 1.0).otherwise(2.0)
    grad = (
        F.coalesce(lead_v, F.col("value")) - F.coalesce(lag_v, F.col("value"))
    ) / denom
    return ev.select("event_id", rnd(grad, 6).alias("grad"))


@register(
    "q_proj_stere",
    oracle=(lambda _sx: f"""
    SELECT event_id,
           ROUND({_sx[0]}, 3) + 0.0 AS sx,
           ROUND({_sx[1]}, 3) + 0.0 AS sy
    FROM ({PTS_SQL}) WHERE lat < -30.0
    """)(__import__('pyresample_spark.functions.geo', fromlist=['stere_polar_sql']).stere_polar_sql('lon', 'lat', lat_ts=-70.0, lon_0=0.0, north=False)),
)
def q_proj_stere(spark, sf_dir):
    """South polar stereographic forward projection (true scale −70°,
    the EPSG:3976-style Antarctic grid) as pure column math — Snyder
    spherical equations replace the pyproj C library for this CRS
    family (SURVEY §2.2 pyproj row; no UDF, fully codegen'd)."""
    from pyresample_spark.functions.geo import stere_polar_x, stere_polar_y

    return (
        _pts(spark, sf_dir)
        .filter(F.col("lat") < -30.0)
        .select(
            "event_id",
            rnd(stere_polar_x("lon", "lat", lat_ts=-70.0, north=False), 3).alias("sx"),
            rnd(stere_polar_y("lon", "lat", lat_ts=-70.0, north=False), 3).alias("sy"),
        )
    )


@register(
    "q_proj_laea",
    oracle=(lambda _sx: f"""
    SELECT event_id,
           ROUND({_sx[0]}, 3) + 0.0 AS lx,
           ROUND({_sx[1]}, 3) + 0.0 AS ly
    FROM ({PTS_SQL}) WHERE lat < -30.0
    """)(__import__('pyresample_spark.functions.geo', fromlist=['laea_sql']).laea_sql('lon', 'lat', lat_0=-90.0, lon_0=0.0)),
)
def q_proj_laea(spark, sf_dir):
    """Lambert azimuthal equal-area forward projection (lat_0=−90: the
    ease_sh EASE-grid of the reference's areas.cfg test fixtures) as
    column math — Snyder 24-2..24-4 spherical."""
    from pyresample_spark.functions.geo import laea_x, laea_y

    return (
        _pts(spark, sf_dir)
        .filter(F.col("lat") < -30.0)
        .select(
            "event_id",
            rnd(laea_x("lon", "lat", lat_0=-90.0), 3).alias("lx"),
            rnd(laea_y("lon", "lat", lat_0=-90.0), 3).alias("ly"),
        )
    )


@register(
    "q_proj_merc",
    oracle=(lambda _sx: f"""
    SELECT event_id,
           ROUND({_sx[0]}, 3) + 0.0 AS mx,
           ROUND({_sx[1]}, 3) + 0.0 AS my
    FROM ({PTS_SQL}) WHERE lat > -85.0 AND lat < 85.0
    """)(__import__('pyresample_spark.functions.geo', fromlist=['merc_sql']).merc_sql('lon', 'lat', lat_ts=20.0, lon_0=0.0)),
)
def q_proj_merc(spark, sf_dir):
    """Mercator forward projection (secant at lat_ts=20°) as pure column
    math — Snyder 7-1..7-5 spherical replaces pyproj for the merc family
    (reference delegates via utils/proj4.py:108-165; analytic registry
    operators/crs.py dispatches '+proj=merc'). Poles excluded: y → ∞."""
    from pyresample_spark.functions.geo import merc_x, merc_y

    return (
        _pts(spark, sf_dir)
        .filter((F.col("lat") > -85.0) & (F.col("lat") < 85.0))
        .select(
            "event_id",
            rnd(merc_x("lon", lat_ts=20.0), 3).alias("mx"),
            rnd(merc_y("lat", lat_ts=20.0), 3).alias("my"),
        )
    )


@register(
    "q_proj_aea",
    oracle=(lambda _sx: f"""
    SELECT event_id,
           ROUND({_sx[0]}, 3) + 0.0 AS ax,
           ROUND({_sx[1]}, 3) + 0.0 AS ay
    FROM ({PTS_SQL})
    """)(__import__('pyresample_spark.functions.geo', fromlist=['aea_sql']).aea_sql('lon', 'lat', lat_1=29.5, lat_2=45.5, lat_0=23.0, lon_0=-96.0)),
)
def q_proj_aea(spark, sf_dir):
    """Albers equal-area conic forward projection (CONUS Albers
    parallels 29.5°/45.5°, the EPSG:5070-style national grid) as pure
    column math — Snyder 14-1..14-4 spherical. The most-used conic
    after LCC; the reference reaches aea only through pyproj
    (utils/proj4.py:108-165) — here it joins the analytic registry
    (operators/crs.py '+proj=aea'), fully codegen'd, no UDF."""
    from pyresample_spark.functions.geo import aea_xy

    ax, ay = aea_xy("lon", "lat", lat_1=29.5, lat_2=45.5,
                    lat_0=23.0, lon_0=-96.0)
    return _pts(spark, sf_dir).select(
        "event_id", rnd(ax, 3).alias("ax"), rnd(ay, 3).alias("ay")
    )


@register(
    "q_proj_eqdc",
    oracle=(lambda _sx: f"""
    SELECT event_id,
           ROUND({_sx[0]}, 3) + 0.0 AS ex,
           ROUND({_sx[1]}, 3) + 0.0 AS ey
    FROM ({PTS_SQL})
    """)(__import__('pyresample_spark.functions.geo', fromlist=['eqdc_sql']).eqdc_sql('lon', 'lat', lat_1=20.0, lat_2=60.0, lat_0=40.0, lon_0=-96.0)),
)
def q_proj_eqdc(spark, sf_dir):
    """Equidistant conic forward projection (parallels 20°/60°) as pure
    column math — Snyder 16-1..16-4 spherical: the simple conic with
    equally-spaced parallels. Completes the conic trio (lcc conformal /
    aea equal-area / eqdc equidistant) in the analytic registry
    (operators/crs.py '+proj=eqdc')."""
    from pyresample_spark.functions.geo import eqdc_xy

    ex, ey = eqdc_xy("lon", "lat", lat_1=20.0, lat_2=60.0,
                     lat_0=40.0, lon_0=-96.0)
    return _pts(spark, sf_dir).select(
        "event_id", rnd(ex, 3).alias("ex"), rnd(ey, 3).alias("ey")
    )


@register(
    "q_proj_moll",
    oracle=(lambda _sx: f"""
    SELECT event_id,
           ROUND({_sx[0]}, 3) + 0.0 AS mx,
           ROUND({_sx[1]}, 3) + 0.0 AS my
    FROM ({PTS_SQL})
    """)(__import__('pyresample_spark.functions.geo', fromlist=['moll_sql']).moll_sql('lon', 'lat', lon_0=0.0)),
)
def q_proj_moll(spark, sf_dir):
    """Mollweide forward projection as pure column math — Snyder
    31-1..31-5 spherical. The auxiliary angle 2θ (transcendental:
    t + sin t = π sin φ) is solved by a 12-step Newton fold expressed
    as F.aggregate over a constant array — an ITERATIVE projection with
    no UDF and no driver loop; DuckDB's oracle runs the identical fold
    via list_reduce, so the iterate is engine-identical (verified
    <2e-9 m cross-engine). Poles short-circuit (double root)."""
    from pyresample_spark.functions.geo import moll_xy

    mx, my = moll_xy("lon", "lat", lon_0=0.0)
    return _pts(spark, sf_dir).select(
        "event_id", rnd(mx, 3).alias("mx"), rnd(my, 3).alias("my")
    )


@register(
    "q_proj_robin",
    oracle=(lambda _sx: f"""
    SELECT event_id,
           ROUND({_sx[0]}, 3) + 0.0 AS rx,
           ROUND({_sx[1]}, 3) + 0.0 AS ry
    FROM ({PTS_SQL})
    """)(__import__('pyresample_spark.functions.geo', fromlist=['robin_sql']).robin_sql('lon', 'lat', lon_0=0.0)),
)
def q_proj_robin(spark, sf_dir):
    """Robinson forward projection (the world-map compromise
    projection) as pure column math: Robinson's 1974 5°-spaced table
    (Snyder Table 32) embedded as literal arrays, 1-based element_at
    lookup + linear interpolation between rows — a table-interpolated
    projection with no join and no UDF (DuckDB twin: list_extract).
    Documented deviation: linear segments instead of PROJ's Stirling
    cubic (~0.1%); the reference reaches robin only through pyproj."""
    from pyresample_spark.functions.geo import robin_xy

    rx, ry = robin_xy("lon", "lat", lon_0=0.0)
    return _pts(spark, sf_dir).select(
        "event_id", rnd(rx, 3).alias("rx"), rnd(ry, 3).alias("ry")
    )


@register(
    "q_proj_stere_oblique",
    oracle=(lambda _sx: f"""
    SELECT event_id,
           ROUND({_sx[0]}, 3) + 0.0 AS ox,
           ROUND({_sx[1]}, 3) + 0.0 AS oy
    FROM ({PTS_SQL}) WHERE lat > -60.0 AND lat < 80.0
      AND sin(radians(52.0)) * sin(radians(lat))
        + cos(radians(52.0)) * cos(radians(lat))
          * cos(radians(lon - 10.0)) > -0.99
    """)(__import__('pyresample_spark.functions.geo', fromlist=['stere_oblique_sql']).stere_oblique_sql('lon', 'lat', lat_0=52.0, lon_0=10.0, k0=0.9999)),
)
def q_proj_stere_oblique(spark, sf_dir):
    """OBLIQUE stereographic forward projection (center 52°N 10°E,
    k0=0.9999 — the RD/Europe-style oblique aspect) as pure column
    math — Snyder 21-2..21-4 spherical. Removes the polar-aspect-only
    restriction the round-3 registry had (operators/crs.py raised
    NotImplementedError for |lat_0| ≠ 90; the reference reaches these
    through pyproj). Points within ~8.1° of the antipode (52°S 170°W)
    are excluded by an angular-distance filter cos(c) > -0.99 (i.e.
    kden > 0.01) in BOTH engines: near the antipode kden → 0 and x,y
    scale as 1/kden, so last-ulp libm differences blow past the
    ROUND(,3) hash quantization (the lat band alone does NOT exclude
    the antipode — ADVICE r4)."""
    from pyresample_spark.functions.geo import stere_oblique_xy

    ox, oy = stere_oblique_xy("lon", "lat", lat_0=52.0, lon_0=10.0,
                              k0=0.9999)
    cos_c = (
        F.sin(F.radians(F.lit(52.0))) * F.sin(F.radians("lat"))
        + F.cos(F.radians(F.lit(52.0))) * F.cos(F.radians("lat"))
          * F.cos(F.radians(F.col("lon") - F.lit(10.0)))
    )
    return (
        _pts(spark, sf_dir)
        .filter((F.col("lat") > -60.0) & (F.col("lat") < 80.0))
        .filter(cos_c > F.lit(-0.99))
        .select(
            "event_id", rnd(ox, 3).alias("ox"), rnd(oy, 3).alias("oy")
        )
    )


@register(
    "q_vincenty",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, lon, lat,
             lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
      FROM ({PTS_SQL})
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    )
    SELECT event_id,
           ROUND({R_EARTH!r} * atan2(
             sqrt(pow(cos(radians(lat)) * sin(radians(lon - plon)), 2)
                + pow(cos(radians(plat)) * sin(radians(lat))
                    - sin(radians(plat)) * cos(radians(lat))
                      * cos(radians(lon - plon)), 2)),
             sin(radians(plat)) * sin(radians(lat))
             + cos(radians(plat)) * cos(radians(lat))
               * cos(radians(lon - plon))
           ), 3) + 0.0 AS step_m
    FROM p WHERE plon IS NOT NULL
    """,
)
def q_vincenty(spark, sf_dir):
    """Vincenty (spherical) great-circle distance between each user's
    CONSECUTIVE points — the atan2 form that stays numerically exact at
    antipodal and near-zero separations where haversine's asin
    saturates (reference: `_vincenty_matrix` spherical.py:57-78; the
    haversine twin is q_haversine). lag() pairs the track points; the
    distance itself is pure column math, codegen'd."""
    pts = _pts(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("event_id")
    p = (
        pts.withColumn("plon", F.lag("lon").over(w))
        .withColumn("plat", F.lag("lat").over(w))
        .filter(F.col("plon").isNotNull())
    )
    lat1, lat2 = F.radians(F.col("plat")), F.radians(F.col("lat"))
    dlon = F.radians(F.col("lon") - F.col("plon"))
    num = F.sqrt(
        F.pow(F.cos(lat2) * F.sin(dlon), 2)
        + F.pow(
            F.cos(lat1) * F.sin(lat2)
            - F.sin(lat1) * F.cos(lat2) * F.cos(dlon),
            2,
        )
    )
    den = F.sin(lat1) * F.sin(lat2) + F.cos(lat1) * F.cos(lat2) * F.cos(dlon)
    return p.select(
        "event_id", rnd(R_EARTH * F.atan2(num, den), 3).alias("step_m")
    )


# --- q_proj_omerc: PROJ-exact oblique Mercator forward ----------------
# The same fitted track frame q_regrid_omerc uses (center 25°N 10°E,
# azimuth 40°), but with PROJ omerc's spherical MERCATOR cross-track
# y = R·atanh(p·e3) instead of the fitted-bb equidistant R·asin —
# closing the last documented deviation from PROJ's omerc geometry
# (reference geometry.py:1019-1040 emits these CRS strings for pyproj
# to evaluate; here both cross-track modes are native column math).

def _omerc_q_frame():
    from pyresample_spark.functions.geo import omerc_frame

    return omerc_frame(25.0, 10.0, 40.0)


@register(
    "q_proj_omerc",
    oracle=(lambda xy, e3: f"""
    SELECT event_id,
           ROUND({xy[0]}, 3) + 0.0 AS mx,
           ROUND({xy[1]}, 3) + 0.0 AS my
    FROM ({PTS_SQL})
    WHERE abs(cos(radians(lat)) * cos(radians(lon)) * {e3[0]!r}
            + cos(radians(lat)) * sin(radians(lon)) * {e3[1]!r}
            + sin(radians(lat)) * {e3[2]!r}) < 0.98
    """)(
        __import__(
            "pyresample_spark.functions.geo", fromlist=["omerc_sql"]
        ).omerc_sql(
            "lon", "lat",
            __import__(
                "pyresample_spark.functions.geo", fromlist=["omerc_frame"]
            ).omerc_frame(25.0, 10.0, 40.0),
            cross_track="mercator",
        ),
        __import__(
            "pyresample_spark.functions.geo", fromlist=["omerc_frame"]
        ).omerc_frame(25.0, 10.0, 40.0)[2],
    ),
)
def q_proj_omerc(spark, sf_dir):
    """Oblique Mercator forward with PROJ's EXACT spherical cross-track
    geometry: along-track x = R·atan2(p·e2, p·e1), cross-track
    y = R·atanh(p·e3) (conformal aposphere — functions/geo.py omerc_xy
    cross_track='mercator'; atanh spelled as ln on both engines).
    Points within ~11.5° of the frame poles (|p·e3| ≥ 0.98) are
    excluded in BOTH engines: d atanh/dz = 1/(1−z²) amplifies last-ulp
    libm differences without bound toward |z| → 1 (the same guard
    family as q_proj_stere_oblique's antipode cap)."""
    from pyresample_spark.functions.geo import omerc_xy

    frame = _omerc_q_frame()
    e3 = frame[2]
    mx, my = omerc_xy("lon", "lat", frame, cross_track="mercator")
    dot3 = (
        F.cos(F.radians("lat")) * F.cos(F.radians("lon")) * F.lit(e3[0])
        + F.cos(F.radians("lat")) * F.sin(F.radians("lon")) * F.lit(e3[1])
        + F.sin(F.radians("lat")) * F.lit(e3[2])
    )
    return (
        _pts(spark, sf_dir)
        .filter(F.abs(dot3) < 0.98)
        .select(
            "event_id", rnd(mx, 3).alias("mx"), rnd(my, 3).alias("my")
        )
    )


@register(
    "q_proj_aeqd",
    oracle=(lambda xy: f"""
    SELECT event_id,
           ROUND({xy[0]}, 3) + 0.0 AS ax,
           ROUND({xy[1]}, 3) + 0.0 AS ay
    FROM ({PTS_SQL})
    WHERE sin(radians(48.0)) * sin(radians(lat))
        + cos(radians(48.0)) * cos(radians(lat))
          * cos(radians(lon - 2.0)) > -0.99
    """)(__import__('pyresample_spark.functions.geo',
                    fromlist=['aeqd_sql']).aeqd_sql(
        'lon', 'lat', lat_0=48.0, lon_0=2.0)),
)
def q_proj_aeqd(spark, sf_dir):
    """Azimuthal equidistant forward projection (center 48°N 2°E — the
    ground-station/local-area aspect; Snyder 25-1..25-4 spherical) as
    pure column math, with the removable c→0 singularity of
    k' = c/sin c handled by an identical CASE branch on both engines.
    Points within ~8.1° of the antipode (48°S 178°W) are excluded by
    the same cos(c) > -0.99 angular-distance cap as
    q_proj_stere_oblique: k' ~ π/(π−c) amplifies last-ulp libm
    differences toward the antipode (the reference reaches aeqd only
    through pyproj)."""
    from pyresample_spark.functions.geo import aeqd_xy

    ax, ay = aeqd_xy("lon", "lat", lat_0=48.0, lon_0=2.0)
    cos_c = (
        F.sin(F.radians(F.lit(48.0))) * F.sin(F.radians("lat"))
        + F.cos(F.radians(F.lit(48.0))) * F.cos(F.radians("lat"))
          * F.cos(F.radians(F.col("lon") - F.lit(2.0)))
    )
    return (
        _pts(spark, sf_dir)
        .filter(cos_c > F.lit(-0.99))
        .select(
            "event_id", rnd(ax, 3).alias("ax"), rnd(ay, 3).alias("ay")
        )
    )


@register(
    "q_proj_gnom",
    oracle=(lambda xy: f"""
    SELECT event_id,
           ROUND({xy[0]}, 3) + 0.0 AS gx,
           ROUND({xy[1]}, 3) + 0.0 AS gy
    FROM ({PTS_SQL})
    WHERE sin(radians(30.0)) * sin(radians(lat))
        + cos(radians(30.0)) * cos(radians(lat))
          * cos(radians(lon - (-100.0))) > 0.15
    """)(__import__('pyresample_spark.functions.geo',
                    fromlist=['gnom_sql']).gnom_sql(
        'lon', 'lat', lat_0=30.0, lon_0=-100.0)),
)
def q_proj_gnom(spark, sf_dir):
    """Gnomonic forward projection (center 30°N 100°W; Snyder
    22-1..22-5 spherical — great circles map to straight lines, the
    navigation/line-of-sight aspect) as pure column math. The family
    NULL-masks beyond the horizon (cos c ≤ 0, the geos contract); the
    query keeps cos(c) > 0.15 in BOTH engines because k' = 1/cos c
    amplifies last-ulp libm differences without bound toward the
    horizon (the reference reaches gnom only through pyproj)."""
    from pyresample_spark.functions.geo import gnom_xy

    gx, gy = gnom_xy("lon", "lat", lat_0=30.0, lon_0=-100.0)
    cos_c = (
        F.sin(F.radians(F.lit(30.0))) * F.sin(F.radians("lat"))
        + F.cos(F.radians(F.lit(30.0))) * F.cos(F.radians("lat"))
          * F.cos(F.radians(F.col("lon") - F.lit(-100.0)))
    )
    return (
        _pts(spark, sf_dir)
        .filter(cos_c > F.lit(0.15))
        .select(
            "event_id", rnd(gx, 3).alias("gx"), rnd(gy, 3).alias("gy")
        )
    )


@register(
    "q_proj_stere_ell",
    oracle=(lambda xy: f"""
    SELECT event_id,
           ROUND({xy[0]}, 3) + 0.0 AS ex,
           ROUND({xy[1]}, 3) + 0.0 AS ey
    FROM ({PTS_SQL})
    WHERE sin(radians(50.0)) * sin(radians(lat))
        + cos(radians(50.0)) * cos(radians(lat))
          * cos(radians(lon - 8.0)) > -0.99
    """)(__import__('pyresample_spark.functions.geo',
                    fromlist=['stere_ell_sql']).stere_ell_sql(
        'lon', 'lat', lat_0=50.0, a=6378144.0, b=6356759.0, lon_0=8.0)),
)
def q_proj_stere_ell(spark, sf_dir):
    """ELLIPSOIDAL oblique stereographic forward (the reference's own
    areaD CRS: +a=6378144 +b=6356759 lat_0=50 lon_0=8 — test fixtures
    reach it through pyproj; here it is PROJ's conformal-latitude form
    as pure column math, functions/geo.py stere_ell_xy). Same antipode
    cap as the spherical oblique aspect: the stereographic denominator
    vanishes toward the antipode of the conformal center."""
    from pyresample_spark.functions.geo import stere_ell_xy

    ex, ey = stere_ell_xy(
        "lon", "lat", lat_0=50.0, a=6378144.0, b=6356759.0, lon_0=8.0
    )
    cos_c = (
        F.sin(F.radians(F.lit(50.0))) * F.sin(F.radians("lat"))
        + F.cos(F.radians(F.lit(50.0))) * F.cos(F.radians("lat"))
          * F.cos(F.radians(F.col("lon") - F.lit(8.0)))
    )
    return (
        _pts(spark, sf_dir)
        .filter(cos_c > F.lit(-0.99))
        .select(
            "event_id", rnd(ex, 3).alias("ex"), rnd(ey, 3).alias("ey")
        )
    )


def _geos_disc(pts, gx, gy):
    """(event_id, gx, gy) of the on-disc points inside the 5400 km limb
    cap. The projected x/y sit behind a Generate barrier: the NULL and
    radius filters would otherwise carry inlined copies of the whole
    geostationary forward (functions/exprs.py generate_barrier)."""
    from pyresample_spark.functions.exprs import generate_barrier

    xy = generate_barrier(pts, ["event_id"], [("x", gx), ("y", gy)], "g")
    return xy.filter(
        F.col("g.x").isNotNull()
        & (F.sqrt(F.col("g.x") * F.col("g.x")
                  + F.col("g.y") * F.col("g.y")) < 5400000.0)
    ).select(
        "event_id",
        rnd(F.col("g.x"), 3).alias("gx"),
        rnd(F.col("g.y"), 3).alias("gy"),
    )


@register(
    "q_proj_geos_ell",
    oracle=(lambda xy: f"""
    SELECT event_id,
           ROUND({xy[0]}, 3) + 0.0 AS gx,
           ROUND({xy[1]}, 3) + 0.0 AS gy
    FROM ({PTS_SQL})
    WHERE {xy[0]} IS NOT NULL
      AND sqrt({xy[0]} * {xy[0]} + {xy[1]} * {xy[1]}) < 5400000.0
    """)(__import__('pyresample_spark.functions.geo',
                    fromlist=['geos_ell_sql']).geos_ell_sql(
        'lon', 'lat', h=35785831.0, a=6378169.0, b=6356584.0, lon_0=0.0)),
)
def q_proj_geos_ell(spark, sf_dir):
    """ELLIPSOIDAL geostationary forward — the real MSG/SEVIRI view
    (a=6378169, b=6356584, h=35785831): geocentric-latitude view
    vector + flattened visibility (functions/geo.py geos_ell_xy;
    PROJ geos.cpp ellipsoid branch). Off-disc points NULL out and are
    excluded in BOTH engines; a 5400 km radius cap additionally trims
    the extreme limb, where the view geometry amplifies last-ulp
    differences (same rationale as the antipode caps on the azimuthal
    families)."""
    from pyresample_spark.functions.geo import geos_ell_xy

    gx, gy = geos_ell_xy(
        "lon", "lat", h=35785831.0, a=6378169.0, b=6356584.0, lon_0=0.0
    )
    return _geos_disc(_pts(spark, sf_dir), gx, gy)


@register(
    "q_proj_abi",
    oracle=(lambda xy: f"""
    SELECT event_id,
           ROUND({xy[0]}, 3) + 0.0 AS gx,
           ROUND({xy[1]}, 3) + 0.0 AS gy
    FROM ({PTS_SQL})
    WHERE {xy[0]} IS NOT NULL
      AND sqrt({xy[0]} * {xy[0]} + {xy[1]} * {xy[1]}) < 5400000.0
    """)(__import__('pyresample_spark.functions.geo',
                    fromlist=['geos_ell_sql']).geos_ell_sql(
        'lon', 'lat', h=35786023.0, a=6378137.0, b=6356752.31414,
        lon_0=-75.0, sweep='x')),
)
def q_proj_abi(spark, sf_dir):
    """GOES-R ABI forward — ellipsoidal geostationary with the
    sweep=x scan-axis order (x angle first; q_proj_geos_ell covers
    MSG's sweep=y), GRS80 semi-axes, h=35 786 023 m, lon_0=−75°.
    Off-disc points NULL out in BOTH engines; the 5400 km limb cap
    matches the MSG twin's rationale."""
    from pyresample_spark.functions.geo import geos_ell_xy

    gx, gy = geos_ell_xy(
        "lon", "lat", h=35786023.0, a=6378137.0, b=6356752.31414,
        lon_0=-75.0, sweep="x",
    )
    return _geos_disc(_pts(spark, sf_dir), gx, gy)


@register(
    "q_tile_assign",
    oracle=f"""
    WITH p AS (
      SELECT event_id, lon, GREATEST(-85.0511, LEAST(85.0511, lat)) AS lat,
             value FROM ({PTS_SQL})
    ),
    t AS (
      SELECT event_id, value,
             CAST(FLOOR(ROUND((lon + 180.0) / 360.0 * 64.0, 9)) AS BIGINT)
               AS tx,
             CAST(FLOOR(ROUND((1.0 - ln(tan(radians(lat))
                  + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 64.0, 9))
               AS BIGINT) AS ty
      FROM p
    ),
    c AS (
      SELECT LEAST(GREATEST(tx, 0), 63) AS tx,
             LEAST(GREATEST(ty, 0), 63) AS ty,
             value
      FROM t
    )
    SELECT tx, ty, CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(AVG(ROUND(value, 6)), 6) + 0.0 AS avg_value
    FROM c GROUP BY tx, ty
    """,
)
def q_tile_assign(spark, sf_dir):
    """Web-mercator slippy-tile assignment at zoom 6 (the OSM/XYZ
    z/x/y convention): tx = (lon+180)/360·2^z, ty from the Mercator
    latitude, lat clamped to ±85.0511 (the Mercator square), indices
    clamped into [0, 2^z). The fractional index snaps to 9 decimals
    BEFORE floor (the engine's grid-boundary idiom) so a last-ulp
    tan/ln difference can't flip a point across a tile edge between
    engines. Output: per-tile point count + mean value — the
    tile-bucketed summary a serving layer builds.

    Scale shape: assignment is a pure map (zero joins); the only
    shuffle is the per-tile hash agg, map-side combined, bounded by
    4^z rows. Tile ids are also the natural BUCKET BY key for
    serving-layer storage — the geo analog of the LUT bucketing."""
    from pyresample_spark.functions.geo import tile_cols

    pts = _pts(spark, sf_dir)
    tx, ty = tile_cols()
    return (
        pts.select(
            tx.alias("tx"),
            ty.alias("ty"),
            F.round(F.col("value"), 6).alias("v6"),
        )
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            rnd(F.avg("v6"), 6).alias("avg_value"),
        )
    )


def _spread_sql(e: str) -> str:
    """16-bit → even-bit spread (Morton interleave half), DuckDB text:
    the classic magic-number shift-mask ladder."""
    x = f"(({e}) & 65535)"
    x = f"(({x} | ({x} << 8)) & 16711935)"        # 0x00FF00FF
    x = f"(({x} | ({x} << 4)) & 252645135)"       # 0x0F0F0F0F
    x = f"(({x} | ({x} << 2)) & 858993459)"       # 0x33333333
    x = f"(({x} | ({x} << 1)) & 1431655765)"      # 0x55555555
    return x


def _spread_col(c):
    """Spark Column twin of :func:`_spread_sql` (same ladder). Python
    ``&``/``|`` on Columns are LOGICAL operators — bitwise needs
    ``bitwiseAND``/``bitwiseOR``; mask literals cast to bigint (ANSI
    rejects mixed-width bitwise ops)."""
    L = lambda v: F.lit(v).cast("bigint")  # noqa: E731
    x = c.cast("bigint").bitwiseAND(L(65535))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(L(16711935))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(L(252645135))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(L(858993459))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(L(1431655765))
    return x


@register(
    "q_zorder_key",
    oracle=f"""
    WITH p AS (
      SELECT event_id, lon, lat FROM ({{PTS}})
    ),
    cells AS (
      SELECT event_id,
             LEAST(GREATEST(CAST(FLOOR(ROUND((lon + 180.0) / 360.0 * 256.0,
               9)) AS BIGINT), 0), 255) AS cx,
             LEAST(GREATEST(CAST(FLOOR(ROUND((90.0 - lat) / 180.0 * 256.0,
               9)) AS BIGINT), 0), 255) AS cy
      FROM p
    )
    SELECT event_id, cx, cy,
           ({_spread_sql('cx')} | ({_spread_sql('cy')} << 1)) AS morton,
           (({_spread_sql('cx')} | ({_spread_sql('cy')} << 1)) >> 10)
             AS file_bucket
    FROM cells
    """.replace("{{PTS}}", "{PTS}").format(PTS=PTS_SQL),
)
def q_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key — the data-layout op behind
    spatial file-skipping (Delta/Iceberg Z-ORDER BY): 8-bit
    equirectangular cell coords (fractional index 9-decimal-snapped
    before floor, clamped to the grid) bit-interleave through the
    classic magic-number spread ladder into one locality-preserving
    bigint; ``file_bucket = morton >> 10`` groups ~1024 neighbouring
    cells per target file. Sorting/bucketing 100 TB of points by this
    key makes every later bbox scan prune most files — the storage
    twin of the 3-D cell join's co-location argument.

    Pure integer column math, zero shuffle, identical bit ladder on
    both engines."""
    pts = _pts(spark, sf_dir)
    snap = lambda e: F.floor(F.round(e, 9))  # noqa: E731
    clamp = lambda c: F.least(  # noqa: E731
        F.greatest(c.cast("bigint"), F.lit(0)), F.lit(255)
    )
    cx = clamp(snap((F.col("lon") + 180.0) / 360.0 * 256.0))
    cy = clamp(snap((90.0 - F.col("lat")) / 180.0 * 256.0))
    out = pts.select("event_id", cx.alias("cx"), cy.alias("cy"))
    morton = _spread_col(F.col("cx")).bitwiseOR(
        F.shiftleft(_spread_col(F.col("cy")), 1)
    )
    return out.select(
        "event_id", "cx", "cy",
        morton.alias("morton"),
        F.shiftright(morton, 10).alias("file_bucket"),
    )


@register(
    "q_tile_pyramid",
    oracle=f"""
    WITH p AS (
      SELECT event_id, lon, GREATEST(-85.0511, LEAST(85.0511, lat)) AS lat,
             value FROM ({{PTS}})
    ),
    t AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(ROUND((lon + 180.0) / 360.0 * 64.0,
               9)) AS BIGINT), 0), 63) AS tx,
             LEAST(GREATEST(CAST(FLOOR(ROUND((1.0 - ln(tan(radians(lat))
               + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 64.0, 9))
               AS BIGINT), 0), 63) AS ty,
             ROUND(value, 6) AS v6
      FROM p
    ),
    lv(z, shift) AS (VALUES (6, 0), (4, 2), (2, 4))
    SELECT lv.z AS zoom, tx >> lv.shift AS tx, ty >> lv.shift AS ty,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(FLOOR(v6 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_micros
    FROM t CROSS JOIN lv
    GROUP BY lv.z, tx >> lv.shift, ty >> lv.shift
    """.replace("{{PTS}}", "{PTS}").format(PTS=PTS_SQL),
)
def q_tile_pyramid(spark, sf_dir):
    """Tile-pyramid rollup — how a map-serving layer builds its
    coarser zooms: zoom-6 web-mercator tiles aggregate to their zoom-4
    and zoom-2 parents by integer right-shift of the tile coords (each
    parent covers 4^Δz children exactly). Per (zoom, tx, ty): point
    count and the micro-quantized value sum (order-insensitive integer
    units, the engine's summation idiom).

    Scale shape: assignment is the q_tile_assign map; the three levels
    come from ONE scan via a 3-row literal cross join (no re-read per
    zoom) and a single grouped aggregation — at 100 TB this is one
    shuffle whose key count is Σ 4^z, not the point count."""
    from pyresample_spark.functions.geo import tile_cols

    pts = _pts(spark, sf_dir)
    tx, ty = tile_cols()
    t = pts.select(
        tx.alias("tx"),
        ty.alias("ty"),
        F.round(F.col("value"), 6).alias("v6"),
    )
    levels = F.explode(
        F.array(
            F.struct(F.lit(6).alias("z"), F.lit(0).alias("s")),
            F.struct(F.lit(4).alias("z"), F.lit(2).alias("s")),
            F.struct(F.lit(2).alias("z"), F.lit(4).alias("s")),
        )
    )
    return (
        t.select("tx", "ty", "v6", levels.alias("lv"))
        .selectExpr(
            "CAST(lv.z AS BIGINT) AS zoom",
            "shiftright(tx, lv.s) AS tx",
            "shiftright(ty, lv.s) AS ty",
            "v6",
        )
        .groupBy("zoom", "tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(
                F.floor(F.col("v6") * 1000000.0 + 0.5).cast("bigint")
            ).cast("bigint").alias("value_micros"),
        )
    )


class _EqcNumpyTransformer:
    """Pure-python/numpy Transformer standing where pyproj would for
    an analytic CRS — gives the general-CRS pandas-UDF path a DRIVER-
    GATE twin (its output must match the column-math oracle exactly)."""

    def transform(self, lons, lats):
        import numpy as np

        from pyresample_spark.functions.geo import R_EARTH

        return np.radians(lons) * R_EARTH, np.radians(lats) * R_EARTH


def _eqc_transformer_factory():
    return _EqcNumpyTransformer()


@register(
    "q_proj_udf",
    oracle=f"""
    SELECT event_id,
           ROUND({R_EARTH!r} * radians(lon), 3) + 0.0 AS px,
           ROUND({R_EARTH!r} * radians(lat), 3) + 0.0 AS py
    FROM ({PTS_SQL})
    """,
)
def q_proj_udf(spark, sf_dir):
    """The general-CRS transform path itself (proj_udf.py
    _proj_udf_columns — Arrow-batched pandas UDF, per-worker lazy
    transformer construction, struct return) under the driver
    correctness gate: an injected numpy eqc transformer must reproduce
    the analytic column-math projection (q_proj_eqc's oracle) cell for
    cell. On a real cluster the SAME plumbing carries pyproj for CRSs
    outside the analytic registry (reference: the ubiquitous
    Proj(...)(lons, lats) — bucket/__init__.py:165, grid.py:119)."""
    from pyresample_spark.operators.proj_udf import proj_columns

    out = proj_columns(
        _pts(spark, sf_dir),
        "+proj=eqc-via-udf",
        x_out="px",
        y_out="py",
        transformer_factory=_eqc_transformer_factory,
    )
    return out.select(
        "event_id",
        rnd(F.col("px"), 3).alias("px"),
        rnd(F.col("py"), 3).alias("py"),
    )


# --- q_geoid_height: GTX vertical-datum grid (geoid undulation) ------
# The vertical sibling of the NTv2/NADCON horizontal shifts (VERDICT
# r13 missing-item 2 names the family): heights move by the bilinear
# value of a GTX grid at the point's horizontal position — ONE
# broadcast hash join, no iteration in either direction
# (operators/gridshift.py vertical section; sources/gtx.py wire
# format). Reference path: PROJ vgridshift/+geoidgrids= behind
# pyproj (pyresample/utils/proj4.py).


def _geoid_oracle() -> str:
    from pyresample_spark.operators.gridshift import vshift_duckdb_ctes
    from pyresample_spark.sources.gtx import demo_gtx_grid_bytes, parse_gtx

    g = parse_gtx(demo_gtx_grid_bytes())
    ctes, out = vshift_duckdb_ctes("pts", g, direction="forward")
    return f"""
    WITH pts AS ({PTS_SQL}),
    {ctes}
    SELECT event_id, n_geoid, h_out AS h_ell FROM {out}
    """


@register("q_geoid_height", oracle=_geoid_oracle())
def q_geoid_height(spark, sf_dir):
    """Orthometric → ellipsoidal height through a GTX geoid grid: the
    spec-built demo undulation surface (sources/gtx.py — 40-byte
    big-endian header + float32 south→north west→east values, the
    NOAA VDatum / PROJ vgridshift wire format) is bilinearly sampled
    at each event's position via ONE broadcast hash join against the
    per-cell corner table, and h_ell = value + N. No fixed point in
    either direction (the position never moves), so the inverse is the
    same plan with a minus. Out-of-grid events are dropped (PROJ:
    untransformable). The DuckDB oracle replays the identical
    expression text over the same inline corner table."""
    from pyresample_spark.operators.gridshift import vcell_df, vshift
    from pyresample_spark.sources.gtx import demo_gtx_grid_bytes, parse_gtx

    g = parse_gtx(demo_gtx_grid_bytes())
    pts = _pts(spark, sf_dir)
    return vshift(
        pts, vcell_df(spark, g), g, direction="forward",
        out_n="n_geoid", out_h="h_ell",
    ).select("event_id", "n_geoid", "h_ell")


# --- q_regrid_vdatum: composed horizontal + vertical datum shift -----
# PROJ users routinely run BOTH legs in one transform
# (+proj=pipeline +step +inv hgridshift +step +inv vgridshift —
# pyresample/utils/proj4.py hands such strings to pyproj wholesale);
# VERDICT r14 missing item 4 asks for the composition as one plan.
# Pipeline order matters: the vertical grid is sampled at the
# CURRENT position, i.e. AFTER the horizontal step moved the point —
# sampling at the source position instead is a real-world bug this
# query's oracle would catch (the ±30″ demo shifts move N by ~1e-2).


def _vdatum_legs():
    from pyresample_spark.sources.gtx import demo_gtx_grid_bytes, parse_gtx
    from pyresample_spark.sources.ntv2 import (
        demo_ntv2_antarctic_grid_bytes,
        parse_ntv2,
    )

    sub = parse_ntv2(demo_ntv2_antarctic_grid_bytes())["subgrids"][0]
    g = parse_gtx(demo_gtx_grid_bytes())
    return sub, g


def _vdatum_oracle() -> str:
    from pyresample_spark.operators.gridshift import (
        shift_duckdb_ctes,
        vshift_duckdb_ctes,
    )

    sub, g = _vdatum_legs()
    h_ctes, h_out = shift_duckdb_ctes(
        "pts", sub, "inverse", keep=("event_id", "value"))
    v_ctes, v_out = vshift_duckdb_ctes(
        h_out, g, direction="inverse", lon="lon2", lat="lat2",
        height="value", keep=("event_id", "lon2", "lat2"),
        out_n="n_geoid", out_h="h_ortho")
    return f"""
    WITH pts AS ({PTS_SQL}),
    {h_ctes},
    {v_ctes}
    SELECT event_id, lon2, lat2, n_geoid, h_ortho FROM {v_out}
    """


@register("q_regrid_vdatum", oracle=_vdatum_oracle())
def q_regrid_vdatum(spark, sf_dir):
    """Composed horizontal + vertical datum transform in ONE plan
    (PROJ's inv-hgridshift → inv-vgridshift pipeline): WGS84-style
    events run the NTv2 fixed-point INVERSE over the Antarctic demo
    subgrid (3 unrolled broadcast-join lookups), then the GTX geoid
    is bilinearly sampled AT THE SHIFTED position — one more
    broadcast join — and h_ortho = h_ell − N(lon2, lat2). Zero
    exchanges on the point side end to end (every lookup is a
    BroadcastHashJoin; tools/scale_probe_gridshift.py measures it).
    Both engines replay identical expression text via the shared
    shift/vshift emitters, so the result is cell-exact unrounded."""
    from pyresample_spark.operators.gridshift import (
        cell_df,
        shift_inverse,
        vcell_df,
        vshift,
    )

    sub, g = _vdatum_legs()
    pts = _pts(spark, sf_dir)
    shifted = shift_inverse(
        pts, cell_df(spark, sub), sub, keep=["event_id", "value"])
    return vshift(
        shifted, vcell_df(spark, g), g, lon="lon2", lat="lat2",
        height="value", keep=("event_id", "lon2", "lat2"),
        direction="inverse", out_n="n_geoid", out_h="h_ortho",
    ).select("event_id", "lon2", "lat2", "n_geoid", "h_ortho")
