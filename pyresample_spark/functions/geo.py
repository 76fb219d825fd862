"""Geospatial scalar column library — pure built-in column expressions.

Every function here compiles to JVM-side Catalyst expressions inside
WholeStageCodegen (no Python in the hot path) and has an exact ANSI-SQL
twin used by the DuckDB oracles.

Reference parity:
- lonlat2xyz: pyresample/future/resamplers/_transform_utils.py:1-33
- haversine:  pyresample/spherical.py:80-98 (_haversine_matrix)
- wrap_longitudes / check_and_wrap: pyresample/utils/__init__.py:186,202
- round_to_resolution: pyresample/bucket/__init__.py:480-497
- fwhm2sigma: pyresample/utils/__init__.py:161
- eqc projection: the analytic plate-carrée CRS implemented natively
  (general pyproj CRSs go through the pandas-UDF path in
  operators/proj_udf.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mean earth radius used across the engine (same spherical model the
# reference uses for geocentric math, pyresample/spherical.py docstring).
R_EARTH = 6370997.0


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def wrap_longitude(lon) -> Column:
    """Normalize longitudes to [-180, 180) (utils/__init__.py:186-199).

    SQL twin: ``((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0``
    (double-mod so negative inputs land in range under both Spark and
    DuckDB remainder semantics).
    """
    lon = _c(lon)
    return ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0


def lonlat2xyz(lon, lat, radius: float = 1.0) -> tuple:
    """lon/lat degrees → geocentric xyz on a sphere
    (_transform_utils.py:1-33)."""
    lon, lat = _c(lon), _c(lat)
    lon_r, lat_r = F.radians(lon), F.radians(lat)
    return (
        F.cos(lat_r) * F.cos(lon_r) * radius,
        F.cos(lat_r) * F.sin(lon_r) * radius,
        F.sin(lat_r) * radius,
    )


def haversine_m(lon1, lat1, lon2, lat2, radius: float = R_EARTH) -> Column:
    """Great-circle distance in meters (spherical.py:80-98).

    SQL twin:
    ``2*R*asin(sqrt( sin(radians(lat2-lat1)/2)^2 +
    cos(radians(lat1))*cos(radians(lat2))*sin(radians(lon2-lon1)/2)^2 ))``
    """
    lon1, lat1, lon2, lat2 = _c(lon1), _c(lat1), _c(lon2), _c(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.pow(F.sin(dlat), 2) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.pow(F.sin(dlon), 2)
    return 2.0 * radius * F.asin(F.sqrt(a))


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str, radius: float = R_EARTH) -> str:
    """The DuckDB-compatible SQL string for :func:`haversine_m`."""
    return (
        f"2.0 * {radius!r} * asin(sqrt("
        f"pow(sin(radians({lat2} - {lat1}) / 2.0), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians({lon2} - {lon1}) / 2.0), 2)))"
    )


def eqc_x(lon, radius: float = R_EARTH) -> Column:
    """Equirectangular (plate carrée, +proj=eqc) forward x = R·radians(lon)."""
    return F.radians(_c(lon)) * radius


def eqc_y(lat, radius: float = R_EARTH) -> Column:
    """Equirectangular forward y = R·radians(lat)."""
    return F.radians(_c(lat)) * radius


def round_to_resolution(x, resolution: float) -> Column:
    """Snap to a resolution grid (bucket/__init__.py:480-497):
    ``resolution * round(x / resolution)``."""
    return F.lit(resolution) * F.round(_c(x) / F.lit(resolution), 0)


def fwhm2sigma(fwhm) -> Column:
    """Full-width-half-max → gaussian sigma (utils/__init__.py:161-176):
    sigma = fwhm / (2*sqrt(ln(2)))."""
    import math

    return _c(fwhm) / (2.0 * math.sqrt(math.log(2)))


# --- deterministic derived geolocation for the driver tables -------------
# FIXTURES.md §3: geo columns are derived in-query from events columns so
# Spark and the DuckDB oracle compute identical inputs.

def derived_lon(user_id="user_id", event_id="event_id") -> Column:
    return (
        (_c(user_id) % 360 - 180).cast("double")
        + (_c(event_id) % 100).cast("double") / 100.0
    )


def derived_lat(user_id="user_id", event_id="event_id") -> Column:
    return (
        (_c(user_id) % 180 - 90).cast("double")
        + (_c(event_id) % 97).cast("double") / 97.0
    )


DERIVED_LON_SQL = "(CAST(user_id % 360 - 180 AS DOUBLE) + CAST(event_id % 100 AS DOUBLE) / 100.0)"
DERIVED_LAT_SQL = "(CAST(user_id % 180 - 90 AS DOUBLE) + CAST(event_id % 97 AS DOUBLE) / 97.0)"


# --- polar stereographic (spherical, +proj=stere +lat_0=±90) ---------
# Forward/inverse per Snyder (1987) eqs. 21-5..21-15, spherical form —
# the projection family behind most polar satellite products
# (reference: areas.yaml polar grids; used via pyproj in
# bucket/__init__.py:165, grid.py:119). Pure column math: no UDF.

def stere_polar_x(lon, lat, lat_ts: float = 90.0, lon_0: float = 0.0,
                  north: bool = True, radius: float = R_EARTH) -> Column:
    """Polar stereographic x (true scale at ``lat_ts``). Axis
    conventions follow Snyder/proj4: north aspect x = ρ·sin(λ−λ₀),
    y = −ρ·cos(λ−λ₀); south aspect x = ρ·sin(λ−λ₀), y = +ρ·cos(λ−λ₀)."""
    import math as _m

    k0 = (1.0 + _m.sin(_m.radians(abs(lat_ts)))) / 2.0
    sign = 1.0 if north else -1.0
    lat_e = F.radians(_c(lat)) * sign
    lon_e = F.radians(_c(lon) - F.lit(lon_0))
    rho = 2.0 * radius * k0 * F.tan(F.lit(_m.pi / 4) - lat_e / 2)
    return rho * F.sin(lon_e)


def stere_polar_y(lon, lat, lat_ts: float = 90.0, lon_0: float = 0.0,
                  north: bool = True, radius: float = R_EARTH) -> Column:
    import math as _m

    k0 = (1.0 + _m.sin(_m.radians(abs(lat_ts)))) / 2.0
    sign = 1.0 if north else -1.0
    lat_e = F.radians(_c(lat)) * sign
    lon_e = F.radians(_c(lon) - F.lit(lon_0))
    rho = 2.0 * radius * k0 * F.tan(F.lit(_m.pi / 4) - lat_e / 2)
    return -sign * rho * F.cos(lon_e)


def stere_polar_inverse(x, y, lat_ts: float = 90.0, lon_0: float = 0.0,
                        north: bool = True, radius: float = R_EARTH):
    """(x, y) → (lon, lat) columns, the exact inverse of the above."""
    import math as _m

    k0 = (1.0 + _m.sin(_m.radians(abs(lat_ts)))) / 2.0
    sign = 1.0 if north else -1.0
    xs, ys = _c(x), _c(y)
    rho = F.sqrt(xs * xs + ys * ys)
    lat_e = F.lit(_m.pi / 2) - 2 * F.atan(rho / (2.0 * radius * k0))
    lon = F.degrees(F.atan2(xs, -ys * sign)) + F.lit(lon_0)
    return wrap_longitude(lon), F.degrees(lat_e) * sign


def stere_polar_sql(lon: str, lat: str, lat_ts: float = 90.0,
                    lon_0: float = 0.0, north: bool = True,
                    radius: float = R_EARTH) -> tuple:
    """DuckDB twins of the forward transform (for oracles)."""
    import math as _m

    k0 = (1.0 + _m.sin(_m.radians(abs(lat_ts)))) / 2.0
    sign = 1.0 if north else -1.0
    ysign = -sign  # interpolated as a value: "-\-1.0" would be a SQL comment
    rho = (f"(2.0 * {radius!r} * {k0!r} * "
           f"tan(pi() / 4 - radians({lat}) * {sign!r} / 2))")
    lon_e = f"radians({lon} - {lon_0!r})"
    return (
        f"({rho} * sin({lon_e}))",
        f"({ysign!r} * {rho} * cos({lon_e}))",
    )


# --- Lambert azimuthal equal-area (spherical, +proj=laea) ------------
# Snyder eqs. 24-2..24-4 spherical; the EASE-grid projection family
# (reference test areas: ease_sh/ease_nh in areas.cfg).

def laea_x(lon, lat, lat_0: float = 90.0, lon_0: float = 0.0,
           radius: float = R_EARTH) -> Column:
    import math as _m

    lat0, dlon = _m.radians(lat_0), F.radians(_c(lon) - F.lit(lon_0))
    latr = F.radians(_c(lat))
    kden = 1.0 + _m.sin(lat0) * F.sin(latr) + _m.cos(lat0) * F.cos(latr) * F.cos(dlon)
    kp = F.sqrt(2.0 / kden)
    return radius * kp * F.cos(latr) * F.sin(dlon)


def laea_y(lon, lat, lat_0: float = 90.0, lon_0: float = 0.0,
           radius: float = R_EARTH) -> Column:
    import math as _m

    lat0, dlon = _m.radians(lat_0), F.radians(_c(lon) - F.lit(lon_0))
    latr = F.radians(_c(lat))
    kden = 1.0 + _m.sin(lat0) * F.sin(latr) + _m.cos(lat0) * F.cos(latr) * F.cos(dlon)
    kp = F.sqrt(2.0 / kden)
    return radius * kp * (
        F.sin(latr) * _m.cos(lat0) - F.cos(latr) * _m.sin(lat0) * F.cos(dlon)
    )


def laea_sql(lon: str, lat: str, lat_0: float = 90.0, lon_0: float = 0.0,
             radius: float = R_EARTH) -> tuple:
    import math as _m

    s0, c0 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    dlon = f"radians({lon} - {lon_0!r})"
    kden = (f"(1.0 + {s0!r} * sin(radians({lat})) + {c0!r} * "
            f"cos(radians({lat})) * cos({dlon}))")
    kp = f"sqrt(2.0 / {kden})"
    return (
        f"({radius!r} * {kp} * cos(radians({lat})) * sin({dlon}))",
        f"({radius!r} * {kp} * (sin(radians({lat})) * {c0!r} - "
        f"cos(radians({lat})) * {s0!r} * cos({dlon})))",
    )


def laea_inverse(x, y, lat_0: float = 90.0, lon_0: float = 0.0,
                 radius: float = R_EARTH):
    """(x, y) → (lon, lat) columns — Snyder 20-14..20-17 spherical
    inverse of the LAEA forward above."""
    import math as _m

    s0, c0 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    xs, ys = _c(x), _c(y)
    rho = F.sqrt(xs * xs + ys * ys)
    # c = 2·asin(ρ / 2R); guard the ρ=0 center point (lon undefined)
    c = 2.0 * F.asin(
        F.greatest(F.lit(-1.0), F.least(F.lit(1.0), rho / (2.0 * radius)))
    )
    lat = F.degrees(
        F.asin(
            F.greatest(
                F.lit(-1.0),
                F.least(
                    F.lit(1.0),
                    F.cos(c) * s0
                    + F.when(rho == 0.0, F.lit(0.0)).otherwise(
                        ys * F.sin(c) * c0 / rho
                    ),
                ),
            )
        )
    )
    den = rho * c0 * F.cos(c) - ys * s0 * F.sin(c)
    lon = F.lit(lon_0) + F.degrees(F.atan2(xs * F.sin(c), den))
    lon = F.when(rho == 0.0, F.lit(lon_0)).otherwise(lon)
    return wrap_longitude(lon), lat


# --- Mercator (spherical, +proj=merc [+lat_ts=..] [+lon_0=..]) --------
# Snyder (1987) eqs. 7-1..7-5. k0 = cos(lat_ts) for a secant cylinder.

def merc_x(lon, lat_ts: float = 0.0, lon_0: float = 0.0,
           radius: float = R_EARTH) -> Column:
    import math as _m

    k0 = _m.cos(_m.radians(lat_ts))
    return radius * k0 * F.radians(_c(lon) - F.lit(lon_0))


def merc_y(lat, lat_ts: float = 0.0, radius: float = R_EARTH) -> Column:
    import math as _m

    k0 = _m.cos(_m.radians(lat_ts))
    latr = F.radians(_c(lat))
    return radius * k0 * F.log(F.tan(F.lit(_m.pi / 4) + latr / 2))


def merc_inverse(x, y, lat_ts: float = 0.0, lon_0: float = 0.0,
                 radius: float = R_EARTH):
    """(x, y) → (lon, lat) columns — Snyder 7-4/7-5 spherical."""
    import math as _m

    k0 = _m.cos(_m.radians(lat_ts))
    xs, ys = _c(x), _c(y)
    lon = F.degrees(xs / (radius * k0)) + F.lit(lon_0)
    lat = 90.0 - 2.0 * F.degrees(F.atan(F.exp(-ys / (radius * k0))))
    return wrap_longitude(lon), lat


def merc_sql(lon: str, lat: str, lat_ts: float = 0.0, lon_0: float = 0.0,
             radius: float = R_EARTH) -> tuple:
    import math as _m

    rk = radius * _m.cos(_m.radians(lat_ts))  # pre-multiplied: DuckDB
    # parses literal*literal as DECIMAL and overflows before cast
    return (
        f"({rk!r} * radians({lon} - {lon_0!r}))",
        f"({rk!r} * ln(tan(pi() / 4 + radians({lat}) / 2)))",
    )


def merc_inv_sql(x: str, y: str, lat_ts: float = 0.0, lon_0: float = 0.0,
                 radius: float = R_EARTH) -> tuple:
    import math as _m

    rk = radius * _m.cos(_m.radians(lat_ts))
    lon = (f"((((degrees({x} / {rk!r}) + {lon_0!r}) + 540.0)"
           f" % 360.0) - 180.0)")
    lat = f"(90.0 - 2.0 * degrees(atan(exp(-({y}) / {rk!r}))))"
    return lon, lat


# --- Orthographic (+proj=ortho — satellite-view hemisphere) -----------
# Snyder eqs. 20-3..20-17 (spherical, general oblique aspect). The far
# hemisphere (cos_c < 0) is NULL-masked, same contract as geos.

def ortho_xy(lon, lat, lat_0: float = 0.0, lon_0: float = 0.0,
             radius: float = R_EARTH):
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    latr = F.radians(_c(lat))
    dlon = F.radians(_c(lon) - F.lit(lon_0))
    cos_c = s1 * F.sin(latr) + c1 * F.cos(latr) * F.cos(dlon)
    vis = cos_c >= 0.0
    x = radius * F.cos(latr) * F.sin(dlon)
    y = radius * (c1 * F.sin(latr) - s1 * F.cos(latr) * F.cos(dlon))
    return F.when(vis, x), F.when(vis, y)


def ortho_inverse(x, y, lat_0: float = 0.0, lon_0: float = 0.0,
                  radius: float = R_EARTH):
    """(x, y) → (lon, lat) columns — Snyder 20-14..20-17 spherical."""
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    xs, ys = _c(x), _c(y)
    rho = F.sqrt(xs * xs + ys * ys)
    on_disc = rho <= F.lit(float(radius))
    sin_c = rho / radius            # sin(asin(rho/R))
    cos_c = F.sqrt(F.greatest(F.lit(0.0), 1.0 - sin_c * sin_c))
    lat = F.when(
        rho == 0.0, F.lit(_m.degrees(_m.asin(s1)))
    ).otherwise(
        F.degrees(F.asin(
            F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
                       cos_c * s1 + ys * sin_c * c1 / rho))
        ))
    )
    lon = F.when(rho == 0.0, F.lit(float(lon_0))).otherwise(
        F.lit(float(lon_0)) + F.degrees(F.atan2(
            xs * sin_c, rho * cos_c * c1 - ys * sin_c * s1
        ))
    )
    return (
        F.when(on_disc, wrap_longitude(lon)),
        F.when(on_disc, lat),
    )


def ortho_inv_sql(x: str, y: str, lat_0: float = 0.0, lon_0: float = 0.0,
                  radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    rho = f"sqrt(({x}) * ({x}) + ({y}) * ({y}))"
    sin_c = f"({rho} / {radius!r})"
    cos_c = f"sqrt(greatest(0.0, 1.0 - {sin_c} * {sin_c}))"
    lat = (
        f"(CASE WHEN {rho} > {radius!r} THEN NULL"
        f" WHEN {rho} = 0.0 THEN {_m.degrees(_m.asin(s1))!r}"
        f" ELSE degrees(asin(greatest(-1.0, least(1.0,"
        f" {cos_c} * {s1!r} + ({y}) * {sin_c} * {c1!r} / {rho}))))"
        f" END)"
    )
    lon_raw = (
        f"({lon_0!r} + degrees(atan2(({x}) * {sin_c},"
        f" {rho} * {cos_c} * {c1!r} - ({y}) * {sin_c} * {s1!r})))"
    )
    lon = (
        f"(CASE WHEN {rho} > {radius!r} THEN NULL"
        f" WHEN {rho} = 0.0 THEN {float(lon_0)!r}"
        f" ELSE ((({lon_raw} + 540.0) % 360.0) - 180.0) END)"
    )
    return lon, lat


# --- Cylindrical equal-area (+proj=cea — EASE-Grid 2.0) ---------------
# Snyder eqs. 10-1/10-2 (spherical): x = R·radians(lon−lon_0)·cos(lat_ts),
# y = R·sin(lat)/cos(lat_ts). EASE-2 global grids use lat_ts=30.

def cea_xy(lon, lat, lat_ts: float = 0.0, lon_0: float = 0.0,
           radius: float = R_EARTH):
    import math as _m

    k0 = _m.cos(_m.radians(lat_ts))
    return (
        radius * k0 * F.radians(_c(lon) - F.lit(lon_0)),
        radius * F.sin(F.radians(_c(lat))) / k0,
    )


def cea_inverse(x, y, lat_ts: float = 0.0, lon_0: float = 0.0,
                radius: float = R_EARTH):
    """(x, y) → (lon, lat) columns — Snyder 10-6/10-7 spherical."""
    import math as _m

    k0 = _m.cos(_m.radians(lat_ts))
    xs, ys = _c(x), _c(y)
    lat = F.degrees(F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
                                      ys * k0 / radius))))
    lon = F.degrees(xs / (radius * k0)) + F.lit(lon_0)
    return wrap_longitude(lon), lat


def cea_inv_sql(x: str, y: str, lat_ts: float = 0.0, lon_0: float = 0.0,
                radius: float = R_EARTH) -> tuple:
    import math as _m

    k0 = _m.cos(_m.radians(lat_ts))
    # constants pre-multiplied in Python: DuckDB parses literal*literal
    # as DECIMAL and overflows before the cast (same as merc_sql)
    k0_over_r = k0 / radius
    rk = radius * k0
    lat = (f"(degrees(asin(greatest(-1.0, least(1.0,"
           f" ({y}) * {k0_over_r!r})))))")
    lon = (f"((((degrees(({x}) / {rk!r})"
           f" + {lon_0!r}) + 540.0) % 360.0) - 180.0)")
    return lon, lat


# --- Ellipsoidal Lambert conformal conic (+proj=lcc +ellps/+a+b) ------
# Snyder eqs. 15-1..15-11 / PROJ lcc.cpp: the conformal t(φ) cone —
# n from the two standard parallels' (m, t) pairs, F = m1/(n·t1^n),
# ρ = a·F·t^n. The inverse recovers t in closed form and runs the SAME
# 8-step conformal-latitude fixed point as the ellipsoidal
# stereographic (engine-identical on both engines). Validated against
# the RGF93 / Lambert-93 grid (EPSG 2154): the false origin maps
# exactly and Paris lands on its published meters (tests).


def lcc_ell_constants(lat_0: float, lat_1: float,
                      lat_2: float | None, a: float, b: float,
                      k0: float = 1.0) -> dict:
    import math as _m

    es = 1.0 - (b / a) ** 2
    e = _m.sqrt(es)

    def t_of(phi):
        return _m.tan(_m.pi / 4.0 - phi / 2.0) * (
            (1.0 + e * _m.sin(phi)) / (1.0 - e * _m.sin(phi))
        ) ** (e / 2.0)

    def m_of(phi):
        return _m.cos(phi) / _m.sqrt(1.0 - es * _m.sin(phi) ** 2)

    p1 = _m.radians(lat_1)
    p2 = _m.radians(lat_2 if lat_2 is not None else lat_1)
    t1 = t_of(p1)
    if abs(p1 - p2) < 1e-12:
        n = _m.sin(p1)
    else:
        n = ((_m.log(m_of(p1)) - _m.log(m_of(p2)))
             / (_m.log(t1) - _m.log(t_of(p2))))
    fc = k0 * m_of(p1) / (n * t1 ** n)
    rho0 = a * fc * t_of(_m.radians(lat_0)) ** n
    return {"es": es, "e": e, "n": n, "af": a * fc, "rho0": rho0}


def lcc_ell_xy(lon, lat, lat_0: float, lat_1: float,
               lat_2: float | None, a: float, b: float,
               lon_0: float = 0.0, k0: float = 1.0) -> tuple:
    import math as _m

    c = lcc_ell_constants(lat_0, lat_1, lat_2, a, b, k0)
    e, n = c["e"], c["n"]
    phi = F.radians(_c(lat))
    esin = e * F.sin(phi)
    t = F.tan(F.lit(_m.pi / 4.0) - phi / 2.0) * F.pow(
        (1.0 + esin) / (1.0 - esin), e / 2.0)
    rho = c["af"] * F.pow(t, n)
    th = n * F.radians(_c(lon) - F.lit(lon_0))
    return rho * F.sin(th), F.lit(c["rho0"]) - rho * F.cos(th)


def lcc_ell_inverse(x, y, lat_0: float, lat_1: float,
                    lat_2: float | None, a: float, b: float,
                    lon_0: float = 0.0, k0: float = 1.0) -> tuple:
    import math as _m

    c = lcc_ell_constants(lat_0, lat_1, lat_2, a, b, k0)
    e, n = c["e"], c["n"]
    sgn = 1.0 if n >= 0 else -1.0
    xs = _c(x) * sgn
    ys = (F.lit(c["rho0"]) - _c(y)) * sgn
    rho = F.sqrt(xs * xs + ys * ys)
    t = F.pow(rho / c["af"] * F.lit(sgn), F.lit(1.0 / n))
    phi0_c = F.lit(_m.pi / 2.0) - 2.0 * F.atan(t)
    steps = F.array([F.lit(0.0)] * _STERE_ELL_ITERS)
    phi = F.aggregate(
        steps,
        phi0_c.cast("double"),
        lambda acc, _: F.lit(_m.pi / 2.0) - 2.0 * F.atan(
            t * F.pow(
                (1.0 - e * F.sin(acc)) / (1.0 + e * F.sin(acc)),
                e / 2.0)
        ),
    )
    lam = F.atan2(xs, ys) / n * F.lit(sgn)
    lon = F.degrees(lam) + F.lit(lon_0)
    return wrap_longitude(lon), F.degrees(phi)


def lcc_ell_sql(lon: str, lat: str, lat_0: float, lat_1: float,
                lat_2: float | None, a: float, b: float,
                lon_0: float = 0.0, k0: float = 1.0) -> tuple:
    c = lcc_ell_constants(lat_0, lat_1, lat_2, a, b, k0)
    e, n = c["e"], c["n"]
    phi = f"radians({lat})"
    esin = f"({e!r} * sin({phi}))"
    t = (f"(tan(pi() / 4.0 - {phi} / 2.0)"
         f" * pow((1.0 + {esin}) / (1.0 - {esin}), {e / 2.0!r}))")
    rho = f"({c['af']!r} * pow({t}, {n!r}))"
    th = f"({n!r} * radians({lon} - {lon_0!r}))"
    return (
        f"({rho} * sin({th}))",
        f"({c['rho0']!r} - {rho} * cos({th}))",
    )


def lcc_ell_inv_sql(x: str, y: str, lat_0: float, lat_1: float,
                    lat_2: float | None, a: float, b: float,
                    lon_0: float = 0.0, k0: float = 1.0) -> tuple:
    c = lcc_ell_constants(lat_0, lat_1, lat_2, a, b, k0)
    e, n = c["e"], c["n"]
    sgn = 1.0 if n >= 0 else -1.0
    xs = f"({sgn!r} * CAST({x} AS DOUBLE))"
    ys = f"({sgn!r} * ({c['rho0']!r} - CAST({y} AS DOUBLE)))"
    rho = f"sqrt({xs} * {xs} + {ys} * {ys})"
    t = f"pow({sgn!r} * {rho} / {c['af']!r}, {1.0 / n!r})"
    chi = f"(pi() / 2.0 - 2.0 * atan({t}))"
    zeros = ", ".join(["0.0"] * _STERE_ELL_ITERS)
    phi = (f"list_reduce(list_prepend({chi}, [{zeros}]),"
           f" (acc, s) -> pi() / 2.0 - 2.0 * atan({t}"
           f" * pow((1.0 - {e!r} * sin(acc)) / (1.0 + {e!r} * sin(acc)),"
           f" {e / 2.0!r})))")
    lon = (f"((({lon_0!r} + degrees({sgn!r} * atan2({xs}, {ys}) / {n!r}))"
           f" + 540.0) % 360.0 - 180.0)")
    return lon, f"degrees({phi})"


# --- Ellipsoidal Mercator (+proj=merc +ellps/+a+b — EPSG 3395) --------
# Snyder eqs. 7-7/7-8 / EPSG method 9804/9805: y = −a·k0·ln t(φ) with
# the conformal t(φ); k0 = m(lat_ts) for the 2SP form or the explicit
# +k for 1SP. Same 8-step fixed-point inverse as the other conformal
# families. Validated against the EPSG GN7-2 Mercator worked example
# (Makassar / NEIEZ on Bessel: 120°E 3°S → 5 009 726.58 / 569 150.82)
# in tests/test_operators.py.


def merc_ell_constants(lat_ts: float | None, a: float, b: float,
                       k: float = 1.0) -> dict:
    import math as _m

    es = 1.0 - (b / a) ** 2
    e = _m.sqrt(es)
    if lat_ts is not None and lat_ts != 0.0:
        pts = _m.radians(lat_ts)
        k0 = _m.cos(pts) / _m.sqrt(1.0 - es * _m.sin(pts) ** 2)
    else:
        k0 = k
    return {"es": es, "e": e, "ak": a * k0}


def merc_ell_xy(lon, lat, a: float, b: float,
                lat_ts: float | None = None, lon_0: float = 0.0,
                k: float = 1.0) -> tuple:
    import math as _m

    c = merc_ell_constants(lat_ts, a, b, k)
    e = c["e"]
    phi = F.radians(_c(lat))
    esin = e * F.sin(phi)
    t = F.tan(F.lit(_m.pi / 4.0) - phi / 2.0) * F.pow(
        (1.0 + esin) / (1.0 - esin), e / 2.0)
    return (
        c["ak"] * F.radians(_c(lon) - F.lit(lon_0)),
        -c["ak"] * F.log(t),
    )


def merc_ell_inverse(x, y, a: float, b: float,
                     lat_ts: float | None = None, lon_0: float = 0.0,
                     k: float = 1.0) -> tuple:
    import math as _m

    c = merc_ell_constants(lat_ts, a, b, k)
    e = c["e"]
    t = F.exp(-_c(y) / c["ak"])
    chi = F.lit(_m.pi / 2.0) - 2.0 * F.atan(t)
    steps = F.array([F.lit(0.0)] * _STERE_ELL_ITERS)
    phi = F.aggregate(
        steps,
        chi.cast("double"),
        lambda acc, _: F.lit(_m.pi / 2.0) - 2.0 * F.atan(
            t * F.pow(
                (1.0 - e * F.sin(acc)) / (1.0 + e * F.sin(acc)),
                e / 2.0)
        ),
    )
    lon = F.degrees(_c(x) / c["ak"]) + F.lit(lon_0)
    return wrap_longitude(lon), F.degrees(phi)


def merc_ell_sql(lon: str, lat: str, a: float, b: float,
                 lat_ts: float | None = None, lon_0: float = 0.0,
                 k: float = 1.0) -> tuple:
    c = merc_ell_constants(lat_ts, a, b, k)
    e = c["e"]
    phi = f"radians({lat})"
    esin = f"({e!r} * sin({phi}))"
    t = (f"(tan(pi() / 4.0 - {phi} / 2.0)"
         f" * pow((1.0 + {esin}) / (1.0 - {esin}), {e / 2.0!r}))")
    return (
        f"({c['ak']!r} * radians({lon} - {lon_0!r}))",
        f"(-({c['ak']!r}) * ln({t}))",
    )


def merc_ell_inv_sql(x: str, y: str, a: float, b: float,
                     lat_ts: float | None = None, lon_0: float = 0.0,
                     k: float = 1.0) -> tuple:
    c = merc_ell_constants(lat_ts, a, b, k)
    e = c["e"]
    t = f"exp(-CAST({y} AS DOUBLE) / {c['ak']!r})"
    chi = f"(pi() / 2.0 - 2.0 * atan({t}))"
    zeros = ", ".join(["0.0"] * _STERE_ELL_ITERS)
    phi = (f"list_reduce(list_prepend({chi}, [{zeros}]),"
           f" (acc, s) -> pi() / 2.0 - 2.0 * atan({t}"
           f" * pow((1.0 - {e!r} * sin(acc)) / (1.0 + {e!r} * sin(acc)),"
           f" {e / 2.0!r})))")
    lon = (f"(((degrees(CAST({x} AS DOUBLE) / {c['ak']!r}) + {lon_0!r})"
           f" + 540.0) % 360.0 - 180.0)")
    return lon, f"degrees({phi})"


# --- Ellipsoidal equal-area family (authalic latitude) ----------------
# EASE-Grid 2.0 — THE modern snow/ice/soil-moisture grid family (SMAP,
# AMSR-2; EPSG 6931/6932/6933) — is defined on the WGS84 ELLIPSOID:
# cylindrical equal-area for the global grid, polar Lambert azimuthal
# equal-area for north/south. Both run on Snyder's authalic machinery:
# q(φ) = (1−e²)[sinφ/(1−e²sin²φ) − (1/2e)·ln((1−e·sinφ)/(1+e·sinφ))]
# (eq. 3-12), q_p = q(90°), and the closed-form authalic-latitude
# inverse series φ(β) (eq. 3-18). Forward/inverse are closed form —
# no iteration — so the plans cost the same as the spherical family.
# Validated against the published EASE-2 grid constants
# (x(180°) = 17 367 530.45 m global; ρ(equator) = 9 009 964.76 m
# north) in tests/test_operators.py.


def authalic_constants(a: float, b: float) -> dict:
    import math as _m

    es = 1.0 - (b / a) ** 2
    e = _m.sqrt(es)
    qp = (1.0 - es) * (
        1.0 / (1.0 - es)
        - (1.0 / (2.0 * e)) * _m.log((1.0 - e) / (1.0 + e))
    )
    return {
        "a": a, "es": es, "e": e, "qp": qp,
        # Snyder 3-18 series: φ = β + c2·sin2β + c4·sin4β + c6·sin6β
        "c2": es / 3.0 + 31.0 * es ** 2 / 180.0 + 517.0 * es ** 3 / 5040.0,
        "c4": 23.0 * es ** 2 / 360.0 + 251.0 * es ** 3 / 3780.0,
        "c6": 761.0 * es ** 3 / 45360.0,
    }


def _q_auth_col(lat, es: float, e: float):
    sphi = F.sin(F.radians(_c(lat)))
    return (1.0 - es) * (
        sphi / (1.0 - es * sphi * sphi)
        - (1.0 / (2.0 * e)) * F.log((1.0 - e * sphi) / (1.0 + e * sphi))
    )


def _q_auth_sql(lat: str, es: float, e: float) -> str:
    sphi = f"sin(radians({lat}))"
    return (f"({1.0 - es!r} * ({sphi} / (1.0 - {es!r} * {sphi} * {sphi})"
            f" - {1.0 / (2.0 * e)!r}"
            f" * ln((1.0 - {e!r} * {sphi}) / (1.0 + {e!r} * {sphi}))))")


def _auth_lat_col(beta, c: dict):
    return F.degrees(
        beta + c["c2"] * F.sin(2.0 * beta) + c["c4"] * F.sin(4.0 * beta)
        + c["c6"] * F.sin(6.0 * beta)
    )


def _auth_lat_sql(beta: str, c: dict) -> str:
    return (f"degrees({beta} + {c['c2']!r} * sin(2.0 * {beta})"
            f" + {c['c4']!r} * sin(4.0 * {beta})"
            f" + {c['c6']!r} * sin(6.0 * {beta}))")


def cea_ell_xy(lon, lat, lat_ts: float, a: float, b: float,
               lon_0: float = 0.0) -> tuple:
    import math as _m

    c = authalic_constants(a, b)
    phits = _m.radians(lat_ts)
    k0 = _m.cos(phits) / _m.sqrt(1.0 - c["es"] * _m.sin(phits) ** 2)
    return (
        (a * k0) * F.radians(_c(lon) - F.lit(lon_0)),
        (a / (2.0 * k0)) * _q_auth_col(lat, c["es"], c["e"]),
    )


def cea_ell_inverse(x, y, lat_ts: float, a: float, b: float,
                    lon_0: float = 0.0) -> tuple:
    import math as _m

    c = authalic_constants(a, b)
    phits = _m.radians(lat_ts)
    k0 = _m.cos(phits) / _m.sqrt(1.0 - c["es"] * _m.sin(phits) ** 2)
    beta = F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
        _c(y) * (2.0 * k0 / (a * c["qp"])))))
    lon = F.degrees(_c(x) / (a * k0)) + F.lit(lon_0)
    return wrap_longitude(lon), _auth_lat_col(beta, c)


def cea_ell_sql(lon: str, lat: str, lat_ts: float, a: float, b: float,
                lon_0: float = 0.0) -> tuple:
    import math as _m

    c = authalic_constants(a, b)
    phits = _m.radians(lat_ts)
    k0 = _m.cos(phits) / _m.sqrt(1.0 - c["es"] * _m.sin(phits) ** 2)
    return (
        f"({a * k0!r} * radians({lon} - {lon_0!r}))",
        f"({a / (2.0 * k0)!r} * {_q_auth_sql(lat, c['es'], c['e'])})",
    )


def cea_ell_inv_sql(x: str, y: str, lat_ts: float, a: float, b: float,
                    lon_0: float = 0.0) -> tuple:
    import math as _m

    c = authalic_constants(a, b)
    phits = _m.radians(lat_ts)
    k0 = _m.cos(phits) / _m.sqrt(1.0 - c["es"] * _m.sin(phits) ** 2)
    beta = (f"asin(greatest(-1.0, least(1.0, CAST({y} AS DOUBLE)"
            f" * {2.0 * k0 / (a * c['qp'])!r})))")
    lon = (f"(((degrees(CAST({x} AS DOUBLE) / {a * k0!r}) + {lon_0!r})"
           f" + 540.0) % 360.0 - 180.0)")
    return lon, _auth_lat_sql(beta, c)


def laea_ell_polar_xy(lon, lat, a: float, b: float, lon_0: float = 0.0,
                      north: bool = True) -> tuple:
    """Polar ellipsoidal LAEA (Snyder 24-23/24-24): ρ = a·√(q_p ∓ q);
    the EASE-Grid 2.0 north/south CRSs (EPSG 6931/6932)."""
    c = authalic_constants(a, b)
    q = _q_auth_col(lat, c["es"], c["e"])
    rho = a * F.sqrt(F.greatest(F.lit(0.0),
        (c["qp"] - q) if north else (c["qp"] + q)))
    lam = F.radians(_c(lon) - F.lit(lon_0))
    y = -rho * F.cos(lam) if north else rho * F.cos(lam)
    return rho * F.sin(lam), y


def laea_ell_polar_inverse(x, y, a: float, b: float, lon_0: float = 0.0,
                           north: bool = True) -> tuple:
    c = authalic_constants(a, b)
    xs, ys = _c(x), _c(y)
    rho2 = xs * xs + ys * ys
    q = (F.lit(c["qp"]) - rho2 / (a * a)) if north else (
        rho2 / (a * a) - F.lit(c["qp"]))
    beta = F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
                                                  q / c["qp"])))
    lam = F.atan2(xs, -ys) if north else F.atan2(xs, ys)
    lon = F.degrees(lam) + F.lit(lon_0)
    return wrap_longitude(lon), _auth_lat_col(beta, c)


def laea_ell_polar_sql(lon: str, lat: str, a: float, b: float,
                       lon_0: float = 0.0, north: bool = True) -> tuple:
    c = authalic_constants(a, b)
    q = _q_auth_sql(lat, c["es"], c["e"])
    inner = (f"({c['qp']!r} - {q})" if north
             else f"({c['qp']!r} + {q})")
    rho = f"({a!r} * sqrt(greatest(0.0, {inner})))"
    lam = f"radians({lon} - {lon_0!r})"
    y = (f"(-{rho} * cos({lam}))" if north
         else f"({rho} * cos({lam}))")
    return f"({rho} * sin({lam}))", y


def laea_ell_polar_inv_sql(x: str, y: str, a: float, b: float,
                           lon_0: float = 0.0,
                           north: bool = True) -> tuple:
    c = authalic_constants(a, b)
    xs, ys = f"CAST({x} AS DOUBLE)", f"CAST({y} AS DOUBLE)"
    rho2 = f"({xs} * {xs} + {ys} * {ys})"
    q = (f"({c['qp']!r} - {rho2} / {a * a!r})" if north
         else f"({rho2} / {a * a!r} - {c['qp']!r})")
    beta = f"asin(greatest(-1.0, least(1.0, {q} / {c['qp']!r})))"
    lam = (f"atan2({xs}, -{ys})" if north else f"atan2({xs}, {ys})")
    lon = (f"(((degrees({lam}) + {lon_0!r}) + 540.0) % 360.0 - 180.0)")
    return lon, _auth_lat_sql(beta, c)


def laea_ell_oblique_constants(lat_0: float, a: float, b: float) -> dict:
    """Snyder 24-17..24-21 oblique-aspect constants: authalic β1 of
    the center latitude, m1, Rq = a·√(q_p/2), D = a·m1/(Rq·cosβ1)."""
    import math as _m

    c = authalic_constants(a, b)
    phi1 = _m.radians(lat_0)
    s1 = _m.sin(phi1)
    q1 = (1.0 - c["es"]) * (
        s1 / (1.0 - c["es"] * s1 * s1)
        - (1.0 / (2.0 * c["e"]))
        * _m.log((1.0 - c["e"] * s1) / (1.0 + c["e"] * s1))
    )
    b1 = _m.asin(max(-1.0, min(1.0, q1 / c["qp"])))
    m1 = _m.cos(phi1) / _m.sqrt(1.0 - c["es"] * s1 * s1)
    rq = a * _m.sqrt(c["qp"] / 2.0)
    d = a * m1 / (rq * _m.cos(b1))
    c.update({"sb1": _m.sin(b1), "cb1": _m.cos(b1), "rq": rq, "d": d})
    return c


def laea_ell_oblique_xy(lon, lat, lat_0: float, a: float, b: float,
                        lon_0: float = 0.0) -> tuple:
    """Oblique ellipsoidal LAEA forward (Snyder 24-17..24-19) — the
    ETRS89-LAEA Europe CRS (EPSG 3035); reproduces the EPSG GN7-2
    worked example (5°E 50°N → 3 962 799.45 / 2 999 718.85 about the
    false origin) exactly (tests)."""
    c = laea_ell_oblique_constants(lat_0, a, b)
    beta = F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
        _q_auth_col(lat, c["es"], c["e"]) / c["qp"])))
    lam = F.radians(_c(lon) - F.lit(lon_0))
    sb, cb = F.sin(beta), F.cos(beta)
    bb = c["rq"] * F.sqrt(
        2.0 / (1.0 + c["sb1"] * sb + c["cb1"] * cb * F.cos(lam)))
    return (
        bb * c["d"] * cb * F.sin(lam),
        (bb / c["d"]) * (c["cb1"] * sb - c["sb1"] * cb * F.cos(lam)),
    )


def laea_ell_oblique_inverse(x, y, lat_0: float, a: float, b: float,
                             lon_0: float = 0.0) -> tuple:
    """Snyder 24-26..24-31/3-18 oblique inverse; the grid center
    (ρ = 0) resolves by the asin/atan2 limits (both engines give
    atan2(0, 0) = 0 and the q̂ term reduces to q_p·sinβ1)."""
    c = laea_ell_oblique_constants(lat_0, a, b)
    xs = _c(x) / c["d"]
    ys = c["d"] * _c(y)
    rho = F.sqrt(xs * xs + ys * ys)
    ce = 2.0 * F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
        rho / (2.0 * c["rq"]))))
    sin_ce, cos_ce = F.sin(ce), F.cos(ce)
    # ρ→0 limit: sin(ce)/ρ → 1/Rq·… ; guard the 0/0 with a CASE both
    # engines share (center pixel is a legitimate grid point)
    ys_term = F.when(rho == 0.0, F.lit(0.0)).otherwise(
        ys * sin_ce * c["cb1"] / rho)
    beta = F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
        cos_ce * c["sb1"] + ys_term)))
    lam = F.atan2(xs * sin_ce,
                  rho * c["cb1"] * cos_ce - ys * c["sb1"] * sin_ce)
    lon = F.degrees(lam) + F.lit(lon_0)
    return wrap_longitude(lon), _auth_lat_col(beta, c)


def laea_ell_oblique_sql(lon: str, lat: str, lat_0: float, a: float,
                         b: float, lon_0: float = 0.0) -> tuple:
    c = laea_ell_oblique_constants(lat_0, a, b)
    beta = (f"asin(greatest(-1.0, least(1.0,"
            f" {_q_auth_sql(lat, c['es'], c['e'])} / {c['qp']!r})))")
    lam = f"radians({lon} - {lon_0!r})"
    sb, cb = f"sin({beta})", f"cos({beta})"
    bb = (f"({c['rq']!r} * sqrt(2.0 / (1.0 + {c['sb1']!r} * {sb}"
          f" + {c['cb1']!r} * {cb} * cos({lam}))))")
    return (
        f"({bb} * {c['d']!r} * {cb} * sin({lam}))",
        f"(({bb} / {c['d']!r}) * ({c['cb1']!r} * {sb}"
        f" - {c['sb1']!r} * {cb} * cos({lam})))",
    )


def laea_ell_oblique_inv_sql(x: str, y: str, lat_0: float, a: float,
                             b: float, lon_0: float = 0.0) -> tuple:
    c = laea_ell_oblique_constants(lat_0, a, b)
    xs = f"(CAST({x} AS DOUBLE) / {c['d']!r})"
    ys = f"({c['d']!r} * CAST({y} AS DOUBLE))"
    rho = f"sqrt({xs} * {xs} + {ys} * {ys})"
    ce = (f"(2.0 * asin(greatest(-1.0, least(1.0,"
          f" {rho} / {2.0 * c['rq']!r}))))")
    ys_term = (f"(CASE WHEN {rho} = 0.0 THEN 0.0 ELSE"
               f" {ys} * sin({ce}) * {c['cb1']!r} / {rho} END)")
    beta = (f"asin(greatest(-1.0, least(1.0,"
            f" cos({ce}) * {c['sb1']!r} + {ys_term})))")
    lam = (f"atan2({xs} * sin({ce}), {rho} * {c['cb1']!r} * cos({ce})"
           f" - {ys} * {c['sb1']!r} * sin({ce}))")
    lon = f"(((degrees({lam}) + {lon_0!r}) + 540.0) % 360.0 - 180.0)"
    return lon, _auth_lat_sql(beta, c)


# --- Sinusoidal (+proj=sinu — the MODIS L3 tiling grid) ---------------
# Snyder eqs. 30-1/30-2 (spherical): x = R·radians(lon−lon_0)·cos(lat),
# y = R·radians(lat); equal-area, pseudocylindrical.

def sinu_xy(lon, lat, lon_0: float = 0.0, radius: float = R_EARTH):
    latr = F.radians(_c(lat))
    return (
        radius * F.radians(_c(lon) - F.lit(lon_0)) * F.cos(latr),
        radius * latr,
    )


def sinu_inverse(x, y, lon_0: float = 0.0, radius: float = R_EARTH):
    """(x, y) → (lon, lat) columns — Snyder 30-5/30-6 spherical."""
    xs, ys = _c(x), _c(y)
    lat = F.degrees(ys / radius)
    lon = F.degrees(xs / (radius * F.cos(ys / F.lit(radius)))) + F.lit(lon_0)
    return wrap_longitude(lon), lat


def sinu_inv_sql(x: str, y: str, lon_0: float = 0.0,
                 radius: float = R_EARTH) -> tuple:
    lat = f"(degrees(({y}) / {radius!r}))"
    lon = (
        f"((((degrees(({x}) / ({radius!r} * cos(({y}) / {radius!r})))"
        f" + {lon_0!r}) + 540.0) % 360.0) - 180.0)"
    )
    return lon, lat


# --- Transverse Mercator (spherical, +proj=tmerc / +proj=utm) ---------
# Snyder eqs. 8-5..8-8. UTM zone z ⇒ tmerc with lon_0 = 6z − 183,
# k = 0.9996, x_0 = 500 km (+ y_0 = 10 000 km when +south). The
# reference reads UTM areas through pyproj (utils/proj4.py); here the
# zone maps to closed-form column math. atanh/sinh/cosh are spelled as
# exp/ln so the Spark and DuckDB texts share one op sequence.

def tmerc_xy(lon, lat, lat_0: float = 0.0, lon_0: float = 0.0,
             k: float = 1.0, x_0: float = 0.0, y_0: float = 0.0,
             radius: float = R_EARTH) -> tuple:
    import math as _m

    rk = radius * k
    dlon = F.radians(_c(lon) - F.lit(lon_0))
    latr = F.radians(_c(lat))
    b = F.cos(latr) * F.sin(dlon)
    x = rk * (F.lit(0.5) * F.log((1.0 + b) / (1.0 - b))) + F.lit(x_0)
    y = (
        rk * (F.atan2(F.tan(latr), F.cos(dlon)) - F.lit(_m.radians(lat_0)))
        + F.lit(y_0)
    )
    return x, y


def tmerc_inverse(x, y, lat_0: float = 0.0, lon_0: float = 0.0,
                  k: float = 1.0, x_0: float = 0.0, y_0: float = 0.0,
                  radius: float = R_EARTH) -> tuple:
    """(x, y) → (lon, lat) columns — Snyder 8-6..8-8 spherical:
    D = y/(kR) + lat_0; lat = asin(sin D / cosh x'); lon = lon_0 +
    atan2(sinh x', cos D)."""
    import math as _m

    rk = radius * k
    xp = (_c(x) - F.lit(x_0)) / rk
    d = (_c(y) - F.lit(y_0)) / rk + F.lit(_m.radians(lat_0))
    cosh_x = (F.exp(xp) + F.exp(-xp)) / 2.0
    sinh_x = (F.exp(xp) - F.exp(-xp)) / 2.0
    lat = F.degrees(F.asin(F.sin(d) / cosh_x))
    lon = F.lit(lon_0) + F.degrees(F.atan2(sinh_x, F.cos(d)))
    return wrap_longitude(lon), lat


def tmerc_sql(lon: str, lat: str, lat_0: float = 0.0, lon_0: float = 0.0,
              k: float = 1.0, x_0: float = 0.0, y_0: float = 0.0,
              radius: float = R_EARTH) -> tuple:
    import math as _m

    rk = radius * k
    b = f"(cos(radians({lat})) * sin(radians({lon} - {lon_0!r})))"
    return (
        f"({rk!r} * (0.5 * ln((1.0 + {b}) / (1.0 - {b}))) + {x_0!r})",
        f"({rk!r} * (atan2(tan(radians({lat})), cos(radians({lon} - {lon_0!r})))"
        f" - {_m.radians(lat_0)!r}) + {y_0!r})",
    )


def tmerc_inv_sql(x: str, y: str, lat_0: float = 0.0, lon_0: float = 0.0,
                  k: float = 1.0, x_0: float = 0.0, y_0: float = 0.0,
                  radius: float = R_EARTH) -> tuple:
    import math as _m

    rk = radius * k
    xp = f"(({x} - {x_0!r}) / {rk!r})"
    d = f"(({y} - {y_0!r}) / {rk!r} + {_m.radians(lat_0)!r})"
    cosh_x = f"((exp({xp}) + exp(-{xp})) / 2.0)"
    sinh_x = f"((exp({xp}) - exp(-{xp})) / 2.0)"
    lon = (f"((({lon_0!r} + degrees(atan2({sinh_x}, cos({d}))) + 540.0)"
           f" % 360.0) - 180.0)")
    lat = f"degrees(asin(sin({d}) / {cosh_x}))"
    return lon, lat


# --- Ellipsoidal transverse Mercator (+proj=tmerc/+proj=utm +ellps) --
# Snyder eqs. 8-9..8-17 forward / 8-18..8-25 inverse (the Redfearn/
# Thomas series PROJ itself uses as tmerc's default "approx" kernel and
# every national mapping agency publishes): meridian arc M(φ) by the
# 4-term rectifying series, footpoint latitude by the e1 series on the
# inverse. Accurate to < 1 mm within ±3° of the central meridian —
# the UTM/Gauss-Krüger/OSGB operating band — validated in tests
# against the EPSG Guidance Note 7-2 worked example (OSGB36 Caister
# point: E 577274.99 N 69740.50, reproduced to 8 mm).


def tmerc_ell_constants(a: float, b: float, lat_0: float) -> dict:
    """Driver-side series constants shared by fwd/inv/SQL/scalar."""
    import math as _m

    es = 1.0 - (b / a) ** 2
    ep2 = es / (1.0 - es)
    m0c = 1.0 - es / 4.0 - 3.0 * es ** 2 / 64.0 - 5.0 * es ** 3 / 256.0
    m2c = 3.0 * es / 8.0 + 3.0 * es ** 2 / 32.0 + 45.0 * es ** 3 / 1024.0
    m4c = 15.0 * es ** 2 / 256.0 + 45.0 * es ** 3 / 1024.0
    m6c = 35.0 * es ** 3 / 3072.0
    phi0 = _m.radians(lat_0)
    m0 = a * (m0c * phi0 - m2c * _m.sin(2 * phi0)
              + m4c * _m.sin(4 * phi0) - m6c * _m.sin(6 * phi0))
    sq = _m.sqrt(1.0 - es)
    e1 = (1.0 - sq) / (1.0 + sq)
    return {"a": a, "es": es, "ep2": ep2, "m0c": m0c, "m2c": m2c,
            "m4c": m4c, "m6c": m6c, "M0": m0, "e1": e1}


def tmerc_ell_xy(lon, lat, lat_0: float, lon_0: float, a: float,
                 b: float, k: float = 1.0, x_0: float = 0.0,
                 y_0: float = 0.0) -> tuple:
    c = tmerc_ell_constants(a, b, lat_0)
    es, ep2 = c["es"], c["ep2"]
    phi = F.radians(_c(lat))
    sphi, cphi, tphi = F.sin(phi), F.cos(phi), F.tan(phi)
    n = a / F.sqrt(1.0 - es * sphi * sphi)
    t = tphi * tphi
    cc = ep2 * cphi * cphi
    aa = F.radians(_c(lon) - F.lit(lon_0)) * cphi
    m = a * (c["m0c"] * phi - c["m2c"] * F.sin(2.0 * phi)
             + c["m4c"] * F.sin(4.0 * phi) - c["m6c"] * F.sin(6.0 * phi))
    a2 = aa * aa
    x = k * n * aa * (
        1.0 + a2 / 6.0 * ((1.0 - t + cc)
                          + a2 / 20.0 * (5.0 - 18.0 * t + t * t
                                         + 72.0 * cc - 58.0 * ep2))
    ) + F.lit(float(x_0))
    y = k * (m - c["M0"] + n * tphi * (a2 / 2.0) * (
        1.0 + a2 / 12.0 * ((5.0 - t + 9.0 * cc + 4.0 * cc * cc)
                           + a2 / 30.0 * (61.0 - 58.0 * t + t * t
                                          + 600.0 * cc - 330.0 * ep2))
    )) + F.lit(float(y_0))
    return x, y


def tmerc_ell_inverse(x, y, lat_0: float, lon_0: float, a: float,
                      b: float, k: float = 1.0, x_0: float = 0.0,
                      y_0: float = 0.0) -> tuple:
    c = tmerc_ell_constants(a, b, lat_0)
    es, ep2, e1 = c["es"], c["ep2"], c["e1"]
    m = c["M0"] + (_c(y) - F.lit(float(y_0))) / k
    mu = m / (a * c["m0c"])
    phi1 = (mu
            + (3.0 * e1 / 2.0 - 27.0 * e1 ** 3 / 32.0) * F.sin(2.0 * mu)
            + (21.0 * e1 ** 2 / 16.0 - 55.0 * e1 ** 4 / 32.0)
            * F.sin(4.0 * mu)
            + (151.0 * e1 ** 3 / 96.0) * F.sin(6.0 * mu)
            + (1097.0 * e1 ** 4 / 512.0) * F.sin(8.0 * mu))
    s1, c1, t1 = F.sin(phi1), F.cos(phi1), F.tan(phi1)
    cc1 = ep2 * c1 * c1
    tt1 = t1 * t1
    n1 = a / F.sqrt(1.0 - es * s1 * s1)
    r1 = a * (1.0 - es) / F.pow(1.0 - es * s1 * s1, 1.5)
    d = (_c(x) - F.lit(float(x_0))) / (n1 * k)
    d2 = d * d
    lat = F.degrees(phi1 - (n1 * t1 / r1) * (d2 / 2.0) * (
        1.0 - d2 / 12.0 * ((5.0 + 3.0 * tt1 + 10.0 * cc1
                            - 4.0 * cc1 * cc1 - 9.0 * ep2)
                           - d2 / 30.0 * (61.0 + 90.0 * tt1
                                          + 298.0 * cc1 + 45.0 * tt1 * tt1
                                          - 252.0 * ep2 - 3.0 * cc1 * cc1))
    ))
    lon = F.lit(lon_0) + F.degrees(d * (
        1.0 - d2 / 6.0 * ((1.0 + 2.0 * tt1 + cc1)
                          - d2 / 20.0 * (5.0 - 2.0 * cc1 + 28.0 * tt1
                                         - 3.0 * cc1 * cc1 + 8.0 * ep2
                                         + 24.0 * tt1 * tt1))
    ) / c1)
    return wrap_longitude(lon), lat


def tmerc_ell_sql(lon: str, lat: str, lat_0: float, lon_0: float,
                  a: float, b: float, k: float = 1.0, x_0: float = 0.0,
                  y_0: float = 0.0) -> tuple:
    c = tmerc_ell_constants(a, b, lat_0)
    es, ep2 = c["es"], c["ep2"]
    phi = f"radians({lat})"
    sphi, cphi, tphi = f"sin({phi})", f"cos({phi})", f"tan({phi})"
    n = f"({a!r} / sqrt(1.0 - {es!r} * {sphi} * {sphi}))"
    t = f"({tphi} * {tphi})"
    cc = f"({ep2!r} * {cphi} * {cphi})"
    aa = f"(radians({lon} - {lon_0!r}) * {cphi})"
    a2 = f"({aa} * {aa})"
    m = (f"({a!r} * ({c['m0c']!r} * {phi} - {c['m2c']!r} * sin(2.0 * {phi})"
         f" + {c['m4c']!r} * sin(4.0 * {phi})"
         f" - {c['m6c']!r} * sin(6.0 * {phi})))")
    x = (f"({k!r} * {n} * {aa} * (1.0 + {a2} / 6.0 * ((1.0 - {t} + {cc})"
         f" + {a2} / 20.0 * (5.0 - 18.0 * {t} + {t} * {t}"
         f" + 72.0 * {cc} - {58.0 * ep2!r}))) + {float(x_0)!r})")
    y = (f"({k!r} * ({m} - {c['M0']!r} + {n} * {tphi} * ({a2} / 2.0)"
         f" * (1.0 + {a2} / 12.0 * ((5.0 - {t} + 9.0 * {cc}"
         f" + 4.0 * {cc} * {cc}) + {a2} / 30.0 * (61.0 - 58.0 * {t}"
         f" + {t} * {t} + 600.0 * {cc} - {330.0 * ep2!r}))))"
         f" + {float(y_0)!r})")
    return x, y


def tmerc_ell_inv_sql(x: str, y: str, lat_0: float, lon_0: float,
                      a: float, b: float, k: float = 1.0,
                      x_0: float = 0.0, y_0: float = 0.0) -> tuple:
    c = tmerc_ell_constants(a, b, lat_0)
    es, ep2, e1 = c["es"], c["ep2"], c["e1"]
    mu = (f"(({c['M0']!r} + (CAST({y} AS DOUBLE) - {float(y_0)!r})"
          f" / {k!r}) / {a * c['m0c']!r})")
    phi1 = (f"({mu} + {3.0 * e1 / 2.0 - 27.0 * e1 ** 3 / 32.0!r}"
            f" * sin(2.0 * {mu})"
            f" + {21.0 * e1 ** 2 / 16.0 - 55.0 * e1 ** 4 / 32.0!r}"
            f" * sin(4.0 * {mu})"
            f" + {151.0 * e1 ** 3 / 96.0!r} * sin(6.0 * {mu})"
            f" + {1097.0 * e1 ** 4 / 512.0!r} * sin(8.0 * {mu}))")
    s1, c1, t1 = f"sin({phi1})", f"cos({phi1})", f"tan({phi1})"
    cc1 = f"({ep2!r} * {c1} * {c1})"
    tt1 = f"({t1} * {t1})"
    n1 = f"({a!r} / sqrt(1.0 - {es!r} * {s1} * {s1}))"
    r1 = f"({a * (1.0 - es)!r} / pow(1.0 - {es!r} * {s1} * {s1}, 1.5))"
    d = f"((CAST({x} AS DOUBLE) - {float(x_0)!r}) / ({n1} * {k!r}))"
    d2 = f"({d} * {d})"
    lat = (f"degrees({phi1} - ({n1} * {t1} / {r1}) * ({d2} / 2.0)"
           f" * (1.0 - {d2} / 12.0 * ((5.0 + 3.0 * {tt1} + 10.0 * {cc1}"
           f" - 4.0 * {cc1} * {cc1} - {9.0 * ep2!r})"
           f" - {d2} / 30.0 * (61.0 + 90.0 * {tt1} + 298.0 * {cc1}"
           f" + 45.0 * {tt1} * {tt1} - {252.0 * ep2!r}"
           f" - 3.0 * {cc1} * {cc1}))))")
    lon = (f"((({lon_0!r} + degrees({d} * (1.0 - {d2} / 6.0"
           f" * ((1.0 + 2.0 * {tt1} + {cc1}) - {d2} / 20.0"
           f" * (5.0 - 2.0 * {cc1} + 28.0 * {tt1} - 3.0 * {cc1} * {cc1}"
           f" + {8.0 * ep2!r} + 24.0 * {tt1} * {tt1}))) / {c1}))"
           f" + 540.0) % 360.0 - 180.0)")
    return lon, lat


def utm_params(zone: int, south: bool = False) -> dict:
    """UTM zone → tmerc parameters (spherical; the standard zone
    layout: central meridian 6·zone − 183, k0 = 0.9996, FE 500 km,
    FN 10 000 km in the south)."""
    return {
        "lat_0": 0.0,
        "lon_0": 6.0 * zone - 183.0,
        "k": 0.9996,
        "x_0": 500_000.0,
        "y_0": 10_000_000.0 if south else 0.0,
    }


# --- Lambert conformal conic (spherical, +proj=lcc) -------------------
# Snyder eqs. 15-1..15-5 with one or two standard parallels — the CONUS
# workhorse CRS (the reference's own LCC test fixture,
# pyresample/test/conftest.py:194-254, goes through pyproj).

def lcc_constants(lat_0: float, lat_1: float, lat_2: float | None = None,
                  radius: float = R_EARTH) -> tuple:
    """Driver-side cone constants (n, R·F, ρ0) shared by fwd/inv/SQL."""
    import math as _m

    p1 = _m.radians(lat_1)
    p2 = _m.radians(lat_2 if lat_2 is not None else lat_1)
    if abs(p1 - p2) < 1e-12:
        n = _m.sin(p1)
    else:
        n = _m.log(_m.cos(p1) / _m.cos(p2)) / _m.log(
            _m.tan(_m.pi / 4 + p2 / 2) / _m.tan(_m.pi / 4 + p1 / 2)
        )
    rf = radius * _m.cos(p1) * _m.tan(_m.pi / 4 + p1 / 2) ** n / n
    rho0 = rf / _m.tan(_m.pi / 4 + _m.radians(lat_0) / 2) ** n
    return n, rf, rho0


def lcc_x(lon, lat, lat_0: float, lat_1: float, lat_2: float | None = None,
          lon_0: float = 0.0, radius: float = R_EARTH) -> Column:
    n, rf, rho0 = lcc_constants(lat_0, lat_1, lat_2, radius)
    rho = rf / F.pow(F.tan(F.lit(3.141592653589793 / 4) + F.radians(_c(lat)) / 2), n)
    return rho * F.sin(n * F.radians(_c(lon) - F.lit(lon_0)))


def lcc_y(lon, lat, lat_0: float, lat_1: float, lat_2: float | None = None,
          lon_0: float = 0.0, radius: float = R_EARTH) -> Column:
    n, rf, rho0 = lcc_constants(lat_0, lat_1, lat_2, radius)
    rho = rf / F.pow(F.tan(F.lit(3.141592653589793 / 4) + F.radians(_c(lat)) / 2), n)
    return rho0 - rho * F.cos(n * F.radians(_c(lon) - F.lit(lon_0)))


def lcc_inverse(x, y, lat_0: float, lat_1: float, lat_2: float | None = None,
                lon_0: float = 0.0, radius: float = R_EARTH):
    """(x, y) → (lon, lat) columns — Snyder 15-5/14-9..14-11 spherical.
    Northern cones (n > 0) only; the sign flip for southern cones is a
    driver-side negation of (x, ρ0−y)."""
    import math as _m

    n, rf, rho0 = lcc_constants(lat_0, lat_1, lat_2, radius)
    sgn = 1.0 if n >= 0 else -1.0
    xs, ys = _c(x) * sgn, (F.lit(rho0) - _c(y)) * sgn
    rho = sgn * F.sqrt(xs * xs + ys * ys)
    theta = F.atan2(xs, ys)
    lat = 2.0 * F.degrees(F.atan(F.pow(F.lit(rf) / rho, 1.0 / n))) - 90.0
    lon = F.degrees(theta) / n + F.lit(lon_0)
    return wrap_longitude(lon), lat


def lcc_inv_sql(x: str, y: str, lat_0: float, lat_1: float,
                lat_2: float | None = None, lon_0: float = 0.0,
                radius: float = R_EARTH) -> tuple:
    n, rf, rho0 = lcc_constants(lat_0, lat_1, lat_2, radius)
    sgn = 1.0 if n >= 0 else -1.0
    xs = f"({x} * {sgn!r})"
    ys = f"(({rho0!r} - {y}) * {sgn!r})"
    rho = f"({sgn!r} * sqrt({xs} * {xs} + {ys} * {ys}))"
    lat = f"(2.0 * degrees(atan(pow({rf!r} / {rho}, {1.0 / n!r}))) - 90.0)"
    # Double-mod wrap — same conic /n amplification as aea_inv_sql
    # (ADVICE r4): degrees(atan2)/n can exceed 540-|lon_0| for small n.
    lon = (f"(((({lon_0!r} + degrees(atan2({xs}, {ys})) / {n!r})"
           f" + 180.0) % 360.0 + 360.0) % 360.0 - 180.0)")
    return lon, lat


# --- Oblique swath-following frame (+proj=omerc analog) ---------------
# The engine's fitted-frame convention (operators/optimal_bb.py, the
# Spark form of compute_optimal_bb_area, reference geometry.py:
# 1019-1040): an orthonormal frame (e1, e2, e3) whose equator follows
# the swath; x = R·u with u = atan2(p·e2, p·e1) (along-track angle),
# y = R·v with v = asin(p·e3) (cross-track angle). Two cross-track
# geometries are supported via ``cross_track``:
#   "equidistant" (default) — y = R·v; the fitted-bb convention (a
#     bounding area wants equally spaced cross-track rows).
#   "mercator" — y = R·atanh(sin v), PROJ omerc's spherical aposphere
#     geometry (conformal: cross-track stretch matches along-track at
#     each v), so round-trips against PROJ agree to spherical terms.
#     The two agree to O(v³) near the track.
# The frame is fully determined by (lat_0, lonc, alpha): center point
# (lat_0, lonc) = e1, along-track azimuth alpha (degrees clockwise
# from north at the center) = e2, pole e3 = e1 × e2.
# atanh/tanh/sech are spelled as exp/ln on BOTH engines (the tmerc
# idiom above) so Spark and DuckDB run identical floating ops.

def omerc_frame(lat_0: float, lonc: float, alpha: float) -> tuple:
    """(lat_0, lonc, alpha) → orthonormal frame rows (e1, e2, e3)."""
    import math as _m

    p0, l0, a = _m.radians(lat_0), _m.radians(lonc), _m.radians(alpha)
    c = (_m.cos(p0) * _m.cos(l0), _m.cos(p0) * _m.sin(l0), _m.sin(p0))
    north = (-_m.sin(p0) * _m.cos(l0), -_m.sin(p0) * _m.sin(l0), _m.cos(p0))
    east = (-_m.sin(l0), _m.cos(l0), 0.0)
    t = tuple(_m.cos(a) * n + _m.sin(a) * e for n, e in zip(north, east))
    pole = (
        c[1] * t[2] - c[2] * t[1],
        c[2] * t[0] - c[0] * t[2],
        c[0] * t[1] - c[1] * t[0],
    )
    return c, t, pole


def omerc_azimuth(e1, e2) -> float:
    """Along-track azimuth (degrees, clockwise from north at the frame
    center e1) of the tangent e2 — the +alpha that lets
    :func:`omerc_frame` reconstruct the frame exactly."""
    import math as _m

    lat0 = _m.asin(max(-1.0, min(1.0, e1[2])))
    lonc = _m.atan2(e1[1], e1[0])
    north = (
        -_m.sin(lat0) * _m.cos(lonc),
        -_m.sin(lat0) * _m.sin(lonc),
        _m.cos(lat0),
    )
    east = (-_m.sin(lonc), _m.cos(lonc), 0.0)
    tn = sum(a * b for a, b in zip(e2, north))
    te = sum(a * b for a, b in zip(e2, east))
    return _m.degrees(_m.atan2(te, tn))


def _dot3(xc, yc, zc, v):
    return xc * float(v[0]) + yc * float(v[1]) + zc * float(v[2])


def omerc_xy(lon, lat, frame, radius: float = R_EARTH,
             cross_track: str = "equidistant") -> tuple:
    e1, e2, e3 = frame
    lonr, latr = F.radians(_c(lon)), F.radians(_c(lat))
    xc = F.cos(latr) * F.cos(lonr)
    yc = F.cos(latr) * F.sin(lonr)
    zc = F.sin(latr)
    u = F.atan2(_dot3(xc, yc, zc, e2), _dot3(xc, yc, zc, e1))
    lim = 1.0 - 1e-15  # atanh(±1) = ±inf: clamp strictly inside
    sv = F.greatest(F.lit(-lim), F.least(F.lit(lim), _dot3(xc, yc, zc, e3)))
    if cross_track == "mercator":
        yy = 0.5 * F.log((1.0 + sv) / (1.0 - sv))
    else:
        yy = F.asin(sv)
    return u * radius, yy * radius


def omerc_inverse(x, y, frame, radius: float = R_EARTH,
                  cross_track: str = "equidistant") -> tuple:
    """(x, y) → (lon, lat): p = cos v (cos u e1 + sin u e2) + sin v e3,
    with (cos v, sin v) = (sech t, tanh t), t = y/R in mercator mode."""
    e1, e2, e3 = frame
    u = _c(x) / radius
    t = _c(y) / radius
    cu, su = F.cos(u), F.sin(u)
    if cross_track == "mercator":
        e = F.exp(t)
        den = e + 1.0 / e
        sv = (e - 1.0 / e) / den
        cv = F.lit(2.0) / den
    else:
        cv, sv = F.cos(t), F.sin(t)
    px = cv * (cu * e1[0] + su * e2[0]) + sv * e3[0]
    py = cv * (cu * e1[1] + su * e2[1]) + sv * e3[1]
    pz = cv * (cu * e1[2] + su * e2[2]) + sv * e3[2]
    lon = F.degrees(F.atan2(py, px))
    lat = F.degrees(F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), pz))))
    return wrap_longitude(lon), lat


def omerc_sql(lon: str, lat: str, frame, radius: float = R_EARTH,
              cross_track: str = "equidistant") -> tuple:
    e1, e2, e3 = frame
    xc = f"(cos(radians({lat})) * cos(radians({lon})))"
    yc = f"(cos(radians({lat})) * sin(radians({lon})))"
    zc = f"(sin(radians({lat})))"
    d1 = f"({xc} * {e1[0]!r} + {yc} * {e1[1]!r} + {zc} * {e1[2]!r})"
    d2 = f"({xc} * {e2[0]!r} + {yc} * {e2[1]!r} + {zc} * {e2[2]!r})"
    lim = 1.0 - 1e-15
    sv = (f"(GREATEST({-lim!r}, LEAST({lim!r}, "
          f"{xc} * {e3[0]!r} + {yc} * {e3[1]!r} + {zc} * {e3[2]!r})))")
    if cross_track == "mercator":
        yy = f"(0.5 * ln((1.0 + {sv}) / (1.0 - {sv})))"
    else:
        yy = f"asin({sv})"
    return (
        f"(atan2({d2}, {d1}) * {radius!r})",
        f"({yy} * {radius!r})",
    )


def omerc_inv_sql(x: str, y: str, frame, radius: float = R_EARTH,
                  cross_track: str = "equidistant") -> tuple:
    e1, e2, e3 = frame
    u, t = f"(({x}) / {radius!r})", f"(({y}) / {radius!r})"
    if cross_track == "mercator":
        den = f"(exp({t}) + 1.0 / exp({t}))"
        sv = f"((exp({t}) - 1.0 / exp({t})) / {den})"
        cv = f"(2.0 / {den})"
    else:
        cv, sv = f"cos({t})", f"sin({t})"
    px = (f"({cv} * (cos({u}) * {e1[0]!r} + sin({u}) * {e2[0]!r})"
          f" + {sv} * {e3[0]!r})")
    py = (f"({cv} * (cos({u}) * {e1[1]!r} + sin({u}) * {e2[1]!r})"
          f" + {sv} * {e3[1]!r})")
    pz = (f"({cv} * (cos({u}) * {e1[2]!r} + sin({u}) * {e2[2]!r})"
          f" + {sv} * {e3[2]!r})")
    lon = f"(((degrees(atan2({py}, {px})) + 540.0) % 360.0) - 180.0)"
    lat = f"degrees(asin(LEAST(1.0, GREATEST(-1.0, {pz}))))"
    return lon, lat


# --- Geostationary (spherical, +proj=geos +h=.. [+sweep=x|y]) ---------
# The dominant real-world satellite CRS (GOES sweep=x, MSG/SEVIRI
# sweep=y). Spherical form of the PROJ geos projection: the view vector
# from a satellite at radius R+h intersected with the sphere. Off-disc
# points (behind the horizon) are NULL, mirroring PROJ's F_ERROR.

def _geos_v(lon, lat, lon_0: float):
    lam = F.radians(_c(lon) - F.lit(lon_0))
    phi = F.radians(_c(lat))
    return F.cos(phi) * F.cos(lam), F.cos(phi) * F.sin(lam), F.sin(phi)


def geos_xy(lon, lat, h: float, lon_0: float = 0.0, sweep: str = "y",
            radius: float = R_EARTH) -> tuple:
    """Forward geostationary (x, y) columns in meters; NULL off-disc."""
    rg = 1.0 + h / radius  # satellite distance in earth radii
    vx, vy, vz = _geos_v(lon, lat, lon_0)
    visible = (F.lit(rg) - vx) * vx - vy * vy - vz * vz >= 0.0
    tmp = F.lit(rg) - vx
    if sweep == "x":
        xx = h * F.atan(vy / F.sqrt(vz * vz + tmp * tmp))
        yy = h * F.atan(vz / tmp)
    else:
        xx = h * F.atan(vy / tmp)
        yy = h * F.atan(vz / F.sqrt(vy * vy + tmp * tmp))
    return (
        F.when(visible, xx).otherwise(F.lit(None)),
        F.when(visible, yy).otherwise(F.lit(None)),
    )


def geos_inverse(x, y, h: float, lon_0: float = 0.0, sweep: str = "y",
                 radius: float = R_EARTH):
    """(x, y) → (lon, lat) columns; NULL where the view ray misses the
    sphere (negative discriminant)."""
    rg = 1.0 + h / radius
    xs, ys = _c(x), _c(y)
    if sweep == "x":
        vz = F.tan(ys / h)
        vy = F.tan(xs / h) * F.sqrt(1.0 + vz * vz)
    else:
        vy = F.tan(xs / h)
        vz = F.tan(ys / h) * F.sqrt(1.0 + vy * vy)
    a = vy * vy + vz * vz + 1.0
    b = F.lit(2.0 * rg) * F.lit(-1.0)  # 2·rg·Vx with Vx = −1
    det = b * b - 4.0 * a * F.lit(rg * rg - 1.0)
    k = (-b - F.sqrt(det)) / (2.0 * a)
    wx = F.lit(rg) - k
    wy, wz = vy * k, vz * k
    lam = F.atan2(wy, wx)
    lon = F.degrees(lam) + F.lit(lon_0)
    lat = F.degrees(F.atan(wz * F.cos(lam) / wx))
    null = F.lit(None).cast("double")
    return (
        F.when(det >= 0.0, wrap_longitude(lon)).otherwise(null),
        F.when(det >= 0.0, lat).otherwise(null),
    )


def geos_inv_sql(x: str, y: str, h: float, lon_0: float = 0.0,
                 sweep: str = "y", radius: float = R_EARTH) -> tuple:
    rg = 1.0 + h / radius
    if sweep == "x":
        vz = f"(tan({y} / {h!r}))"
        vy = f"(tan({x} / {h!r}) * sqrt(1.0 + {vz} * {vz}))"
    else:
        vy = f"(tan({x} / {h!r}))"
        vz = f"(tan({y} / {h!r}) * sqrt(1.0 + {vy} * {vy}))"
    a = f"({vy} * {vy} + {vz} * {vz} + 1.0)"
    b = f"({-2.0 * rg!r})"
    det = f"({b} * {b} - 4.0 * {a} * {rg * rg - 1.0!r})"
    k = f"((-({b}) - sqrt({det})) / (2.0 * {a}))"
    wx = f"({rg!r} - {k})"
    lam = f"atan2({vy} * {k}, {wx})"
    lon = (f"(((degrees({lam}) + {lon_0!r} + 540.0) % 360.0) - 180.0)")
    lat = f"(degrees(atan({vz} * {k} * cos({lam}) / {wx})))"
    return (
        f"(CASE WHEN {det} >= 0.0 THEN {lon} END)",
        f"(CASE WHEN {det} >= 0.0 THEN {lat} END)",
    )


# --- Albers equal-area conic (spherical, +proj=aea) -------------------
# Snyder eqs. 14-1..14-11 — the most-used conic after LCC (US NLCD /
# Census Albers). The reference reaches aea areas through pyproj
# (utils/proj4.py:108-165, geometry.py:1521-1523); here closed-form.

def aea_constants(lat_1: float, lat_2: float | None = None,
                  lat_0: float = 0.0, radius: float = R_EARTH) -> tuple:
    """(n, C, rho_0) cone constants, Snyder 14-3/14-5/14-12a."""
    import math as _m

    p1 = _m.radians(lat_1)
    n = (
        (_m.sin(p1) + _m.sin(_m.radians(lat_2))) / 2.0
        if lat_2 is not None and lat_2 != lat_1
        else _m.sin(p1)
    )
    if abs(n) < 1e-12:
        raise NotImplementedError(
            f"aea with lat_1={lat_1}, lat_2={lat_2} degenerates to a "
            "cylinder (cone constant n = 0); use cea/eqc for "
            "symmetric-about-equator parallels"
        )
    c = _m.cos(p1) ** 2 + 2.0 * n * _m.sin(p1)
    rho0 = radius * _m.sqrt(c - 2.0 * n * _m.sin(_m.radians(lat_0))) / n
    return n, c, rho0


def aea_xy(lon, lat, lat_1: float, lat_2: float | None = None,
           lat_0: float = 0.0, lon_0: float = 0.0,
           radius: float = R_EARTH) -> tuple:
    n, c, rho0 = aea_constants(lat_1, lat_2, lat_0, radius)
    rho = radius * F.sqrt(F.lit(c) - 2.0 * n * F.sin(F.radians(_c(lat)))) / n
    theta = n * F.radians(_c(lon) - F.lit(lon_0))
    return rho * F.sin(theta), F.lit(rho0) - rho * F.cos(theta)


def aea_inverse(x, y, lat_1: float, lat_2: float | None = None,
                lat_0: float = 0.0, lon_0: float = 0.0,
                radius: float = R_EARTH) -> tuple:
    """(x, y) → (lon, lat) columns — Snyder 14-8..14-11 spherical."""
    n, c, rho0 = aea_constants(lat_1, lat_2, lat_0, radius)
    sgn = 1.0 if n >= 0 else -1.0
    xs, ys = _c(x) * sgn, (F.lit(rho0) - _c(y)) * sgn
    rho = sgn * F.sqrt(xs * xs + ys * ys)
    lat = F.degrees(F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
        (F.lit(c) - (rho * n / radius) * (rho * n / radius)) / (2.0 * n)))))
    lon = F.lit(lon_0) + F.degrees(F.atan2(xs, ys)) / n
    return wrap_longitude(lon), lat


def aea_sql(lon: str, lat: str, lat_1: float, lat_2: float | None = None,
            lat_0: float = 0.0, lon_0: float = 0.0,
            radius: float = R_EARTH) -> tuple:
    n, c, rho0 = aea_constants(lat_1, lat_2, lat_0, radius)
    r_over_n = radius / n
    rho = f"({r_over_n!r} * sqrt({c!r} - {2.0 * n!r} * sin(radians({lat}))))"
    theta = f"({n!r} * radians({lon} - {lon_0!r}))"
    return (
        f"({rho} * sin({theta}))",
        f"({rho0!r} - {rho} * cos({theta}))",
    )


def aea_inv_sql(x: str, y: str, lat_1: float, lat_2: float | None = None,
                lat_0: float = 0.0, lon_0: float = 0.0,
                radius: float = R_EARTH) -> tuple:
    n, c, rho0 = aea_constants(lat_1, lat_2, lat_0, radius)
    sgn = 1.0 if n >= 0 else -1.0
    # CAST inputs to DOUBLE: DuckDB types decimal-literal arithmetic as
    # DECIMAL and overflows on xs*xs (same pitfall as merc_sql/cea_sql)
    xs = f"(CAST({x} AS DOUBLE) * {sgn!r})"
    ys = f"(({rho0!r} - CAST({y} AS DOUBLE)) * {sgn!r})"
    rho = f"({sgn!r} * sqrt({xs} * {xs} + {ys} * {ys}))"
    n_over_r = n / radius
    lat = (f"degrees(asin(greatest(-1.0, least(1.0, ({c!r}"
           f" - ({rho} * {n_over_r!r}) * ({rho} * {n_over_r!r}))"
           f" / {2.0 * n!r}))))")
    # Double-mod wrap (wrap_longitude's SQL twin): the conic lon term
    # degrees(atan2)/n can exceed 540-|lon_0| when n is small (lat_1
    # below ~24°), where the single-mod form under DuckDB's fmod yields
    # lon < -180 (ADVICE r4).
    lon = (f"(((({lon_0!r} + degrees(atan2({xs}, {ys})) / {n!r})"
           f" + 180.0) % 360.0 + 360.0) % 360.0 - 180.0)")
    return lon, lat


# --- Equidistant conic (spherical, +proj=eqdc) ------------------------
# Snyder eqs. 16-1..16-4 — the simple conic (true scale on both
# standard parallels, equally spaced parallels).

def eqdc_constants(lat_1: float, lat_2: float | None = None,
                   lat_0: float = 0.0, radius: float = R_EARTH) -> tuple:
    """(n, G, rho_0) cone constants, Snyder 16-4/16-3/16-2."""
    import math as _m

    p1 = _m.radians(lat_1)
    if lat_2 is not None and lat_2 != lat_1:
        p2 = _m.radians(lat_2)
        n = (_m.cos(p1) - _m.cos(p2)) / (p2 - p1)
    else:
        n = _m.sin(p1)
    if abs(n) < 1e-12:
        raise NotImplementedError(
            f"eqdc with lat_1={lat_1}, lat_2={lat_2} degenerates to a "
            "cylinder (cone constant n = 0, e.g. lat_2 = -lat_1 or a "
            "single equatorial parallel); use eqc for that geometry"
        )
    g = _m.cos(p1) / n + p1
    rho0 = radius * (g - _m.radians(lat_0))
    return n, g, rho0


def eqdc_xy(lon, lat, lat_1: float, lat_2: float | None = None,
            lat_0: float = 0.0, lon_0: float = 0.0,
            radius: float = R_EARTH) -> tuple:
    n, g, rho0 = eqdc_constants(lat_1, lat_2, lat_0, radius)
    rho = radius * (F.lit(g) - F.radians(_c(lat)))
    theta = n * F.radians(_c(lon) - F.lit(lon_0))
    return rho * F.sin(theta), F.lit(rho0) - rho * F.cos(theta)


def eqdc_inverse(x, y, lat_1: float, lat_2: float | None = None,
                 lat_0: float = 0.0, lon_0: float = 0.0,
                 radius: float = R_EARTH) -> tuple:
    """(x, y) → (lon, lat) columns — Snyder 16-4' inverse spherical."""
    n, g, rho0 = eqdc_constants(lat_1, lat_2, lat_0, radius)
    sgn = 1.0 if n >= 0 else -1.0
    xs, ys = _c(x) * sgn, (F.lit(rho0) - _c(y)) * sgn
    rho = sgn * F.sqrt(xs * xs + ys * ys)
    lat = F.degrees(F.lit(g) - rho / radius)
    lon = F.lit(lon_0) + F.degrees(F.atan2(xs, ys)) / n
    return wrap_longitude(lon), lat


def eqdc_sql(lon: str, lat: str, lat_1: float, lat_2: float | None = None,
             lat_0: float = 0.0, lon_0: float = 0.0,
             radius: float = R_EARTH) -> tuple:
    n, g, rho0 = eqdc_constants(lat_1, lat_2, lat_0, radius)
    rho = f"({radius!r} * ({g!r} - radians({lat})))"
    theta = f"({n!r} * radians({lon} - {lon_0!r}))"
    return (
        f"({rho} * sin({theta}))",
        f"({rho0!r} - {rho} * cos({theta}))",
    )


def eqdc_inv_sql(x: str, y: str, lat_1: float, lat_2: float | None = None,
                 lat_0: float = 0.0, lon_0: float = 0.0,
                 radius: float = R_EARTH) -> tuple:
    n, g, rho0 = eqdc_constants(lat_1, lat_2, lat_0, radius)
    sgn = 1.0 if n >= 0 else -1.0
    # CAST inputs to DOUBLE: DuckDB types decimal-literal arithmetic as
    # DECIMAL and overflows on xs*xs (same pitfall as merc_sql/cea_sql)
    xs = f"(CAST({x} AS DOUBLE) * {sgn!r})"
    ys = f"(({rho0!r} - CAST({y} AS DOUBLE)) * {sgn!r})"
    rho = f"({sgn!r} * sqrt({xs} * {xs} + {ys} * {ys}))"
    lat = f"degrees({g!r} - {rho} / {radius!r})"
    # Double-mod wrap — same rationale as aea_inv_sql (ADVICE r4).
    lon = (f"(((({lon_0!r} + degrees(atan2({xs}, {ys})) / {n!r})"
           f" + 180.0) % 360.0 + 360.0) % 360.0 - 180.0)")
    return lon, lat


# --- Mollweide (spherical, +proj=moll) --------------------------------
# Snyder eqs. 31-1..31-8. The forward needs the auxiliary angle
# 2θ solved from  t + sin t = π sin φ  (t = 2θ); both engines run the
# SAME 12-step Newton fold (Spark: F.aggregate over a constant array;
# DuckDB: list_reduce) so the iterate is engine-identical, and 12
# steps converge to <1e-15 for |φ| ≤ 89.9° (verified numerically).
# Exactly at the poles 1 + cos t → 0 (double root), so |φ| ≥ 89.999°
# short-circuits to t = ±π.

_MOLL_ITERS = 12
_MOLL_CX = 0.9003163161571061   # 2·√2/π  (Snyder 31-2 coefficient)
_MOLL_CY = 1.4142135623730951   # √2


def moll_theta2(lat):
    """The Newton fold for t = 2θ as a single linear-size column
    expression: fold over a 12-element constant array."""
    import math as _m

    latr = F.radians(_c(lat))
    ps = F.lit(_m.pi) * F.sin(latr)
    steps = F.array([F.lit(0.0)] * _MOLL_ITERS)
    t = F.aggregate(
        steps,
        latr.cast("double"),
        lambda acc, _: acc
        - (acc + F.sin(acc) - ps) / (F.lit(1.0) + F.cos(acc)),
    )
    pole = F.lit(_m.pi) * F.signum(latr)
    return F.when(F.abs(_c(lat)) >= 89.999, pole).otherwise(t)


def moll_xy(lon, lat, lon_0: float = 0.0, radius: float = R_EARTH) -> tuple:
    theta = moll_theta2(lat) / 2.0
    x = F.lit(_MOLL_CX * radius) * F.radians(_c(lon) - F.lit(lon_0)) * F.cos(theta)
    y = F.lit(_MOLL_CY * radius) * F.sin(theta)
    return x, y


def moll_inverse(x, y, lon_0: float = 0.0, radius: float = R_EARTH) -> tuple:
    """(x, y) → (lon, lat) columns — Snyder 31-6..31-8 (closed form;
    no iteration needed on the inverse)."""
    import math as _m

    theta = F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
        _c(y) / F.lit(_MOLL_CY * radius))))
    lat = F.degrees(F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
        (2.0 * theta + F.sin(2.0 * theta)) / F.lit(_m.pi)))))
    lon = F.lit(lon_0) + F.degrees(
        _c(x) / (F.lit(_MOLL_CX * radius) * F.cos(theta))
    )
    return wrap_longitude(lon), lat


def moll_theta2_sql(lat: str) -> str:
    import math as _m

    zeros = ", ".join(["0.0"] * _MOLL_ITERS)
    ps = f"(pi() * sin(radians({lat})))"
    fold = (
        f"list_reduce(list_prepend(radians({lat}), [{zeros}]),"
        f" (acc, x) -> acc - (acc + sin(acc) - {ps}) / (1.0 + cos(acc)))"
    )
    pole = f"(pi() * sign(radians({lat})))"
    return f"(CASE WHEN abs({lat}) >= 89.999 THEN {pole} ELSE {fold} END)"


def moll_sql(lon: str, lat: str, lon_0: float = 0.0,
             radius: float = R_EARTH) -> tuple:
    theta = f"({moll_theta2_sql(lat)} / 2.0)"
    return (
        f"({_MOLL_CX * radius!r} * radians({lon} - {lon_0!r}) * cos({theta}))",
        f"({_MOLL_CY * radius!r} * sin({theta}))",
    )


def moll_inv_sql(x: str, y: str, lon_0: float = 0.0,
                 radius: float = R_EARTH) -> tuple:
    theta = (f"asin(greatest(-1.0, least(1.0,"
             f" ({y}) / {_MOLL_CY * radius!r})))")
    lat = (f"degrees(asin(greatest(-1.0, least(1.0,"
           f" (2.0 * {theta} + sin(2.0 * {theta})) / pi()))))")
    lon = (f"(((({lon_0!r} + degrees(({x}) / ({_MOLL_CX * radius!r}"
           f" * cos({theta})))) + 540.0) % 360.0) - 180.0)")
    return lon, lat


# --- Robinson (+proj=robin, table-interpolated) -----------------------
# Robinson's 1974 table (X = parallel length scale, Y = parallel
# distance from equator), published in Snyder "Map Projections — A
# Working Manual" Table 32. x = 0.8487·R·X·(λ−λ0), y = 1.3523·R·Y·
# sign(φ). DEVIATION (documented): PROJ interpolates the table with
# Stirling/cubic polynomials; this engine uses LINEAR interpolation
# between the 5°-spaced table rows — deterministic, identical in both
# engines, and within ~0.1% of PROJ (fine for an analytic family whose
# reference path, pyproj, is absent from the container).

_ROBIN_X = (1.0000, 0.9986, 0.9954, 0.9900, 0.9822, 0.9730, 0.9600,
            0.9427, 0.9216, 0.8962, 0.8679, 0.8350, 0.7986, 0.7597,
            0.7186, 0.6732, 0.6213, 0.5722, 0.5322)
_ROBIN_Y = (0.0000, 0.0620, 0.1240, 0.1860, 0.2480, 0.3100, 0.3720,
            0.4340, 0.4958, 0.5571, 0.6176, 0.6769, 0.7346, 0.7903,
            0.8435, 0.8936, 0.9394, 0.9761, 1.0000)
_ROBIN_CX = 0.8487
_ROBIN_CY = 1.3523


def robin_xy(lon, lat, lon_0: float = 0.0, radius: float = R_EARTH) -> tuple:
    """Forward Robinson as pure column math: 1-based element_at into
    literal table arrays + linear interpolation — no join, no UDF."""
    ala = F.abs(_c(lat))
    i = F.least(F.floor(ala / 5.0).cast("int"), F.lit(17))
    fr = (ala - 5.0 * i) / 5.0
    xs = F.array([F.lit(v) for v in _ROBIN_X])
    ys = F.array([F.lit(v) for v in _ROBIN_Y])
    x0, x1 = F.element_at(xs, i + 1), F.element_at(xs, i + 2)
    y0, y1 = F.element_at(ys, i + 1), F.element_at(ys, i + 2)
    bx = x0 + (x1 - x0) * fr
    by = y0 + (y1 - y0) * fr
    return (
        F.lit(_ROBIN_CX * radius) * bx * F.radians(_c(lon) - F.lit(lon_0)),
        F.lit(_ROBIN_CY * radius) * by * F.signum(_c(lat)),
    )


def robin_sql(lon: str, lat: str, lon_0: float = 0.0,
              radius: float = R_EARTH) -> tuple:
    xs = "[" + ", ".join(repr(v) for v in _ROBIN_X) + "]"
    ys = "[" + ", ".join(repr(v) for v in _ROBIN_Y) + "]"
    ala = f"abs({lat})"
    i = f"least(CAST(floor({ala} / 5.0) AS INTEGER), 17)"
    fr = f"(({ala} - 5.0 * {i}) / 5.0)"
    x0, x1 = f"list_extract({xs}, {i} + 1)", f"list_extract({xs}, {i} + 2)"
    y0, y1 = f"list_extract({ys}, {i} + 1)", f"list_extract({ys}, {i} + 2)"
    bx = f"({x0} + ({x1} - {x0}) * {fr})"
    by = f"({y0} + ({y1} - {y0}) * {fr})"
    return (
        f"({_ROBIN_CX * radius!r} * {bx} * radians({lon} - {lon_0!r}))",
        f"({_ROBIN_CY * radius!r} * {by} * sign({lat}))",
    )


def robin_inverse(x, y, lon_0: float = 0.0, radius: float = R_EARTH) -> tuple:
    """(x, y) → (lon, lat) columns — exact inverse of the linear table
    interpolation: locate the Y segment by counting table values ≤ |v|
    (filter+size over the literal array), invert the segment linearly."""
    ys_arr = F.array([F.lit(v) for v in _ROBIN_Y])
    xs_arr = F.array([F.lit(v) for v in _ROBIN_X])
    v = F.least(F.abs(_c(y)) / F.lit(_ROBIN_CY * radius), F.lit(1.0))
    i = F.least(
        F.size(F.filter(ys_arr, lambda e: e <= v)) - 1, F.lit(17)
    )
    y0, y1 = F.element_at(ys_arr, i + 1), F.element_at(ys_arr, i + 2)
    fr = (v - y0) / (y1 - y0)
    lat = (5.0 * (i.cast("double") + fr)) * F.signum(_c(y))
    x0, x1 = F.element_at(xs_arr, i + 1), F.element_at(xs_arr, i + 2)
    bx = x0 + (x1 - x0) * fr
    lon = F.lit(lon_0) + F.degrees(_c(x) / (F.lit(_ROBIN_CX * radius) * bx))
    return wrap_longitude(lon), lat


def robin_inv_sql(x: str, y: str, lon_0: float = 0.0,
                  radius: float = R_EARTH) -> tuple:
    xs = "[" + ", ".join(repr(v) for v in _ROBIN_X) + "]"
    ys = "[" + ", ".join(repr(v) for v in _ROBIN_Y) + "]"
    v = f"least(abs({y}) / {_ROBIN_CY * radius!r}, 1.0)"
    i = f"least(len(list_filter({ys}, e -> e <= {v})) - 1, 17)"
    y0, y1 = f"list_extract({ys}, {i} + 1)", f"list_extract({ys}, {i} + 2)"
    fr = f"(({v} - {y0}) / ({y1} - {y0}))"
    lat = f"(5.0 * ({i} + {fr}) * sign({y}))"
    x0, x1 = f"list_extract({xs}, {i} + 1)", f"list_extract({xs}, {i} + 2)"
    bx = f"({x0} + ({x1} - {x0}) * {fr})"
    lon = (f"(((({lon_0!r} + degrees(({x}) / ({_ROBIN_CX * radius!r}"
           f" * {bx}))) + 540.0) % 360.0) - 180.0)")
    return lon, lat


# --- Oblique/equatorial stereographic (spherical, any lat_0) ----------
# Snyder eqs. 21-2..21-4 forward, 20-14..20-18 inverse — removes the
# polar-aspect-only restriction of stere_polar_* (the reference reaches
# oblique stere through pyproj; closed-form spherical here).

def stere_oblique_xy(lon, lat, lat_0: float = 0.0, lon_0: float = 0.0,
                     k0: float = 1.0, radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    latr = F.radians(_c(lat))
    dlon = F.radians(_c(lon) - F.lit(lon_0))
    kden = 1.0 + s1 * F.sin(latr) + c1 * F.cos(latr) * F.cos(dlon)
    k = 2.0 * k0 / kden
    x = radius * k * F.cos(latr) * F.sin(dlon)
    y = radius * k * (
        c1 * F.sin(latr) - s1 * F.cos(latr) * F.cos(dlon)
    )
    return x, y


def stere_oblique_inverse(x, y, lat_0: float = 0.0, lon_0: float = 0.0,
                          k0: float = 1.0, radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    xs, ys = _c(x), _c(y)
    rho = F.sqrt(xs * xs + ys * ys)
    cc = 2.0 * F.atan(rho / (2.0 * radius * k0))
    sin_c, cos_c = F.sin(cc), F.cos(cc)
    # rho == 0 → the projection center exactly
    lat = F.when(rho == 0.0, F.lit(float(lat_0))).otherwise(
        F.degrees(F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
            cos_c * s1 + ys * sin_c * c1 / rho))))
    )
    lon = F.when(rho == 0.0, F.lit(float(lon_0))).otherwise(
        F.lit(lon_0) + F.degrees(F.atan2(
            xs * sin_c, rho * c1 * cos_c - ys * s1 * sin_c
        ))
    )
    return wrap_longitude(lon), lat


def stere_oblique_sql(lon: str, lat: str, lat_0: float = 0.0,
                      lon_0: float = 0.0, k0: float = 1.0,
                      radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    dlon = f"radians({lon} - {lon_0!r})"
    latr = f"radians({lat})"
    kden = (f"(1.0 + {s1!r} * sin({latr})"
            f" + {c1!r} * cos({latr}) * cos({dlon}))")
    k = f"({2.0 * k0!r} / {kden})"
    return (
        f"({radius!r} * {k} * cos({latr}) * sin({dlon}))",
        f"({radius!r} * {k} * ({c1!r} * sin({latr})"
        f" - {s1!r} * cos({latr}) * cos({dlon})))",
    )


def stere_oblique_inv_sql(x: str, y: str, lat_0: float = 0.0,
                          lon_0: float = 0.0, k0: float = 1.0,
                          radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    xs = f"CAST({x} AS DOUBLE)"
    ys = f"CAST({y} AS DOUBLE)"
    rho = f"sqrt({xs} * {xs} + {ys} * {ys})"
    cc = f"(2.0 * atan({rho} / {2.0 * radius * k0!r}))"
    lat = (f"(CASE WHEN {rho} = 0.0 THEN {float(lat_0)!r} ELSE "
           f"degrees(asin(greatest(-1.0, least(1.0, cos({cc}) * {s1!r}"
           f" + {ys} * sin({cc}) * {c1!r} / {rho})))) END)")
    lon_raw = (f"({lon_0!r} + degrees(atan2({xs} * sin({cc}),"
               f" {rho} * {c1!r} * cos({cc}) - {ys} * {s1!r} * sin({cc}))))")
    lon = (f"(CASE WHEN {rho} = 0.0 THEN {float(lon_0)!r} ELSE "
           f"((({lon_raw} + 540.0) % 360.0) - 180.0) END)")
    return lon, lat


# --- Azimuthal equidistant (spherical, +proj=aeqd) --------------------
# Snyder eqs. 25-1..25-4 (oblique aspect): distances FROM THE CENTER
# are true — the local-area / swath-station CRS (the reference reaches
# aeqd through pyproj; common for ground-station footprints). k' =
# c/sin c with the removable c → 0 singularity handled by an explicit
# CASE on BOTH engines (identical floating ops, same branch point).

def aeqd_xy(lon, lat, lat_0: float = 0.0, lon_0: float = 0.0,
            radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    latr = F.radians(_c(lat))
    dlon = F.radians(_c(lon) - F.lit(lon_0))
    cos_c = F.greatest(
        F.lit(-1.0),
        F.least(
            F.lit(1.0), s1 * F.sin(latr) + c1 * F.cos(latr) * F.cos(dlon)
        ),
    )
    c = F.acos(cos_c)
    k = F.when(c == 0.0, F.lit(1.0)).otherwise(c / F.sin(c))
    x = radius * k * F.cos(latr) * F.sin(dlon)
    y = radius * k * (c1 * F.sin(latr) - s1 * F.cos(latr) * F.cos(dlon))
    return x, y


def aeqd_inverse(x, y, lat_0: float = 0.0, lon_0: float = 0.0,
                 radius: float = R_EARTH) -> tuple:
    """Snyder 25-15/25-16: c = rho/R exactly (equidistant), then the
    same oblique rotation back as the stereographic inverse."""
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    xs, ys = _c(x), _c(y)
    rho = F.sqrt(xs * xs + ys * ys)
    cc = rho / radius
    sin_c, cos_c = F.sin(cc), F.cos(cc)
    lat = F.when(rho == 0.0, F.lit(float(lat_0))).otherwise(
        F.degrees(F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
            cos_c * s1 + ys * sin_c * c1 / rho))))
    )
    lon = F.when(rho == 0.0, F.lit(float(lon_0))).otherwise(
        F.lit(lon_0) + F.degrees(F.atan2(
            xs * sin_c, rho * c1 * cos_c - ys * s1 * sin_c
        ))
    )
    return wrap_longitude(lon), lat


def aeqd_sql(lon: str, lat: str, lat_0: float = 0.0, lon_0: float = 0.0,
             radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    dlon = f"radians({lon} - {lon_0!r})"
    latr = f"radians({lat})"
    cos_c = (f"(GREATEST(-1.0, LEAST(1.0, {s1!r} * sin({latr})"
             f" + {c1!r} * cos({latr}) * cos({dlon}))))")
    c = f"acos({cos_c})"
    k = f"(CASE WHEN {c} = 0.0 THEN 1.0 ELSE {c} / sin({c}) END)"
    return (
        f"({radius!r} * {k} * cos({latr}) * sin({dlon}))",
        f"({radius!r} * {k} * ({c1!r} * sin({latr})"
        f" - {s1!r} * cos({latr}) * cos({dlon})))",
    )


def aeqd_inv_sql(x: str, y: str, lat_0: float = 0.0, lon_0: float = 0.0,
                 radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    xs = f"CAST({x} AS DOUBLE)"
    ys = f"CAST({y} AS DOUBLE)"
    rho = f"sqrt({xs} * {xs} + {ys} * {ys})"
    cc = f"({rho} / {radius!r})"
    lat = (f"(CASE WHEN {rho} = 0.0 THEN {float(lat_0)!r} ELSE "
           f"degrees(asin(greatest(-1.0, least(1.0, cos({cc}) * {s1!r}"
           f" + {ys} * sin({cc}) * {c1!r} / {rho})))) END)")
    lon_raw = (f"({lon_0!r} + degrees(atan2({xs} * sin({cc}),"
               f" {rho} * {c1!r} * cos({cc}) - {ys} * {s1!r} * sin({cc}))))")
    lon = (f"(CASE WHEN {rho} = 0.0 THEN {float(lon_0)!r} ELSE "
           f"((({lon_raw} + 540.0) % 360.0) - 180.0) END)")
    return lon, lat


# --- Gnomonic (spherical, +proj=gnom) ---------------------------------
# Snyder eqs. 22-1..22-5 (oblique): every great circle maps to a
# straight line — the navigation / line-of-sight CRS. Defined only on
# the near hemisphere (cos c > 0); k' = 1/cos c grows without bound
# toward the horizon, so forwards NULL-mask beyond it (the same
# horizon-mask contract as the geostationary family).

def gnom_xy(lon, lat, lat_0: float = 0.0, lon_0: float = 0.0,
            radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    latr = F.radians(_c(lat))
    dlon = F.radians(_c(lon) - F.lit(lon_0))
    cos_c = s1 * F.sin(latr) + c1 * F.cos(latr) * F.cos(dlon)
    k = F.lit(1.0) / cos_c
    x = radius * k * F.cos(latr) * F.sin(dlon)
    y = radius * k * (c1 * F.sin(latr) - s1 * F.cos(latr) * F.cos(dlon))
    null = F.lit(None).cast("double")
    return (
        F.when(cos_c > 0.0, x).otherwise(null),
        F.when(cos_c > 0.0, y).otherwise(null),
    )


def gnom_inverse(x, y, lat_0: float = 0.0, lon_0: float = 0.0,
                 radius: float = R_EARTH) -> tuple:
    """Snyder 22-14..22-17: c = atan(rho/R), then the standard oblique
    rotation back (always lands on the near hemisphere)."""
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    xs, ys = _c(x), _c(y)
    rho = F.sqrt(xs * xs + ys * ys)
    cc = F.atan(rho / radius)
    sin_c, cos_c = F.sin(cc), F.cos(cc)
    lat = F.when(rho == 0.0, F.lit(float(lat_0))).otherwise(
        F.degrees(F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
            cos_c * s1 + ys * sin_c * c1 / rho))))
    )
    lon = F.when(rho == 0.0, F.lit(float(lon_0))).otherwise(
        F.lit(lon_0) + F.degrees(F.atan2(
            xs * sin_c, rho * c1 * cos_c - ys * s1 * sin_c
        ))
    )
    return wrap_longitude(lon), lat


def gnom_sql(lon: str, lat: str, lat_0: float = 0.0, lon_0: float = 0.0,
             radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    dlon = f"radians({lon} - {lon_0!r})"
    latr = f"radians({lat})"
    cos_c = (f"({s1!r} * sin({latr})"
             f" + {c1!r} * cos({latr}) * cos({dlon}))")
    k = f"(1.0 / {cos_c})"
    x = f"({radius!r} * {k} * cos({latr}) * sin({dlon}))"
    y = (f"({radius!r} * {k} * ({c1!r} * sin({latr})"
         f" - {s1!r} * cos({latr}) * cos({dlon})))")
    return (
        f"(CASE WHEN {cos_c} > 0.0 THEN {x} ELSE NULL END)",
        f"(CASE WHEN {cos_c} > 0.0 THEN {y} ELSE NULL END)",
    )


def gnom_inv_sql(x: str, y: str, lat_0: float = 0.0, lon_0: float = 0.0,
                 radius: float = R_EARTH) -> tuple:
    import math as _m

    s1, c1 = _m.sin(_m.radians(lat_0)), _m.cos(_m.radians(lat_0))
    xs = f"CAST({x} AS DOUBLE)"
    ys = f"CAST({y} AS DOUBLE)"
    rho = f"sqrt({xs} * {xs} + {ys} * {ys})"
    cc = f"atan({rho} / {radius!r})"
    lat = (f"(CASE WHEN {rho} = 0.0 THEN {float(lat_0)!r} ELSE "
           f"degrees(asin(greatest(-1.0, least(1.0, cos({cc}) * {s1!r}"
           f" + {ys} * sin({cc}) * {c1!r} / {rho})))) END)")
    lon_raw = (f"({lon_0!r} + degrees(atan2({xs} * sin({cc}),"
               f" {rho} * {c1!r} * cos({cc}) - {ys} * {s1!r} * sin({cc}))))")
    lon = (f"(CASE WHEN {rho} = 0.0 THEN {float(lon_0)!r} ELSE "
           f"((({lon_raw} + 540.0) % 360.0) - 180.0) END)")
    return lon, lat


# --- Ellipsoidal oblique/equatorial stereographic (+proj=stere +a +b) -
# PROJ's conformal-latitude form (src/projections/stere.cpp, OBLIQ
# ellipsoid branch; Snyder ch. 21 ellipsoid): geodetic lat maps to the
# conformal latitude X = 2·atan(ssfn(φ)) − π/2 with
# ssfn(φ) = tan(π/4 + φ/2)·[(1 − e·sinφ)/(1 + e·sinφ)]^(e/2), then the
# SPHERICAL oblique stereographic runs on X with the scale constant
# akm1 = 2·k0·cosφ0/√(1 − e²sin²φ0). The inverse recovers X in closed
# form and iterates φ = 2·atan(tp·[(1+e·sinφ)/(1−e·sinφ)]^(e/2)) − π/2
# (tp = tan(π/4 + X/2)) — PROJ's exact fixed-point loop, run as the
# SAME 8-step fold on both engines (the Mollweide fold idiom), so the
# iterate is engine-identical and converges < 1e-12 for |φ| ≤ 89°.
# +lat_ts is a polar-aspect-only parameter in PROJ — ignored here,
# matching PROJ's behaviour for oblique aspects.

_STERE_ELL_ITERS = 8


def stere_ell_constants(lat_0: float, a: float, b: float,
                        k0: float = 1.0) -> tuple:
    """(e, sinX1, cosX1, akm1, es) for the oblique ellipsoidal form."""
    import math as _m

    es = 1.0 - (b / a) ** 2
    e = _m.sqrt(es)
    phi0 = _m.radians(lat_0)
    ssfn0 = _m.tan(_m.pi / 4.0 + phi0 / 2.0) * (
        (1.0 - e * _m.sin(phi0)) / (1.0 + e * _m.sin(phi0))
    ) ** (e / 2.0)
    x0 = 2.0 * _m.atan(ssfn0) - _m.pi / 2.0
    akm1 = 2.0 * k0 * _m.cos(phi0) / _m.sqrt(1.0 - es * _m.sin(phi0) ** 2)
    return e, _m.sin(x0), _m.cos(x0), akm1, es


def stere_ell_xy(lon, lat, lat_0: float, a: float, b: float,
                 lon_0: float = 0.0, k0: float = 1.0) -> tuple:
    import math

    e, sinx1, cosx1, akm1, _es = stere_ell_constants(lat_0, a, b, k0)
    phi = F.radians(_c(lat))
    lam = F.radians(_c(lon) - F.lit(lon_0))
    esin = e * F.sin(phi)
    ssfn = F.tan(F.lit(math.pi / 4.0) + phi / 2.0) * F.pow(
        (1.0 - esin) / (1.0 + esin), e / 2.0
    )
    x_conf = 2.0 * F.atan(ssfn) - F.lit(math.pi / 2.0)
    sinx, cosx = F.sin(x_conf), F.cos(x_conf)
    big_a = (a * akm1) / (
        cosx1 * (1.0 + sinx1 * sinx + cosx1 * cosx * F.cos(lam))
    )
    return (
        big_a * cosx * F.sin(lam),
        big_a * (cosx1 * sinx - sinx1 * cosx * F.cos(lam)),
    )


def stere_ell_inverse(x, y, lat_0: float, a: float, b: float,
                      lon_0: float = 0.0, k0: float = 1.0) -> tuple:
    import math

    e, sinx1, cosx1, akm1, _es = stere_ell_constants(lat_0, a, b, k0)
    xs, ys = _c(x) / a, _c(y) / a
    rho = F.sqrt(xs * xs + ys * ys)
    cc = 2.0 * F.atan2(rho * cosx1, F.lit(akm1))
    sin_c, cos_c = F.sin(cc), F.cos(cc)
    chi = F.when(rho == 0.0, F.lit(2.0 * math.atan(
        math.tan(math.pi / 4.0 + math.radians(lat_0) / 2.0)
        * ((1.0 - e * math.sin(math.radians(lat_0)))
           / (1.0 + e * math.sin(math.radians(lat_0)))) ** (e / 2.0)
    ) - math.pi / 2.0)).otherwise(
        F.asin(F.greatest(F.lit(-1.0), F.least(F.lit(1.0),
            cos_c * sinx1 + ys * sin_c * cosx1 / rho)))
    )
    lam = F.when(rho == 0.0, F.lit(0.0)).otherwise(
        F.atan2(xs * sin_c, rho * cosx1 * cos_c - ys * sinx1 * sin_c)
    )
    tp = F.tan(F.lit(math.pi / 4.0) + chi / 2.0)
    steps = F.array([F.lit(0.0)] * _STERE_ELL_ITERS)
    phi = F.aggregate(
        steps,
        chi.cast("double"),
        lambda acc, _: 2.0 * F.atan(
            tp * F.pow(
                (1.0 + e * F.sin(acc)) / (1.0 - e * F.sin(acc)), e / 2.0
            )
        ) - F.lit(math.pi / 2.0),
    )
    lon = F.degrees(lam) + F.lit(lon_0)
    return wrap_longitude(lon), F.degrees(phi)


def stere_ell_sql(lon: str, lat: str, lat_0: float, a: float, b: float,
                  lon_0: float = 0.0, k0: float = 1.0) -> tuple:
    e, sinx1, cosx1, akm1, _es = stere_ell_constants(lat_0, a, b, k0)
    phi = f"radians({lat})"
    lam = f"radians({lon} - {lon_0!r})"
    esin = f"({e!r} * sin({phi}))"
    ssfn = (f"(tan(pi() / 4.0 + {phi} / 2.0)"
            f" * pow((1.0 - {esin}) / (1.0 + {esin}), {e / 2.0!r}))")
    xc = f"(2.0 * atan({ssfn}) - pi() / 2.0)"
    big_a = (f"({a * akm1!r} / ({cosx1!r} * (1.0 + {sinx1!r} * sin({xc})"
             f" + {cosx1!r} * cos({xc}) * cos({lam}))))")
    return (
        f"({big_a} * cos({xc}) * sin({lam}))",
        f"({big_a} * ({cosx1!r} * sin({xc})"
        f" - {sinx1!r} * cos({xc}) * cos({lam})))",
    )


def stere_ell_inv_sql(x: str, y: str, lat_0: float, a: float, b: float,
                      lon_0: float = 0.0, k0: float = 1.0) -> tuple:
    import math as _m

    e, sinx1, cosx1, akm1, _es = stere_ell_constants(lat_0, a, b, k0)
    xs = f"(CAST({x} AS DOUBLE) / {a!r})"
    ys = f"(CAST({y} AS DOUBLE) / {a!r})"
    rho = f"sqrt({xs} * {xs} + {ys} * {ys})"
    cc = f"(2.0 * atan2({rho} * {cosx1!r}, {akm1!r}))"
    chi0 = 2.0 * _m.atan(
        _m.tan(_m.pi / 4.0 + _m.radians(lat_0) / 2.0)
        * ((1.0 - e * _m.sin(_m.radians(lat_0)))
           / (1.0 + e * _m.sin(_m.radians(lat_0)))) ** (e / 2.0)
    ) - _m.pi / 2.0
    chi = (f"(CASE WHEN {rho} = 0.0 THEN {chi0!r} ELSE "
           f"asin(greatest(-1.0, least(1.0, cos({cc}) * {sinx1!r}"
           f" + {ys} * sin({cc}) * {cosx1!r} / {rho}))) END)")
    lam = (f"(CASE WHEN {rho} = 0.0 THEN 0.0 ELSE "
           f"atan2({xs} * sin({cc}), {rho} * {cosx1!r} * cos({cc})"
           f" - {ys} * {sinx1!r} * sin({cc})) END)")
    tp = f"tan(pi() / 4.0 + {chi} / 2.0)"
    zeros = ", ".join(["0.0"] * _STERE_ELL_ITERS)
    phi = (f"list_reduce(list_prepend({chi}, [{zeros}]),"
           f" (acc, s) -> 2.0 * atan({tp}"
           f" * pow((1.0 + {e!r} * sin(acc)) / (1.0 - {e!r} * sin(acc)),"
           f" {e / 2.0!r})) - pi() / 2.0)")
    lon = (f"((({lon_0!r} + degrees({lam})) + 540.0) % 360.0 - 180.0)")
    return lon, f"degrees({phi})"


# --- Ellipsoidal POLAR stereographic (+proj=stere +lat_0=±90 +a +b) ---
# Snyder eqs. 21-33..21-41 / PROJ stere.cpp polar ellipsoid branch:
# t(φ) = tan(π/4 − φ/2)·[(1 + e·sinφ)/(1 − e·sinφ)]^(e/2), true scale
# at +lat_ts (which overrides k0, as in PROJ):
# ρ = a·m(φc)·t(φ)/t(φc) with m(φ) = cosφ/√(1 − e²sin²φ); x = ρ·sinλ,
# y = −ρ·cosλ (north; the south aspect mirrors φ and λ). The inverse
# iterates φ = π/2 − 2·atan(t·[(1 − e·sinφ)/(1 + e·sinφ)]^(e/2)) from
# the conformal latitude — the same 8-step fold as the oblique form.

def stere_ell_polar_constants(lat_ts: float, a: float, b: float,
                              k0: float = 1.0) -> tuple:
    """(e, f) with ρ = a·f·t(φ): f = m(φc)/t(φc) for a true-scale
    parallel, or PROJ's 2·k0/√((1+e)^(1+e)·(1−e)^(1−e)) secant form
    when lat_ts = ±90 (no true-scale parallel)."""
    import math as _m

    es = 1.0 - (b / a) ** 2
    e = _m.sqrt(es)
    phic = _m.radians(abs(lat_ts))
    if abs(lat_ts) >= 90.0:
        f = 2.0 * k0 / _m.sqrt(
            (1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e)
        )
        return e, f
    tc = _m.tan(_m.pi / 4.0 - phic / 2.0) * (
        (1.0 + e * _m.sin(phic)) / (1.0 - e * _m.sin(phic))
    ) ** (e / 2.0)
    mc = _m.cos(phic) / _m.sqrt(1.0 - es * _m.sin(phic) ** 2)
    return e, mc / tc


def stere_ell_polar_xy(lon, lat, lat_ts: float, a: float, b: float,
                       lon_0: float = 0.0, north: bool = True,
                       k0: float = 1.0) -> tuple:
    import math

    e, f = stere_ell_polar_constants(lat_ts, a, b, k0)
    sgn = 1.0 if north else -1.0
    phi = F.radians(_c(lat)) * sgn
    lam = F.radians(_c(lon) - F.lit(lon_0)) * sgn
    esin = e * F.sin(phi)
    t = F.tan(F.lit(math.pi / 4.0) - phi / 2.0) * F.pow(
        (1.0 + esin) / (1.0 - esin), e / 2.0
    )
    rho = a * f * t
    return rho * F.sin(lam), -sgn * rho * F.cos(lam)


def stere_ell_polar_inverse(x, y, lat_ts: float, a: float, b: float,
                            lon_0: float = 0.0,
                            north: bool = True,
                            k0: float = 1.0) -> tuple:
    import math

    e, f = stere_ell_polar_constants(lat_ts, a, b, k0)
    sgn = 1.0 if north else -1.0
    xs, ys = _c(x), _c(y) * (-sgn)
    rho = F.sqrt(xs * xs + ys * ys)
    t = rho / (a * f)
    chi = F.lit(math.pi / 2.0) - 2.0 * F.atan(t)
    steps = F.array([F.lit(0.0)] * _STERE_ELL_ITERS)
    phi = F.aggregate(
        steps,
        chi.cast("double"),
        lambda acc, _: F.lit(math.pi / 2.0) - 2.0 * F.atan(
            t * F.pow(
                (1.0 - e * F.sin(acc)) / (1.0 + e * F.sin(acc)), e / 2.0
            )
        ),
    )
    lam = F.atan2(xs, ys)
    lon = F.degrees(lam) * sgn + F.lit(lon_0)
    return wrap_longitude(lon), F.degrees(phi) * sgn


def stere_ell_polar_sql(lon: str, lat: str, lat_ts: float, a: float,
                        b: float, lon_0: float = 0.0,
                        north: bool = True, k0: float = 1.0) -> tuple:
    e, fk = stere_ell_polar_constants(lat_ts, a, b, k0)
    sgn = 1.0 if north else -1.0
    phi = f"({sgn!r} * radians({lat}))"
    lam = f"({sgn!r} * radians({lon} - {lon_0!r}))"
    esin = f"({e!r} * sin({phi}))"
    t = (f"(tan(pi() / 4.0 - {phi} / 2.0)"
         f" * pow((1.0 + {esin}) / (1.0 - {esin}), {e / 2.0!r}))")
    rho = f"({a * fk!r} * {t})"
    return (
        f"({rho} * sin({lam}))",
        f"({-sgn!r} * {rho} * cos({lam}))",
    )


def stere_ell_polar_inv_sql(x: str, y: str, lat_ts: float, a: float,
                            b: float, lon_0: float = 0.0,
                            north: bool = True,
                            k0: float = 1.0) -> tuple:
    e, fk = stere_ell_polar_constants(lat_ts, a, b, k0)
    sgn = 1.0 if north else -1.0
    xs = f"CAST({x} AS DOUBLE)"
    ys = f"({-sgn!r} * CAST({y} AS DOUBLE))"
    rho = f"sqrt({xs} * {xs} + {ys} * {ys})"
    t = f"({rho} * {1.0 / (a * fk)!r})"
    chi = f"(pi() / 2.0 - 2.0 * atan({t}))"
    zeros = ", ".join(["0.0"] * _STERE_ELL_ITERS)
    phi = (f"list_reduce(list_prepend({chi}, [{zeros}]),"
           f" (acc, s) -> pi() / 2.0 - 2.0 * atan({t}"
           f" * pow((1.0 - {e!r} * sin(acc)) / (1.0 + {e!r} * sin(acc)),"
           f" {e / 2.0!r})))")
    lon = (f"((({lon_0!r} + {sgn!r} * degrees(atan2({xs}, {ys})))"
           f" + 540.0) % 360.0 - 180.0)")
    return lon, f"({sgn!r} * degrees({phi}))"


# --- Ellipsoidal geostationary (+proj=geos +a +b) ---------------------
# PROJ src/projections/geos.cpp ellipsoid branch — the REAL MSG/SEVIRI
# full-disc CRS (a=6378169, b=6356584, h=35785831). Differences from
# the spherical form above: the view vector targets the GEOCENTRIC
# latitude φ' = atan((b/a)²·tanφ) at the ellipsoid radius
# r = rp/hypot(rp·cosφ', sinφ'), and the visibility condition carries
# the 1/rp² flattening factor. All lengths normalized by a (PROJ's
# internal convention), so x,y = a·(h/a)·atan(...) = h·atan(...).

def geos_ell_constants(h: float, a: float, b: float) -> tuple:
    rp = b / a                 # radius_p
    rp2 = rp * rp              # radius_p2
    rpi2 = 1.0 / rp2           # radius_p_inv2
    rg = 1.0 + h / a           # radius_g
    rg1 = h / a                # radius_g_1
    c = rg * rg - 1.0          # C
    return rp, rp2, rpi2, rg, rg1, c


def geos_ell_xy(lon, lat, h: float, a: float, b: float,
                lon_0: float = 0.0, sweep: str = "y") -> tuple:
    rp, rp2, rpi2, rg, rg1, _cc = geos_ell_constants(h, a, b)
    lam = F.radians(_c(lon) - F.lit(lon_0))
    phi = F.atan(rp2 * F.tan(F.radians(_c(lat))))
    r = rp / F.sqrt(
        (rp * F.cos(phi)) * (rp * F.cos(phi)) + F.sin(phi) * F.sin(phi)
    )
    vx = r * F.cos(lam) * F.cos(phi)
    vy = r * F.sin(lam) * F.cos(phi)
    vz = r * F.sin(phi)
    visible = (F.lit(rg) - vx) * vx - vy * vy - vz * vz * rpi2 >= 0.0
    tmp = F.lit(rg) - vx
    if sweep == "x":
        xx = a * rg1 * F.atan(vy / F.sqrt(vz * vz + tmp * tmp))
        yy = a * rg1 * F.atan(vz / tmp)
    else:
        xx = a * rg1 * F.atan(vy / tmp)
        yy = a * rg1 * F.atan(vz / F.sqrt(vy * vy + tmp * tmp))
    null = F.lit(None).cast("double")
    return (
        F.when(visible, xx).otherwise(null),
        F.when(visible, yy).otherwise(null),
    )


def geos_ell_inverse(x, y, h: float, a: float, b: float,
                     lon_0: float = 0.0, sweep: str = "y") -> tuple:
    rp, rp2, rpi2, rg, rg1, cc = geos_ell_constants(h, a, b)
    xs, ys = _c(x) / (a * rg1), _c(y) / (a * rg1)
    if sweep == "x":
        vz = F.tan(ys)
        vy = F.tan(xs) * F.sqrt(1.0 + vz * vz)
    else:
        vy = F.tan(xs)
        vz = F.tan(ys) * F.sqrt(1.0 + vy * vy)
    az = vz / rp
    aa = vy * vy + az * az + 1.0     # Vx = −1
    bb = F.lit(2.0 * rg) * F.lit(-1.0)
    det = bb * bb - 4.0 * aa * F.lit(cc)
    k = (-bb - F.sqrt(det)) / (2.0 * aa)
    wx = F.lit(rg) - k               # radius_g + k·Vx, Vx = −1
    wy, wz = vy * k, vz * k
    lam = F.atan2(wy, wx)
    phi = F.atan(wz * F.cos(lam) / wx)
    lat = F.degrees(F.atan(F.lit(rpi2) * F.tan(phi)))
    null = F.lit(None).cast("double")
    lon = F.degrees(lam) + F.lit(lon_0)
    return (
        F.when(det >= 0.0, wrap_longitude(lon)).otherwise(null),
        F.when(det >= 0.0, lat).otherwise(null),
    )


def geos_ell_sql(lon: str, lat: str, h: float, a: float, b: float,
                 lon_0: float = 0.0, sweep: str = "y") -> tuple:
    rp, rp2, rpi2, rg, rg1, _cc = geos_ell_constants(h, a, b)
    lam = f"radians({lon} - {lon_0!r})"
    phi = f"atan({rp2!r} * tan(radians({lat})))"
    r = (f"({rp!r} / sqrt(({rp!r} * cos({phi})) * ({rp!r} * cos({phi}))"
         f" + sin({phi}) * sin({phi})))")
    vx = f"({r} * cos({lam}) * cos({phi}))"
    vy = f"({r} * sin({lam}) * cos({phi}))"
    vz = f"({r} * sin({phi}))"
    vis = (f"((({rg!r} - {vx}) * {vx} - {vy} * {vy}"
           f" - {vz} * {vz} * {rpi2!r}) >= 0.0)")
    tmp = f"({rg!r} - {vx})"
    if sweep == "x":
        xx = f"({a * rg1!r} * atan({vy} / sqrt({vz} * {vz} + {tmp} * {tmp})))"
        yy = f"({a * rg1!r} * atan({vz} / {tmp}))"
    else:
        xx = f"({a * rg1!r} * atan({vy} / {tmp}))"
        yy = f"({a * rg1!r} * atan({vz} / sqrt({vy} * {vy} + {tmp} * {tmp})))"
    return (
        f"(CASE WHEN {vis} THEN {xx} ELSE NULL END)",
        f"(CASE WHEN {vis} THEN {yy} ELSE NULL END)",
    )


def geos_ell_inv_sql(x: str, y: str, h: float, a: float, b: float,
                     lon_0: float = 0.0, sweep: str = "y") -> tuple:
    rp, rp2, rpi2, rg, rg1, cc = geos_ell_constants(h, a, b)
    xs = f"(CAST({x} AS DOUBLE) / {a * rg1!r})"
    ys = f"(CAST({y} AS DOUBLE) / {a * rg1!r})"
    if sweep == "x":
        vz = f"tan({ys})"
        vy = f"(tan({xs}) * sqrt(1.0 + {vz} * {vz}))"
    else:
        vy = f"tan({xs})"
        vz = f"(tan({ys}) * sqrt(1.0 + {vy} * {vy}))"
    aa = f"({vy} * {vy} + ({vz} / {rp!r}) * ({vz} / {rp!r}) + 1.0)"
    det = f"({4.0 * rg * rg!r} - 4.0 * {aa} * {cc!r})"
    k = f"(({2.0 * rg!r} - sqrt({det})) / (2.0 * {aa}))"
    wx = f"({rg!r} - {k})"
    lam = f"atan2({vy} * {k}, {wx})"
    phi = f"atan({vz} * {k} * cos({lam}) / {wx})"
    lat = f"degrees(atan({rpi2!r} * tan({phi})))"
    lon = f"((({lon_0!r} + degrees({lam})) + 540.0) % 360.0 - 180.0)"
    return (
        f"(CASE WHEN {det} >= 0.0 THEN {lon} ELSE NULL END)",
        f"(CASE WHEN {det} >= 0.0 THEN {lat} ELSE NULL END)",
    )


def tile_cols(lon_col="lon", lat_col="lat", zoom_cells: float = 64.0):
    """Web-mercator slippy-tile coords as Columns (OSM z/x/y): lat
    clamped to the Mercator square ±85.0511, fractional index snapped
    to 9 decimals before floor (the grid-boundary idiom), ids clamped
    into [0, zoom_cells). Shared by q_tile_assign / q_tile_pyramid /
    the streaming tile aggregation."""
    import math

    lat = F.greatest(
        F.lit(-85.0511), F.least(F.lit(85.0511), F.col(lat_col))
    )
    txf = F.round((F.col(lon_col) + 180.0) / 360.0 * zoom_cells, 9)
    tyf = F.round(
        (1.0 - F.log(
            F.tan(F.radians(lat)) + 1.0 / F.cos(F.radians(lat))
        ) / math.pi) / 2.0 * zoom_cells,
        9,
    )
    hi = int(zoom_cells) - 1
    clamp = lambda c: F.least(  # noqa: E731
        F.greatest(c, F.lit(0)), F.lit(hi)
    ).cast("bigint")
    return clamp(F.floor(txf)), clamp(F.floor(tyf))


# --- Krovak (EPSG method 9819 — S-JTSK, EPSG 5514) --------------------
# The Czech/Slovak national CRS: an oblique conformal conic on the
# Bessel ellipsoid via a conformal ("gaussian") sphere rotated to a
# cone axis at azimuth alpha_C from the projection centre, with a
# pseudo standard parallel. Forward validated against the EPSG GN7-2
# worked example (50°12'32.442"N 16°50'59.179"E → southing
# 1 050 538.63 / westing 568 991.00, reproduced to the cm in tests).
# AXES: the native family returns PROJ's default krovak orientation
# x = −westing (increases east), y = −southing (increases north) so
# pixel indexing stays monotone; the official EPSG 5514
# southing/westing axes are the negation.


def krovak_constants(a: float, b: float, lat_c: float, lon_0: float,
                     alpha_c: float, lat_p: float, k: float) -> dict:
    import math as _m

    es = 1.0 - (b / a) ** 2
    e = _m.sqrt(es)
    pc = _m.radians(lat_c)
    A = a * _m.sqrt(1.0 - es) / (1.0 - es * _m.sin(pc) ** 2)
    B = _m.sqrt(1.0 + es * _m.cos(pc) ** 4 / (1.0 - es))
    gamma0 = _m.asin(_m.sin(pc) / B)
    t0 = (_m.tan(_m.pi / 4.0 + gamma0 / 2.0)
          * ((1.0 + e * _m.sin(pc)) / (1.0 - e * _m.sin(pc)))
          ** (e * B / 2.0)
          / _m.tan(_m.pi / 4.0 + pc / 2.0) ** B)
    pp = _m.radians(lat_p)
    n = _m.sin(pp)
    r0 = k * A / _m.tan(pp)
    ac = _m.radians(alpha_c)
    return {
        "e": e, "B": B, "t0": t0, "n": n,
        # r numerator folded to one constant: r0 · tanⁿ(π/4 + φP/2)
        "rnum": r0 * _m.tan(_m.pi / 4.0 + pp / 2.0) ** n,
        "r0": r0, "tanp": _m.tan(_m.pi / 4.0 + pp / 2.0),
        "sina": _m.sin(ac), "cosa": _m.cos(ac),
        "lon_0": lon_0, "eB2": e * B / 2.0,
    }


def _krovak_UV(c: dict, lon, lat) -> tuple:
    """Column (U, V) on the rotated conformal sphere."""
    import math as _m

    phi = F.radians(_c(lat))
    esin = c["e"] * F.sin(phi)
    U = 2.0 * (F.atan(
        c["t0"] * F.pow(F.tan(phi / 2.0 + F.lit(_m.pi / 4.0)), c["B"])
        / F.pow((1.0 + esin) / (1.0 - esin), c["eB2"])
    ) - F.lit(_m.pi / 4.0))
    V = c["B"] * F.radians(F.lit(c["lon_0"]) - _c(lon))
    return U, V


def krovak_xy(lon, lat, a: float, b: float, lat_c: float = 49.5,
              lon_0: float = 24.833333333333332,
              alpha_c: float = 30.288139752777778,
              lat_p: float = 78.5, k: float = 0.9999) -> tuple:
    import math as _m

    c = krovak_constants(a, b, lat_c, lon_0, alpha_c, lat_p, k)
    U, V = _krovak_UV(c, lon, lat)
    T = F.asin(c["cosa"] * F.sin(U) + c["sina"] * F.cos(U) * F.cos(V))
    D = F.asin(F.cos(U) * F.sin(V) / F.cos(T))
    theta = c["n"] * D
    r = c["rnum"] / F.pow(F.tan(T / 2.0 + F.lit(_m.pi / 4.0)), c["n"])
    # x = −westing, y = −southing (PROJ default orientation)
    return -(r * F.sin(theta)), -(r * F.cos(theta))


def krovak_inverse(x, y, a: float, b: float, lat_c: float = 49.5,
                   lon_0: float = 24.833333333333332,
                   alpha_c: float = 30.288139752777778,
                   lat_p: float = 78.5, k: float = 0.9999) -> tuple:
    import math as _m

    c = krovak_constants(a, b, lat_c, lon_0, alpha_c, lat_p, k)
    e = c["e"]
    X, Y = -_c(y), -_c(x)  # southing, westing
    rp = F.sqrt(X * X + Y * Y)
    D = F.atan2(Y, X) / c["n"]
    T = 2.0 * (F.atan(
        F.pow(c["r0"] / rp, 1.0 / c["n"]) * F.lit(c["tanp"])
    ) - F.lit(_m.pi / 4.0))
    U = F.asin(c["cosa"] * F.sin(T) - c["sina"] * F.cos(T) * F.cos(D))
    V = F.asin(F.cos(T) * F.sin(D) / F.cos(U))
    lon = F.lit(c["lon_0"]) - F.degrees(V / c["B"])
    base = (c["t0"] ** (-1.0 / c["B"])) * F.pow(
        F.tan(U / 2.0 + F.lit(_m.pi / 4.0)), 1.0 / c["B"])
    steps = F.array([F.lit(0.0)] * _STERE_ELL_ITERS)
    phi = F.aggregate(
        steps,
        U.cast("double"),
        lambda acc, _: 2.0 * (F.atan(
            base * F.pow((1.0 + e * F.sin(acc)) / (1.0 - e * F.sin(acc)),
                         e / 2.0)
        ) - F.lit(_m.pi / 4.0)),
    )
    return wrap_longitude(lon), F.degrees(phi)


def krovak_sql(lon: str, lat: str, a: float, b: float,
               lat_c: float = 49.5,
               lon_0: float = 24.833333333333332,
               alpha_c: float = 30.288139752777778,
               lat_p: float = 78.5, k: float = 0.9999) -> tuple:
    """Engine-shared forward SQL twin (pure sin/cos/pow text) —
    mirrors :func:`krovak_xy` op for op."""
    c = krovak_constants(a, b, lat_c, lon_0, alpha_c, lat_p, k)
    phi = f"radians({lat})"
    esin = f"({c['e']!r} * sin({phi}))"
    U = (f"(2.0 * (atan({c['t0']!r}"
         f" * pow(tan({phi} / 2.0 + pi() / 4.0), {c['B']!r})"
         f" / pow((1.0 + {esin}) / (1.0 - {esin}), {c['eB2']!r}))"
         f" - pi() / 4.0))")
    V = f"({c['B']!r} * radians({c['lon_0']!r} - ({lon})))"
    T = (f"asin({c['cosa']!r} * sin({U})"
         f" + {c['sina']!r} * cos({U}) * cos({V}))")
    D = f"asin(cos({U}) * sin({V}) / cos({T}))"
    theta = f"({c['n']!r} * {D})"
    r = f"({c['rnum']!r} / pow(tan({T} / 2.0 + pi() / 4.0), {c['n']!r}))"
    return f"(-({r} * sin({theta})))", f"(-({r} * cos({theta})))"


def krovak_inv_sql(x: str, y: str, a: float, b: float,
                   lat_c: float = 49.5,
                   lon_0: float = 24.833333333333332,
                   alpha_c: float = 30.288139752777778,
                   lat_p: float = 78.5, k: float = 0.9999) -> tuple:
    """DuckDB inverse twin (list_reduce fixed point) — mirrors
    :func:`krovak_inverse` op for op."""
    c = krovak_constants(a, b, lat_c, lon_0, alpha_c, lat_p, k)
    e = c["e"]
    X, Y = f"(-CAST({y} AS DOUBLE))", f"(-CAST({x} AS DOUBLE))"
    rp = f"sqrt({X} * {X} + {Y} * {Y})"
    D = f"(atan2({Y}, {X}) / {c['n']!r})"
    T = (f"(2.0 * (atan(pow({c['r0']!r} / {rp}, {1.0 / c['n']!r})"
         f" * {c['tanp']!r}) - pi() / 4.0))")
    U = (f"asin({c['cosa']!r} * sin({T})"
         f" - {c['sina']!r} * cos({T}) * cos({D}))")
    V = f"asin(cos({T}) * sin({D}) / cos({U}))"
    lon = (f"((({c['lon_0']!r} - degrees({V} / {c['B']!r}))"
           f" + 540.0) % 360.0 - 180.0)")
    base = (f"({c['t0'] ** (-1.0 / c['B'])!r}"
            f" * pow(tan({U} / 2.0 + pi() / 4.0), {1.0 / c['B']!r}))")
    zeros = ", ".join(["0.0"] * _STERE_ELL_ITERS)
    phi = (f"list_reduce(list_prepend({U}, [{zeros}]),"
           f" (acc, s) -> 2.0 * (atan({base}"
           f" * pow((1.0 + {e!r} * sin(acc)) / (1.0 - {e!r} * sin(acc)),"
           f" {e / 2.0!r})) - pi() / 4.0))")
    return lon, f"degrees({phi})"
