"""Analytic CRS registry: proj-string → forward/inverse column builders.

The reference delegates every coordinate transform to pyproj
(bucket/__init__.py:165, grid.py:119). This engine implements the CRS
families its areas use itself, each declared once in the family table
``_FAMILIES``: a parameter parser, the Column forward and inverse
(functions/geo.py kernels, pure Catalyst math), an optional SQL-text
forward, and a driver-side float inverse. ``_family`` picks the row;
anything outside the table falls back to the Arrow-batched pyproj UDF
(operators/proj_udf.py) when pyproj is importable.

``forward(crs)``        → f(lon_col, lat_col) -> (x, y) columns
``inverse(crs)``        → f(x_col, y_col) -> (lon, lat) columns
``forward_sql(crs)``    → f(lon_sql, lat_sql) -> (x_sql, y_sql), or None
``inverse_scalar(crs)`` → f(x, y) -> (lon, lat) floats, or None

Each wraps the family's centered math in the CRS's frame (``_Frame``:
+x_0/+y_0, custom sphere, +pm, +units, +lon_wrap, +axis, +geoc).

Supported proj strings (whitespace-separated key=value, order-free):
- ``longlat`` (degrees pass-through)
- ``eqc`` / ``+proj=eqc``
- ``+proj=stere`` — polar aspects (lat_0=±90, lat_ts secant form) AND
  oblique/equatorial aspects (any lat_0, Snyder 21-2..21-4 k0 form);
  with an explicit ``+a=.. +b=..`` (or ``+ellps=WGS84/GRS80``)
  ellipsoid the oblique aspect runs PROJ's conformal-latitude form
  (stere.cpp OBLIQ branch, 8-step fixed-point inverse) and the polar
  aspects run Snyder 21-33..21-41 (+lat_ts true-scale or the
  (1±e)-secant k0 form; same fixed-point inverse)
- ``+proj=aea +lat_1=.. [+lat_2=..]`` / ``+proj=eqdc +lat_1=..
  [+lat_2=..]`` (Snyder 14/16 conics)
- ``+proj=moll`` (Newton-fold forward, closed-form inverse)
- ``+proj=robin`` (Robinson 1974 table, linear interpolation)
- ``+proj=aeqd [+lat_0=..] [+lon_0=..]`` (Snyder 25-1..25-4 oblique
  azimuthal equidistant — true distances from the center)
- ``+proj=gnom [+lat_0=..] [+lon_0=..]`` (Snyder 22 gnomonic — great
  circles map to straight lines; beyond-horizon pixels NULL-masked)
- ``+proj=laea [+lat_0=..] [+lon_0=..]`` (with +a/+b: the polar
  EASE-Grid 2.0 aspects or the oblique ellipsoidal form)
- ``+proj=merc [+lat_ts=..] [+lon_0=..]`` and
  ``+proj=lcc +lat_1=.. [+lat_2=..] [+lat_0=..] [+lon_0=..]``
  (ellipsoidal with +a/+b or +ellps)
- ``+proj=geos [+h=..] [+lon_0=..] [+sweep=x|y]`` (full-disc; off-disc
  pixels are NULL-masked by the horizon condition); with +a/+b the
  ELLIPSOIDAL form (PROJ geos.cpp: geocentric-latitude view vector,
  flattened visibility) — the real MSG/SEVIRI CRS
- ``+proj=tmerc [+lat_0=..] [+lon_0=..] [+k=..] [+x_0=..] [+y_0=..]``
  and ``+proj=utm +zone=N [+south]`` (Snyder 8-5..8-8 spherical; with
  a declared ellipsoid the Redfearn/Thomas series 8-9..8-25 — the
  kernel PROJ uses for tmerc — validated against the EPSG GN7-2
  OSGB worked example)
- ``+proj=sinu``, ``+proj=cea [+lat_ts=..]`` (ellipsoidal with +a/+b),
  ``+proj=ortho`` (beyond-horizon pixels NULL-masked),
  ``+proj=krovak`` (EPSG 9819, Bessel 1841 by default)
- ``+proj=omerc +lat_0=.. +lonc=.. +alpha=.. [+ctrack=merc]`` — the
  fitted swath-following frame produced by ``compute_optimal_bb_area``.
  Default cross-track is equidistant (the fitted-bb convention);
  ``+ctrack=merc`` (engine extension flag) switches to PROJ omerc's
  spherical Mercator (atanh) cross-track — see functions/geo.py
  omerc_xy for both geometries.
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple

from pyspark.sql import functions as F

from pyresample_spark.functions.exprs import generate_barrier
from pyresample_spark.functions.geo import (
    _MOLL_CX,
    _MOLL_CY,
    _ROBIN_CX,
    _ROBIN_CY,
    _ROBIN_X,
    _ROBIN_Y,
    R_EARTH,
    _c,
    aea_constants,
    aea_inverse,
    aea_xy,
    aeqd_inverse,
    aeqd_xy,
    authalic_constants,
    cea_ell_inverse,
    cea_ell_sql,
    cea_ell_xy,
    cea_inverse,
    cea_xy,
    eqc_x,
    eqc_y,
    eqdc_constants,
    eqdc_inverse,
    eqdc_xy,
    geos_ell_constants,
    geos_ell_inverse,
    geos_ell_xy,
    geos_inverse,
    geos_xy,
    gnom_inverse,
    gnom_xy,
    krovak_constants,
    krovak_inverse,
    krovak_sql,
    krovak_xy,
    laea_ell_oblique_constants,
    laea_ell_oblique_inverse,
    laea_ell_oblique_sql,
    laea_ell_oblique_xy,
    laea_ell_polar_inverse,
    laea_ell_polar_sql,
    laea_ell_polar_xy,
    laea_inverse,
    laea_sql,
    laea_x,
    laea_y,
    lcc_constants,
    lcc_ell_constants,
    lcc_ell_inverse,
    lcc_ell_sql,
    lcc_ell_xy,
    lcc_inverse,
    lcc_x,
    lcc_y,
    merc_ell_constants,
    merc_ell_inverse,
    merc_ell_sql,
    merc_ell_xy,
    merc_inverse,
    merc_sql,
    merc_x,
    merc_y,
    moll_inverse,
    moll_xy,
    omerc_frame,
    omerc_inverse,
    omerc_xy,
    ortho_inverse,
    ortho_xy,
    robin_inverse,
    robin_xy,
    sinu_inverse,
    sinu_xy,
    stere_ell_constants,
    stere_ell_inverse,
    stere_ell_polar_constants,
    stere_ell_polar_inverse,
    stere_ell_polar_sql,
    stere_ell_polar_xy,
    stere_ell_sql,
    stere_ell_xy,
    stere_oblique_inverse,
    stere_oblique_sql,
    stere_oblique_xy,
    stere_polar_inverse,
    stere_polar_x,
    stere_polar_y,
    tmerc_ell_constants,
    tmerc_ell_inverse,
    tmerc_ell_sql,
    tmerc_ell_xy,
    tmerc_inverse,
    tmerc_sql,
    tmerc_xy,
    utm_params,
)


def _params(crs: str) -> dict:
    out = {}
    for tok in crs.split():
        tok = tok.lstrip("+")
        if "=" in tok:
            k, v = tok.split("=", 1)
            out[k] = v
        else:
            # bare token: the proj name in plain strings ("longlat"),
            # or a valueless flag (+south, +over, +no_defs)
            out.setdefault("proj", tok)
            out.setdefault(tok, "")
    # expand +datum= shorthand so every downstream consumer (family
    # dispatch, ellipsoid resolution, datum pipeline) sees the
    # explicit +ellps/+towgs84 form; raises on NAD27 & friends
    return _resolve_datum_token(out)


# proj names that are their own family row
_PLAIN = frozenset(("eqc", "aeqd", "gnom", "krovak", "sinu", "ortho",
                    "omerc", "aea", "eqdc", "moll", "robin"))
# spherical row -> its ellipsoidal twin, taken when +a/+b or +ellps
# declare a non-spherical ellipsoid. tmerc/utm: the twin is the
# Redfearn/Thomas series (PROJ's tmerc default kernel); areas that say
# "+proj=utm +zone=33" with no ellipsoid keep the Snyder 8-5..8-8
# sphere and their existing goldens
_ELL_TWIN = {"merc": "merc_ell", "lcc": "lcc_ell", "geos": "geos_ell",
             "cea": "cea_ell", "tmerc": "tmerc_ell"}


def _family(crs: str) -> str:
    """The ``_FAMILIES`` key of ``crs``."""
    p = _params(crs)
    proj = p.get("proj", crs.strip())
    if proj in ("longlat", "latlong", "lonlat"):
        return "longlat"
    if proj in _PLAIN:
        return proj
    proj = "tmerc" if proj == "utm" else proj
    if proj in _ELL_TWIN:
        return _ELL_TWIN[proj] if _ellipsoid_ab(p) else proj
    if proj == "stere":
        # polar aspects keep the lat_ts secant form (stere_polar_*);
        # oblique/equatorial aspects use Snyder 21-2..21-4 (k0 scale),
        # or PROJ's conformal-latitude ellipsoidal form when the CRS
        # carries an explicit +a/+b ellipsoid
        ell = _ellipsoid_ab(p)
        if abs(float(p.get("lat_0", "90"))) == 90.0:
            return "stere_ell_polar" if ell else "stere"
        return "stere_ell" if ell else "stere_oblique"
    if proj == "laea":
        if not _ellipsoid_ab(p):
            return "laea"
        # EASE-Grid 2.0 north/south (EPSG 6931/6932) take the
        # polar-aspect forms (Snyder 24-23/24-24); any other lat_0
        # dispatches to the oblique ellipsoidal family (Snyder
        # 24-17.., e.g. ETRS89-LAEA EPSG 3035)
        if abs(float(p.get("lat_0", "0"))) == 90.0:
            return "laea_ell_polar"
        return "laea_ell_oblique"
    raise NotImplementedError(
        f"no analytic transform for CRS {crs!r} (pyproj UDF fallback "
        "in operators/proj_udf.py)"
    )


def _declared_sphere_radius(p: dict) -> float:
    """+R / lone-+a sphere radius for families that consume the
    radius INSIDE their own kernels (tmerc/utm: x = R·k·atanh(B) with
    the false easting added after; geos: rg = 1 + h/R). These cannot
    use the generic _sphere_scale output scaling — it would mis-scale
    the false easting / satellite-height terms — so the radius rides
    the kernel keyword instead (r17; previously a loud guard)."""
    r = p.get("R", p.get("a"))
    if r is None:
        return R_EARTH
    r = float(r)
    if not r > 0.0:
        raise ValueError(f"sphere radius {r} must be positive")
    return r


# named ellipsoids the registry recognizes (+ellps=..); explicit
# +a/+b always win. Semi-major + inverse flattening from PROJ's
# public ellps table (proj -le); b = a·(1 − 1/rf), except clrk66
# which PROJ defines by b directly.
_ELLPS_RF = {
    "WGS84": (6378137.0, 298.257223563),
    "GRS80": (6378137.0, 298.257222101),
    "WGS72": (6378135.0, 298.26),
    "WGS66": (6378145.0, 298.25),
    "WGS60": (6378165.0, 298.3),
    "intl": (6378388.0, 297.0),
    "bessel": (6377397.155, 299.1528128),
    "clrk80": (6378249.145, 293.4663),
    "clrk80ign": (6378249.2, 293.4660212936269),
    "krass": (6378245.0, 298.3),
    "helmert": (6378200.0, 298.3),
    "airy": (6377563.396, 299.3249646),
    "GRS67": (6378160.0, 298.2471674270),
    "aust_SA": (6378160.0, 298.25),
    "evrst30": (6377276.345, 300.8017),
    "IAU76": (6378140.0, 298.257),
}
_ELLPS = {
    name: (a, a * (1.0 - 1.0 / rf)) for name, (a, rf) in _ELLPS_RF.items()
}
_ELLPS["clrk66"] = (6378206.4, 6356583.8)
_ELLPS["mod_airy"] = (6377340.189, 6356034.446)  # PROJ defines by a,b


# +datum= shorthand table: PROJ's public datums list (proj -ld),
# name -> (+ellps, +towgs84 string). NAD27 is grid-shift-only (NADCON)
# and deliberately ABSENT — resolving it raises below instead of
# silently pretending a Helmert fit exists.
_DATUMS = {
    "WGS84": ("WGS84", "0,0,0"),
    "NAD83": ("GRS80", "0,0,0"),
    "GGRS87": ("GRS80", "-199.87,74.79,246.62"),
    "potsdam": ("bessel", "598.1,73.7,418.2,0.202,0.045,-2.455,6.7"),
    "carthage": ("clrk80ign", "-263.0,6.0,431.0"),
    "hermannskogel": ("bessel", "577.326,90.129,463.919,5.137,1.474,5.297,2.4232"),
    "ire65": ("mod_airy", "482.530,-130.596,564.557,-1.042,-0.214,-0.631,8.15"),
    "nzgd49": ("intl", "59.47,-5.04,187.44,0.47,-0.10,1.024,-4.5993"),
    "OSGB36": ("airy", "446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894"),
}


def _resolve_datum_token(p: dict) -> dict:
    """Expand a ``+datum=`` shorthand into +ellps/+towgs84 (explicit
    tokens win). Unknown datums — including grid-shift-only NAD27 —
    raise loudly rather than silently dropping the shift."""
    tok = p.get("datum")
    if tok is None:
        return p
    if tok not in _DATUMS:
        raise NotImplementedError(
            f"unsupported +datum={tok!r}: known Helmert datums are "
            f"{', '.join(sorted(_DATUMS))} (NAD27 has no Helmert fit — "
            "use +ellps=clrk66 +nadgrids=<registered NTv2 grid name> "
            "instead; see sources/ntv2.py register_ntv2_grid)"
        )
    ellps, towgs84 = _DATUMS[tok]
    out = dict(p)
    out.setdefault("ellps", ellps)
    out.setdefault("towgs84", towgs84)
    return out


def _ellipsoid_ab(p: dict):
    """(a, b) if the token dict declares a non-spherical ellipsoid.

    An unrecognized +ellps token RAISES (ADVICE r5) instead of
    silently projecting through the spherical family with R=6370997 —
    a km-scale deviation from PROJ with no warning. +ellps=sphere is
    PROJ's explicit spherical earth and legitimately returns None.

    +R takes PRECEDENCE over any ellipsoid declaration (ADVICE r15):
    PROJ treats +R as "force a sphere of this radius", so
    `+ellps=WGS84 +R=6371000` is spherical — returning None here sends
    dispatch down the spherical family, where _sphere_scale honors R.
    Previously the ellipsoidal branch won and +R was silently dropped."""
    if "R" in p:
        return None
    if "a" in p and "b" in p and float(p["a"]) != float(p["b"]):
        return float(p["a"]), float(p["b"])
    tok = p.get("ellps")
    if tok is None or tok == "sphere" or ("a" in p and "b" in p):
        return None
    if tok in _ELLPS:
        return _ELLPS[tok]
    raise NotImplementedError(
        f"unrecognized +ellps={tok!r}; known: sphere, "
        f"{', '.join(sorted(_ELLPS))} (or give explicit +a/+b)"
    )


def _xy_offsets(fam: str, p: dict):
    """False easting/northing (+x_0/+y_0). tmerc/utm consume them
    inside their own math (tmerc_crs_params); for every other family
    the offsets are a pure post-projection translation — applied
    generically by the forward/inverse wrappers so a CRS like UPS
    (EPSG 32661, x_0 = y_0 = 2 000 000) lands where PROJ puts it
    instead of silently dropping 2 000 km."""
    if fam in ("longlat", "tmerc", "tmerc_ell"):
        return 0.0, 0.0
    return float(p.get("x_0", "0")), float(p.get("y_0", "0"))


def _sphere_scale(fam: str, p: dict) -> float:
    """r / R_EARTH for a declared custom sphere, 1.0 otherwise.

    Spherical projections are linear in the earth radius — x = R·g(…) —
    so a custom sphere (+R=, or +a= with no distinct +b) is honored
    generically by scaling the default-R output by r/R_EARTH (inverse:
    scale inputs first), identically in the Column, SQL and scalar
    twins. The family row's ``sphere`` says whether that holds
    ("scale"), whether the kernel takes the radius itself because it
    couples with another length ("kernel": laea; tmerc/utm, whose false
    easting stays unscaled; geos, rg = 1 + h/R), or whether a custom
    radius is refused (the fitted omerc analog, whose track-fit
    constants are baked into the frame).

    Before this helper a spherical CRS with +R= or +a= (e.g. the GRIB
    R=6371229 sphere) SILENTLY projected through the default
    R=6370997 — exactly the km-scale quiet deviation _ellipsoid_ab's
    guard exists to prevent (the CF path already raised; raw proj
    strings did not)."""
    if _ellipsoid_ab(p) is not None:
        return 1.0  # ellipsoidal family: dispatch reads a/b itself
    r = p.get("R", p.get("a"))
    if r is None:
        return 1.0
    r = float(r)
    if not r > 0.0:
        raise ValueError(f"sphere radius {r} must be positive")
    sphere = _FAMILIES[fam].sphere
    if r == R_EARTH or sphere == "kernel":
        return 1.0
    if sphere != "scale":
        raise NotImplementedError(
            f"custom sphere radius {r} on +proj family {fam!r}: the "
            "radius couples with other length parameters there "
            "(satellite height / internal false easting / track-fit "
            "constants) — re-express on the default sphere or an "
            "explicit ellipsoid"
        )
    return r / R_EARTH


# PROJ frame parameters that were previously PARSED but silently
# DROPPED (VERDICT r15 item 5 — the class q_regrid_grib_sphere
# exposed: a parameter accepted but neither honored nor loudly
# rejected). Now each is one of:
#   honored generically — +pm (prime meridian: input longitudes are
#     Greenwich-referenced, the projection frame is pm-shifted, so
#     forward pre-subtracts pm and inverse post-adds it — PROJ
#     pj_fwd/pj_inv semantics), +units/+to_meter (PROJ pj_fwd:
#     xy = (1/to_meter) * (proj(lp) + x0), so false easting stays in
#     meters and the unit conversion wraps the whole output),
#     +lon_wrap (inverse output longitudes re-centered on the given
#     meridian: [c-180, c+180)), +axis (r17: declared axis order /
#     direction — PROJ pj_adjust_axis, applied OUTERMOST: forward
#     output (easting, northing) is permuted/negated into the
#     declared pair, inverse un-permutes first; the vertical char
#     must be 'u' — a 2-D transform cannot honor 'd').
#   honored generically (r17, continued) — +geoc (latitudes in the LP
#     frame are GEOCENTRIC): forward pre-converts to the geodetic
#     latitude the kernels take, φ ← atan(tan(φ)/(1−e²)), and inverse
#     post-converts back, φ ← atan((1−e²)·tan(φ)) — exactly PROJ's
#     pj_fwd/pj_inv geoc hooks. On a spherical CRS e²=0 makes both
#     the identity (PROJ: one_es == 1), so the fast path is kept and
#     plans stay byte-identical.
#   loud guards — +over (suppresses longitude wrapping inside family
#     kernels that wrap structurally), +axis with a vertical flip.
#   inert, deliberately ignored — +no_defs, +wktext, +type=crs,
#     +vunits/+vto_meter (vertical only; these transforms are 2-D).
# Everything short-circuits when absent so existing plans are
# byte-identical.

def _dms(d: float, m: float = 0.0, s: float = 0.0) -> float:
    sign = -1.0 if d < 0 else 1.0
    return sign * (abs(d) + m / 60.0 + s / 3600.0)


# PROJ's named prime meridians (pj_datums.c, public table)
_PRIME_MERIDIANS = {
    "greenwich": 0.0,
    "lisbon": _dms(-9, 7, 54.862),
    "paris": _dms(2, 20, 14.025),
    "bogota": _dms(-74, 4, 51.3),
    "madrid": _dms(-3, 41, 16.58),
    "rome": _dms(12, 27, 8.4),
    "bern": _dms(7, 26, 22.5),
    "jakarta": _dms(106, 48, 27.79),
    "ferro": _dms(-17, 40, 0),
    "brussels": _dms(4, 22, 4.71),
    "stockholm": _dms(18, 3, 29.8),
    "athens": _dms(23, 42, 58.815),
    "oslo": _dms(10, 43, 22.5),
}

# PROJ's linear-unit table (proj_units.c, public)
_UNITS_TO_METER = {
    "km": 1000.0, "m": 1.0, "dm": 0.1, "cm": 0.01, "mm": 0.001,
    "kmi": 1852.0, "in": 0.0254, "ft": 0.3048, "yd": 0.9144,
    "mi": 1609.344, "fath": 1.8288, "ch": 20.1168, "link": 0.201168,
    "us-in": 1.0 / 39.37, "us-ft": 0.304800609601219,
    "us-yd": 0.914401828803658, "us-ch": 20.11684023368047,
    "us-mi": 1609.347218694437, "ind-yd": 0.91439523,
    "ind-ft": 0.30479841, "ind-ch": 20.11669506,
}


def _axis_fwd(axis: str, x, y, neg):
    """Apply a validated +axis spec to forward output: the internal
    (easting, northing) pair becomes the declared (first, second)
    coordinates — PROJ pj_adjust_axis semantics, outermost on output.
    ``neg`` is the negation for the twin's value kind (Column / SQL
    text / float)."""
    m = {"e": lambda: x, "w": lambda: neg(x),
         "n": lambda: y, "s": lambda: neg(y)}
    return m[axis[0]](), m[axis[1]]()


def _axis_inv(axis: str, c1, c2, neg):
    """Undo +axis on inverse input: declared (first, second) back to
    (easting, northing) — exact inverse of :func:`_axis_fwd`."""
    if axis[0] in "ew":
        x = c1 if axis[0] == "e" else neg(c1)
        y = c2 if axis[1] == "n" else neg(c2)
    else:
        y = c1 if axis[0] == "n" else neg(c1)
        x = c2 if axis[1] == "e" else neg(c2)
    return x, y


def _frame_params(fam: str, p: dict):
    """(pm_degrees, to_meter, lon_wrap_center_or_None, axis,
    geoc_es_or_None) for a token dict, with loud guards for the frame
    parameters that cannot be honored generically. See the block
    comment above. ``geoc_es`` is the e² of the declared ellipsoid
    when +geoc is present and the CRS is genuinely ellipsoidal;
    None otherwise (absent, or spherical where the conversion is the
    identity)."""
    axis = p.get("axis", "enu")
    if axis != "enu":
        horiz = {axis[0] if len(axis) == 3 else "",
                 axis[1] if len(axis) == 3 else ""}
        if (len(axis) != 3
                or not (horiz & set("ew")) or not (horiz & set("ns"))
                or axis[2] == "d"):
            # 'd' (down) flips the VERTICAL axis — meaningful only in
            # 3-D; honoring it silently in a 2-D transform would drop
            # the flip the user asked for
            raise NotImplementedError(
                f"+axis={axis!r}: expected a 3-char spec with one of "
                "e/w, one of n/s, and 'u' (2-D transforms cannot "
                "honor a vertical flip — drop the 'd')"
            )
    if "over" in p:
        raise NotImplementedError(
            "+over (unwrapped longitudes) is not supported: family "
            "kernels wrap structurally — drop +over and post-shift "
            "x by n*2*pi*R for repeated worlds"
        )
    geoc_es = None
    if "geoc" in p and fam != "longlat":
        ab = _ellipsoid_ab(p)
        if ab is not None:
            a, b = ab
            es = 1.0 - (b * b) / (a * a)
            if es != 0.0:
                geoc_es = es
        # spherical: atan((1-0)·tan φ) is the identity — PROJ's
        # one_es == 1 path; keep the fast path (geoc_es None)
    pm_tok = p.get("pm", "0")
    if pm_tok in _PRIME_MERIDIANS:
        pm = _PRIME_MERIDIANS[pm_tok]
    else:
        try:
            pm = float(pm_tok)
        except ValueError:
            raise NotImplementedError(
                f"+pm={pm_tok!r}: unknown prime meridian (known: "
                f"{', '.join(sorted(_PRIME_MERIDIANS))}, or degrees)"
            ) from None
    units = p.get("units")
    if units is not None and units not in _UNITS_TO_METER:
        raise NotImplementedError(
            f"+units={units!r} not in the PROJ unit table "
            f"({', '.join(sorted(_UNITS_TO_METER))})"
        )
    to_meter = _UNITS_TO_METER[units] if units is not None else None
    if "to_meter" in p:
        tm = float(p["to_meter"])
        if to_meter is not None and abs(tm - to_meter) > 1e-12 * to_meter:
            raise ValueError(
                f"+units={units} and +to_meter={tm} disagree "
                f"({to_meter} vs {tm})"
            )
        to_meter = tm
    if to_meter is None:
        to_meter = 1.0
    lon_wrap = float(p["lon_wrap"]) if "lon_wrap" in p else None
    if fam == "longlat" and (pm != 0.0 or to_meter != 1.0
                             or axis != "enu" or "geoc" in p):
        raise NotImplementedError(
            "+pm/+units/+axis/+geoc on a longlat CRS: the "
            "passthrough family keeps Greenwich geodetic degrees — "
            "apply the shift explicitly"
        )
    return pm, to_meter, lon_wrap, axis, geoc_es


# ---------------------------------------------------------------------------
# The family table. Each analytic family is declared once, in _FAMILIES:
#   params  token dict -> kernel keywords, parsed once per CRS;
#   fwd     Column forward (lon, lat, **kw) -> (x, y), functions/geo.py;
#   inv     Column inverse (x, y, **kw) -> (lon, lat), functions/geo.py;
#   sql     SQL-text forward (lon_sql, lat_sql, **kw) -> (x_sql, y_sql)
#           for the datum let-chain, or None;
#   scalar  (**kw) -> driver-side float inverse (x, y) -> (lon, lat) or
#           None off the projection domain (plan-time geometry);
#   sphere  how a custom sphere (+R / lone +a) is honored: "scale" (the
#           output is linear in R, scaled by r/R_EARTH in the frame),
#           "kernel" (the radius rides the kernel keywords), or None
#           (refused loudly: the radius couples with another length).
# forward / inverse / forward_sql / inverse_scalar look the family up and
# wrap it in the CRS's frame (_Frame).
# ---------------------------------------------------------------------------


class _Family(NamedTuple):
    params: Callable
    fwd: Callable
    inv: Callable
    sql: Callable | None
    scalar: Callable
    sphere: str | None


def _no_params(p: dict) -> dict:
    return {}


def _lon0_params(p: dict) -> dict:
    return {"lon_0": float(p.get("lon_0", "0"))}


def _center_params(p: dict) -> dict:
    return {"lat_0": float(p.get("lat_0", "0")),
            "lon_0": float(p.get("lon_0", "0"))}


def _lat_ts_params(p: dict) -> dict:
    return {"lat_ts": float(p.get("lat_ts", "0")),
            "lon_0": float(p.get("lon_0", "0"))}


def _stere_params(p: dict) -> dict:
    lat0 = float(p.get("lat_0", "90"))
    return {"lat_ts": float(p.get("lat_ts", lat0)),
            "lon_0": float(p.get("lon_0", "0")), "north": lat0 > 0}


def _stere_oblique_params(p: dict) -> dict:
    return {**_center_params(p), "k0": float(p.get("k_0", p.get("k", "1")))}


def _laea_params(p: dict) -> dict:
    return {"lat_0": float(p.get("lat_0", "90")),
            "lon_0": float(p.get("lon_0", "0")),
            # EASE +a; GRIB +R
            "radius": float(p.get("a", p.get("R", repr(R_EARTH))))}


def _lcc_params(p: dict) -> dict:
    return {"lat_0": float(p.get("lat_0", "0")),
            "lat_1": float(p.get("lat_1", p.get("lat_0", "33"))),
            "lat_2": float(p["lat_2"]) if "lat_2" in p else None,
            "lon_0": float(p.get("lon_0", "0"))}


def _conic_params(p: dict) -> dict:
    return {
        "lat_1": float(p.get("lat_1", p.get("lat_0", "30"))),
        "lat_2": float(p["lat_2"]) if "lat_2" in p else None,
        "lat_0": float(p.get("lat_0", "0")),
        "lon_0": float(p.get("lon_0", "0")),
    }


def _omerc_params(p: dict) -> dict:
    return {
        "frame": omerc_frame(float(p.get("lat_0", "0")),
                             float(p.get("lonc", "0")),
                             float(p.get("alpha", "0"))),
        "cross_track": ("mercator" if p.get("ctrack") == "merc"
                        else "equidistant"),
    }


def _geos_params(p: dict) -> dict:
    return {"h": float(p.get("h", "35785831")),
            "lon_0": float(p.get("lon_0", "0")),
            "sweep": p.get("sweep", "y"),
            "radius": _declared_sphere_radius(p)}


def _geos_ell_params(p: dict) -> dict:
    a, b = _ellipsoid_ab(p)
    return {"h": float(p.get("h", "35785831")), "a": a, "b": b,
            "lon_0": float(p.get("lon_0", "0")), "sweep": p.get("sweep", "y")}


def _tmerc_params(p: dict) -> dict:
    rad = _declared_sphere_radius(p)
    if p.get("proj") == "utm":
        kw = utm_params(int(p["zone"]), south="south" in p)
        kw["radius"] = rad
        return kw
    return {
        "lat_0": float(p.get("lat_0", "0")),
        "lon_0": float(p.get("lon_0", "0")),
        "k": float(p.get("k", p.get("k_0", "1"))),
        "x_0": float(p.get("x_0", "0")),
        "y_0": float(p.get("y_0", "0")),
        "radius": rad,
    }


def _tmerc_ell_params(p: dict) -> dict:
    a, b = _ellipsoid_ab(p)
    base = _tmerc_params(p)
    return {
        "lat_0": base["lat_0"],
        "lon_0": base["lon_0"],
        "a": a,
        "b": b,
        "k": base["k"],
        "x_0": base["x_0"],
        "y_0": base["y_0"],
    }


def _cea_ell_params(p: dict) -> dict:
    a, b = _ellipsoid_ab(p)
    return {**_lat_ts_params(p), "a": a, "b": b}


def _laea_ell_oblique_params(p: dict) -> dict:
    a, b = _ellipsoid_ab(p)
    return {**_center_params(p), "a": a, "b": b}


def _laea_ell_polar_params(p: dict) -> dict:
    a, b = _ellipsoid_ab(p)
    return {
        "a": a,
        "b": b,
        "lon_0": float(p.get("lon_0", "0")),
        "north": float(p.get("lat_0", "90")) > 0,
    }


def _merc_ell_params(p: dict) -> dict:
    a, b = _ellipsoid_ab(p)
    return {
        "a": a,
        "b": b,
        "lat_ts": float(p["lat_ts"]) if "lat_ts" in p else None,
        "lon_0": float(p.get("lon_0", "0")),
        "k": float(p.get("k_0", p.get("k", "1"))),
    }


def _krovak_params(p: dict) -> dict:
    # PROJ's defaults: center 49.5°N, origin 24°50'E of Greenwich,
    # cone-axis azimuth 30°17'17.303", scale 0.9999; the pseudo standard
    # parallel is fixed at 78.5° (not a PROJ parameter; +lat_ts
    # overrides here for completeness); Bessel 1841 unless declared
    ab = _ellipsoid_ab(p)
    a, b = ab if ab else _ELLPS["bessel"]
    return {
        "a": a,
        "b": b,
        "lat_c": float(p.get("lat_0", "49.5")),
        "lon_0": float(p.get("lon_0", repr(24.833333333333332))),
        "alpha_c": float(p.get("alpha", repr(30.288139752777778))),
        "lat_p": float(p.get("lat_ts", "78.5")),
        "k": float(p.get("k_0", p.get("k", "0.9999"))),
    }


def _lcc_ell_params(p: dict) -> dict:
    a, b = _ellipsoid_ab(p)
    return {**_lcc_params(p), "a": a, "b": b,
            "k0": float(p.get("k_0", p.get("k", "1")))}


def _stere_ell_polar_params(p: dict) -> dict:
    a, b = _ellipsoid_ab(p)
    lat0 = float(p.get("lat_0", "90"))
    return {
        "lat_ts": float(p.get("lat_ts", "90")),
        "a": a,
        "b": b,
        "lon_0": float(p.get("lon_0", "0")),
        "north": lat0 > 0,
        # +k/+k_0 only matters without a true-scale parallel (PROJ: an
        # explicit +lat_ts takes precedence and k0 is ignored) — e.g.
        # UPS, +proj=stere +lat_0=90 +k=0.994 +ellps=WGS84
        "k0": float(p.get("k_0", p.get("k", "1"))),
    }


def _stere_ell_params(p: dict) -> dict:
    # +lat_ts is polar-only in PROJ and deliberately ignored here
    a, b = _ellipsoid_ab(p)
    return {**_center_params(p), "a": a, "b": b,
            "k0": float(p.get("k_0", p.get("k", "1")))}


# Column adapters for families whose geo.py kernels are not one
# (lon, lat, **kw) -> (x, y) function


def _identity(u, v):
    # longlat both ways: Columns and column names as Columns, and
    # floats unchanged for the scalar inverse
    return _c(u), _c(v)


def _pair(fx, fy):
    return lambda lon, lat, **kw: (fx(lon, lat, **kw), fy(lon, lat, **kw))


def _eqc_fwd(lon, lat):
    return eqc_x(lon), eqc_y(lat)


def _eqc_inv(x, y):
    return F.degrees(_c(x) / R_EARTH), F.degrees(_c(y) / R_EARTH)


def _eqc_sql(lon, lat):
    return f"(radians({lon}) * {R_EARTH!r})", f"(radians({lat}) * {R_EARTH!r})"


def _merc_fwd(lon, lat, lat_ts, lon_0):
    return merc_x(lon, lat_ts=lat_ts, lon_0=lon_0), merc_y(lat, lat_ts=lat_ts)


# Scalar inverses: the functions/geo.py inverse formulas in float math,
# on the default sphere R_EARTH unless the family takes a radius.


def _wrap(lon: float) -> float:
    return ((lon + 540.0) % 360.0) - 180.0


def _clamp(v: float) -> float:
    return max(-1.0, min(1.0, v))


def _auth_phi(beta: float, cst: dict) -> float:
    """Authalic latitude (radians) → geodetic degrees (Snyder 3-18)."""
    return math.degrees(
        beta + cst["c2"] * math.sin(2 * beta)
        + cst["c4"] * math.sin(4 * beta)
        + cst["c6"] * math.sin(6 * beta))


def _phi_from_t(t: float, e: float) -> float:
    """Geodetic latitude (radians) from the conformal t (Snyder 7-9,
    eight fixed-point passes like the Column kernels)."""
    phi = math.pi / 2.0 - 2.0 * math.atan(t)
    for _ in range(8):
        phi = math.pi / 2.0 - 2.0 * math.atan(
            t * ((1.0 - e * math.sin(phi))
                 / (1.0 + e * math.sin(phi))) ** (e / 2.0))
    return phi


def _azimuthal_scalar(lat_0, lon_0, angle, center=None):
    """Spherical oblique azimuthal inverse (Snyder 20-14/20-15) given the
    angular distance ``angle(rho)`` of each family; ``center`` is what
    rho = 0 maps to."""
    s1, c1 = math.sin(math.radians(lat_0)), math.cos(math.radians(lat_0))
    center = center or (lon_0, lat_0)

    def inv(x, y):
        rho = math.hypot(x, y)
        if rho == 0.0:
            return center
        cc = angle(rho)
        lat = math.degrees(math.asin(_clamp(
            math.cos(cc) * s1 + y * math.sin(cc) * c1 / rho)))
        lon = lon_0 + math.degrees(math.atan2(
            x * math.sin(cc),
            rho * c1 * math.cos(cc) - y * s1 * math.sin(cc)))
        return _wrap(lon), lat

    return inv


def _eqc_scalar():
    return lambda x, y: (math.degrees(x / R_EARTH),
                         math.degrees(y / R_EARTH))


def _stere_scalar(lat_ts, lon_0, north):
    sign = 1.0 if north else -1.0
    k0 = (1.0 + math.sin(math.radians(abs(lat_ts)))) / 2.0

    def inv(x, y):
        rho = math.hypot(x, y)
        lat_e = math.pi / 2 - 2.0 * math.atan(rho / (2.0 * R_EARTH * k0))
        lon = math.degrees(math.atan2(x, -y * sign)) + lon_0
        return _wrap(lon), math.degrees(lat_e) * sign

    return inv


def _stere_oblique_scalar(lat_0, lon_0, k0):
    return _azimuthal_scalar(
        lat_0, lon_0, lambda rho: 2.0 * math.atan(rho / (2.0 * R_EARTH * k0)))


def _aeqd_scalar(lat_0, lon_0):
    return _azimuthal_scalar(lat_0, lon_0, lambda rho: rho / R_EARTH)


def _gnom_scalar(lat_0, lon_0):
    return _azimuthal_scalar(lat_0, lon_0,
                             lambda rho: math.atan(rho / R_EARTH))


def _laea_scalar(lat_0, lon_0, radius):
    return _azimuthal_scalar(
        lat_0, lon_0,
        lambda rho: 2.0 * math.asin(_clamp(rho / (2.0 * radius))),
        # laea's center latitude has always round-tripped through
        # radians, which can move lat_0 by one ulp
        center=(lon_0, math.degrees(math.radians(lat_0))))


def _ortho_scalar(lat_0, lon_0):
    s1 = math.sin(math.radians(lat_0))
    c1 = math.cos(math.radians(lat_0))

    def inv(x, y):
        rho = math.hypot(x, y)
        if rho > R_EARTH:
            return None
        if rho == 0.0:
            return lon_0, lat_0
        sin_c = rho / R_EARTH
        cos_c = math.sqrt(max(0.0, 1.0 - sin_c * sin_c))
        lat = math.degrees(math.asin(
            _clamp(cos_c * s1 + y * sin_c * c1 / rho)))
        lon = lon_0 + math.degrees(math.atan2(
            x * sin_c, rho * cos_c * c1 - y * sin_c * s1
        ))
        return _wrap(lon), lat

    return inv


def _merc_scalar(lat_ts, lon_0):
    rk = R_EARTH * math.cos(math.radians(lat_ts))
    return lambda x, y: (
        _wrap(math.degrees(x / rk) + lon_0),
        90.0 - 2.0 * math.degrees(math.atan(math.exp(-y / rk))),
    )


def _lcc_scalar(lat_0, lat_1, lat_2, lon_0):
    n, rf, rho0 = lcc_constants(lat_0, lat_1, lat_2, R_EARTH)
    sgn = 1.0 if n >= 0 else -1.0

    def inv(x, y):
        xs, ys = x * sgn, (rho0 - y) * sgn
        rho = sgn * math.hypot(xs, ys)
        if rho == 0.0:
            return None
        lat = 2.0 * math.degrees(math.atan((rf / rho) ** (1.0 / n))) - 90.0
        lon = math.degrees(math.atan2(xs, ys)) / n + lon_0
        return _wrap(lon), lat

    return inv


def _sinu_scalar(lon_0):
    def inv(x, y):
        latr = y / R_EARTH
        c = math.cos(latr)
        if c == 0.0:
            return None
        lon = lon_0 + math.degrees(x / (R_EARTH * c))
        return _wrap(lon), math.degrees(latr)

    return inv


def _cea_scalar(lat_ts, lon_0):
    k0 = math.cos(math.radians(lat_ts))

    def inv(x, y):
        lat = math.degrees(math.asin(_clamp(y * k0 / R_EARTH)))
        lon = lon_0 + math.degrees(x / (R_EARTH * k0))
        return _wrap(lon), lat

    return inv


def _cea_ell_scalar(lat_ts, a, b, lon_0):
    cst = authalic_constants(a, b)
    phits = math.radians(lat_ts)
    k0e = math.cos(phits) / math.sqrt(1.0 - cst["es"] * math.sin(phits) ** 2)

    def inv(x, y):
        beta = math.asin(_clamp(y * 2.0 * k0e / (a * cst["qp"])))
        lon = lon_0 + math.degrees(x / (a * k0e))
        return _wrap(lon), _auth_phi(beta, cst)

    return inv


def _laea_ell_polar_scalar(a, b, lon_0, north):
    cst = authalic_constants(a, b)

    def inv(x, y):
        rho2 = x * x + y * y
        q = (cst["qp"] - rho2 / a ** 2 if north
             else rho2 / a ** 2 - cst["qp"])
        beta = math.asin(_clamp(q / cst["qp"]))
        lam = math.atan2(x, -y) if north else math.atan2(x, y)
        return _wrap(lon_0 + math.degrees(lam)), _auth_phi(beta, cst)

    return inv


def _laea_ell_oblique_scalar(lat_0, a, b, lon_0):
    cst = laea_ell_oblique_constants(lat_0, a, b)

    def inv(x, y):
        xs = x / cst["d"]
        ys = cst["d"] * y
        rho = math.hypot(xs, ys)
        if rho == 0.0:
            return lon_0, _auth_phi(math.asin(cst["sb1"]), cst)
        ce = 2.0 * math.asin(_clamp(rho / (2.0 * cst["rq"])))
        beta = math.asin(_clamp(
            math.cos(ce) * cst["sb1"] + ys * math.sin(ce) * cst["cb1"] / rho))
        lam = math.atan2(
            xs * math.sin(ce),
            rho * cst["cb1"] * math.cos(ce) - ys * cst["sb1"] * math.sin(ce))
        return _wrap(lon_0 + math.degrees(lam)), _auth_phi(beta, cst)

    return inv


def _lcc_ell_scalar(lat_0, lat_1, lat_2, a, b, lon_0, k0):
    cst = lcc_ell_constants(lat_0, lat_1, lat_2, a, b, k0)
    n_ = cst["n"]
    sgn = 1.0 if n_ >= 0 else -1.0

    def inv(x, y):
        xs = sgn * x
        ys = sgn * (cst["rho0"] - y)
        rho = math.hypot(xs, ys)
        phi = _phi_from_t((sgn * rho / cst["af"]) ** (1.0 / n_), cst["e"])
        lon = lon_0 + math.degrees(sgn * math.atan2(xs, ys) / n_)
        return _wrap(lon), math.degrees(phi)

    return inv


def _merc_ell_scalar(a, b, lat_ts, lon_0, k):
    cst = merc_ell_constants(lat_ts, a, b, k)
    ak = cst["ak"]

    def inv(x, y):
        phi = _phi_from_t(math.exp(-y / ak), cst["e"])
        return _wrap(lon_0 + math.degrees(x / ak)), math.degrees(phi)

    return inv


def _krovak_scalar(a, b, lat_c, lon_0, alpha_c, lat_p, k):
    cst = krovak_constants(a, b, lat_c, lon_0, alpha_c, lat_p, k)

    def inv(x, y):
        X, Y = -y, -x  # southing, westing (PROJ default axes)
        rp = math.hypot(X, Y)
        D = math.atan2(Y, X) / cst["n"]
        T = 2.0 * (math.atan(
            (cst["r0"] / rp) ** (1.0 / cst["n"]) * cst["tanp"]
        ) - math.pi / 4.0)
        U = math.asin(cst["cosa"] * math.sin(T)
                      - cst["sina"] * math.cos(T) * math.cos(D))
        V = math.asin(math.cos(T) * math.sin(D) / math.cos(U))
        lon = cst["lon_0"] - math.degrees(V / cst["B"])
        base = (cst["t0"] ** (-1.0 / cst["B"])
                * math.tan(U / 2.0 + math.pi / 4.0) ** (1.0 / cst["B"]))
        e_ = cst["e"]
        phi = U
        for _ in range(8):
            phi = 2.0 * (math.atan(
                base * ((1.0 + e_ * math.sin(phi))
                        / (1.0 - e_ * math.sin(phi))) ** (e_ / 2.0)
            ) - math.pi / 4.0)
        return _wrap(lon), math.degrees(phi)

    return inv


def _stere_ell_scalar(lat_0, lon_0, a, b, k0):
    e, sinx1, cosx1, akm1, _es = stere_ell_constants(lat_0, a, b, k0)

    def inv(x, y):
        xs, ys = x / a, y / a
        rho = math.hypot(xs, ys)
        cc = 2.0 * math.atan2(rho * cosx1, akm1)
        if rho == 0.0:
            chi = math.asin(_clamp(sinx1))
            lam = 0.0
        else:
            chi = math.asin(_clamp(
                math.cos(cc) * sinx1 + ys * math.sin(cc) * cosx1 / rho))
            lam = math.atan2(
                xs * math.sin(cc),
                rho * cosx1 * math.cos(cc) - ys * sinx1 * math.sin(cc))
        tp = math.tan(math.pi / 4.0 + chi / 2.0)
        phi = chi
        for _ in range(8):
            es_ = e * math.sin(phi)
            phi = 2.0 * math.atan(
                tp * ((1.0 + es_) / (1.0 - es_)) ** (e / 2.0)
            ) - math.pi / 2.0
        return _wrap(lon_0 + math.degrees(lam)), math.degrees(phi)

    return inv


def _stere_ell_polar_scalar(lat_ts, a, b, lon_0, north, k0):
    e, fk = stere_ell_polar_constants(lat_ts, a, b, k0)
    sgn = 1.0 if north else -1.0

    def inv(x, y):
        xs, ys = x, -sgn * y
        phi = _phi_from_t(math.hypot(xs, ys) / (a * fk), e)
        lon = lon_0 + sgn * math.degrees(math.atan2(xs, ys))
        return _wrap(lon), sgn * math.degrees(phi)

    return inv


def _omerc_scalar(frame, cross_track):
    e1, e2, e3 = frame
    ct_merc = cross_track == "mercator"

    def inv(x, y):
        u, t = x / R_EARTH, y / R_EARTH
        cu, su = math.cos(u), math.sin(u)
        if ct_merc:
            e = math.exp(t)
            den = e + 1.0 / e
            cv, sv = 2.0 / den, (e - 1.0 / e) / den
        else:
            cv, sv = math.cos(t), math.sin(t)
        px = cv * (cu * e1[0] + su * e2[0]) + sv * e3[0]
        py = cv * (cu * e1[1] + su * e2[1]) + sv * e3[1]
        pz = cv * (cu * e1[2] + su * e2[2]) + sv * e3[2]
        lon = math.degrees(math.atan2(py, px))
        lat = math.degrees(math.asin(_clamp(pz)))
        return _wrap(lon), lat

    return inv


def _aea_scalar(lat_1, lat_2, lat_0, lon_0):
    n, c, rho0 = aea_constants(lat_1, lat_2, lat_0, R_EARTH)
    sgn = 1.0 if n >= 0 else -1.0

    def inv(x, y):
        xs, ys = x * sgn, (rho0 - y) * sgn
        rho = sgn * math.hypot(xs, ys)
        lat = math.degrees(math.asin(_clamp(
            (c - (rho * n / R_EARTH) ** 2) / (2.0 * n))))
        lon = lon_0 + math.degrees(math.atan2(xs, ys)) / n
        return _wrap(lon), lat

    return inv


def _eqdc_scalar(lat_1, lat_2, lat_0, lon_0):
    n, g, rho0 = eqdc_constants(lat_1, lat_2, lat_0, R_EARTH)
    sgn = 1.0 if n >= 0 else -1.0

    def inv(x, y):
        xs, ys = x * sgn, (rho0 - y) * sgn
        rho = sgn * math.hypot(xs, ys)
        lat = math.degrees(g - rho / R_EARTH)
        lon = lon_0 + math.degrees(math.atan2(xs, ys)) / n
        return _wrap(lon), lat

    return inv


def _moll_scalar(lon_0):
    def inv(x, y):
        s = y / (_MOLL_CY * R_EARTH)
        if abs(s) > 1.0:
            return None
        theta = math.asin(s)
        lat = math.degrees(math.asin(_clamp(
            (2.0 * theta + math.sin(2.0 * theta)) / math.pi)))
        ct = math.cos(theta)
        if ct == 0.0:
            return lon_0, lat
        lon = lon_0 + math.degrees(x / (_MOLL_CX * R_EARTH * ct))
        return _wrap(lon), lat

    return inv


def _robin_scalar(lon_0):
    def inv(x, y):
        v = min(abs(y) / (_ROBIN_CY * R_EARTH), 1.0)
        i = min(sum(1 for e in _ROBIN_Y if e <= v) - 1, 17)
        fr = (v - _ROBIN_Y[i]) / (_ROBIN_Y[i + 1] - _ROBIN_Y[i])
        lat = 5.0 * (i + fr) * (1.0 if y >= 0 else -1.0)
        bx = _ROBIN_X[i] + (_ROBIN_X[i + 1] - _ROBIN_X[i]) * fr
        lon = lon_0 + math.degrees(x / (_ROBIN_CX * R_EARTH * bx))
        return _wrap(lon), lat

    return inv


def _tmerc_scalar(lat_0, lon_0, k, x_0, y_0, radius):
    rk = radius * k
    lat0r = math.radians(lat_0)

    def inv(x, y):
        xp = (x - x_0) / rk
        d = (y - y_0) / rk + lat0r
        lat = math.degrees(math.asin(math.sin(d) / math.cosh(xp)))
        lon = lon_0 + math.degrees(math.atan2(math.sinh(xp), math.cos(d)))
        return _wrap(lon), lat

    return inv


def _tmerc_ell_scalar(lat_0, lon_0, a, b, k, x_0, y_0):
    cst = tmerc_ell_constants(a, b, lat_0)
    es, ep2, e1 = cst["es"], cst["ep2"], cst["e1"]

    def inv(x, y):
        m = cst["M0"] + (y - y_0) / k
        mu = m / (a * cst["m0c"])
        phi1 = (mu
                + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * math.sin(2 * mu)
                + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * math.sin(4 * mu)
                + (151 * e1 ** 3 / 96) * math.sin(6 * mu)
                + (1097 * e1 ** 4 / 512) * math.sin(8 * mu))
        s1, c1, t1 = math.sin(phi1), math.cos(phi1), math.tan(phi1)
        cc1, tt1 = ep2 * c1 * c1, t1 * t1
        n1 = a / math.sqrt(1 - es * s1 * s1)
        r1 = a * (1 - es) / (1 - es * s1 * s1) ** 1.5
        d = (x - x_0) / (n1 * k)
        d2 = d * d
        lat = math.degrees(phi1 - (n1 * t1 / r1) * (d2 / 2.0) * (
            1.0 - d2 / 12.0 * ((5 + 3 * tt1 + 10 * cc1 - 4 * cc1 * cc1
                                - 9 * ep2)
                               - d2 / 30.0 * (61 + 90 * tt1 + 298 * cc1
                                              + 45 * tt1 * tt1 - 252 * ep2
                                              - 3 * cc1 * cc1))))
        lon = lon_0 + math.degrees(d * (
            1.0 - d2 / 6.0 * ((1 + 2 * tt1 + cc1)
                              - d2 / 20.0 * (5 - 2 * cc1 + 28 * tt1
                                             - 3 * cc1 * cc1 + 8 * ep2
                                             + 24 * tt1 * tt1))) / c1)
        return _wrap(lon), lat

    return inv


def _geos_scalar(h, lon_0, sweep, radius):
    rg = 1.0 + h / radius

    def inv(x, y):
        if sweep == "x":
            vz = math.tan(y / h)
            vy = math.tan(x / h) * math.hypot(1.0, vz)
        else:
            vy = math.tan(x / h)
            vz = math.tan(y / h) * math.hypot(1.0, vy)
        a = vy * vy + vz * vz + 1.0
        b = -2.0 * rg
        det = b * b - 4.0 * a * (rg * rg - 1.0)
        if det < 0.0:
            return None
        k = (-b - math.sqrt(det)) / (2.0 * a)
        wx, wy, wz = rg - k, vy * k, vz * k
        lam = math.atan2(wy, wx)
        lon = _wrap(math.degrees(lam) + lon_0)
        return lon, math.degrees(math.atan(wz * math.cos(lam) / wx))

    return inv


def _geos_ell_scalar(h, a, b, lon_0, sweep):
    rp, _rp2, rpi2, rg, rg1, cc = geos_ell_constants(h, a, b)

    def inv(x, y):
        xs, ys = x / (a * rg1), y / (a * rg1)
        if sweep == "x":
            vz = math.tan(ys)
            vy = math.tan(xs) * math.hypot(1.0, vz)
        else:
            vy = math.tan(xs)
            vz = math.tan(ys) * math.hypot(1.0, vy)
        az = vz / rp
        aa = vy * vy + az * az + 1.0
        det = 4.0 * rg * rg - 4.0 * aa * cc
        if det < 0.0:
            return None
        k = (2.0 * rg - math.sqrt(det)) / (2.0 * aa)
        wx, wy, wz = rg - k, vy * k, vz * k
        lam = math.atan2(wy, wx)
        phi = math.atan(wz * math.cos(lam) / wx)
        lon = _wrap(math.degrees(lam) + lon_0)
        return lon, math.degrees(math.atan(rpi2 * math.tan(phi)))

    return inv


_FAMILIES = {
    # key: _Family(params, fwd, inv, sql, scalar, sphere)
    "longlat": _Family(
        _no_params, _identity, _identity, None, lambda: _identity, "kernel"),
    "eqc": _Family(
        _no_params, _eqc_fwd, _eqc_inv, _eqc_sql, _eqc_scalar, "scale"),
    "stere": _Family(
        _stere_params, _pair(stere_polar_x, stere_polar_y),
        stere_polar_inverse, None, _stere_scalar, "scale"),
    "stere_oblique": _Family(
        _stere_oblique_params, stere_oblique_xy, stere_oblique_inverse,
        stere_oblique_sql, _stere_oblique_scalar, "scale"),
    "stere_ell": _Family(
        _stere_ell_params, stere_ell_xy, stere_ell_inverse, stere_ell_sql,
        _stere_ell_scalar, None),
    "stere_ell_polar": _Family(
        _stere_ell_polar_params, stere_ell_polar_xy, stere_ell_polar_inverse,
        stere_ell_polar_sql, _stere_ell_polar_scalar, None),
    "aeqd": _Family(
        _center_params, aeqd_xy, aeqd_inverse, None, _aeqd_scalar, "scale"),
    "gnom": _Family(
        _center_params, gnom_xy, gnom_inverse, None, _gnom_scalar, "scale"),
    "ortho": _Family(
        _center_params, ortho_xy, ortho_inverse, None, _ortho_scalar, "scale"),
    "laea": _Family(
        _laea_params, _pair(laea_x, laea_y), laea_inverse, laea_sql,
        _laea_scalar, "kernel"),
    "laea_ell_polar": _Family(
        _laea_ell_polar_params, laea_ell_polar_xy, laea_ell_polar_inverse,
        laea_ell_polar_sql, _laea_ell_polar_scalar, None),
    "laea_ell_oblique": _Family(
        _laea_ell_oblique_params, laea_ell_oblique_xy,
        laea_ell_oblique_inverse, laea_ell_oblique_sql,
        _laea_ell_oblique_scalar, None),
    "merc": _Family(
        _lat_ts_params, _merc_fwd, merc_inverse, merc_sql, _merc_scalar,
        "scale"),
    "merc_ell": _Family(
        _merc_ell_params, merc_ell_xy, merc_ell_inverse, merc_ell_sql,
        _merc_ell_scalar, None),
    "lcc": _Family(
        _lcc_params, _pair(lcc_x, lcc_y), lcc_inverse, None, _lcc_scalar,
        "scale"),
    "lcc_ell": _Family(
        _lcc_ell_params, lcc_ell_xy, lcc_ell_inverse, lcc_ell_sql,
        _lcc_ell_scalar, None),
    "cea": _Family(
        _lat_ts_params, cea_xy, cea_inverse, None, _cea_scalar, "scale"),
    "cea_ell": _Family(
        _cea_ell_params, cea_ell_xy, cea_ell_inverse, cea_ell_sql,
        _cea_ell_scalar, None),
    "sinu": _Family(
        _lon0_params, sinu_xy, sinu_inverse, None, _sinu_scalar, "scale"),
    "moll": _Family(
        _lon0_params, moll_xy, moll_inverse, None, _moll_scalar, "scale"),
    "robin": _Family(
        _lon0_params, robin_xy, robin_inverse, None, _robin_scalar, "scale"),
    "aea": _Family(
        _conic_params, aea_xy, aea_inverse, None, _aea_scalar, "scale"),
    "eqdc": _Family(
        _conic_params, eqdc_xy, eqdc_inverse, None, _eqdc_scalar, "scale"),
    "tmerc": _Family(
        _tmerc_params, tmerc_xy, tmerc_inverse, tmerc_sql, _tmerc_scalar,
        "kernel"),
    "tmerc_ell": _Family(
        _tmerc_ell_params, tmerc_ell_xy, tmerc_ell_inverse, tmerc_ell_sql,
        _tmerc_ell_scalar, None),
    "krovak": _Family(
        _krovak_params, krovak_xy, krovak_inverse, krovak_sql, _krovak_scalar,
        None),
    "omerc": _Family(
        _omerc_params, omerc_xy, omerc_inverse, None, _omerc_scalar, None),
    "geos": _Family(
        _geos_params, geos_xy, geos_inverse, None, _geos_scalar, "kernel"),
    "geos_ell": _Family(
        _geos_ell_params, geos_ell_xy, geos_ell_inverse, None,
        _geos_ell_scalar, None),
}


def tmerc_crs_params(crs: str) -> dict:
    """+proj=tmerc / +proj=utm → kernel keywords: the ``params`` of the
    ``tmerc`` row of the family table (``_FAMILIES``)."""
    return _FAMILIES["tmerc"].params(_params(crs))


def tmerc_ell_crs_params(crs: str) -> dict:
    """+proj=tmerc/+proj=utm with a declared ellipsoid → the ``params``
    of the ``tmerc_ell`` row of ``_FAMILIES`` (Redfearn series)."""
    return _FAMILIES["tmerc_ell"].params(_params(crs))


def cea_ell_crs_params(crs: str) -> dict:
    """The ``params`` of the ``cea_ell`` row of ``_FAMILIES``."""
    return _FAMILIES["cea_ell"].params(_params(crs))


def laea_ell_oblique_crs_params(crs: str) -> dict:
    """The ``params`` of the ``laea_ell_oblique`` row of ``_FAMILIES``."""
    return _FAMILIES["laea_ell_oblique"].params(_params(crs))


def laea_ell_polar_crs_params(crs: str) -> dict:
    """The ``params`` of the ``laea_ell_polar`` row of ``_FAMILIES``."""
    return _FAMILIES["laea_ell_polar"].params(_params(crs))


def merc_ell_crs_params(crs: str) -> dict:
    """The ``params`` of the ``merc_ell`` row of ``_FAMILIES``."""
    return _FAMILIES["merc_ell"].params(_params(crs))


def krovak_crs_params(crs: str) -> dict:
    """+proj=krovak (EPSG method 9819 — S-JTSK) → the ``params`` of the
    ``krovak`` row of ``_FAMILIES`` (PROJ's defaults, Bessel 1841)."""
    return _FAMILIES["krovak"].params(_params(crs))


def lcc_ell_crs_params(crs: str) -> dict:
    """The ``params`` of the ``lcc_ell`` row of ``_FAMILIES``."""
    return _FAMILIES["lcc_ell"].params(_params(crs))


def stere_ell_polar_crs_params(crs: str) -> dict:
    """The ``params`` of the ``stere_ell_polar`` row of ``_FAMILIES``."""
    return _FAMILIES["stere_ell_polar"].params(_params(crs))


def stere_ell_crs_params(crs: str) -> dict:
    """+proj=stere +a=.. +b=.. oblique → the ``params`` of the
    ``stere_ell`` row of ``_FAMILIES``."""
    return _FAMILIES["stere_ell"].params(_params(crs))


def conic_crs_params(crs: str) -> dict:
    """+proj=aea / +proj=eqdc → the ``params`` shared by their rows of
    ``_FAMILIES``."""
    return _FAMILIES["aea"].params(_params(crs))


class _Frame(NamedTuple):
    """The generic frame around a family's centered math, read once per
    CRS: false easting/northing, custom-sphere scale, prime meridian,
    unit, longitude wrap, axis order and the +geoc e²."""
    x0: float
    y0: float
    scale: float
    pm: float
    to_m: float
    lon_wrap: float | None
    axis: str
    geoc_es: float | None

    def is_identity(self, inverse: bool) -> bool:
        """True when the frame changes nothing, so the centered builder
        is returned bare and plans keep no identity arithmetic.
        +lon_wrap re-centers inverse output only."""
        return not (self.x0 or self.y0 or self.scale != 1.0
                    or self.pm != 0.0 or self.to_m != 1.0
                    or self.axis != "enu" or self.geoc_es is not None
                    or (inverse and self.lon_wrap is not None))


def _resolve(crs: str):
    """(family row, token dict, frame) of ``crs``; frame guards raise
    before any family parameter is parsed."""
    fam, p = _family(crs), _params(crs)
    frame = _Frame(*_xy_offsets(fam, p), _sphere_scale(fam, p),
                   *_frame_params(fam, p))
    return _FAMILIES[fam], p, frame


def forward(crs: str):
    """(lon, lat) → (x, y) column builder for an analytic CRS.
    Honors +x_0/+y_0 (false easting/northing) for every family and
    custom sphere radii (+R/+a) for the linear spherical families."""
    row, p, fr = _resolve(crs)
    kw = row.params(p)

    def centered(lon, lat):
        return row.fwd(lon, lat, **kw)

    if fr.is_identity(inverse=False):
        return centered

    def _shifted(lon, lat):
        if fr.pm != 0.0:
            lon = _c(lon) - F.lit(fr.pm)
        if fr.geoc_es is not None:
            # +geoc: input latitude is geocentric; the kernels
            # take geodetic — PROJ pj_fwd: φ ← atan(tanφ/(1−e²))
            lat = F.degrees(F.atan(
                F.tan(F.radians(_c(lat))) / F.lit(1.0 - fr.geoc_es)))
        x, y = centered(lon, lat)
        if fr.scale != 1.0:
            x, y = x * F.lit(fr.scale), y * F.lit(fr.scale)
        x, y = x + F.lit(float(fr.x0)), y + F.lit(float(fr.y0))
        if fr.to_m != 1.0:
            x, y = x / F.lit(fr.to_m), y / F.lit(fr.to_m)
        if fr.axis != "enu":
            x, y = _axis_fwd(fr.axis, x, y, lambda v: -v)
        return x, y

    return _shifted


def inverse(crs: str):
    """(x, y) → (lon, lat) column builder for an analytic CRS.
    Honors +x_0/+y_0 (false easting/northing) for every family and
    custom sphere radii (+R/+a) for the linear spherical families."""
    row, p, fr = _resolve(crs)
    kw = row.params(p)

    def centered(x, y):
        return row.inv(x, y, **kw)

    if fr.is_identity(inverse=True):
        return centered

    def _shifted(x, y):
        x, y = _c(x), _c(y)
        if fr.axis != "enu":
            x, y = _axis_inv(fr.axis, x, y, lambda v: -v)
        if fr.to_m != 1.0:
            x, y = x * F.lit(fr.to_m), y * F.lit(fr.to_m)
        x = x - F.lit(float(fr.x0))
        y = y - F.lit(float(fr.y0))
        if fr.scale != 1.0:
            x, y = x / F.lit(fr.scale), y / F.lit(fr.scale)
        lon, lat = centered(x, y)
        if fr.pm != 0.0 or fr.lon_wrap is not None:
            lon = lon + F.lit(fr.pm) if fr.pm != 0.0 else lon
            lo = F.lit((fr.lon_wrap if fr.lon_wrap is not None else 0.0)
                       - 180.0)
            lon = ((lon - lo) % F.lit(360.0) + F.lit(360.0)) \
                % F.lit(360.0) + lo
        if fr.geoc_es is not None:
            # +geoc: output latitude is geocentric — PROJ pj_inv:
            # φ ← atan((1−e²)·tanφ)
            lat = F.degrees(F.atan(
                F.lit(1.0 - fr.geoc_es) * F.tan(F.radians(lat))))
        return lon, lat

    return _shifted


def forward_sql(crs: str):
    """Engine-shared SQL forward emitter: ``f(lon_sql, lat_sql) ->
    (x_sql, y_sql)`` built from the functions/geo.py ``*_sql`` twins
    (pure sin/cos/pow/atan text — parses identically in Spark SQL and
    DuckDB). Returns None for families whose ``_FAMILIES`` row has no
    ``sql``; callers fall back to the Column builders. Used by the datum
    pipeline to keep the shift+forward in ONE let_expr chain (a
    Column-composed forward would re-substitute the shifted lon/lat
    10+ times through CollapseProject)."""
    row, p, fr = _resolve(crs)
    if row.sql is None:
        return None
    kw = row.params(p)

    def centered(lon, lat):
        return row.sql(lon, lat, **kw)

    if fr.is_identity(inverse=False):
        return centered

    def _shifted(lon, lat):
        if fr.pm != 0.0:
            lon = f"(({lon}) - {fr.pm!r})"
        if fr.geoc_es is not None:
            lat = (f"(degrees(atan(tan(radians({lat})) / "
                   f"{1.0 - fr.geoc_es!r})))")
        x, y = centered(lon, lat)
        if fr.scale != 1.0:
            x, y = f"({x} * {fr.scale!r})", f"({y} * {fr.scale!r})"
        x, y = f"({x} + {fr.x0!r})", f"({y} + {fr.y0!r})"
        if fr.to_m != 1.0:
            x, y = f"({x} / {fr.to_m!r})", f"({y} / {fr.to_m!r})"
        if fr.axis != "enu":
            x, y = _axis_fwd(fr.axis, x, y, lambda v: f"(-({v}))")
        return x, y

    return _shifted


def inverse_scalar(crs: str):
    """Driver-side scalar twin of :func:`inverse` — (x, y) floats →
    (lon, lat) floats — for plan-time geometry (boundary polygons,
    overlap tests; tens of points). Mirrors functions/geo.py formulas
    exactly; returns None for points outside the projection domain
    (e.g. off-disc geos pixels). Honors +x_0/+y_0 and custom sphere
    radii like the column twins."""
    row, p, fr = _resolve(crs)
    inv = row.scalar(**row.params(p))
    if fr.is_identity(inverse=True):
        return inv

    def _shifted(x, y):
        if fr.axis != "enu":
            x, y = _axis_inv(fr.axis, x, y, lambda v: -v)
        out = inv((x * fr.to_m - fr.x0) / fr.scale,
                  (y * fr.to_m - fr.y0) / fr.scale)
        if out is None or (fr.pm == 0.0 and fr.lon_wrap is None
                           and fr.geoc_es is None):
            return out
        lon, lat = out
        if fr.pm != 0.0 or fr.lon_wrap is not None:
            lon += fr.pm
            lo = (fr.lon_wrap if fr.lon_wrap is not None else 0.0) - 180.0
            lon = ((lon - lo) % 360.0 + 360.0) % 360.0 + lo
        if fr.geoc_es is not None:
            lat = math.degrees(math.atan(
                (1.0 - fr.geoc_es) * math.tan(math.radians(lat))))
        return lon, lat

    return _shifted


def crs_datum_spec(crs: str):
    """DatumSpec (ellipsoid a/b + optional +towgs84 7-tuple) for the
    Helmert pipeline. Spherical CRSs (no +ellps/+a+b) use R_EARTH for
    both axes; they only ever enter a datum pipeline if they declare
    +towgs84 themselves (see :func:`datum_shift_between`)."""
    from pyresample_spark.functions.datum import DatumSpec, parse_towgs84

    p = _params(crs)
    ab = _ellipsoid_ab(p)
    a, b = ab if ab else (R_EARTH, R_EARTH)
    tw = parse_towgs84(p["towgs84"]) if "towgs84" in p else None
    return DatumSpec(a, b, tw)


# ellipsoids accepted as the implicit-WGS84-datum side of a shift when
# the CRS declares no +towgs84 of its own (PROJ's convention: WGS84 and
# GRS80 are coincident at the sub-mm level)
_WGS84_LIKE = {(6378137.0, _ELLPS["WGS84"][1]), (6378137.0, _ELLPS["GRS80"][1])}


def _guard_geoc_datum(*crss: str):
    """A +geoc CRS cannot enter a datum pipeline here: the Helmert /
    grid-shift legs consume GEODETIC latitude, and PROJ converts
    geocentric→geodetic BEFORE the datum step (pj_transform) — this
    engine applies the geoc conversion at the LP boundary only, so
    composing would shift the wrong latitude silently. Decide, don't
    default."""
    for crs in crss:
        if "geoc" in _params(crs):
            raise NotImplementedError(
                f"{crs!r}: +geoc combined with a datum shift "
                "(+towgs84/+datum/+nadgrids on either side) is "
                "outside the subset — the shift legs take geodetic "
                "latitude; drop +geoc and convert explicitly"
            )


def datum_specs_between(src_crs: str, dst_crs: str):
    """(src DatumSpec, dst DatumSpec) when a Helmert shift applies
    between the two CRSs, else None. Enforces the loud guard (see
    :func:`datum_shift_between` for the rules)."""
    if crs_nadgrids(src_crs) is not None or crs_nadgrids(dst_crs) is not None:
        raise NotImplementedError(
            "one side declares +nadgrids= (NTv2 grid shift) — that "
            "datum leg is a broadcast-join pipeline, not a Helmert "
            "column shift; use regrid_nearest / gridshift_pipeline"
        )
    s, d = crs_datum_spec(src_crs), crs_datum_spec(dst_crs)
    if s.towgs84 is None and d.towgs84 is None:
        return None
    if s.same_datum(d):
        return None
    _guard_geoc_datum(src_crs, dst_crs)
    for spec, crs in ((s, src_crs), (d, dst_crs)):
        if spec.towgs84 is None and (spec.a, spec.b) not in _WGS84_LIKE:
            raise NotImplementedError(
                f"datum shift between {src_crs!r} and {dst_crs!r}: "
                f"{crs!r} declares no +towgs84 and is not on the "
                "WGS84/GRS80 ellipsoid, so its datum is unknown — add "
                "+towgs84=dx,dy,dz[,rx,ry,rz,s] (or +datum=) to pin it"
            )
    return s, d


def datum_shift_between(src_crs: str, dst_crs: str):
    """(lon, lat column names) -> shifted (lon, lat) columns moving
    geodetic coordinates from ``src_crs``'s datum to ``dst_crs``'s, or
    ``None`` when no shift applies.

    Rules (proj.4 +towgs84 semantics):
    - Neither side declares +towgs84: no shift — lon/lats are taken as
      a shared datum, the reference's own convention for bare CRSs
      (utils/proj4.py treats such strings as datum-less).
    - Both declare and the (towgs84, ellipsoid) pairs agree: no shift.
    - At least one declares: shift through WGS84 geocentric. A side
      WITHOUT +towgs84 must then sit on the WGS84/GRS80 ellipsoid
      (implicitly the WGS84 datum); any other bare ellipsoid mixed
      with a datum-pinned CRS raises LOUDLY — silently skipping the
      shift would smear the output by hundreds of metres.
    """
    from pyresample_spark.functions import datum as _dat

    specs = datum_specs_between(src_crs, dst_crs)
    if specs is None:
        return None
    return lambda lon, lat: _dat.datum_shift(lon, lat, *specs)


def grid_lonlat(area, spark, id_col: str = "cell_id"):
    """(id_col, lon, lat) of ``area``'s pixel centers — the probe side
    of every kNN-family resampler and the start of the grid-shift
    regrid: the projected grid() cx/cy inverted through the analytic
    registry (a non-analytic CRS raises NotImplementedError rather
    than silently treating meters as degrees). A non-identity inverse
    is materialized behind a Generate barrier, so filters and join
    keys downstream read the lon/lat columns instead of re-running
    the inverse per pixel; longlat areas (the inverse hands back
    cx/cy themselves) keep a plain projection."""
    cx, cy = F.col("cx"), F.col("cy")
    lon, lat = inverse(area.crs)(cx, cy)
    pid = F.col("cell_id").alias(id_col)
    grid = area.grid(spark)
    if lon is cx and lat is cy:
        return grid.select(pid, lon.alias("lon"), lat.alias("lat"))
    return generate_barrier(
        grid, [pid], [("lon", lon), ("lat", lat)], "ll"
    ).select(id_col, "ll.lon", "ll.lat")


def regrid_nearest(tgt_area, src_area, src_img, value_col: str = "value"):
    """Nearest-neighbor regrid between ANY two analytic-CRS areas:
    generate the target grid, invert its (x, y) to lon/lat, forward
    into the source CRS, floor into source (row, col) — all column
    math — then gather by equi-join (grid.py:91-128 generalized).

    Returns (cell_id, src_row, src_col, src_value); one broadcast/hash
    join, no UDF, whole plan codegen'd.
    """
    spark = src_img.sparkSession

    def src_pixel():
        # source (row, col) of the frame's lon/lat columns, Column form
        sx, sy = forward(src_area.crs)("lon", "lat")
        return (F.floor(F.round((F.lit(src_area.area_extent[3]) - sy)
                                / src_area.pixel_size_y, 9)),
                F.floor(F.round((sx - F.lit(src_area.area_extent[0]))
                                / src_area.pixel_size_x, 9)))

    gs = gridshift_pipeline(tgt_area.crs, src_area.crs)
    if gs is not None:
        # NTv2 grid-shift datum path (NAD27 & friends): bilinear
        # broadcast-join shifts, then the Column forward — shifted
        # lon/lat come out of a join so the forward's let chain reads
        # plain attributes (no CollapseProject re-inlining). The grid
        # legs' bbox filters and lookup keys read the target lon/lat,
        # so the inverse sits behind its own barrier.
        t = _apply_gridshift_pipeline(grid_lonlat(tgt_area, spark), gs)
        return _regrid_gather(t, *src_pixel(), src_area, src_img, value_col)
    lon, lat = inverse(tgt_area.crs)("cx", "cy")
    t = tgt_area.grid(spark).select(
        "cell_id", lon.alias("lon"), lat.alias("lat"))
    specs = datum_specs_between(tgt_area.crs, src_area.crs)
    fsql = forward_sql(src_area.crs) if specs is not None else None
    if specs is not None and fsql is not None:
        # datum path: keep shift + forward + pixel index in ONE nested
        # let chain per output — a Column-composed forward would
        # re-inline the shifted lon/lat (and its conformal-latitude
        # fold) 10+ times through CollapseProject (52 fold copies,
        # 3.4 MiB task binary, measured) vs ~6 here
        from pyresample_spark.functions.datum import datum_shift_exprs
        from pyresample_spark.functions.exprs import let_expr

        lon2s, lat2s = datum_shift_exprs("lon", "lat", *specs)
        sxb, syb = fsql("vd.lon2", "vd.lat2")
        binds = [("lon2", lon2s), ("lat2", lat2s)]
        sy_body = (f"floor(round(({src_area.area_extent[3]!r} - ({syb}))"
                   f" / {src_area.pixel_size_y!r}, 9))")
        sx_body = (f"floor(round((({sxb}) - ({src_area.area_extent[0]!r}))"
                   f" / {src_area.pixel_size_x!r}, 9))")
        src_row = F.expr(let_expr(binds, "vd", sy_body))
        src_col = F.expr(let_expr(binds, "vd", sx_body))
    else:
        if specs is not None:
            # no SQL forward twin for this family — fall back to the
            # Column-composed shift (correct, bigger plan)
            shift = datum_shift_between(tgt_area.crs, src_area.crs)
            slon, slat = shift("lon", "lat")
            t = t.select("cell_id", slon.alias("lon"), slat.alias("lat"))
        src_row, src_col = src_pixel()
    return _regrid_gather(t, src_row, src_col, src_area, src_img, value_col)


def _regrid_gather(t, src_row, src_col, src_area, src_img,
                   value_col: str = "value"):
    """Shared regrid tail: project (cell_id, src_row, src_col), bound
    to the source raster, gather values by equi-join. The pixel index
    is materialized behind a Generate barrier, so the bounds filter
    and any inferred join filter read it instead of re-running the
    CRS math (functions/exprs.py generate_barrier). The source image's
    (row, col) sit behind one too: with constraint propagation on
    (Spark's default; ``get_spark`` turns it off) the join copies the
    target-side bounds onto the source side, and a derived source row
    (a band offset parsed from the file name) would otherwise run
    again in that filter per source pixel. The copied bounds hold for
    every pixel of a valid source raster, so keeping them off the scan
    prunes nothing."""
    t = generate_barrier(
        t, ["cell_id"], [("src_row", src_row), ("src_col", src_col)], "px"
    ).select("cell_id", "px.src_row", "px.src_col").filter(
        (F.col("src_row") >= 0)
        & (F.col("src_row") <= src_area.height - 1)
        & (F.col("src_col") >= 0)
        & (F.col("src_col") <= src_area.width - 1)
    )
    value = value_col.replace("`", "``")
    s = generate_barrier(
        src_img, [f"`{value}` AS src_value"],
        [("row", "`row`"), ("col", "`col`")], "sp",
    ).selectExpr("sp.row", "sp.col", "src_value")
    return t.join(
        s, (t.src_row == F.col("row")) & (t.src_col == F.col("col")),
    ).select("cell_id", "src_row", "src_col", "src_value")


def crs_nadgrids(crs: str):
    """The grid names a CRS pins its datum to via ``+nadgrids=``, as a
    list of ``(name, optional)`` tuples in PROJ's priority order, or
    None. A comma list means per-point FIRST-CONTAINING-FILE-WINS
    fallback (PROJ hgrid semantics); an ``@`` prefix marks the file
    optional — skipped silently when no grid is registered under that
    name instead of raising. The ``null`` sentinel is PROJ's
    whole-world IDENTITY grid — returned like any other name (even
    when the list is ONLY null sentinels) so +nadgrids keeps its
    precedence over +towgs84: '+nadgrids=null +towgs84=…' pins the
    datum to identity exactly like the mixed '@missing,null'
    spelling, rather than falling through to the Helmert leg
    (ADVICE r14). Inside a mixed list ("+nadgrids=conus,null", the
    textbook idiom) it lets points outside the earlier grids pass
    through UNSHIFTED instead of being dropped (sources/ntv2.py
    resolve_nadgrids materializes it as an all-zero world-covering
    subgrid; gridshift_pipeline drops identity-only legs instead of
    running joins that provably add 0.0)."""
    p = _params(crs)
    tok = p.get("nadgrids")
    if tok is None:
        return None
    # strip the optional-grid "@" prefix before inspecting the name
    names = [(n.lstrip("@"), n.startswith("@")) for n in tok.split(",")
             if n.lstrip("@")]
    return names or None


def gridshift_pipeline(tgt_crs: str, src_crs: str):
    """Datum plan for regrids where at least one side pins its datum
    with an NTv2 grid (``+nadgrids=``), else None.

    Semantics (PROJ): a grid maps its CRS's datum INTO NAD83/WGS84
    (the file's SYSTEM_T), so moving coordinates tgt → src runs

        tgt datum --grid fwd / Helmert--> WGS84 --grid inv / inverse
        Helmert--> src datum

    +nadgrids takes precedence over +towgs84 on the same CRS (PROJ's
    rule). A side with NEITHER must sit on the WGS84/GRS80 ellipsoid
    (same loud guard as the Helmert path — silently skipping a datum
    step smears the gather by ~100 m).

    Returns dict with ``tgt_subs``/``src_subs`` (lists of parsed NTv2
    subgrids, or None) and ``tgt_helmert``/``src_helmert`` (DatumSpec
    or None for the grid-less sides). Multi-subgrid files run the
    per-point densest-containing-grid selection
    (operators/gridshift.py multi_*).
    """
    from pyresample_spark.sources.ntv2 import resolve_nadgrids

    tg, sg = crs_nadgrids(tgt_crs), crs_nadgrids(src_crs)
    if tg is None and sg is None:
        return None
    _guard_geoc_datum(tgt_crs, src_crs)
    out = {"tgt_subs": None, "src_subs": None,
           "tgt_helmert": None, "src_helmert": None}
    for side, names, crs in (("tgt", tg, tgt_crs), ("src", sg, src_crs)):
        if names is not None:
            subs = resolve_nadgrids(names)
            if all(s.get("identity") for s in subs):
                # the list resolved to the identity grid alone
                # ("+nadgrids=null", or "@missing,null" with the
                # optional unregistered): the datum is explicitly
                # pinned to a zero shift — skip the leg entirely
                # instead of running broadcast joins that provably
                # add 0.0. The synthetic grid carries an explicit
                # 'identity' flag (ADVICE r14: a real registered
                # subgrid whose free-text SUB_NAME happens to be
                # 'NULL' must keep its shift).
                continue
            out[f"{side}_subs"] = subs
            continue
        spec = crs_datum_spec(crs)
        if spec.towgs84 is not None:
            if not all(v == 0.0 for v in spec.towgs84):
                out[f"{side}_helmert"] = spec
        elif (spec.a, spec.b) not in _WGS84_LIKE:
            raise NotImplementedError(
                f"datum shift between {tgt_crs!r} and {src_crs!r}: "
                f"{crs!r} declares neither +nadgrids nor +towgs84 and "
                "is not on the WGS84/GRS80 ellipsoid, so its datum is "
                "unknown — add +towgs84/+datum=/+nadgrids= to pin it"
            )
    return out


def _apply_gridshift_pipeline(t, gs):
    """Run the tgt→WGS84→src datum legs on a (cell_id, lon, lat)
    frame. Grid legs are broadcast joins (operators/gridshift.py);
    Helmert legs stay pure column math (functions/datum.py)."""
    from pyresample_spark.functions.datum import DatumSpec, datum_shift
    from pyresample_spark.operators import gridshift as GS

    spark = t.sparkSession
    wgs84 = DatumSpec(6378137.0, _ELLPS["WGS84"][1], (0.0,) * 7)

    def grid_leg(frame, subs, direction):
        if len(subs) == 1:
            cells = GS.cell_df(spark, subs[0])
            fn = (GS.shift_forward if direction == "forward"
                  else GS.shift_inverse)
            frame = fn(frame, cells, subs[0])
        elif len(subs) <= 16:
            cells = GS.multi_cell_df(spark, subs)
            fn = (GS.shift_forward_multi if direction == "forward"
                  else GS.shift_inverse_multi)
            frame = fn(frame, cells, subs)
        else:
            # national-scale files (~100 subgrids): the CASE-chain
            # selection never finishes analyzing at this width —
            # flat LEAST selection + meta join (gridshift big_*)
            meta = GS.meta_df(spark, subs)
            cells = GS.big_cell_df(spark, subs)
            fn = (GS.shift_forward_big if direction == "forward"
                  else GS.shift_inverse_big)
            frame = fn(frame, meta, cells, subs)
        return frame.select("cell_id", F.col("lon2").alias("lon"),
                            F.col("lat2").alias("lat"))

    # leg 1: tgt datum -> WGS84 geodetic
    if gs["tgt_subs"] is not None:
        t = grid_leg(t, gs["tgt_subs"], "forward")
    elif gs["tgt_helmert"] is not None:
        # barrier: leg 2's bbox filter and lookup keys read lon/lat
        lon2, lat2 = datum_shift("lon", "lat", gs["tgt_helmert"], wgs84)
        t = generate_barrier(
            t, ["cell_id"], [("lon", lon2), ("lat", lat2)], "hs"
        ).select("cell_id", "hs.lon", "hs.lat")
    # leg 2: WGS84 -> src datum
    if gs["src_subs"] is not None:
        t = grid_leg(t, gs["src_subs"], "inverse")
    elif gs["src_helmert"] is not None:
        lon2, lat2 = datum_shift("lon", "lat", wgs84, gs["src_helmert"])
        t = t.select("cell_id", lon2.alias("lon"), lat2.alias("lat"))
    return t
