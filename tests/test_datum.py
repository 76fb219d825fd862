"""Native +towgs84 Helmert datum shift (functions/datum.py,
operators/crs.py datum pipeline) — VERDICT r11 item 1.

Reference parity: pyresample delegates datum handling to pyproj
(pyresample/utils/proj4.py:108-165); here the 3-/7-parameter
position-vector geocentric shift is pure column math, so the tests pin
(a) the forward∘inverse round-trip property, (b) Spark column ==
driver scalar == DuckDB CTE to the last ulp, (c) golden external
anchors (the famous Greenwich-meridian OSGB36 offset), and (d) the
loud guard when a datum-pinned CRS meets a bare non-WGS84 ellipsoid.
"""

import math

import pytest
from hypothesis import given, settings, strategies as st

from pyresample_spark.functions.datum import (
    DatumSpec,
    datum_shift,
    datum_shift_duckdb_ctes,
    datum_shift_scalar,
    parse_towgs84,
)
from pyresample_spark.operators.crs import (
    _ELLPS,
    crs_datum_spec,
    datum_shift_between,
    datum_specs_between,
    forward_sql,
    _params,
)

DHDN = DatumSpec(
    *_ELLPS["bessel"],
    parse_towgs84("598.1,73.7,418.2,0.202,0.045,-2.455,6.7"),
)
OSGB36 = DatumSpec(
    *_ELLPS["airy"],
    parse_towgs84("446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894"),
)
GGRS87 = DatumSpec(*_ELLPS["GRS80"], parse_towgs84("-199.87,74.79,246.62"))
WGS84 = DatumSpec(*_ELLPS["WGS84"], None)


# --------------------------------------------------------------------
# scalar twin: golden anchors + round-trip property
# --------------------------------------------------------------------


def test_greenwich_osgb36_anchor():
    # The OSGB36 zero meridian lies ~5.5 arcsec EAST of the WGS84 one
    # at Greenwich: the observatory (0°E OSGB36) maps to ≈ −0.0015°
    # WGS84 — the famous ~100 m GPS offset at the meridian line.
    lon2, lat2 = datum_shift_scalar(0.0, 51.4778, OSGB36, WGS84)
    assert -0.0018 < lon2 < -0.0013
    assert abs(lat2 - 51.4778) < 0.001


def test_dhdn_shift_magnitude_and_direction():
    # DHDN→WGS84 over Germany moves coordinates ~100-200 m south-west
    # (the Rauenberg fundamental point sits NE of WGS84).
    lon2, lat2 = datum_shift_scalar(10.0, 52.0, DHDN, WGS84)
    dlat_m = (lat2 - 52.0) * 111_320.0
    dlon_m = (lon2 - 10.0) * 111_320.0 * math.cos(math.radians(52.0))
    assert -250.0 < dlat_m < -50.0
    assert -150.0 < dlon_m < -20.0


def test_three_param_pure_translation():
    # GGRS87 has no rotation/scale: shifting the geocentric origin by
    # (−199.87, 74.79, 246.62) m moves Athens by ≈ 150-350 m total.
    lon2, lat2 = datum_shift_scalar(23.7, 37.98, GGRS87, WGS84)
    d = math.hypot(
        (lon2 - 23.7) * 111_320.0 * math.cos(math.radians(38.0)),
        (lat2 - 37.98) * 111_320.0,
    )
    assert 100.0 < d < 500.0


def test_identity_when_same_spec():
    lon2, lat2 = datum_shift_scalar(10.0, 52.0, WGS84, WGS84)
    assert abs(lon2 - 10.0) < 1e-12
    assert abs(lat2 - 52.0) < 1e-9  # ellipsoid round-trip only


@settings(max_examples=200, deadline=None)
@given(
    lon=st.floats(-179.9, 179.9),
    lat=st.floats(-89.0, 89.0),
)
def test_roundtrip_property(lon, lat):
    # fwd∘inv through the 7-parameter pair. Two second-order error
    # sources, both << a pixel: the linearized Helmert inverse (≲1 mm)
    # and the h=0 re-assumption on the return leg (the forward leg
    # yields h up to ±700 m above the DHDN ellipsoid — the full
    # translation magnitude — which the geodetic output drops;
    # re-entering at h=0 plus Bowring's single theta step at that |h|
    # perturbs lat by ~10 cm worst-case ≈ 1e-6 deg, vs 2.5 km pixels).
    # assert in METRES: degrees of longitude shrink by cos(lat), so an
    # angular bound near the pole measures nothing but amplification
    lon2, lat2 = datum_shift_scalar(lon, lat, DHDN, WGS84)
    lon3, lat3 = datum_shift_scalar(lon2, lat2, WGS84, DHDN)
    assert abs(lon3 - lon) * 111_320.0 * math.cos(math.radians(lat)) < 0.2
    assert abs(lat3 - lat) * 111_320.0 < 0.2


@settings(max_examples=100, deadline=None)
@given(
    lon=st.floats(-179.9, 179.9),
    lat=st.floats(-89.0, 89.0),
)
def test_roundtrip_three_param(lon, lat):
    lon2, lat2 = datum_shift_scalar(lon, lat, GGRS87, WGS84)
    lon3, lat3 = datum_shift_scalar(lon2, lat2, WGS84, GGRS87)
    assert abs(lon3 - lon) * 111_320.0 * math.cos(math.radians(lat)) < 0.1
    assert abs(lat3 - lat) * 111_320.0 < 0.1


# --------------------------------------------------------------------
# engine parity: Spark column == scalar == DuckDB CTE
# --------------------------------------------------------------------

_PTS = [
    (10.0, 52.0), (0.0, 51.4778), (23.7, 37.98), (-170.0, -75.0),
    (179.5, 5.0), (-0.1, 0.1), (45.0, 89.5), (-120.0, -45.0),
]


@pytest.mark.parametrize("src,dst", [
    (DHDN, WGS84), (WGS84, DHDN), (OSGB36, WGS84), (WGS84, GGRS87),
    (DHDN, OSGB36),
])
def test_spark_column_matches_scalar(spark, src, dst):
    df = spark.createDataFrame(
        [(i, lo, la) for i, (lo, la) in enumerate(_PTS)],
        "cell_id long, lon double, lat double",
    )
    lon2, lat2 = datum_shift("lon", "lat", src, dst)
    rows = df.select("cell_id", lon2.alias("lon2"),
                     lat2.alias("lat2")).collect()
    for r in rows:
        slo, sla = datum_shift_scalar(*_PTS[r.cell_id], src, dst)
        assert abs(slo - r.lon2) < 1e-12
        assert abs(sla - r.lat2) < 1e-12


def test_duckdb_ctes_match_scalar(duck):
    vals = ",".join(
        f"({i},{lo!r},{la!r})" for i, (lo, la) in enumerate(_PTS)
    )
    duck.execute(
        "CREATE OR REPLACE TABLE datum_pts AS SELECT * FROM "
        f"(VALUES {vals}) t(cell_id, lon, lat)"
    )
    ctes, outrel = datum_shift_duckdb_ctes("datum_pts", DHDN, WGS84)
    rows = duck.execute(
        f"WITH {ctes} SELECT cell_id, lon2, lat2 FROM {outrel} "
        "ORDER BY cell_id"
    ).fetchall()
    for cid, lo2, la2 in rows:
        slo, sla = datum_shift_scalar(*_PTS[cid], DHDN, WGS84)
        assert abs(slo - lo2) < 1e-12
        assert abs(sla - la2) < 1e-12


# --------------------------------------------------------------------
# CRS-string plumbing: +towgs84 / +datum= parsing, guard, dispatch
# --------------------------------------------------------------------


def test_crs_datum_spec_parses_towgs84():
    spec = crs_datum_spec(
        "+proj=stere +lat_0=52 +lon_0=10 +ellps=bessel "
        "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7"
    )
    assert spec.towgs84 == (598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7)
    assert spec.a == pytest.approx(6377397.155)


def test_datum_token_expands():
    p = _params("+proj=tmerc +lat_0=0 +lon_0=9 +datum=potsdam")
    assert p["ellps"] == "bessel"
    assert p["towgs84"].startswith("598.1,")
    # explicit tokens win over the shorthand
    p2 = _params("+proj=tmerc +datum=potsdam +towgs84=1,2,3")
    assert p2["towgs84"] == "1,2,3"


def test_nad27_raises_loudly():
    with pytest.raises(NotImplementedError, match="NAD27|grid"):
        _params("+proj=lcc +lat_1=33 +datum=NAD27")


def test_guard_bare_ellipsoid_vs_pinned_datum():
    # a datum-pinned CRS against a bare Bessel CRS: the bare side's
    # datum is unknown — must raise, not silently skip ~150 m
    with pytest.raises(NotImplementedError, match="towgs84"):
        datum_specs_between(
            "+proj=stere +lat_0=52 +ellps=bessel +towgs84=598.1,73.7,418.2",
            "+proj=stere +lat_0=52 +ellps=intl",
        )


def test_no_shift_when_neither_pinned():
    assert datum_specs_between(
        "+proj=stere +lat_0=52 +ellps=bessel",
        "+proj=stere +lat_0=90 +lat_ts=70 +ellps=WGS84",
    ) is None
    assert datum_shift_between("eqc", "longlat") is None


def test_no_shift_same_datum():
    crs = ("+proj=stere +lat_0=52 +ellps=bessel "
           "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7")
    tgt = ("+proj=tmerc +lon_0=9 +ellps=bessel "
           "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7")
    assert datum_specs_between(crs, tgt) is None


def test_wgs84_like_side_allowed():
    specs = datum_specs_between(
        "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=10 +ellps=WGS84",
        "+proj=stere +lat_0=52 +lon_0=10 +ellps=bessel "
        "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7",
    )
    assert specs is not None
    s, d = specs
    assert s.towgs84 is None and d.towgs84 is not None


def test_parse_towgs84_rejects_bad_arity():
    with pytest.raises(ValueError, match="3 or 7"):
        parse_towgs84("1,2,3,4")


# one CRS per family with a SQL forward twin (operators/crs.py
# _FAMILIES rows whose sql is set)
SQL_FAMILY_SAMPLES = {
    "eqc": "+proj=eqc",
    "stere_oblique": "+proj=stere +lat_0=52 +lon_0=10 +k_0=0.9999",
    "stere_ell": "+proj=stere +lat_0=52.0 +lon_0=10.0 +ellps=bessel",
    "stere_ell_polar": "+proj=stere +lat_0=90 +lat_ts=70 +ellps=WGS84",
    "laea": "+proj=laea +lat_0=45 +lon_0=10",
    "laea_ell_polar": "+proj=laea +lat_0=90 +ellps=WGS84",
    "laea_ell_oblique": "+proj=laea +lat_0=52 +lon_0=10 +ellps=GRS80",
    "merc": "+proj=merc +lat_ts=20",
    "merc_ell": "+proj=merc +lat_ts=20 +ellps=WGS84",
    "lcc_ell": ("+proj=lcc +lat_0=46.5 +lat_1=49 +lat_2=44 +lon_0=3 "
                "+ellps=GRS80"),
    "cea_ell": "+proj=cea +lat_ts=30 +ellps=WGS84",
    "tmerc": "+proj=tmerc +lon_0=9 +k=0.9996",
    "tmerc_ell": ("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
                  "+ellps=airy"),
    "krovak": "+proj=krovak",
}


def test_forward_sql_twin_matches_column(spark):
    # the engine-shared SQL forward used inside the datum let chain
    # must agree with the Column forward builder bit-for-bit, for every
    # family that has one, bare and inside a non-trivial frame (false
    # origin, unit, prime meridian)
    from pyspark.sql import functions as F

    from pyresample_spark.operators.crs import _FAMILIES, _family, forward

    assert set(SQL_FAMILY_SAMPLES) == {
        fam for fam, row in _FAMILIES.items() if row.sql is not None}
    df = spark.createDataFrame(
        _PTS + [(lon, lat) for lon in (-7.3, 3.1, 15.2, 21.4)
                for lat in (41.3, 49.9, 60.7, 70.2)],
        "lon double, lat double",
    )
    for fam, base in SQL_FAMILY_SAMPLES.items():
        assert _family(base) == fam, base
        for crs in (base, base + " +x_0=1234.5 +y_0=-77 +units=km +pm=paris"):
            fx, fy = forward_sql(crs)("lon", "lat")
            cx, cy = forward(crs)("lon", "lat")
            bad = df.select(
                F.expr(fx).alias("fx"), F.expr(fy).alias("fy"),
                cx.alias("cx"), cy.alias("cy"),
            ).filter("NOT (fx <=> cx) OR NOT (fy <=> cy)").collect()
            assert not bad, (crs, bad[:3])


def test_regrid_datum_plan_is_bounded(spark):
    # the 52-fold CollapseProject blowup must not come back: the whole
    # shift+forward rides in one let chain per output column
    from pyresample_spark.queries import load_all

    q = load_all()["q_regrid_datum"]
    df = q.builder(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") <= 12
