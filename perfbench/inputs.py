"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy (plus the package's own HDF5 writer for
granule bytes), so the same ``(seed, index)`` always yields byte-identical
inputs and the tests can check that without a Spark session.

Geometry is spherical (R = 6 370 997 m, the engine's ``R_EARTH``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

R_EARTH = 6370997.0
DEG = math.pi / 180.0

# Polar-orbiter scan geometry (AVHRR/VIIRS-like): sun-synchronous
# inclination, 830 km altitude, +-50 deg scan. A granule is LINES scan
# lines of PIXELS pixels; ground spacing grows towards the swath edges.
INCLINATION_DEG = 98.7
ALTITUDE_M = 830_000.0
SCAN_MAX_DEG = 50.0
# the granule centre latitude is drawn from this band (both
# hemispheres, up to the high latitudes where the swath turns east-west)
MAX_CENTER_LAT = 70.0

# HDF5 codecs of the granule_to_grid workload, in file order
CODECS = ("deflate", "shuffle_deflate", "szip", "zstd", "lz4")


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible generator per (seed, stream ids)."""
    return np.random.default_rng([int(seed), *map(int, stream)])


def stratified(i: int, stream: int) -> float:
    """Low-discrepancy value in [0, 1) for the i-th op of a stream: a
    golden-ratio sequence, so any run of consecutive ops covers the
    range evenly and every seed sees the same mix of, e.g., latitudes
    (the seed still moves everything else)."""
    return (0.5 * stream / 7.0 + i * 0.6180339887498949) % 1.0


@dataclass(frozen=True)
class Swath:
    """One granule: flat arrays in (line, pixel) order."""

    pix_id: np.ndarray  # int64 natural key
    lon: np.ndarray
    lat: np.ndarray
    value: np.ndarray
    center_lon: float
    center_lat: float

    @property
    def size(self) -> int:
        return int(self.lon.size)


def _ground_angles(pixels: int) -> np.ndarray:
    """Cross-track earth-central angle (rad) of each pixel's scan angle."""
    theta = np.linspace(-SCAN_MAX_DEG, SCAN_MAX_DEG, pixels) * DEG
    k = (R_EARTH + ALTITUDE_M) / R_EARTH
    return np.arcsin(np.clip(k * np.sin(theta), -1.0, 1.0)) - theta


def swath(seed: int, index: int, lines: int, pixels: int,
          lat_frac: float | None = None) -> Swath:
    """Granule ``index`` of run ``seed``.

    ``lat_frac`` in [0, 1) places the granule centre in the latitude
    band (``stratified`` gives it); None draws it from the seed.
    """
    rng = rng_for(seed, 1, index)
    if lat_frac is None:
        lat_frac = rng.random()
    else:
        rng.random()  # keep the stream aligned either way
    lat_c = (2.0 * lat_frac - 1.0) * MAX_CENTER_LAT
    lon_c = rng.uniform(-150.0, 150.0)
    ascending = rng.random() < 0.5
    inc = INCLINATION_DEG * DEG
    # argument of latitude of the granule centre
    u_c = math.asin(math.sin(lat_c * DEG) / math.sin(inc))
    if not ascending:
        u_c = math.pi - u_c
    # node longitude that puts the centre at lon_c
    lam0 = lon_c * DEG - math.atan2(math.cos(inc) * math.sin(u_c),
                                    math.cos(u_c))
    a = np.array([math.cos(lam0), math.sin(lam0), 0.0])
    b = np.array([-math.sin(lam0) * math.cos(inc),
                  math.cos(lam0) * math.cos(inc), math.sin(inc)])
    normal = np.cross(a, b)
    delta = _ground_angles(pixels)
    # along-track step = mean cross-track spacing, so pixels are ~square
    step = (delta[-1] - delta[0]) / (pixels - 1)
    u = u_c + (np.arange(lines) - (lines - 1) / 2.0) * step
    p = np.cos(u)[:, None] * a + np.sin(u)[:, None] * b  # (lines, 3)
    q = (np.cos(delta)[None, :, None] * p[:, None, :]
         + np.sin(delta)[None, :, None] * normal[None, None, :])
    lat = np.degrees(np.arcsin(np.clip(q[..., 2], -1.0, 1.0)))
    lon = np.degrees(np.arctan2(q[..., 1], q[..., 0]))
    # sub-pixel pointing jitter: breaks exact distance ties
    lat = lat + rng.normal(0.0, 1e-4, lat.shape)
    lon = lon + rng.normal(0.0, 1e-4, lon.shape)
    value = (220.0 + 60.0 * np.cos(np.radians(lat))
             + 5.0 * np.sin(np.radians(3.0 * lon))
             + rng.normal(0.0, 1.0, lat.shape))
    n = lines * pixels
    return Swath(
        # natural key: granule number (mod 1000) and pixel number, kept
        # small enough for the engine's packed (dist, id) ranking
        pix_id=np.arange(n, dtype=np.int64) + (int(index) % 1000) * 1_000_000,
        lon=lon.ravel(), lat=lat.ravel(), value=value.ravel(),
        center_lon=float(lon_c), center_lat=float(lat_c),
    )


def channels(seed: int, index: int, sw: Swath, n: int) -> list:
    """``n`` extra channels of a granule (same geometry, new values)."""
    rng = rng_for(seed, 3, index)
    return [sw.value * (1.0 + 0.05 * c) + 3.0 * c
            + rng.normal(0.0, 0.5, sw.size) for c in range(n)]


@dataclass(frozen=True)
class LonLatBox:
    """A longlat target area as plain numbers: (llx, lly, urx, ury)."""

    width: int
    height: int
    extent: tuple

    @property
    def size(self) -> int:
        return self.width * self.height


def target_box(center_lon: float, center_lat: float, side_m: float,
               cells: int) -> LonLatBox:
    """Square-in-metres longlat box of ``cells`` x ``cells`` around a
    granule centre: the degree width grows with 1/cos(lat), so every
    granule gets about the same number of covered cells."""
    half_lat = side_m / 2.0 / (R_EARTH * DEG)
    half_lon = half_lat / max(math.cos(center_lat * DEG), 0.2)
    return LonLatBox(cells, cells, (
        center_lon - half_lon, center_lat - half_lat,
        center_lon + half_lon, center_lat + half_lat,
    ))


# --- granule_to_grid: stacked HDF5 strips of one longlat source area ---


@dataclass(frozen=True)
class GranuleSet:
    """Band strips of one longlat source grid, one HDF5 file per codec.

    Strip ``b`` holds rows ``[b*rows, (b+1)*rows)`` of the full grid;
    ``arrays[b]`` is its uint16 payload and ``files[b]`` its bytes."""

    rows: int
    cols: int
    extent: tuple  # full source grid (llx, lly, urx, ury), degrees
    arrays: tuple
    files: tuple  # (name, bytes) per strip

    @property
    def pixels(self) -> int:
        return self.rows * self.cols * len(self.arrays)


def _codec_kwargs(codec: str) -> dict:
    return {
        "deflate": dict(deflate=True),
        "shuffle_deflate": dict(deflate=True, shuffle=True),
        "szip": dict(deflate=False, szip={"ppb": 8, "option": "nn"}),
        "zstd": dict(deflate=False, zstd=True),
        "lz4": dict(deflate=False, lz4=True),
    }[codec]


def granule_bytes(arr: np.ndarray, xs: np.ndarray, ys: np.ndarray,
                  codec: str, chunk: tuple) -> bytes:
    """One CF/netCDF4 granule through the package's own HDF5 writer."""
    from pyresample_spark.sources.hdf5 import hdf5_grid_bytes

    return hdf5_grid_bytes(
        {
            "x": (xs, {"CLASS": "DIMENSION_SCALE"}),
            "y": (ys, {"CLASS": "DIMENSION_SCALE"}),
            "crs": (None, {"proj4": "+proj=longlat"}),
            "band": (arr, {"grid_mapping": "crs"}),
        },
        chunks={"band": chunk},
        **_codec_kwargs(codec),
    )


def granule_set(seed: int, index: int, rows: int, cols: int,
                deg_per_px: float, chunk: tuple = (32, 64)) -> GranuleSet:
    """Seeded 12-bit counts (smooth field + noise) over a longlat grid
    of ``len(codecs)`` strips; the grid's position is seeded too."""
    rng = rng_for(seed, 2, index)
    n_rows = rows * len(CODECS)
    llx = rng.uniform(-150.0, 150.0 - cols * deg_per_px)
    ury = rng.uniform(-60.0 + n_rows * deg_per_px, 75.0)
    extent = (llx, ury - n_rows * deg_per_px, llx + cols * deg_per_px, ury)
    xs = llx + (np.arange(cols) + 0.5) * deg_per_px
    rr, cc = np.mgrid[0:n_rows, 0:cols]
    field = (2048.0 + 900.0 * np.sin(rr / 37.0) * np.cos(cc / 53.0)
             + rng.normal(0.0, 40.0, rr.shape))
    full = np.clip(np.rint(field), 0, 4095).astype("<u2")
    arrays, files = [], []
    for b, codec in enumerate(CODECS):
        arr = np.ascontiguousarray(full[b * rows:(b + 1) * rows])
        ys = ury - (b * rows + np.arange(rows) + 0.5) * deg_per_px
        arrays.append(arr)
        files.append((f"granule_{b}.nc",
                      granule_bytes(arr, xs, ys, codec, chunk)))
    return GranuleSet(rows, cols, extent, tuple(arrays), tuple(files))


def laea_target(extent: tuple, cells: int, rng, fill: float = 0.75):
    """(crs, lon_0, lat_0, (llx, lly, urx, ury)) of a square LAEA area
    inside a longlat source extent: centred near the middle (seeded
    jitter of up to 5 % of the span, so every op plans a new area) and
    covering ``fill`` of the smaller side."""
    llx, lly, urx, ury = extent
    lon0 = (llx + urx) / 2.0 + rng.uniform(-0.05, 0.05) * (urx - llx)
    lat0 = (lly + ury) / 2.0 + rng.uniform(-0.05, 0.05) * (ury - lly)
    half = fill * min((urx - llx) * math.cos(lat0 * DEG),
                      ury - lly) / 2.0 * DEG * R_EARTH
    crs = f"+proj=laea +lat_0={lat0!r} +lon_0={lon0!r}"
    return crs, lon0, lat0, (-half, -half, half, half)
