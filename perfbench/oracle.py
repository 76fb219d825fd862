"""numpy oracles for every op the benchmark times.

Each oracle recomputes, from the generated inputs alone, what the
engine's output must contain: the row count where it is cheap and exact,
and the values of a seeded sample of target cells. The formulas follow
the engine's documented semantics (mm-quantised chord distances, ranks
ordered by (distance, source id), strict-sign bilinear quadrants, the
circular EWA footprint); none of them calls the engine.
"""

from __future__ import annotations

import math

import numpy as np

from inputs import R_EARTH

# digits the observation rounds sampled values to before summing
ROUND_DIGITS = 3


def xyz(lon, lat):
    """Geocentric metres, same operation order as the engine's SQL."""
    lon_r, lat_r = np.radians(lon), np.radians(lat)
    return np.stack([
        np.cos(lat_r) * np.cos(lon_r) * R_EARTH,
        np.cos(lat_r) * np.sin(lon_r) * R_EARTH,
        np.sin(lat_r) * R_EARTH,
    ], axis=1)


def chord_mm(radius_m: float) -> int:
    return round(2.0 * R_EARTH * math.sin(radius_m / (2.0 * R_EARTH)) * 1000.0)


def radius_pairs(src_xyz, tgt_xyz, radius_m: float):
    """Every (target index, source index, dist_mm) within the chord of
    ``radius_m`` (great-circle), by 3-D cell hashing."""
    cmm = chord_mm(radius_m)
    side = (cmm + 0.5) / 1000.0
    off = 1 << 11
    m = 1 << 12

    def key(cells):
        c = cells + off
        return (c[:, 0] * m + c[:, 1]) * m + c[:, 2]

    s_cell = np.floor(src_xyz / side).astype(np.int64)
    t_cell = np.floor(tgt_xyz / side).astype(np.int64)
    s_key = key(s_cell)
    order = np.argsort(s_key, kind="stable")
    s_sorted = s_key[order]
    ti_all, si_all = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            for dz in (-1, 0, 1):
                k = key(t_cell + np.array([dx, dy, dz]))
                lo = np.searchsorted(s_sorted, k, "left")
                hi = np.searchsorted(s_sorted, k, "right")
                cnt = hi - lo
                ti = np.repeat(np.arange(len(k)), cnt)
                start = np.repeat(lo - np.cumsum(cnt) + cnt, cnt)
                si = order[start + np.arange(cnt.sum())]
                ti_all.append(ti)
                si_all.append(si)
    ti = np.concatenate(ti_all)
    si = np.concatenate(si_all)
    d = tgt_xyz[ti] - src_xyz[si]
    dist = np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1] + d[:, 2] * d[:, 2])
    dmm = np.floor(dist * 1000.0 + 0.5).astype(np.int64)
    keep = dmm <= cmm
    return ti[keep], si[keep], dmm[keep]


def top_k(ti, si, dmm, src_id, k: int):
    """Keep each target's k nearest pairs, ranked by (dist_mm, src_id);
    returns the pairs sorted by (target, rank)."""
    o = np.lexsort((src_id[si], dmm, ti))
    ti, si, dmm = ti[o], si[o], dmm[o]
    first = np.r_[True, ti[1:] != ti[:-1]]
    start = np.maximum.accumulate(np.where(first, np.arange(len(ti)), 0))
    rank = np.arange(len(ti)) - start
    keep = rank < k
    return ti[keep], si[keep], dmm[keep]


def grid_centers(extent, width, height):
    """(lon, lat) of every cell centre of a longlat area, cell_id order."""
    llx, lly, urx, ury = extent
    psx, psy = (urx - llx) / width, (ury - lly) / height
    col = np.arange(width * height) % width
    row = np.arange(width * height) // width
    return llx + (col + 0.5) * psx, ury - (row + 0.5) * psy


class Expected:
    """What an op's observation must read.

    ``rows`` is the exact output row count, or None when only the bound
    ``0 < rows <= rows_max`` is checked; ``sample`` maps each sampled
    target cell the output must contain to its value (cells absent from
    it must be absent from the output); ``sums`` are exact extra sums.
    """

    def __init__(self, sample, rows=None, rows_max=None, sums=None,
                 sampled=True):
        self.sampled = sampled
        self.sample = {int(c): float(v) for c, v in sample.items()}
        self.rows = None if rows is None else int(rows)
        self.rows_max = rows_max
        self.sums = dict(sums or {})

    @property
    def n_s(self) -> int:
        return len(self.sample)

    @property
    def s_s(self) -> float:
        return float(sum(round(v, ROUND_DIGITS) for v in self.sample.values()))

    def mismatches(self, got: dict) -> list:
        """Names of the observed metrics that disagree with the oracle."""
        bad = []
        rows = got.get("rows")
        if self.rows is not None:
            if rows != self.rows:
                bad.append("rows")
        elif not (rows and 0 < rows <= self.rows_max):
            bad.append("rows")
        if self.sampled:
            if got.get("n_s") != self.n_s:
                bad.append("n_s")
            # one rounding flip per cell at most, plus float-sum slack
            tol = 10.0 ** -ROUND_DIGITS * self.n_s + 1e-9 * abs(self.s_s)
            if abs((got.get("s_s") or 0.0) - self.s_s) > tol:
                bad.append("s_s")
        for name, want in self.sums.items():
            g = got.get(name)
            if g is None or abs(g - want) > 1e-6 * max(1.0, abs(want)):
                bad.append(name)
        return bad


def pick_sample(rng, n_cells: int, size: int):
    return np.sort(rng.choice(n_cells, size=min(size, n_cells), replace=False))


def _expect_from_values(sample_ids, cell_ids, values, rows=None,
                        rows_max=None, sums=None):
    lookup = dict(zip(cell_ids.tolist(), values.tolist()))
    sample = {c: lookup[c] for c in sample_ids.tolist() if c in lookup}
    return Expected(sample, rows=rows, rows_max=rows_max, sums=sums)


# --- swath -> grid ------------------------------------------------------


def knn_tables(sw, box, radius_m):
    """Pairs of a swath onto a longlat box within ``radius_m``."""
    tlon, tlat = grid_centers(box.extent, box.width, box.height)
    ti, si, dmm = radius_pairs(xyz(sw.lon, sw.lat), xyz(tlon, tlat), radius_m)
    return (tlon, tlat), (ti, si, dmm)


def nearest(sw, box, radius_m, sample_ids):
    _, pairs = knn_tables(sw, box, radius_m)
    ti, si, _ = top_k(*pairs, sw.pix_id, 1)
    return _expect_from_values(sample_ids, ti, sw.value[si], rows=len(ti))


def gauss(sw, box, radius_m, sigma, k, sample_ids, values=None):
    """Gaussian-weighted mean of ``values`` (default: the swath's own)
    over each target's k nearest sources: the gauss resampler, and a
    channel applied through a k-NN LUT."""
    _, pairs = knn_tables(sw, box, radius_m)
    ti, si, dmm = top_k(*pairs, sw.pix_id, k)
    d = dmm / 1000.0
    w = np.exp(-d * d / (sigma * sigma))
    v = sw.value if values is None else values
    n = box.size
    v1 = np.bincount(ti, w, n)
    swv = np.bincount(ti, w * v[si], n)
    cells = np.unique(ti)
    return _expect_from_values(sample_ids, cells, swv[cells] / v1[cells],
                               rows=len(cells))


def _quad_root(p1, p2, p3, p4, x, y):
    (x1, y1), (x2, y2), (x3, y3), (x4, y4) = p1, p2, p3, p4
    x21, x31, x42 = x2 - x1, x3 - x1, x4 - x2
    y21, y31, y42 = y2 - y1, y3 - y1, y4 - y2
    a = x31 * y42 - y31 * x42
    b = (y * (x42 - x31) - x * (y42 - y31)
         + x31 * y2 - y31 * x2 + y42 * x1 - x42 * y1)
    c = y * x21 - x * y21 + x1 * y2 - x2 * y1
    d = b * b - 4.0 * a * c
    if a != 0.0 and d >= 0.0:
        sq = math.sqrt(d)
        for cand in ((-b + sq) / (2.0 * a), (-b - sq) / (2.0 * a)):
            if 0.0 <= cand <= 1.0:
                return cand
    if b != 0.0 and 0.0 <= -c / b <= 1.0:
        return -c / b
    return None


def _lin_other(f, ya, yb, yc, yd, y):
    den = yc + (yd - yc) * f - ya - (yb - ya) * f
    if den == 0.0:
        return None
    g = (y - ya - (yb - ya) * f) / den
    return g if 0.0 <= g <= 1.0 else None


def bilinear_ts(corners, x, y):
    """Fractional distances (t, s) of (x, y) in the quadrilateral
    UL, UR, LL, LR: irregular, then uprights-parallel, then
    parallelogram, as pyresample's bilinear resampler solves them."""
    p1, p2, p3, p4 = corners
    t = _quad_root(p1, p2, p3, p4, x, y)
    if t is not None:
        s = _lin_other(t, p1[1], p3[1], p2[1], p4[1], y)
        if s is not None:
            return t, s
    s = _quad_root(p1, p3, p2, p4, x, y)
    if s is not None:
        t = _lin_other(s, p1[1], p2[1], p3[1], p4[1], y)
        if t is not None:
            return t, s
    x21, y21 = p2[0] - p1[0], p2[1] - p1[1]
    x31, y31 = p3[0] - p1[0], p3[1] - p1[1]
    den = x21 * y31 - y21 * x31
    if den == 0.0 or x21 == 0.0:
        return None
    t = (x21 * (y - p1[1]) - y21 * (x - p1[0])) / den
    if not 0.0 <= t <= 1.0:
        return None
    s = (x - p1[0] + x31 * t) / x21
    return (t, s) if 0.0 <= s <= 1.0 else None


def bilinear(sw, box, radius_m, k, sample_ids):
    """Sampled cells only (the per-target solve is scalar Python)."""
    (tlon, tlat), pairs = knn_tables(sw, box, radius_m)
    ti, si, _ = top_k(*pairs, sw.pix_id, k)
    sample = {}
    for c in sample_ids.tolist():
        cand = si[ti == c]  # already in rank order
        if len(cand) == 0:
            continue
        dlon, dlat = sw.lon[cand] - tlon[c], sw.lat[cand] - tlat[c]
        quads = ((dlon < 0) & (dlat > 0), (dlon > 0) & (dlat > 0),
                 (dlon < 0) & (dlat < 0), (dlon > 0) & (dlat < 0))
        if not all(q.any() for q in quads):
            continue
        pick = [cand[np.flatnonzero(q)[0]] for q in quads]
        ts = bilinear_ts([(sw.lon[p], sw.lat[p]) for p in pick],
                         tlon[c], tlat[c])
        if ts is None:
            continue
        t, s = ts
        v1, v2, v3, v4 = (sw.value[p] for p in pick)
        sample[c] = (v1 * (1.0 - s) * (1.0 - t) + v2 * s * (1.0 - t)
                     + v3 * (1.0 - s) * t + v4 * s * t)
    return Expected(sample, rows_max=box.size)


def ewa(sw, box, sample_ids, footprint=1.5, weight_sum_min=0.1):
    llx, lly, urx, ury = box.extent
    colf = (sw.lon - llx) / ((urx - llx) / box.width)
    rowf = (ury - sw.lat) / ((ury - lly) / box.height)
    c0, r0 = np.floor(colf), np.floor(rowf)
    reach = int(footprint) + 1
    n = box.size
    sw_w = np.zeros(n)
    sw_wv = np.zeros(n)
    for dr in range(-reach, reach + 1):
        for dc in range(-reach, reach + 1):
            cc, rr = c0 + dc, r0 + dr
            dx, dy = colf - (cc + 0.5), rowf - (rr + 0.5)
            d2 = dx * dx + dy * dy
            ok = ((rr >= 0) & (rr < box.height) & (cc >= 0)
                  & (cc < box.width) & (d2 <= footprint * footprint))
            cell = (rr[ok] * box.width + cc[ok]).astype(np.int64)
            w = np.exp(-d2[ok])
            sw_w += np.bincount(cell, w, n)
            sw_wv += np.bincount(cell, w * sw.value[ok], n)
    cells = np.flatnonzero(sw_w >= weight_sum_min)
    return _expect_from_values(sample_ids, cells, sw_wv[cells] / sw_w[cells],
                               rows=len(cells))


def bucket_avg(sw, box, sample_ids):
    llx, lly, urx, ury = box.extent
    col = np.floor((sw.lon - llx) / ((urx - llx) / box.width))
    row = np.floor((ury - sw.lat) / ((ury - lly) / box.height))
    ok = (row >= 0) & (row < box.height) & (col >= 0) & (col < box.width)
    cell = (row[ok] * box.width + col[ok]).astype(np.int64)
    n = box.size
    cnt = np.bincount(cell, minlength=n)
    tot = np.bincount(cell, sw.value[ok], n)
    cells = np.flatnonzero(cnt)
    return _expect_from_values(sample_ids, cells, tot[cells] / cnt[cells],
                               rows=len(cells),
                               sums={"id_sum": float(cells.sum())})


# --- channel_reuse: the LUT pairs (applies check against gauss) -------


def lut(sw, box, radius_m, k, sample_ids):
    """The neighbour LUT (tgt_id, src_id, dist_m): total pair count, and
    per sampled target the pair count, dist sum and src-id sum."""
    _, pairs = knn_tables(sw, box, radius_m)
    ti, si, dmm = top_k(*pairs, sw.pix_id, k)
    in_s = np.isin(ti, sample_ids)
    return Expected({}, rows=len(ti), sampled=False, sums={
        "pairs_s": float(in_s.sum()),
        "dist_s": float((dmm[in_s] / 1000.0).sum()),
        "src_s": float(sw.pix_id[si[in_s]].sum()),
    })


# --- granule_to_grid: decode + area->area regrid -----------------------


def decode(gs):
    """Exact sums over every decoded pixel of a granule set."""
    tot = wcol = 0.0
    for arr in gs.arrays:
        a = arr.astype(np.float64)
        tot += a.sum()
        wcol += (a * np.arange(gs.cols)[None, :]).sum()
    return {"px": gs.pixels, "v_sum": tot, "vcol_sum": wcol}


def laea_inverse(x, y, lat_0, lon_0):
    """Spherical LAEA inverse (Snyder 20-14..20-17), degrees out."""
    s0, c0 = math.sin(math.radians(lat_0)), math.cos(math.radians(lat_0))
    rho = np.sqrt(x * x + y * y)
    c = 2.0 * np.arcsin(np.clip(rho / (2.0 * R_EARTH), -1.0, 1.0))
    with np.errstate(invalid="ignore", divide="ignore"):
        lat = np.degrees(np.arcsin(np.clip(
            np.cos(c) * s0 + np.where(rho == 0.0, 0.0,
                                      y * np.sin(c) * c0 / rho),
            -1.0, 1.0)))
    den = rho * c0 * np.cos(c) - y * s0 * np.sin(c)
    lon = lon_0 + np.degrees(np.arctan2(x * np.sin(c), den))
    lon = np.where(rho == 0.0, lon_0, lon)
    return np.fmod(np.fmod(lon + 180.0, 360.0) + 360.0, 360.0) - 180.0, lat


def regrid(gs, tgt_extent, tgt_cells, lat_0, lon_0, sample_ids):
    """Nearest source pixel of every target cell centre."""
    llx, lly, urx, ury = tgt_extent
    n = tgt_cells * tgt_cells
    psx, psy = (urx - llx) / tgt_cells, (ury - lly) / tgt_cells
    col = np.arange(n) % tgt_cells
    row = np.arange(n) // tgt_cells
    lon, lat = laea_inverse(llx + (col + 0.5) * psx, ury - (row + 0.5) * psy,
                            lat_0, lon_0)
    s_llx, s_lly, s_urx, s_ury = gs.extent
    n_rows = gs.rows * len(gs.arrays)
    s_psx = (s_urx - s_llx) / gs.cols
    s_psy = (s_ury - s_lly) / n_rows
    src_row = np.floor(np.round((s_ury - lat) / s_psy, 9))
    src_col = np.floor(np.round((lon - s_llx) / s_psx, 9))
    ok = ((src_row >= 0) & (src_row <= n_rows - 1)
          & (src_col >= 0) & (src_col <= gs.cols - 1))
    cells = np.flatnonzero(ok)
    full = np.concatenate(gs.arrays).astype(np.float64)
    vals = full[src_row[ok].astype(np.int64), src_col[ok].astype(np.int64)]
    return _expect_from_values(sample_ids, cells, vals, rows=len(cells),
                               sums={"id_sum": float(cells.sum())})
