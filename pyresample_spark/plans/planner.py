"""Resampler facade + join-strategy planner (SURVEY.md §3, §4).

Mirrors the reference's entry-point shape — ``precompute`` / ``compute``
/ ``resample`` (resampler.py:50-141) and the method registry
(future/resamplers/registry.py:33-151) — as a plain plan builder: every
method returns a DataFrame plan that Catalyst optimizes; no custom
Catalyst rules are required (SURVEY §4 verdict).

Strategy dispatch (the one real planner decision,
cf. create_gradient_search_resampler gradient/__init__.py:54-60):

  1. source == target  → no-op (resampler.py:121-122)
  2. otherwise         → 3-D cell-bucketed kNN join (operators/knn.py
                         knn_join; it broadcasts a small source itself
                         and is salted when a source cell is hot)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pyresample_spark.geometry import AreaDefinition
from pyresample_spark.plans.lut import LutCache


@dataclass
class ResamplePlan:
    strategy: str
    lut: DataFrame | None
    # salt chosen for the cell join (None = unsalted); recorded so
    # callers/tests can audit the skew decision without re-probing
    salt_factor: int | None = None


class Resampler:
    """Facade binding source + target geometry, with LUT caching.

    resample(data) = precompute (build/load the LUT join) + compute
    (gather/aggregate with the caller's combine), matching the
    reference lifecycle (resampler.py:80-141).
    """

    def __init__(
        self,
        spark: SparkSession,
        src_area_or_hash,
        tgt_area: AreaDefinition,
        cache_dir: str | None = None,
    ):
        self.spark = spark
        self.src = src_area_or_hash
        self.tgt = tgt_area
        self.cache = LutCache(cache_dir) if cache_dir else None
        # (src_hash, radius) → chosen salt. The skew probe is one
        # aggregation scan over the source; its answer depends only on
        # the source layout + radius, so it is computed at most once
        # per key per Resampler (VERDICT r5 item 2).
        self._salt_cache: dict = {}

    def _hash(self, geom) -> str:
        if isinstance(geom, AreaDefinition):
            return geom.geometry_hash()
        return str(geom)

    def choose_strategy(self) -> str:
        if (
            isinstance(self.src, AreaDefinition)
            and self.src == self.tgt
        ):
            return "noop"
        return "cell_knn"

    def _choose_salt(
        self,
        src_points: DataFrame,
        radius_m: float,
        hot_cell_rows: int | None = None,
    ) -> int | None:
        """Run (memoized) the one-scan skew heuristic for the cell
        join (operators/knn.py choose_salt_factor): if any 3-D cell of
        the source exceeds ``hot_cell_rows`` (default HOT_CELL_ROWS),
        return the salt that splits it back under the bound.

        Reference analog: the engine picks the strategy, not the
        caller (gradient/__init__.py:54-60-style dispatch)."""
        from pyresample_spark.operators.knn import (
            HOT_CELL_ROWS,
            choose_salt_factor,
        )

        # key includes the EFFECTIVE threshold (ADVICE r6): a second
        # precompute() with a different hot_cell_rows must re-probe,
        # not silently reuse the first call's salt decision
        eff_hot = hot_cell_rows or HOT_CELL_ROWS
        key = (self._hash(self.src), float(radius_m), int(eff_hot))
        if key not in self._salt_cache:
            self._salt_cache[key] = choose_salt_factor(
                src_points, radius_m, hot_cell_rows=eff_hot,
            )
        return self._salt_cache[key]

    def precompute(
        self,
        src_points: DataFrame,
        tgt_points: DataFrame,
        radius_m: float,
        k: int | None = 1,
        salt_factor: int | None = None,
        hot_cell_rows: int | None = None,
    ) -> ResamplePlan:
        """Build (or load) the neighbour-info LUT with the exact
        cell join.

        ``salt_factor``: explicit skew salt for the cell join; when
        None (the default) the planner probes the source with the
        one-scan heuristic and salts automatically if any cell is
        hotter than ``hot_cell_rows`` (default HOT_CELL_ROWS). Pass
        ``salt_factor=1`` to force the unsalted plan. The probe runs
        only when the join does: a LUT served from the cache is valid
        for any salt, so a cache hit runs no probe and its plan
        records ``salt_factor=None``.
        """
        from pyresample_spark.operators.knn import knn_join

        strategy = self.choose_strategy()
        if strategy == "noop":
            return ResamplePlan("noop", None)
        # the salt the cell join ran with; stays None when no join ran
        used_salt = None

        def compute():
            nonlocal used_salt
            used_salt = salt_factor
            if used_salt is None:
                used_salt = self._choose_salt(
                    src_points, radius_m, hot_cell_rows
                )
            return knn_join(
                src_points, tgt_points, radius_m, k=k,
                salt_factor=used_salt,
            )

        if self.cache is not None:
            # the salt does NOT join the key — salted and unsalted
            # joins produce the identical pair set, so a cached LUT is
            # valid for any salt
            lut = self.cache.get_or_compute(
                self.spark,
                self._hash(self.src),
                self._hash(self.tgt),
                radius_m,
                k,
                compute,
            )
        else:
            lut = compute().persist()
        return ResamplePlan(strategy, lut, salt_factor=used_salt)

    def compute(
        self, plan: ResamplePlan, src_values: DataFrame, combine
    ) -> DataFrame:
        """Apply the LUT: join source values, run the caller's combine
        (a function DataFrame→DataFrame over (tgt_id, src_id, dist_m,
        value...) pair rows)."""
        if plan.strategy == "noop":
            return src_values
        pairs = plan.lut.join(src_values, "src_id", "inner")
        return combine(pairs)

    def resample(
        self,
        src_points: DataFrame,
        src_values: DataFrame,
        tgt_points: DataFrame,
        radius_m: float,
        combine,
        k: int | None = 1,
        salt_factor: int | None = None,
    ) -> DataFrame:
        plan = self.precompute(
            src_points, tgt_points, radius_m, k=k, salt_factor=salt_factor
        )
        return self.compute(plan, src_values, combine)


# --- method registry (future/resamplers/registry.py analog) -----------
_RESAMPLERS: dict = {}


def register_resampler(name: str):
    def deco(fn):
        _RESAMPLERS[name] = fn
        return fn

    return deco


def create_resampler(name: str, *args, **kwargs):
    if name not in _RESAMPLERS:
        raise KeyError(
            f"unknown resampler {name!r}; available: {sorted(_RESAMPLERS)}"
        )
    return _RESAMPLERS[name](*args, **kwargs)


def area_geocentric_resolution(area: AreaDefinition) -> float | None:
    """Typical on-sphere pixel spacing (meters) of a regular area —
    the planner's form of geocentric_resolution (reference
    geometry.py:2691-2764): a regular grid needs no histogram, so the
    mid-row and mid-column neighbour spacings (through the area's
    analytic scalar inverse + haversine) stand in for the dominant
    bin. Returns None when the area's CRS has no analytic inverse or
    its mid-grid pixels leave the projection domain (off-disc geos)."""
    import math

    from pyresample_spark.functions.geo import R_EARTH
    from pyresample_spark.operators.crs import inverse_scalar

    try:
        inv = inverse_scalar(area.crs)
    except NotImplementedError:
        return None
    llx, lly, urx, ury = area.area_extent
    psx = (urx - llx) / area.width
    psy = (ury - lly) / area.height
    r0, c0 = area.height // 2, area.width // 2

    def _pt(row, col):
        return inv(llx + (col + 0.5) * psx, ury - (row + 0.5) * psy)

    def _hav(p, q):
        if p is None or q is None:
            return None
        (lo1, la1), (lo2, la2) = p, q
        h = (
            math.sin(math.radians(la2 - la1) / 2.0) ** 2
            + math.cos(math.radians(la1)) * math.cos(math.radians(la2))
            * math.sin(math.radians(lo2 - lo1) / 2.0) ** 2
        )
        return 2.0 * R_EARTH * math.asin(min(1.0, math.sqrt(h)))

    dx = _hav(_pt(r0, c0), _pt(r0, min(c0 + 1, area.width - 1)))
    dy = _hav(_pt(r0, c0), _pt(min(r0 + 1, area.height - 1), c0))
    vals = [v for v in (dx, dy) if v is not None and v > 0.0]
    return max(vals) if vals else None


RADIUS_FALLBACK_M = 10_000.0  # reference kd_tree.py:963-967


def estimate_radius_of_influence(
    src_area: AreaDefinition | None = None,
    tgt_area: AreaDefinition | None = None,
) -> float:
    """Default search radius when the caller gives none (reference
    kd_tree.py:950-968): the max of the source and target geocentric
    resolutions, falling back to 10 000 m when neither can be
    estimated — the reference's exact nanmax-then-fallback
    semantics."""
    vals = [
        area_geocentric_resolution(a)
        for a in (src_area, tgt_area)
        if isinstance(a, AreaDefinition)
    ]
    vals = [v for v in vals if v is not None]
    return max(vals) if vals else RADIUS_FALLBACK_M
