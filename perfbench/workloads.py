"""The three workloads: what one op does, in what order ops run, and the
oracle each op is checked against.

An op's ``build`` calls the engine's public entry points and returns
``(df, exprs, inner)``: the DataFrame whose noop write is the op's
execution, the named aggregate columns its ``Observation`` records, and
any observations already attached upstream. Inputs are generated and
written, and oracles computed, before the op starts (untimed).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import oracle

# sampled target cells per op, checked value by value
SAMPLE_CELLS = 48
# input index offset of the warm-up ops: no timed op reuses them
WARM_INDEX = 9_000_000


@dataclass
class Op:
    kind: str
    px: int  # source pixels the op resamples (decoded, for ingest)
    build: Callable
    expected: oracle.Expected
    # called after the op, may rename its kind (LUT hit vs miss)
    classify: Callable | None = None


def sample_exprs(cell_col, value_col, sample_ids, sums=()):
    """Observation metrics: row count, and count and rounded value sum
    over the sampled cells; ``sums`` adds (name, Column) exact sums."""
    from pyspark.sql import functions as F

    in_s = F.col(cell_col).isin([int(c) for c in sample_ids])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(in_s, 1)).alias("n_s"),
        F.sum(F.when(in_s, F.round(F.col(value_col),
                                   oracle.ROUND_DIGITS))).alias("s_s"),
        *[col.alias(name) for name, col in sums],
    ]


def write_parquet(path: str, columns: dict, row_groups: int = 4):
    """Several row groups per file, as production inputs have."""
    t = pa.table(columns)
    pq.write_table(t, path, row_group_size=math.ceil(t.num_rows / row_groups))


def _swath_schema(n_channels: int = 0) -> str:
    chans = "".join(f", ch{c} double" for c in range(n_channels))
    return f"pix_id long, lon double, lat double, value double{chans}"


def _area(box):
    from pyresample_spark.geometry import AreaDefinition

    return AreaDefinition("tgt", "longlat", box.width, box.height, box.extent)


class Workload:
    name = ""
    cycle_s = 1.0  # nominal seconds of one cycle on a 4-core host

    def __init__(self, ctx):
        self.ctx = ctx

    def cycles(self, seconds: float) -> int:
        """Fixed op budget: whole cycles sized to about ``seconds`` of
        measured time, so every run of a workload runs the same ops."""
        return max(2, round(seconds / self.cycle_s))

    def setup(self):
        """Generate shared inputs (counted in ``session.gen_s``)."""

    def warm_ops(self) -> list:
        raise NotImplementedError

    def cycle(self, c: int) -> list:
        raise NotImplementedError


# --- swath_to_grid -------------------------------------------------------


class SwathToGrid(Workload):
    """Fresh granule per op onto a longlat box around it, no LUT cache.
    bilinear is six ops of every ten: it is the slowest type, and both
    the median and the tail percentile must fall inside its group."""

    name = "swath_to_grid"
    cycle_s = 6.6
    LINES, PIXELS = 96, 96
    CELLS, SIDE_M = 48, 750_000.0
    ORDER = ("bilinear", "nearest", "bilinear", "gauss", "bilinear",
             "bilinear", "ewa", "bilinear", "bucket_avg", "bilinear")
    KW = {
        "nearest": dict(radius_m=30_000.0, key_col="pix_id"),
        "gauss": dict(radius_m=40_000.0, sigma=20_000.0, k=8,
                      key_col="pix_id"),
        "bilinear": dict(radius_m=60_000.0, key_col="pix_id"),
        "ewa": {},
        "bucket_avg": {},
    }

    def _op(self, method: str, index: int, lat_frac: float) -> Op:
        ctx = self.ctx
        sw = inputs.swath(ctx.seed, index, self.LINES, self.PIXELS, lat_frac)
        path = os.path.join(ctx.data_dir, f"swath_{index}.parquet")
        write_parquet(path, {"pix_id": sw.pix_id, "lon": sw.lon,
                             "lat": sw.lat, "value": sw.value})
        box = inputs.target_box(sw.center_lon, sw.center_lat, self.SIDE_M,
                                self.CELLS)
        sample = oracle.pick_sample(inputs.rng_for(ctx.seed, 4, index),
                                    box.size, SAMPLE_CELLS)
        kw = self.KW[method]
        if method == "nearest":
            exp = oracle.nearest(sw, box, kw["radius_m"], sample)
        elif method == "gauss":
            exp = oracle.gauss(sw, box, kw["radius_m"], kw["sigma"], kw["k"],
                               sample)
        elif method == "bilinear":
            exp = oracle.bilinear(sw, box, kw["radius_m"], 16, sample)
        elif method == "ewa":
            exp = oracle.ewa(sw, box, sample)
        else:
            exp = oracle.bucket_avg(sw, box, sample)

        def build():
            from pyspark.sql import functions as F

            from pyresample_spark.image import GeoImage

            src = ctx.spark.read.schema(_swath_schema()).parquet(path)
            out = GeoImage.from_swath(src).resample(_area(box), method=method,
                                                    **kw)
            sums = ([("id_sum", F.sum("cell_id").cast("double"))]
                    if "id_sum" in exp.sums else [])
            return out.df, sample_exprs("cell_id", "value", sample, sums), []

        return Op(method, sw.size, build, exp)

    def warm_ops(self):
        return [self._op(m, WARM_INDEX + i, (i + 0.5) / 5.0) for i, m in
                enumerate(("nearest", "gauss", "bilinear", "ewa",
                           "bucket_avg"))]

    def cycle(self, c):
        n = len(self.ORDER)
        return [self._op(m, c * n + j,
                         inputs.stratified(c * n + j, 0))
                for j, m in enumerate(self.ORDER)]


# --- channel_reuse -------------------------------------------------------


class ChannelReuse(Workload):
    """Per cycle: one new geometry, whose precompute misses the LUT cache
    and writes the LUT, then CHANNELS channel applies through it; then
    the previous cycle's geometry comes back (the warm-up geometry in
    cycle 0): its precompute reads the LUT back from disk, and one more
    channel is applied. Applies outnumber builds as in real channel
    reuse, so the tail percentile falls inside the apply group."""

    name = "channel_reuse"
    cycle_s = 4.2
    LINES, PIXELS = 96, 96
    CELLS, SIDE_M = 48, 800_000.0
    RADIUS_M, K, SIGMA_M = 40_000.0, 4, 20_000.0
    CHANNELS = 4

    def __init__(self, ctx):
        super().__init__(ctx)
        self.geoms = {}  # geometry index -> (swath, box, path, channels)
        self.plans = {}  # geometry index -> (Resampler, latest plan)

    def _geom(self, g: int):
        if g not in self.geoms:
            ctx = self.ctx
            sw = inputs.swath(ctx.seed, g, self.LINES, self.PIXELS,
                              inputs.stratified(g, 1))
            chans = inputs.channels(ctx.seed, g, sw, self.CHANNELS + 1)
            path = os.path.join(ctx.data_dir, f"geom_{g}.parquet")
            write_parquet(path, {"pix_id": sw.pix_id, "lon": sw.lon,
                                 "lat": sw.lat, "value": sw.value,
                                 **{f"ch{c}": v for c, v in enumerate(chans)}})
            box = inputs.target_box(sw.center_lon, sw.center_lat, self.SIDE_M,
                                    self.CELLS)
            self.geoms[g] = (sw, box, path, chans)
        return self.geoms[g]

    def _lut_entries(self) -> int:
        d = self.ctx.lut_dir
        if not os.path.isdir(d):
            return 0
        return sum(1 for f in os.listdir(d) if f.endswith(".meta.json"))

    def _precompute(self, g: int) -> Op:
        ctx = self.ctx
        sw, box, path, _ = self._geom(g)
        sample = oracle.pick_sample(inputs.rng_for(ctx.seed, 5, g), box.size,
                                    SAMPLE_CELLS)
        exp = oracle.lut(sw, box, self.RADIUS_M, self.K, sample)
        state = {}

        def build():
            from pyspark.sql import functions as F

            from pyresample_spark.plans.planner import Resampler

            spark = ctx.spark
            area = _area(box)
            src = (spark.read.schema(_swath_schema(self.CHANNELS + 1))
                   .parquet(path)
                   .select(F.col("pix_id").alias("src_id"), "lon", "lat"))
            tgt = area.grid(spark).select(F.col("cell_id").alias("tgt_id"),
                                          F.col("cx").alias("lon"),
                                          F.col("cy").alias("lat"))
            before = self._lut_entries()
            r = Resampler(spark, f"swath-{ctx.seed}-{g}", area,
                          cache_dir=ctx.lut_dir)
            plan = r.precompute(src, tgt, self.RADIUS_M, k=self.K)
            state["hit"] = self._lut_entries() == before
            self.plans[g] = (r, plan)
            in_s = F.col("tgt_id").isin([int(c) for c in sample])
            exprs = [
                F.count(F.lit(1)).alias("rows"),
                F.count(F.when(in_s, 1)).cast("double").alias("pairs_s"),
                F.sum(F.when(in_s, F.col("dist_m"))).alias("dist_s"),
                F.sum(F.when(in_s, F.col("src_id"))).cast("double")
                .alias("src_s"),
            ]
            return plan.lut, exprs, []

        def classify():
            return "lut_load" if state.get("hit") else "lut_build"

        # a precompute resamples no channel: its pixels count once per
        # channel applied through the LUT, in the apply ops
        return Op("lut_build", 0, build, exp, classify)

    def _apply(self, g: int, channel: int) -> Op:
        ctx = self.ctx
        sw, box, path, chans = self._geom(g)
        sample = oracle.pick_sample(inputs.rng_for(ctx.seed, 6, g, channel),
                                    box.size, SAMPLE_CELLS)
        exp = oracle.gauss(sw, box, self.RADIUS_M, self.SIGMA_M, self.K,
                           sample, values=chans[channel])
        ss = self.SIGMA_M * self.SIGMA_M

        def combine(pairs):
            from pyspark.sql import functions as F

            d = F.col("dist_m")
            w = F.exp(-(d * d) / F.lit(ss))
            return pairs.groupBy(F.col("tgt_id").alias("cell_id")).agg(
                (F.sum(w * F.col("value")) / F.sum(w)).alias("value"))

        def build():
            from pyspark.sql import functions as F

            r, plan = self.plans[g]
            vals = (ctx.spark.read.schema(_swath_schema(self.CHANNELS + 1))
                    .parquet(path)
                    .select(F.col("pix_id").alias("src_id"),
                            F.col(f"ch{channel}").alias("value")))
            out = r.compute(plan, vals, combine)
            return out, sample_exprs("cell_id", "value", sample), []

        return Op("lut_apply", sw.size, build, exp)

    def _visit(self, g: int, channels) -> list:
        return [self._precompute(g)] + [self._apply(g, c) for c in channels]

    def warm_ops(self):
        return self._visit(WARM_INDEX, range(self.CHANNELS))

    def cycle(self, c):
        back = c - 1 if c else WARM_INDEX
        return (self._visit(c, range(self.CHANNELS))
                + self._visit(back, [self.CHANNELS]))


# --- granule_to_grid -----------------------------------------------------


class GranuleToGrid(Workload):
    """Ingest a set of HDF5 strips (one per codec) with
    read_raster_pixels, then regrid the stacked longlat grid onto a LAEA
    area with ``method="regrid"``. A pool of seeded sets is generated
    at set-up; op i ingests set i mod POOL onto its own seeded area, so
    every op plans (and code-generates) a new query, as a stream of new
    granules would."""

    name = "granule_to_grid"
    cycle_s = 1.2
    ROWS, COLS, DEG_PER_PX = 64, 256, 0.02
    TGT_CELLS = 128
    POOL = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        self.sets = {}

    def cycles(self, seconds):
        # one op type: the tail (N - 10)-th smallest stays at or above
        # the median only with N >= 21 ops
        return max(21, round(seconds / self.cycle_s))

    def _set(self, index: int):
        if index not in self.sets:
            gs = inputs.granule_set(self.ctx.seed, index, self.ROWS,
                                    self.COLS, self.DEG_PER_PX)
            d = os.path.join(self.ctx.data_dir, f"granules_{index}")
            os.makedirs(d)
            for name, buf in gs.files:
                with open(os.path.join(d, name), "wb") as f:
                    f.write(buf)
            self.sets[index] = (gs, d)
        return self.sets[index]

    def setup(self):
        for i in range(self.POOL):
            self._set(i)

    def _op(self, set_index: int, index: int) -> Op:
        ctx = self.ctx
        gs, d = self._set(set_index)
        crs, lon0, lat0, extent = inputs.laea_target(
            gs.extent, self.TGT_CELLS, inputs.rng_for(ctx.seed, 9, index))
        n = self.TGT_CELLS * self.TGT_CELLS
        sample = oracle.pick_sample(inputs.rng_for(ctx.seed, 8, index), n,
                                    SAMPLE_CELLS)
        exp = oracle.regrid(gs, extent, self.TGT_CELLS, lat0, lon0, sample)
        dec = oracle.decode(gs)
        exp.sums.update(dec)
        n_rows = self.ROWS * len(gs.arrays)

        def build():
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            from pyresample_spark.geometry import AreaDefinition
            from pyresample_spark.image import GeoImage
            from pyresample_spark.sources.binary_raster import (
                read_raster_pixels,
            )

            px = read_raster_pixels(ctx.spark, os.path.join(d, "*.nc"),
                                    "netcdf3")
            decoded = Observation()
            px = px.observe(
                decoded,
                F.count(F.lit(1)).cast("double").alias("px"),
                F.sum("value").alias("v_sum"),
                F.sum(F.col("value") * F.col("col")).alias("vcol_sum"),
            )
            band = F.regexp_extract("file", r"granule_(\d+)\.nc$", 1)
            grid = px.select(
                (band.cast("long") * self.ROWS + F.col("row")).alias("row"),
                "col", "value")
            src_area = AreaDefinition("src", "longlat", gs.cols, n_rows,
                                      gs.extent)
            tgt_area = AreaDefinition("tgt", crs, self.TGT_CELLS,
                                      self.TGT_CELLS, extent)
            out = GeoImage.from_area(grid, src_area).resample(
                tgt_area, method="regrid")
            exprs = sample_exprs("cell_id", "src_value", sample, [
                ("id_sum", F.sum("cell_id").cast("double"))])
            return out.df, exprs, [decoded]

        return Op("ingest_regrid", gs.pixels, build, exp)

    def warm_ops(self):
        return [self._op(WARM_INDEX + i, WARM_INDEX + i) for i in range(2)]

    def cycle(self, c):
        return [self._op(c % self.POOL, c)]


WORKLOADS = {w.name: w for w in (SwathToGrid, ChannelReuse, GranuleToGrid)}
