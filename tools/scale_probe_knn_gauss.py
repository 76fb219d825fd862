"""Amplified-scale soak of the kNN/gauss resample family, c27 vs
shift2 (VERDICT r8 item 5, carried through r9): q_gauss_agg's fused
fold and q_knn_join's cell join at 1x/4x/16x/64x source density, with
wall clock AND real shuffle rows/bytes from the Spark REST API per
(operator, scheme, n) cell — the measured evidence behind the facade's
``approx=True`` knob (image.py): where the shift2 approximate tier's
2-grid/own-cell probe overtakes the exact 27-cell explode.

Amplification follows the scale_probe_soak bilinear precedent: the
SOURCE swath replicates n x with a small deterministic longitude
jitter (decorrelates exact coordinates, density grows linearly) while
the TARGET stays the base 2-degree world grid — the realistic 100 TB
shape (ever-more source data resampled onto a fixed output area).
Candidate pairs grow ~n x under both schemes; the aggregate state
stays one row per target, so the comparison isolates the probe-side
explode factor (27 cells vs 2 own-cells) and the grid-0 ownership
filter shift2 applies after its join (each pair kept once).

Every (operator, scheme, n) cell runs under both cell-join topologies,
and each output line names its own:
- ``broadcast``: the session default. The small parquet source is
  broadcast and the range-generated target grid is already partitioned
  on tgt_id, so no exchange runs and shuffle_write reads 0.
- ``shuffle``: ``spark.sql.autoBroadcastJoinThreshold=-1``, which
  operators/knn.py broadcast_bound maps to "no broadcast", so both sides
  hash-partition on the cell key. This is the trade-off the shift2 tier
  exists for (fewer probe rows on the wire). The conf is restored after
  each cell.

Run: python tools/scale_probe_knn_gauss.py [N ...]  (default 1 4 16 64)
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
UI_PORT = int(os.environ.get("SPARK_GRAFT_UI_PORT", "4048"))
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
TOPOLOGIES = ("broadcast", "shuffle")


@contextmanager
def topology(spark, name: str):
    """Run the block under one cell-join topology: ``broadcast`` keeps
    the session's threshold, ``shuffle`` disables broadcasting; the
    session's threshold is restored on exit."""
    old = spark.conf.get(THRESHOLD)
    if name == "shuffle":
        spark.conf.set(THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def amplified_src(spark, n: int):
    from pyresample_spark.queries.joins import _src

    src0 = _src(spark, SF)
    if n == 1:
        return src0
    return src0.select(
        "src_id", "lon", "lat", "value",
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep"),
    ).select(
        (F.col("src_id") * n + F.col("rep")).alias("src_id"),
        (
            F.pmod(
                F.col("lon") + F.col("rep") * 0.0037 + 180.0, F.lit(360.0)
            )
            - 180.0
        ).alias("lon"),
        "lat",
        "value",
    )


def gauss_build(spark, n: int, scheme: str):
    from pyresample_spark.operators.knn import knn_gauss_fold
    from pyresample_spark.queries.joins import RADIUS_M, SIGMA, _tgt

    return knn_gauss_fold(
        amplified_src(spark, n), _tgt(spark), RADIUS_M, k=8, sigma=SIGMA,
        neighbor_scheme=scheme,
    )


def knn_build(spark, n: int, scheme: str):
    from pyresample_spark.operators.knn import knn_join
    from pyresample_spark.queries.joins import RADIUS_M, _tgt

    return knn_join(
        amplified_src(spark, n), _tgt(spark), RADIUS_M, k=1,
        neighbor_scheme=scheme,
    )


def main():
    ns = [int(a) for a in sys.argv[1:]] or [1, 4, 16, 64]
    from perfbench.tracing import SparkRest, stage_totals
    from pyresample_spark.session import get_spark

    spark = get_spark("scale-probe-knn-gauss", ui_port=UI_PORT)
    spark.range(10).count()
    sc = spark.sparkContext
    rest = SparkRest(sc)

    for label, build in (("gauss_fold", gauss_build), ("knn_join", knn_build)):
        for scheme in ("c27", "shift2"):
            for topo in TOPOLOGIES:
                with topology(spark, topo):
                    # warm: JIT + codegen on the 1x shape, untimed
                    build(spark, 1, scheme).write.format("noop").mode(
                        "overwrite"
                    ).save()
            for n in ns:
                for topo in TOPOLOGIES:
                    gid = f"knn_gauss:{label}:{scheme}:{topo}:{n}"
                    sc.setJobGroup(gid, label)
                    with topology(spark, topo):
                        df = build(spark, n, scheme)
                        t0 = time.time()
                        df.write.format("noop").mode("overwrite").save()
                        dt = time.time() - t0
                    stages = [st for st in rest.group(gid)["stages"]
                              if st["status"] == "COMPLETE"]
                    tot = stage_totals(stages)
                    print(
                        f"{label}/{scheme} {topo} n={n}: wall={dt:.2f}s "
                        f"stages={len(stages)} "
                        f"shuffle_write={tot['shuffle_write_records']:,} rec "
                        f"/ {tot['shuffle_write_mb']:.1f} MB "
                        f"load1={os.getloadavg()[0]:.1f}",
                        flush=True,
                    )


if __name__ == "__main__":
    main()
