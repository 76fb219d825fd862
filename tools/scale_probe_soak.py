"""Amplified-scale soak of the two slowest headline queries
(VERDICT r7 item 4): q_dedup_span_mask and q_bilinear_irregular at
1x/4x/16x/64x, with wall clock AND real shuffle rows/bytes from the
Spark REST API — the evidence bridging "sf0.1 plans look right" and
"survives 100x".

Amplification is IN-PLAN (one scan + explode(sequence), the
scale_probe_minhash precedent) and DECORRELATED so structure grows
linearly, not quadratically:

- span-mask: each replica's shingle hashes are salted with the replica
  index (md5 of shingle + rep), so duplicated 5-gram spans exist only
  WITHIN a replica — per-replica mask structure identical to 1x, total
  work n x.
- bilinear: the source swath replicates n x with a small deterministic
  longitude jitter (decorrelates exact coordinates) while the TARGET
  set stays the base grid — the realistic 100 TB shape (ever-more
  source data resampled onto a fixed output area). Cell density grows
  n x, so candidate pairs and the per-target top-k buffers grow n x —
  linear, and exactly what a denser swath costs the operator. (A first
  version also amplified the targets; that multiplies pair volume by
  n^2 — a different experiment — and was replaced.)

Run: python tools/scale_probe_soak.py [N ...]   (default 1 4 16 64)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
UI_PORT = int(os.environ.get("SPARK_GRAFT_UI_PORT", "4049"))


def span_mask_amplified(spark, n: int):
    """q_dedup_span_mask's exact plan over an n x salted replica
    stream (queries/textops.py:1474 — same shingle explode, same
    groupBy(h), same count_distinct fold)."""
    from pyresample_spark.queries import table
    from pyresample_spark.queries.textops import md5_bigint, words_col

    d = table(spark, SF, "documents")
    base = d.select("doc_id", words_col().alias("wl")).select(
        "doc_id",
        "wl",
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep"),
    ).select(
        (F.col("doc_id") * n + F.col("rep")).alias("doc_id"), "wl", "rep"
    )
    tok = base.select("doc_id", F.size("wl").cast("long").alias("n_tokens"))
    sh = (
        base.filter(F.size("wl") >= 5)
        .select(
            "doc_id",
            "rep",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(wl) - 5), i -> "
                    "concat(element_at(wl, i + 1), ' ', element_at(wl, i + 2),"
                    " ' ', element_at(wl, i + 3), ' ', element_at(wl, i + 4),"
                    " ' ', element_at(wl, i + 5)))"
                )
            ).alias("s", "shingle"),
        )
        .select(
            "doc_id",
            "s",
            md5_bigint(
                F.concat_ws("\x1f", "shingle", F.col("rep").cast("string"))
            ).alias("h"),
        )
    )
    c = sh.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    covered = (
        sh.join(c, "h")
        .filter(F.col("cnt") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("s"), F.col("s") + 4)).alias("pos"),
        )
    )
    masked = covered.groupBy("doc_id").agg(
        F.count_distinct("pos").cast("long").alias("n_masked")
    )
    return tok.join(masked, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_masked", F.lit(0)).alias("n_masked"),
    )


def bilinear_amplified(spark, n: int):
    """q_bilinear_irregular's exact operator: n x source replicas
    (small deterministic lon jitter), base target set
    (queries/resample.py:309)."""
    from pyresample_spark.operators.bilinear_irregular import (
        bilinear_irregular,
    )
    from pyresample_spark.queries.joins import _src

    src0 = _src(spark, SF)
    src = src0.select(
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
    tgt = src0.filter(F.col("src_id") % 20 == 0).select(
        F.col("src_id").alias("tgt_id"),
        (F.col("lon") + 0.21).alias("lon"),
        (F.col("lat") + 0.13).alias("lat"),
    )
    return bilinear_irregular(src, tgt, 150_000.0, k=32)


def main():
    ns = [int(a) for a in sys.argv[1:]] or [1, 4, 16, 64]
    from perfbench.tracing import SparkRest, stage_totals
    from pyresample_spark.session import get_spark

    spark = get_spark("scale-probe-soak", ui_port=UI_PORT)
    spark.range(10).count()
    sc = spark.sparkContext
    rest = SparkRest(sc)

    for label, build in (
        ("span_mask", span_mask_amplified),
        ("bilinear_irregular", bilinear_amplified),
    ):
        # warm: JIT + codegen on the 1x shape, untimed
        build(spark, 1).write.format("noop").mode("overwrite").save()
        for n in ns:
            gid = f"soak:{label}:{n}"
            sc.setJobGroup(gid, label)
            df = build(spark, n)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            stages = [st for st in rest.group(gid)["stages"]
                      if st["status"] == "COMPLETE"]
            tot = stage_totals(stages)
            print(
                f"{label} n={n}: wall={dt:.2f}s stages={len(stages)} "
                f"shuffle_write={tot['shuffle_write_records']:,} rec "
                f"/ {tot['shuffle_write_mb']:.1f} MB "
                f"load1={os.getloadavg()[0]:.1f}",
                flush=True,
            )


if __name__ == "__main__":
    main()
