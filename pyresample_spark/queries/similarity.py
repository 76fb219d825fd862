"""Embedding similarity queries (SURVEY.md §2.10): cosine top-k,
embedding near-dup, IVF and sign-LSH approximate search."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyresample_spark.operators.similarity import (
    cosine_topk,
    dot,
    ivf_assign,
    sign_lsh_bucket,
    sign_lsh_bucket_sql,
    topk_by_cosine,
    with_norm,
)
from pyresample_spark.plans.inputs import file_identity, plan_memo
from pyresample_spark.queries import lut_src_hash, register, rnd, table

# DuckDB: embeddings as double lists with norms.
_VD_SQL = """
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                 list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS vn
    FROM embeddings
"""


def _emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings")


@register(
    "q_cosine_topk",
    oracle=f"""
    WITH d AS ({_VD_SQL}),
    probes AS (SELECT * FROM d WHERE vec_id % 100 = 0),
    ranked AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             list_dot_product(c.v, p.v) / (c.vn * p.vn) AS cos,
             row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY ROUND(list_dot_product(c.v, p.v) / (c.vn * p.vn), 9) DESC,
                        c.vec_id ASC) AS rank
      FROM d c CROSS JOIN probes p
      WHERE c.vec_id != p.vec_id
    )
    SELECT probe_id, vec_id, ROUND(cos, 6) + 0.0 AS cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
    tags=("bench",),
)
def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for probe vectors (vec_id % 100 = 0):
    the exact ANN baseline; same top-k-per-group shape as the geo kNN
    join (SURVEY §2.10 q_cosine_topk)."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    out = cosine_topk(emb, probes, k=10)
    return out.select(
        "probe_id", "vec_id", rnd(F.col("cos"), 6).alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "q_dedup_embedding",
    oracle=f"""
    WITH d AS ({_VD_SQL})
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           ROUND(list_dot_product(a.v, b.v) / (a.vn * b.vn), 6) + 0.0 AS cos
    FROM d a JOIN d b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.vn * b.vn) >= 0.4
    """,
)
def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup: label-blocked self-join, keep pairs
    with cosine ≥ 0.4 (SURVEY §2.10). The blocking key bounds the
    quadratic join at scale (same role as the MinHash band)."""
    emb = with_norm(_emb(spark, sf_dir))
    a = emb.select(
        F.col("vec_id").alias("v1"), F.col("label").alias("l1"),
        F.col("embedding").alias("e1"), F.col("vnorm").alias("n1"),
    )
    b = emb.select(
        F.col("vec_id").alias("v2"), F.col("label").alias("l2"),
        F.col("embedding").alias("e2"), F.col("vnorm").alias("n2"),
    )
    cos = dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    return (
        a.join(b, (F.col("l1") == F.col("l2")) & (F.col("v1") < F.col("v2")))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.4)
        .select("v1", "v2", rnd(F.col("cos_raw"), 6).alias("cos"))
    )


_ANN_IVF_ORACLE = f"""
    WITH d AS ({_VD_SQL}),
    cen AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cvn FROM d WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT d.vec_id, cen.centroid_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND(list_dot_product(d.v, cen.cv) / (d.vn * cen.cvn), 9) DESC,
                          cen.centroid_id ASC) AS rn
        FROM d CROSS JOIN cen
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT d.vec_id AS probe_id, d.v AS pv, d.vn AS pn, a.centroid_id
      FROM d JOIN assign a ON d.vec_id = a.vec_id
      WHERE d.vec_id % 100 = 0
    ),
    cand AS (
      SELECT p.probe_id, d.vec_id,
             list_dot_product(d.v, p.pv) / (d.vn * p.pn) AS cos
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
      JOIN d ON d.vec_id = a.vec_id
      WHERE d.vec_id != p.probe_id
    )
    SELECT probe_id, vec_id, ROUND(cos, 6) + 0.0 AS cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY probe_id
            ORDER BY ROUND(cos, 9) DESC, vec_id ASC) AS rank
          FROM cand)
    WHERE rank <= 5
    """


@register("q_ann_ivf", oracle=_ANN_IVF_ORACLE)
def q_ann_ivf(spark, sf_dir):
    """IVF approximate NN: deterministic seed centroids (vec_id % 50),
    max-cosine cluster assignment, probe searches only its own cluster
    → top-5. The scale path: the probe join touches one cluster's
    partition instead of the corpus (SURVEY §2.10)."""
    emb = _emb(spark, sf_dir)
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    assign = ivf_assign(emb, centroids)
    embn = with_norm(emb).select("vec_id", "embedding", "vnorm")
    probes = (
        embn.join(assign, "vec_id")
        .filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pv"),
            F.col("vnorm").alias("pn"),
            "centroid_id",
        )
    )
    cluster = embn.join(assign, "vec_id")
    cand = cluster.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != F.col("probe_id")
    )
    cos = dot(F.col("embedding"), F.col("pv")) / (F.col("vnorm") * F.col("pn"))
    ranked = topk_by_cosine(
        cand.withColumn("cos_raw", cos), 5, cos_col="cos_raw"
    )
    return ranked.select(
        "probe_id", "vec_id", rnd(F.col("cos_raw"), 6).alias("cos"), "rank"
    )


@register(
    "q_ann_ivf_probe2",
    oracle=f"""
    WITH d AS ({_VD_SQL}),
    cen AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cvn FROM d WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT d.vec_id, cen.centroid_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND(list_dot_product(d.v, cen.cv) / (d.vn * cen.cvn), 9) DESC,
                          cen.centroid_id ASC) AS rn
        FROM d CROSS JOIN cen
      ) WHERE rn = 1
    ),
    p AS (SELECT vec_id AS probe_id, v AS pv, vn AS pn FROM d WHERE vec_id % 100 = 0),
    ptop AS (
      SELECT probe_id, centroid_id FROM (
        SELECT p.probe_id, cen.centroid_id,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY ROUND(list_dot_product(p.pv, cen.cv) / (p.pn * cen.cvn), 9) DESC,
                          cen.centroid_id ASC) AS rn
        FROM p CROSS JOIN cen
      ) WHERE rn <= 2
    ),
    cand AS (
      SELECT p.probe_id, d.vec_id,
             list_dot_product(d.v, p.pv) / (d.vn * p.pn) AS cos
      FROM p JOIN ptop USING (probe_id)
      JOIN assign a ON a.centroid_id = ptop.centroid_id
      JOIN d ON d.vec_id = a.vec_id
      WHERE d.vec_id != p.probe_id
    )
    SELECT probe_id, vec_id, ROUND(cos, 6) + 0.0 AS cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY probe_id
            ORDER BY ROUND(cos, 9) DESC, vec_id ASC) AS rank
          FROM cand)
    WHERE rank <= 5
    """,
)
def q_ann_ivf_probe2(spark, sf_dir):
    """Multiprobe IVF (nprobe=2): each query searches its TWO
    nearest centroids' clusters instead of one — the standard IVF
    recall knob (recall rises with nprobe, cost stays
    nprobe/k_clusters of the corpus). Probe→centroid top-2 is the
    packed-key hash agg (:func:`topk_by_cosine` over the broadcast
    centroid table); corpus assignment stays top-1, so the two probed
    clusters are disjoint and no candidate dedup is needed."""
    emb = _emb(spark, sf_dir)
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    assign = ivf_assign(emb, centroids)
    embn = with_norm(emb)
    probes = embn.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pv"),
        F.col("vnorm").alias("pn"),
    )
    cen = with_norm(centroids).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
        F.col("vnorm").alias("cvn"),
    )
    pc = probes.crossJoin(F.broadcast(cen))
    cos_pc = dot(F.col("pv"), F.col("cv")) / (F.col("pn") * F.col("cvn"))
    ptop = topk_by_cosine(
        pc.withColumn("cos_pc", cos_pc),
        2,
        group_col="probe_id",
        id_col="centroid_id",
        cos_col="cos_pc",
    ).select("probe_id", "centroid_id")
    probe_side = ptop.join(probes, "probe_id")
    cluster = embn.select("vec_id", "embedding", "vnorm").join(
        assign, "vec_id"
    )
    cand = cluster.join(F.broadcast(probe_side), "centroid_id").filter(
        F.col("vec_id") != F.col("probe_id")
    )
    cos = dot(F.col("embedding"), F.col("pv")) / (
        F.col("vnorm") * F.col("pn")
    )
    ranked = topk_by_cosine(
        cand.withColumn("cos_raw", cos), 5, cos_col="cos_raw"
    )
    return ranked.select(
        "probe_id", "vec_id", rnd(F.col("cos_raw"), 6).alias("cos"), "rank"
    )


@register(
    "q_ann_lsh",
    oracle=f"""
    WITH d AS (
      SELECT vec_id, label, v, vn, {sign_lsh_bucket_sql('v', 8)} AS bucket
      FROM ({_VD_SQL})
    ),
    probes AS (SELECT vec_id AS probe_id, v AS pv, vn AS pn, bucket
               FROM d WHERE vec_id % 100 = 0),
    cand AS (
      SELECT p.probe_id, d.vec_id,
             list_dot_product(d.v, p.pv) / (d.vn * p.pn) AS cos
      FROM probes p JOIN d ON d.bucket = p.bucket
      WHERE d.vec_id != p.probe_id
    )
    SELECT probe_id, vec_id, ROUND(cos, 6) + 0.0 AS cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY probe_id
            ORDER BY ROUND(cos, 9) DESC, vec_id ASC) AS rank
          FROM cand)
    WHERE rank <= 3
    """,
)
def q_ann_lsh(spark, sf_dir):
    """Sign-LSH bucketed cosine search: bucket = sign bits of the first
    8 components; candidates co-bucket only → top-3 (the hash-space
    twin of the geo cell join; SURVEY §2.10)."""
    emb = with_norm(_emb(spark, sf_dir)).withColumn(
        "bucket", sign_lsh_bucket("embedding", 8)
    )
    probes = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pv"),
        F.col("vnorm").alias("pn"),
        "bucket",
    )
    cand = emb.join(F.broadcast(probes), "bucket").filter(
        F.col("vec_id") != F.col("probe_id")
    )
    cos = dot(F.col("embedding"), F.col("pv")) / (F.col("vnorm") * F.col("pn"))
    ranked = topk_by_cosine(
        cand.withColumn("cos_raw", cos), 3, cos_col="cos_raw"
    )
    return ranked.select(
        "probe_id", "vec_id", rnd(F.col("cos_raw"), 6).alias("cos"), "rank"
    )


@register(
    "q_ann_recall",
    oracle=f"""
    WITH d AS ({_VD_SQL}),
    probes AS (SELECT vec_id AS probe_id, v AS pv, vn AS pn FROM d WHERE vec_id % 100 = 0),
    exact AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, c.vec_id,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY ROUND(list_dot_product(c.v, p.pv) / (c.vn * p.pn), 9) DESC,
                          c.vec_id ASC) AS rank
        FROM d c CROSS JOIN probes p
        WHERE c.vec_id != p.probe_id
      ) WHERE rank <= 5
    ),
    cen AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cvn FROM d WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT d.vec_id, cen.centroid_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND(list_dot_product(d.v, cen.cv) / (d.vn * cen.cvn), 9) DESC,
                          cen.centroid_id ASC) AS rn
        FROM d CROSS JOIN cen
      ) WHERE rn = 1
    ),
    approx AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, d.vec_id,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY ROUND(list_dot_product(d.v, p.pv) / (d.vn * p.pn), 9) DESC,
                          d.vec_id ASC) AS rank
        FROM probes p
        JOIN assign pa ON pa.vec_id = p.probe_id
        JOIN assign a ON a.centroid_id = pa.centroid_id
        JOIN d ON d.vec_id = a.vec_id
        WHERE d.vec_id != p.probe_id
      ) WHERE rank <= 5
    )
    SELECT e.probe_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
           (ROUND(COUNT(a.vec_id) / (1.0 * COUNT(*)), 6) + 0.0) AS recall
    FROM exact e
    LEFT JOIN approx a USING (probe_id, vec_id)
    GROUP BY e.probe_id
    """,
)
def q_ann_recall(spark, sf_dir):
    """Recall@5 of the IVF index against the exact scorer, per probe —
    the approximation-quality diagnostic an ANN deployment monitors
    (and the acceptance test for any nprobe/centroid-count change).
    Both sides are the already-verified building blocks; the recall
    join touches only 2·k rows per probe."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(emb, probes, k=5).select("probe_id", "vec_id")

    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    assign = ivf_assign(emb, centroids)
    embn = with_norm(emb).select("vec_id", "embedding", "vnorm")
    p = (
        embn.join(assign, "vec_id")
        .filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pv"),
            F.col("vnorm").alias("pn"),
            "centroid_id",
        )
    )
    cluster = embn.join(assign, "vec_id")
    cand = cluster.join(F.broadcast(p), "centroid_id").filter(
        F.col("vec_id") != F.col("probe_id")
    )
    cos = dot(F.col("embedding"), F.col("pv")) / (
        F.col("vnorm") * F.col("pn")
    )
    approx = topk_by_cosine(
        cand.withColumn("cos_raw", cos), 5, cos_col="cos_raw"
    ).select("probe_id", "vec_id", F.lit(1).alias("hit"))

    return (
        # shuffle_hash: both sides are k rows per probe; SortMergeJoin
        # would sort each for no benefit (EXPLAINS r10 flag) — hash-
        # build the approx side, which stays legal for the left join
        exact.join(approx.hint("shuffle_hash"),
                   ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit").alias("n_hit"),
        )
        .select(
            "probe_id",
            "n_exact",
            "n_hit",
            rnd(F.col("n_hit") / (1.0 * F.col("n_exact")), 6).alias(
                "recall"
            ),
        )
    )


@register(
    "q_dup_inflation",
    oracle=f"""
    WITH RECURSIVE d AS ({_VD_SQL}),
    cand AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2
      FROM d a JOIN d b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.vn * b.vn) >= 0.4
    ),
    edges AS (
      SELECT v1 AS src, v2 AS dst FROM cand
      UNION ALL SELECT v2, v1 FROM cand
      UNION ALL SELECT vec_id, vec_id FROM d
    ),
    reach(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (SELECT src AS vec_id, MIN(dst) AS comp FROM reach GROUP BY src),
    sizes AS (SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_vecs
    FROM sizes GROUP BY cluster_size
    """,
)
def q_dup_inflation(spark, sf_dir):
    """Duplication-inflation histogram — the number a dedup operator
    actually reports: near-dup clusters (label-blocked cosine ≥ 0.4 →
    connected components, the q_dedup_canonical composition) bucketed
    by cluster size. n_vecs/Σ tells what fraction of the corpus is
    redundant; survivors after dedup = Σ n_clusters. At scale every
    stage is the already-bounded CC pipeline plus two k-row hash
    aggs."""
    from pyresample_spark.operators.components import connected_components

    emb = with_norm(_emb(spark, sf_dir))
    a = emb.select(
        F.col("vec_id").alias("v1"), F.col("label").alias("l1"),
        F.col("embedding").alias("e1"), F.col("vnorm").alias("n1"),
    )
    b = emb.select(
        F.col("vec_id").alias("v2"), F.col("label").alias("l2"),
        F.col("embedding").alias("e2"), F.col("vnorm").alias("n2"),
    )
    cos = dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    pairs = (
        a.join(b, (F.col("l1") == F.col("l2")) & (F.col("v1") < F.col("v2")))
        .filter(cos >= 0.4)
        .select("v1", "v2")
    )
    all_ids = emb.select(
        F.col("vec_id").alias("v1"), F.col("vec_id").alias("v2")
    )
    labels = connected_components(pairs.union(all_ids), src="v1", dst="v2")
    sizes = labels.groupBy("comp").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_vecs"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
    )


@register(
    "q_hard_negatives",
    oracle=f"""
    WITH d AS ({_VD_SQL}),
    probes AS (SELECT vec_id AS probe_id, label AS plabel, v AS pv, vn AS pn
               FROM d WHERE vec_id % 100 = 0),
    cand AS (
      SELECT p.probe_id, d.vec_id,
             list_dot_product(d.v, p.pv) / (d.vn * p.pn) AS cos
      FROM d CROSS JOIN probes p
      WHERE d.label != p.plabel
    )
    SELECT probe_id, vec_id, ROUND(cos, 6) + 0.0 AS cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY probe_id
            ORDER BY ROUND(cos, 9) DESC, vec_id ASC) AS rank
          FROM cand)
    WHERE rank <= 3
    """,
)
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive embedding training: for
    each probe, the top-3 highest-cosine vectors carrying a DIFFERENT
    label — the near-miss negatives a trainer pairs with each anchor.
    Same broadcast-probes × corpus-scan shape as the exact cosine
    baseline; the label inequality filters inside the scan task, and
    top-k is the packed-key hash aggregate (no window sort)."""
    emb = with_norm(_emb(spark, sf_dir))
    c = emb.select(
        "vec_id", "label",
        F.col("embedding").alias("cv"), F.col("vnorm").alias("cn"),
    )
    p = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("plabel"),
        F.col("embedding").alias("pv"),
        F.col("vnorm").alias("pn"),
    )
    cand = c.crossJoin(F.broadcast(p)).filter(
        F.col("label") != F.col("plabel")
    )
    cos = dot(F.col("cv"), F.col("pv")) / (F.col("cn") * F.col("pn"))
    ranked = topk_by_cosine(
        cand.withColumn("cos_raw", cos), 3, cos_col="cos_raw"
    )
    return ranked.select(
        "probe_id", "vec_id", rnd(F.col("cos_raw"), 6).alias("cos"), "rank"
    )


@register(
    "q_kmeans_iter",
    oracle=f"""
    WITH d AS ({_VD_SQL}),
    cen AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cvn FROM d WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT d.vec_id, cen.centroid_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND(list_dot_product(d.v, cen.cv) / (d.vn * cen.cvn), 9) DESC,
                          cen.centroid_id ASC) AS rn
        FROM d CROSS JOIN cen
      ) WHERE rn = 1
    ),
    pts AS (
      SELECT a.centroid_id, CAST(t.i AS INT) AS dim,
             CAST(FLOOR(d.v[t.i + 1] * 1e6 + 0.5) AS BIGINT) AS val_q
      FROM d JOIN assign a ON d.vec_id = a.vec_id
      CROSS JOIN range(64) t(i)
    )
    SELECT centroid_id, dim,
           FLOOR(CAST(SUM(val_q) AS DOUBLE) / COUNT(*) + 0.5) / 1e6 + 0.0 AS mean_val,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM pts GROUP BY centroid_id, dim
    """,
)
def q_kmeans_iter(spark, sf_dir):
    """One Lloyd iteration of k-means over the embedding corpus — the
    building block of IVF index training and embedding-space corpus
    clustering: seed centroids (vec_id % 50) → max-cosine assignment
    (:func:`ivf_assign`, packed-key hash agg, no window sort) → new
    centroid = per-dimension member mean. The mean is summed in integer
    micro-units (``floor(v*1e6 + 0.5)``) so the aggregate is
    summation-order independent — bit-identical across engines and
    across partitionings, which is what makes the oracle (and any
    re-run at different parallelism) exact. At scale: the explode
    carries (centroid_id, dim, bigint) only and partial-aggregates
    map-side, so the shuffle is bounded by k·d rows, not N·d."""
    emb = _emb(spark, sf_dir)
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    assign = ivf_assign(emb, centroids)
    pts = (
        emb.join(assign, "vec_id")
        .select("centroid_id", F.posexplode("embedding").alias("dim", "val"))
        .withColumn(
            "val_q",
            F.floor(F.col("val").cast("double") * 1e6 + 0.5).cast("bigint"),
        )
    )
    out = pts.groupBy("centroid_id", "dim").agg(
        F.sum("val_q").alias("s"), F.count(F.lit(1)).alias("n_members")
    )
    return out.select(
        "centroid_id",
        F.col("dim").cast("int").alias("dim"),
        (
            F.floor(
                F.col("s").cast("double") / F.col("n_members") + 0.5
            ).cast("double")
            / 1e6
        ).alias("mean_val"),
        F.col("n_members").cast("bigint").alias("n_members"),
    )


@register(
    "q_dedup_canonical",
    oracle=f"""
    WITH RECURSIVE d AS ({_VD_SQL}),
    cand AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2
      FROM d a JOIN d b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.vn * b.vn) >= 0.4
    ),
    edges AS (
      SELECT v1 AS src, v2 AS dst FROM cand
      UNION ALL SELECT v2, v1 FROM cand
      UNION ALL SELECT vec_id, vec_id FROM d
    ),
    reach(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS vec_id, MIN(dst) AS canonical_id,
           CAST(src = MIN(dst) AS BOOLEAN) AS is_kept
    FROM reach GROUP BY src
    """,
)
def q_dedup_canonical(spark, sf_dir):
    """End-to-end near-dup REMOVAL over embeddings — the composition a
    real pipeline runs: label-blocked cosine candidates (≥ 0.4, the
    q_dedup_embedding pair stage) → distributed connected components →
    canonical doc per cluster = min vec_id; every vector maps to its
    canonical representative and ``is_kept`` marks the survivor set.
    Isolated vectors are their own canonical (self-loop edges). At
    scale the CC rounds touch only candidate edges (≪ corpus); the
    survivor filter is then one broadcast-able semi-join."""
    from pyresample_spark.operators.components import connected_components

    emb = with_norm(_emb(spark, sf_dir))
    a = emb.select(
        F.col("vec_id").alias("v1"), F.col("label").alias("l1"),
        F.col("embedding").alias("e1"), F.col("vnorm").alias("n1"),
    )
    b = emb.select(
        F.col("vec_id").alias("v2"), F.col("label").alias("l2"),
        F.col("embedding").alias("e2"), F.col("vnorm").alias("n2"),
    )
    cos = dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    pairs = (
        a.join(b, (F.col("l1") == F.col("l2")) & (F.col("v1") < F.col("v2")))
        .filter(cos >= 0.4)
        .select("v1", "v2")
    )
    # self-loops keep isolated vectors as their own cluster
    all_ids = emb.select(
        F.col("vec_id").alias("v1"), F.col("vec_id").alias("v2")
    )
    labels = connected_components(
        pairs.union(all_ids), src="v1", dst="v2"
    )
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("comp").alias("canonical_id"),
        (F.col("id") == F.col("comp")).alias("is_kept"),
    )


@register(
    "q_embedding_stats",
    oracle=f"""
    WITH d AS ({_VD_SQL}),
    persq AS (
      SELECT label,
             CAST(FLOOR(list_dot_product(v, v) * 1e6 + 0.5) AS BIGINT) AS sq_q
      FROM d
    ),
    a AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(sq_q) AS DOUBLE) / COUNT(*) / 1e6 AS mean_sq_norm
      FROM persq GROUP BY label
    ),
    dims AS (
      SELECT label, CAST(t.i AS INT) AS dim,
             CAST(SUM(CAST(FLOOR(d.v[t.i + 1] * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               AS s_qd,
             COUNT(*) AS n
      FROM d CROSS JOIN range(64) t(i)
      GROUP BY label, dim
    ),
    cen AS (
      SELECT label,
             CAST(SUM(CAST(FLOOR(
               (s_qd / (n * 1e6)) * (s_qd / (n * 1e6)) * 1e6 + 0.5)
               AS BIGINT)) AS DOUBLE) / 1e6 AS centroid_sq_norm
      FROM dims GROUP BY label
    )
    SELECT a.label, a.n_vecs,
           ROUND(a.mean_sq_norm, 6) + 0.0 AS mean_sq_norm,
           ROUND(cen.centroid_sq_norm, 6) + 0.0 AS centroid_sq_norm,
           ROUND(a.mean_sq_norm - cen.centroid_sq_norm, 6) + 0.0 AS dispersion
    FROM a JOIN cen USING (label)
    """,
)
def q_embedding_stats(spark, sf_dir):
    """Per-label embedding-space health metrics — the monitoring query
    an embedding pipeline runs after every model or corpus change:
    cluster size, mean squared norm, squared centroid norm, and
    dispersion = E|x|² − |E x|² (the variance identity, so dispersion
    needs no second pass over pairs). Every aggregate is quantized to
    integer micro-units before summation (floor(x·1e6 + 0.5)), so all
    three statistics are bit-identical across engines and
    partitionings. Scale: one scan feeding two hash aggs — per-label
    (k rows) and per-(label, dim) (k·d rows) — both map-side
    combinable."""
    emb = _emb(spark, sf_dir)
    sq = dot(F.col("embedding"), F.col("embedding"))
    persq = emb.select(
        "label", F.floor(sq * 1e6 + 0.5).cast("bigint").alias("sq_q")
    )
    a = persq.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum("sq_q").cast("double") / F.count(F.lit(1)) / 1e6).alias(
            "mean_sq_norm"
        ),
    )
    dims = (
        emb.select("label", F.posexplode("embedding").alias("dim", "val"))
        .withColumn(
            "val_q",
            F.floor(F.col("val").cast("double") * 1e6 + 0.5).cast("bigint"),
        )
        .groupBy("label", "dim")
        .agg(
            F.sum("val_q").cast("double").alias("s_qd"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    mean_d = F.col("s_qd") / (F.col("n") * 1e6)
    cen = (
        dims.withColumn(
            "c_q",
            F.floor(mean_d * mean_d * 1e6 + 0.5).cast("bigint"),
        )
        .groupBy("label")
        .agg((F.sum("c_q").cast("double") / 1e6).alias("centroid_sq_norm"))
    )
    return a.join(cen, "label").select(
        "label",
        "n_vecs",
        rnd(F.col("mean_sq_norm"), 6).alias("mean_sq_norm"),
        rnd(F.col("centroid_sq_norm"), 6).alias("centroid_sq_norm"),
        rnd(F.col("mean_sq_norm") - F.col("centroid_sq_norm"), 6).alias(
            "dispersion"
        ),
    )


@register(
    "q_embed_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, e -> abs(e))) / 127.0 AS scale
      FROM q
    )
    SELECT vec_id,
           FLOOR(scale * 1e9 + 0.5) / 1e9 + 0.0 AS scale_q,
           CAST(list_max(list_transform(v,
                e -> abs(FLOOR(e / scale + 0.5)))) AS BIGINT) AS max_code,
           FLOOR(list_sum(list_transform(v,
                e -> (e - FLOOR(e / scale + 0.5) * scale)
                   * (e - FLOOR(e / scale + 0.5) * scale))) / 64.0
                 * 1e12 + 0.5) / 1e12 + 0.0 AS mse_q
    FROM s WHERE scale > 0.0
    """,
)
def q_embed_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding corpus — the storage
    op every 100 TB vector deployment runs (4× smaller than float32,
    distance error ~mse): per-vector scale = max|v|/127, codes =
    floor(v/scale + 0.5), plus the reconstruction MSE the deployment
    monitors. Everything is an IN-ROW array fold (`transform` /
    `aggregate` — left-fold, so summation order is fixed and identical
    in both engines); no shuffle at all, the op is embarrassingly
    map-side. Quantized outputs use the floor(x+0.5) idiom — no ROUND
    half-case can diverge cross-engine."""
    emb = _emb(spark, sf_dir)
    v = F.transform(F.col("embedding"), lambda e: e.cast("double"))
    amax = F.aggregate(
        v, F.lit(0.0), lambda a, e: F.greatest(a, F.abs(e))
    )
    d = emb.select("vec_id", v.alias("v"), (amax / 127.0).alias("scale"))
    code = lambda e: F.floor(e / F.col("scale") + 0.5)  # noqa: E731
    sqerr = F.aggregate(
        F.transform(
            F.col("v"),
            lambda e: (e - code(e) * F.col("scale"))
            * (e - code(e) * F.col("scale")),
        ),
        F.lit(0.0),
        lambda a, e: a + e,
    )
    return d.filter(F.col("scale") > 0.0).select(
        "vec_id",
        (F.floor(F.col("scale") * 1e9 + 0.5) / 1e9).alias("scale_q"),
        F.aggregate(
            F.transform(F.col("v"), lambda e: F.abs(code(e))),
            F.lit(0.0),
            lambda a, e: F.greatest(a, e),
        ).cast("bigint").alias("max_code"),
        (F.floor(sqerr / 64.0 * 1e12 + 0.5) / 1e12).alias("mse_q"),
    )


@register(
    "q_embed_covariance",
    oracle=f"""
    WITH d AS ({_VD_SQL}),
    cells AS (
      SELECT ti.i AS i, tj.j AS j,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(FLOOR(d.v[ti.i + 1] * d.v[tj.j + 1] * 1e6 + 0.5)
                      AS BIGINT)) AS sxy_u
      FROM d CROSS JOIN range(64) ti(i) CROSS JOIN range(64) tj(j)
      WHERE tj.j >= ti.i
      GROUP BY i, j
    ),
    dims AS (
      SELECT t.i AS i,
             SUM(CAST(FLOOR(d.v[t.i + 1] * 1e6 + 0.5) AS BIGINT)) AS s_u
      FROM d CROSS JOIN range(64) t(i) GROUP BY i
    )
    SELECT CAST(c.i AS INT) AS i, CAST(c.j AS INT) AS j, c.n,
           ROUND(CAST(c.sxy_u AS DOUBLE) / 1e6 / c.n
                 - (CAST(di.s_u AS DOUBLE) / 1e6 / c.n)
                   * (CAST(dj.s_u AS DOUBLE) / 1e6 / c.n), 6) + 0.0 AS cov
    FROM cells c
    JOIN dims di ON di.i = c.i
    JOIN dims dj ON dj.i = c.j
    """,
)
def q_embed_covariance(spark, sf_dir):
    """Full 64×64 embedding covariance (upper triangle, 2080 cells) —
    the gram-matrix aggregation behind PCA/whitening of an embedding
    corpus: cov(i,j) = E[xᵢxⱼ] − E[xᵢ]E[xⱼ]. The d² unpivot (two
    posexplodes) amplifies rows 4096× BEFORE the aggregation, but
    map-side combine collapses everything to d(d+1)/2 cells — at
    100 TB the shuffle carries 2080 rows per task, independent of
    corpus size, and the eigendecomposition of the collected d×d
    matrix is a driver-side 64×64 numpy call (the optimal_bb 3×3
    pattern scaled up). Products are quantized to integer micro-units
    BEFORE summation (the q_embedding_stats idiom), so the sums are
    order-free exact and the derived covariances bit-match the
    oracle."""
    e = _emb(spark, sf_dir).select(
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    a = e.select(F.posexplode("v").alias("i", "vi"), F.col("v"))
    b = a.select(
        "i", "vi", F.posexplode("v").alias("j", "vj")
    ).filter(F.col("j") >= F.col("i"))
    cells = (
        b.select(
            "i", "j",
            F.floor(F.col("vi") * F.col("vj") * 1e6 + 0.5)
             .cast("bigint").alias("u"),
        )
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("u").alias("sxy_u"))
    )
    dims = (
        a.select("i", F.floor(F.col("vi") * 1e6 + 0.5).cast("bigint").alias("u"))
        .groupBy("i")
        .agg(F.sum("u").alias("s_u"))
    )
    di = dims.select(F.col("i"), F.col("s_u").alias("si_u"))
    dj = dims.select(F.col("i").alias("j"), F.col("s_u").alias("sj_u"))
    n = F.col("n").cast("double")
    cov = (
        F.col("sxy_u").cast("double") / 1e6 / n
        - (F.col("si_u").cast("double") / 1e6 / n)
          * (F.col("sj_u").cast("double") / 1e6 / n)
    )
    return (
        cells.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            "n",
            rnd(cov, 6).alias("cov"),
        )
    )


@register(
    "q_semdedup",
    oracle=f"""
    WITH d AS ({_VD_SQL}),
    cen AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cvn FROM d
            WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT d.vec_id, cen.centroid_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND(list_dot_product(d.v, cen.cv)
                                / (d.vn * cen.cvn), 9) DESC,
                          cen.centroid_id ASC) AS rn
        FROM d CROSS JOIN cen
      ) WHERE rn = 1
    ),
    dup AS (
      SELECT DISTINCT a2.vec_id
      FROM assign a2
      JOIN d d2 ON d2.vec_id = a2.vec_id
      JOIN assign a1 ON a1.centroid_id = a2.centroid_id
                    AND a1.vec_id < a2.vec_id
      JOIN d d1 ON d1.vec_id = a1.vec_id
      WHERE list_dot_product(d1.v, d2.v) / (d1.vn * d2.vn) >= 0.4
    )
    SELECT a.vec_id, a.centroid_id, (dup.vec_id IS NULL) AS keep
    FROM assign a LEFT JOIN dup ON a.vec_id = dup.vec_id
    """,
)
def q_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    corpus (deterministic IVF seed centroids, max-cosine assignment),
    then WITHIN each cluster drop every vector whose cosine to a
    lower-id cluster-mate is ≥ 0.4 — the lowest id stays canonical.
    Output = every vector with its cluster and keep/drop verdict.

    Scale shape: this is the whole point of clustering first — the
    quadratic pair search runs per-cluster (vs q_dedup_embedding's
    label blocking, which needs a label), so the pair count is
    Σ|cluster|², never N². The centroid set broadcasts (k·d floats);
    the cluster self-join shuffles on centroid_id; the drop set is a
    distinct stream of bare ids joined back broadcast-style. At
    100 TB: k scales with corpus size to bound Σ|cluster|², exactly
    the paper's pre-clustering recipe."""
    # the 64-term unrolled dot below reads element_at(e, 1..64): assert
    # the table contract once per vector, before any pair is formed, so
    # a short embedding raises instead of giving a NULL cosine that
    # counts as "not a duplicate"
    emb = _emb(spark, sf_dir).selectExpr(
        "vec_id",
        "CASE WHEN assert_true(size(embedding) = 64, 'q_semdedup: every "
        "embedding must have 64 elements') IS NULL THEN embedding END"
        " AS embedding",
    )
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    # r17-opt: carry_vec rides the embedding+norm through the
    # assignment so the corpus is normalized and assigned in ONE pass;
    # r18-opt: the assignment itself is the literal-centroid map-only
    # tier (ivf_assign — zero joins), and the verdict is folded INTO
    # the pair search: instead of inner-join → DISTINCT dup ids →
    # broadcast-join the verdict back onto a THIRD plan of `cl`
    # (three `cl` subtrees, plan dump r17 showed none reused), the
    # v2 side LEFT-joins its lower-id cluster-mates with the cosine
    # gate inside the join condition and the verdict is
    # count(matches) == 0 per v2 — the distinct exchange, the
    # broadcast, and the whole third `cl` subtree disappear. The
    # explicit repartition on centroid_id co-partitions both
    # self-join sides (one exchange each at worst, ReusedExchange
    # when the planner dedups them).
    cl = ivf_assign(emb, centroids, carry_vec=True).repartition(
        "centroid_id"
    )
    # Generate barrier ABOVE the exchange: the left join pushes
    # IsNotNull filters into its build side only, and a filter that
    # descends into one side's exchange subtree makes the two
    # subtrees non-identical — no ReusedExchange, assignment computed
    # twice (r17 plan dump / ADVICE). Pushed predicates cannot cross
    # a Generate, so both consumers now sit on byte-identical
    # exchange subtrees and the planner reuses one.
    cl = cl.selectExpr(
        "explode(array(named_struct("
        "'vec_id', vec_id, 'centroid_id', centroid_id, "
        "'embedding', embedding, 'vnorm', vnorm))) AS z"
    ).select("z.vec_id", "z.centroid_id", "z.embedding", "z.vnorm")
    a = cl.select(
        F.col("vec_id").alias("v1"), F.col("centroid_id").alias("c1"),
        F.col("embedding").alias("e1"), F.col("vnorm").alias("n1"),
    )
    b = cl.select(
        F.col("vec_id").alias("v2"), F.col("centroid_id").alias("c2"),
        F.col("embedding").alias("e2"), F.col("vnorm").alias("n2"),
    )
    # Unrolled 64-dim dot (the embeddings table contract, as in the
    # PQ family's 8×8 subspaces): bit-identical to operators.dot's
    # sequential fold — same left-associative IEEE adds over the same
    # float→double casts; the fold's leading `0.0 +` is exact — but
    # codegen'd instead of an interpreted higher-order lambda
    # (zip_with+aggregate are CodegenFallback, ~0.4 µs/element over
    # every in-cluster candidate pair).
    import functools
    import operator as _aop

    cos = functools.reduce(_aop.add, [
        F.element_at(F.col("e1"), i + 1).cast("double")
        * F.element_at(F.col("e2"), i + 1).cast("double")
        for i in range(64)
    ]) / (F.col("n1") * F.col("n2"))
    pairs = b.join(
        a.hint("shuffle_hash"),
        (F.col("c1") == F.col("c2"))
        & (F.col("v1") < F.col("v2"))
        & (cos >= 0.4),
        "left",
    )
    return pairs.groupBy("v2", "c2").agg(
        (F.count(F.col("v1")) == 0).alias("keep")
    ).select(
        F.col("v2").alias("vec_id"),
        F.col("c2").alias("centroid_id"),
        "keep",
    )


@register(
    "q_cluster_balance",
    oracle=f"""
    WITH d AS ({_VD_SQL}),
    cen AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cvn FROM d
            WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT d.vec_id, cen.centroid_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND(list_dot_product(d.v, cen.cv)
                                / (d.vn * cen.cvn), 9) DESC,
                          cen.centroid_id ASC) AS rn
        FROM d CROSS JOIN cen
      ) WHERE rn = 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM assign)
    SELECT centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(CAST(COUNT(*) AS DOUBLE) / tot.n, 6) + 0.0
             AS member_share,
           CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS pair_load
    FROM assign CROSS JOIN tot
    GROUP BY centroid_id, tot.n
    """,
)
def q_cluster_balance(spark, sf_dir):
    """Cluster-balance diagnostic for the IVF / SemDeDup family: per
    centroid, member count, corpus share, and the within-cluster pair
    load n·(n−1)/2 — the term whose SUM bounds q_semdedup's quadratic
    pair search and q_ann_ivf's probe cost. The acceptance metric for
    any centroid-count change: a skewed cluster shows up here as a
    pair_load spike before it shows up as a straggler task.

    Scale shape: the assignment is the broadcast-centroid packed-key
    hash agg (ivf_assign, shuffle = N assignment rows); the balance
    itself is a k-row hash agg plus a 1-row broadcast total."""
    emb = _emb(spark, sf_dir)
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    assign = ivf_assign(emb, centroids)
    total = assign.agg(F.count(F.lit(1)).alias("n"))
    sizes = assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return sizes.crossJoin(F.broadcast(total)).select(
        "centroid_id",
        F.col("n_members").cast("bigint").alias("n_members"),
        rnd(F.col("n_members").cast("double") / F.col("n"), 6).alias(
            "member_share"
        ),
        (F.col("n_members") * (F.col("n_members") - 1) / 2)
        .cast("bigint").alias("pair_load"),
    )


@register("q_ann_ivf_reuse", oracle=_ANN_IVF_ORACLE)
def q_ann_ivf_reuse(spark, sf_dir):
    """IVF search through a PERSISTED index — the similarity-search
    twin of the gauss/bilinear LUT-reuse story: the centroid
    assignment + norms table is built ONCE and saved as an external
    table BUCKETED BY centroid_id (LutCache machinery); every later
    search session re-registers the bucketed table and probes it with
    a broadcast join that needs NO shuffle of the corpus side — the
    scan itself is already hash-partitioned on the cluster key, so a
    probe touches exactly its cluster's buckets.

    The oracle is IDENTICAL to q_ann_ivf's: a search through the
    persisted index must reproduce the fresh in-memory search
    cell-for-cell (embedding floats and precomputed norms round-trip
    parquet exactly). At 100 TB this is how ANN actually ships —
    index build is a batch job, searches are cheap scans."""
    from pyresample_spark.plans.lut import LutCache

    emb = _emb(spark, sf_dir)
    cache = LutCache(bucket_col="centroid_id")
    src_hash = lut_src_hash("ivf-index", sf_dir, "embeddings")

    def compute():
        centroids = emb.filter(F.col("vec_id") % 50 == 0)
        assign = ivf_assign(emb, centroids)
        embn = with_norm(emb).select("vec_id", "embedding", "vnorm")
        return embn.join(assign.hint("shuffle_hash"), "vec_id").select(
            "centroid_id", "vec_id", "embedding", "vnorm"
        )

    index = cache.get_or_compute(
        spark, src_hash, "ivf-mod50-centroids", 0.0, ("ivf_index", 1),
        compute,
    )
    probes = index.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pv"),
        F.col("vnorm").alias("pn"),
        "centroid_id",
    )
    cand = index.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != F.col("probe_id")
    )
    cos = dot(F.col("embedding"), F.col("pv")) / (
        F.col("vnorm") * F.col("pn")
    )
    ranked = topk_by_cosine(
        cand.withColumn("cos_raw", cos), 5, cos_col="cos_raw"
    )
    return ranked.select(
        "probe_id", "vec_id", rnd(F.col("cos_raw"), 6).alias("cos"), "rank"
    )


def _pq_codebook(emb, sf_dir: str):
    """Deterministic PQ codebook rows: vec_id % 50 == 0 below 2500 —
    BOUNDED at ≤50 entries at every scale factor (a real PQ codebook
    is fixed-size regardless of corpus) — returned as their literal
    columns (:func:`_cb_cols`).

    Memoized by ``plan_memo`` per (embeddings-file identity, ``emb``
    plan semantic hash), the columns built with the collect in one
    entry: the codebook is plan-time input consumed by every PQ
    builder, and without the memo each fresh builder paid a full
    Spark collect job (~1 s at sf0.1) to re-read the same ≤50 rows
    (VERDICT r7 item 3) plus the py4j literal round trips of its
    columns. The semantic hash keeps a caller passing a
    filtered/derived frame from being served the full-corpus codebook
    collected from a different frame."""

    def build():
        rows = emb.filter(
            (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500)
        ).select("vec_id", "embedding").collect()
        return _cb_cols(sorted(rows, key=lambda r: r.vec_id))

    ident = file_identity(os.path.join(sf_dir, "embeddings.parquet"))
    return plan_memo(
        ident and ("pq-codebook", ident, emb.semanticHash()), build
    )


def _cb_cols(rows):
    """The codebook bound as ONE nested-array literal column per
    subspace (``_cb{j}`` : array<array<double>>), for expressions that
    reference ``transform(_cb{j}, ...)``. Replaces the former inline
    SQL-text literals: the 62 KB expression string shrank to ~2 KB, so
    a fresh plan no longer pays ~1 s of SQL parsing for the codebook
    alone (VERDICT r7 item 3); values are the identical float64s, so
    every oracle is unchanged.

    ``F.lit`` on a nested list recurses into one py4j call per element
    — ~3.2k round trips ≈ 1 s — so the columns are built inside
    :func:`_pq_codebook`'s ``plan_memo`` entry: paid once per process
    and codebook file version, not once per plan. Columns are
    immutable expression wrappers, safe to reuse across DataFrames."""
    return [
        F.lit(
            [[float(x) for x in r.embedding[j * 8:(j + 1) * 8]] for r in rows]
        ).alias(f"_cb{j}")
        for j in range(8)
    ]


@register(
    "q_pq_encode",
    oracle="""
    WITH d AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv
      FROM d WHERE vec_id % 50 = 0 AND vec_id < 2500
    ),
    dist AS (
      SELECT d.vec_id, t.j, cb.ci,
             list_reduce(
               list_transform(range(1, 9), dd ->
                 (v[t.j * 8 + dd] - cv[t.j * 8 + dd])
                 * (v[t.j * 8 + dd] - cv[t.j * 8 + dd])),
               (a, b) -> a + b) AS dsq
      FROM d CROSS JOIN cb CROSS JOIN UNNEST(range(0, 8)) AS t(j)
    ),
    best AS (SELECT vec_id, j, MIN(dsq) AS mn FROM dist GROUP BY 1, 2),
    pick AS (
      SELECT di.vec_id, di.j, MIN(di.ci) AS ci, MIN(b.mn) AS mn
      FROM dist di
      JOIN best b ON di.vec_id = b.vec_id AND di.j = b.j AND di.dsq = b.mn
      GROUP BY 1, 2
    )
    SELECT vec_id,
           CAST(SUM(ci << (6 * CAST(j AS INT))) AS BIGINT) AS pq_code,
           ROUND(CAST(SUM(CAST(FLOOR(mn * 1000000000.0 + 0.5) AS BIGINT))
                      AS DOUBLE) / 64000000000.0, 6) + 0.0 AS mse
    FROM pick GROUP BY vec_id
    """,
)
def q_pq_encode(spark, sf_dir):
    """Product quantization encode (the FAISS-style 64× vector
    compression that makes 100 TB-scale ANN storable): the 64-dim
    embedding splits into 8 subspaces of 8 dims; each subspace is
    encoded as the index of its nearest codebook entry (deterministic
    data-derived codebook: vectors with vec_id % 50 == 0 below 2500 —
    BOUNDED at ≤50 entries at every scale factor, like a real PQ
    codebook is fixed-size regardless of corpus). Output per vector:
    the 8 codes packed into one bigint (6 bits each) and the
    reconstruction MSE (per-subspace min distances, integer-nano
    quantized before the order-insensitive sum).

    Scale shape: the codebook is collected ONCE (≤50×64 floats) and
    embedded as PLAN LITERALS — encoding is a pure in-row fold with
    ZERO shuffle and no join anywhere: the ideal 100 TB map-only
    plan (the Bloom-literal trick applied to vector quantization).
    Distances are evaluated once per subspace through a let-bound
    array (the bilinear let idiom) and reused by both the argmin and
    the MSE."""
    from pyresample_spark.functions.exprs import let_expr as _let

    emb = _emb(spark, sf_dir)
    cb = _pq_codebook(emb, sf_dir)

    def ds_expr(j):
        # embedding's float→double cast let-bound once per row (w.v)
        x = f"element_at(w.v, {j * 8} + d)"
        return (
            f"transform(_cb{j}, c -> aggregate(sequence(1, 8),"
            f" 0.0D, (a, d) -> a + ({x} - element_at(c, d))"
            f" * ({x} - element_at(c, d))))"
        )

    code = " + ".join(
        f"(array_position(q.d{j}, array_min(q.d{j})) - 1L) * {64 ** j}L"
        for j in range(8)
    )
    mse_nano = " + ".join(
        f"CAST(FLOOR(array_min(q.d{j}) * 1000000000.0D + 0.5D) AS BIGINT)"
        for j in range(8)
    )
    expr = _let(
        [("v", "transform(embedding, x -> CAST(x AS DOUBLE))")],
        "w",
        _let(
            [(f"d{j}", ds_expr(j)) for j in range(8)],
            "q",
            f"named_struct('code', {code}, 'mse_nano', {mse_nano})",
        ),
    )
    return emb.select("vec_id", "embedding", *cb).selectExpr(
        "vec_id", expr + " AS r"
    ).select(
        "vec_id",
        F.col("r.code").alias("pq_code"),
        rnd(
            F.col("r.mse_nano").cast("double") / 64000000000.0, 6
        ).alias("mse"),
    )


def _nano_top5(cand, group: str = "probe_id",
               id_col: str = "vec_id", nano_col: str = "nano"):
    """Packed integer top-5 per group: (nano ASC, id ASC) as ONE
    ascending bigint key through the hash-agg collect/sort/slice idiom
    (no window sort); range-guarded like every packed key."""
    pack = 1 << 20
    key = F.col(nano_col) * pack + F.col(id_col)
    g = cand.groupBy(group).agg(
        F.slice(F.array_sort(F.collect_list(key)), 1, 5).alias("ks"),
        F.min(id_col).alias("_id_lo"),
        F.max(id_col).alias("_id_hi"),
        F.max(nano_col).alias("_n_hi"),
    )
    ok = (
        (F.col("_id_lo") >= 0)
        & (F.col("_id_hi") < F.lit(pack))
        & (F.col("_n_hi") < F.lit((1 << 62) // pack))
    )
    guard = F.assert_true(ok, F.lit(
        "packed nano top-5: id or distance outside the packable range"
    ))
    return g.select(
        group, F.posexplode("ks").alias("rank0", "bk"), guard.alias("_g")
    ).select(
        group,
        F.when(F.col("_g").isNull(), F.col("bk") % pack).alias(id_col),
        F.expr(f"bk div {pack}").alias(nano_col),
        (F.col("rank0") + 1).cast("int").alias("rank"),
    )


_PQ_SEARCH_ORACLE = """
    WITH d AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv
      FROM d WHERE vec_id % 50 = 0 AND vec_id < 2500
    ),
    dist AS (
      SELECT d.vec_id, t.j, cb.ci,
             list_reduce(
               list_transform(range(1, 9), dd ->
                 (v[t.j * 8 + dd] - cv[t.j * 8 + dd])
                 * (v[t.j * 8 + dd] - cv[t.j * 8 + dd])),
               (a, b) -> a + b) AS dsq
      FROM d CROSS JOIN cb CROSS JOIN UNNEST(range(0, 8)) AS t(j)
    ),
    best AS (SELECT vec_id, j, MIN(dsq) AS mn FROM dist GROUP BY 1, 2),
    pick AS (
      SELECT di.vec_id, di.j, MIN(di.ci) AS ci
      FROM dist di
      JOIN best b ON di.vec_id = b.vec_id AND di.j = b.j AND di.dsq = b.mn
      GROUP BY 1, 2
    ),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM d
               WHERE vec_id % 100 = 0),
    adc AS (
      SELECT p.probe_id, pk.vec_id,
             CAST(SUM(CAST(FLOOR(
               list_reduce(
                 list_transform(range(1, 9), dd ->
                   (p.pv[pk.j * 8 + dd] - cb.cv[pk.j * 8 + dd])
                   * (p.pv[pk.j * 8 + dd] - cb.cv[pk.j * 8 + dd])),
                 (a, b) -> a + b) * 1000000000.0 + 0.5) AS BIGINT))
               AS BIGINT) AS nano
      FROM pick pk
      JOIN cb ON cb.ci = pk.ci
      CROSS JOIN probes p
      WHERE pk.vec_id != p.probe_id
      GROUP BY 1, 2
    )
    SELECT probe_id, vec_id,
           ROUND(CAST(nano AS DOUBLE) / 1000000000.0, 6) + 0.0 AS adc,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY nano ASC, vec_id ASC) AS rank
          FROM adc)
    WHERE rank <= 5
    """


def _pq_codes_df(emb, cb):
    """(vec_id, pq_code): the in-row zero-shuffle encode (q_pq_encode's
    code column only). The float→double cast of the embedding is
    let-bound ONCE per row (``w.v``) instead of re-evaluated inside
    every codebook-entry fold (50×8 element_at+cast per subspace →
    64 casts total; identical IEEE values, so the oracle is
    unchanged)."""
    from pyresample_spark.functions.exprs import let_expr as _let

    def ds_expr(j):
        x = f"element_at(w.v, {j * 8} + d)"
        return (
            f"transform(_cb{j}, c -> aggregate(sequence(1, 8),"
            f" 0.0D, (a, d) -> a + ({x} - element_at(c, d))"
            f" * ({x} - element_at(c, d))))"
        )

    code = " + ".join(
        f"(array_position(q.d{j}, array_min(q.d{j})) - 1L) * {64 ** j}L"
        for j in range(8)
    )
    enc_expr = _let(
        [("v", "transform(embedding, x -> CAST(x AS DOUBLE))")],
        "w",
        _let([(f"d{j}", ds_expr(j)) for j in range(8)], "q", f"({code})"),
    )
    return emb.select("vec_id", "embedding", *cb).selectExpr(
        "vec_id", enc_expr + " AS pq_code"
    )


def _adc_lut_exprs():
    """Per-probe ADC lookup tables (one string per subspace): the
    integer-nano distance from the probe's chunk (``pv``) to EVERY
    codebook entry, as ``lut{j}`` array<bigint> columns — the textbook
    ADC structure, built ONCE per probe on the broadcast side. Shared
    by the brute and IVF-pruned searches so the quantization idiom
    can never desynchronize between them. The codebook arrives as the
    ``_cb{j}`` literal columns (:func:`_cb_cols`) — bind them on the
    probe frame before this selectExpr."""
    px = lambda j: f"CAST(element_at(pv, {j * 8} + d) AS DOUBLE)"  # noqa: E731
    return [
        f"transform(_cb{j}, c -> "
        f"CAST(FLOOR(aggregate(sequence(1, 8), 0.0D, (a, d) -> a"
        f" + ({px(j)} - element_at(c, d))"
        f" * ({px(j)} - element_at(c, d))) * 1000000000.0D"
        f" + 0.5D) AS BIGINT)) AS lut{j}"
        for j in range(8)
    ]


def _adc_nano_expr() -> str:
    """Candidate score: 8 LUT lookups indexed by the candidate's
    6-bit codes, summed — the pair-side half of the ADC split."""
    return " + ".join(
        f"element_at(lut{j}, CAST((pq_code div {64 ** j}L) % 64 AS INT) + 1)"
        for j in range(8)
    )


def _pq_adc_topk(enc, emb, cb):
    """Probe-side ADC scoring + packed top-5 over a (vec_id, pq_code)
    corpus table — shared by the fused and persisted-code searches.

    Textbook ADC lookup table (round 7): per-pair compute is 8 array
    lookups instead of 8×8-dim distance folds (~64× less); the nano
    value per (probe, code) is the SAME expression evaluated once
    instead of per pair, so the result is bit-identical and the DuckDB
    oracle is unchanged."""
    probes = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pv"),
        *cb,
    ).selectExpr("probe_id", *_adc_lut_exprs())
    pairs = enc.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    )
    cand = pairs.selectExpr(
        "probe_id", "vec_id", f"({_adc_nano_expr()}) AS nano"
    )
    return _nano_top5(cand).select(
        "probe_id", "vec_id",
        rnd(F.col("nano").cast("double") / 1000000000.0, 6).alias("adc"),
        "rank",
    )


@register("q_pq_search", oracle=_PQ_SEARCH_ORACLE)
def q_pq_search(spark, sf_dir):
    """Asymmetric-distance PQ search (the payoff of q_pq_encode): the
    corpus side of the search carries ONLY (vec_id, pq_code) — 16
    bytes a row instead of the 260-byte embedding — and each probe
    scores a candidate by summing per-subspace distances between its
    own chunks and the codebook entry the candidate's 6-bit code
    selects (codebook = plan literals, so no codebook join either).
    Per-subspace distances are integer-nano quantized before the sum
    so the ranking key is a pure BIGINT; top-5 per probe via the
    packed-key hash aggregate (no window sort).

    Scale shape: encode and search fuse into one scan — the corpus is
    read once, encoded in-row, joined to the broadcast probe set, and
    reduced map-side; the ONLY exchange is the per-probe top-k
    aggregation over packed bigints (measured: 20 records / 0.32 MB at
    sf0.1, tools/scale_probe_pq.py). This is the 100 TB ANN topology:
    codes in memory, vectors cold. The encode-once production variant
    is q_pq_search_reuse."""
    emb = _emb(spark, sf_dir)
    cb = _pq_codebook(emb, sf_dir)
    return _pq_adc_topk(_pq_codes_df(emb, cb), emb, cb)


@register("q_pq_search_reuse", oracle=_PQ_SEARCH_ORACLE)
def q_pq_search_reuse(spark, sf_dir):
    """PQ search over PERSISTED codes — how PQ actually ships: encode
    is a one-time batch job (the 64× compression pass over the cold
    corpus), searches scan the 16-byte (vec_id, pq_code) table. The
    codes table is cached through LutCache keyed by the embeddings
    file identity (the q_ann_ivf_reuse pattern); a search session that
    finds the cache warm never reads an embedding for the corpus side
    — only the (tiny) probe set. The oracle is IDENTICAL to
    q_pq_search's: codes are integers, so persistence must be exact."""
    from pyresample_spark.plans.lut import LutCache

    emb = _emb(spark, sf_dir)
    cb = _pq_codebook(emb, sf_dir)
    cache = LutCache(bucket_col="vec_id")
    src_hash = lut_src_hash("pq-codes", sf_dir, "embeddings")
    enc = cache.get_or_compute(
        spark, src_hash, "pq-mod50-codebook", 0.0, ("pq_codes", 1),
        lambda: _pq_codes_df(emb, cb),
    )
    return _pq_adc_topk(enc, emb, cb)


@register(
    "q_pq_recall",
    oracle="""
    WITH d AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv
      FROM d WHERE vec_id % 50 = 0 AND vec_id < 2500
    ),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM d
               WHERE vec_id % 100 = 0),
    exact_nano AS (
      SELECT p.probe_id, c.vec_id,
             CAST(SUM(CAST(FLOOR(
               list_reduce(
                 list_transform(range(1, 9), dd ->
                   (p.pv[t.j * 8 + dd] - c.v[t.j * 8 + dd])
                   * (p.pv[t.j * 8 + dd] - c.v[t.j * 8 + dd])),
                 (a, b) -> a + b) * 1000000000.0 + 0.5) AS BIGINT))
               AS BIGINT) AS nano
      FROM d c CROSS JOIN probes p CROSS JOIN UNNEST(range(0, 8)) AS t(j)
      WHERE c.vec_id != p.probe_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT probe_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY probe_id ORDER BY nano ASC, vec_id ASC) AS rank
        FROM exact_nano) WHERE rank <= 5
    ),
    dist AS (
      SELECT d.vec_id, t.j, cb.ci,
             list_reduce(
               list_transform(range(1, 9), dd ->
                 (v[t.j * 8 + dd] - cv[t.j * 8 + dd])
                 * (v[t.j * 8 + dd] - cv[t.j * 8 + dd])),
               (a, b) -> a + b) AS dsq
      FROM d CROSS JOIN cb CROSS JOIN UNNEST(range(0, 8)) AS t(j)
    ),
    best AS (SELECT vec_id, j, MIN(dsq) AS mn FROM dist GROUP BY 1, 2),
    pick AS (
      SELECT di.vec_id, di.j, MIN(di.ci) AS ci
      FROM dist di
      JOIN best b ON di.vec_id = b.vec_id AND di.j = b.j AND di.dsq = b.mn
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT p.probe_id, pk.vec_id,
             CAST(SUM(CAST(FLOOR(
               list_reduce(
                 list_transform(range(1, 9), dd ->
                   (p.pv[pk.j * 8 + dd] - cb.cv[pk.j * 8 + dd])
                   * (p.pv[pk.j * 8 + dd] - cb.cv[pk.j * 8 + dd])),
                 (a, b) -> a + b) * 1000000000.0 + 0.5) AS BIGINT))
               AS BIGINT) AS nano
      FROM pick pk JOIN cb ON cb.ci = pk.ci CROSS JOIN probes p
      WHERE pk.vec_id != p.probe_id
      GROUP BY 1, 2
    ),
    approx AS (
      SELECT probe_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY probe_id ORDER BY nano ASC, vec_id ASC) AS rank
        FROM adc) WHERE rank <= 5
    )
    SELECT e.probe_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
           (ROUND(COUNT(a.vec_id) / (1.0 * COUNT(*)), 6) + 0.0) AS recall
    FROM exact e
    LEFT JOIN approx a USING (probe_id, vec_id)
    GROUP BY e.probe_id
    """,
)
def q_pq_recall(spark, sf_dir):
    """Recall@5 of PQ-ADC search against the exact L2 scorer, per
    probe — the quantization-quality diagnostic that gates any
    codebook-size/subspace change (the PQ analog of q_ann_recall).
    The exact side uses the same per-subspace integer-nano
    quantization as the ADC side so the two rankings differ only by
    the quantization error being measured. The recall join touches
    2·k rows per probe."""
    emb = _emb(spark, sf_dir)
    cb = _pq_codebook(emb, sf_dir)
    probes = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
    )

    # exact: true chunk distances (candidate's own embedding)
    px = lambda j: f"CAST(element_at(pv, {j * 8} + d) AS DOUBLE)"  # noqa: E731
    cx = lambda j: (  # noqa: E731
        f"CAST(element_at(embedding, {j * 8} + d) AS DOUBLE)"
    )
    exact_nano = " + ".join(
        f"CAST(FLOOR(aggregate(sequence(1, 8), 0.0D, (a, d) -> a"
        f" + ({px(j)} - {cx(j)}) * ({px(j)} - {cx(j)}))"
        f" * 1000000000.0D + 0.5D) AS BIGINT)"
        for j in range(8)
    )
    exact_pairs = emb.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    ).selectExpr("probe_id", "vec_id", f"({exact_nano}) AS nano")
    exact = _nano_top5(exact_pairs).select("probe_id", "vec_id")

    # approx: the q_pq_search ADC pipeline, verbatim (shared helpers —
    # encode with the let-bound cast, per-probe ADC lookup tables)
    approx = _pq_adc_topk(_pq_codes_df(emb, cb), emb, cb).select(
        "probe_id", F.col("vec_id").alias("a_vec")
    )
    return (
        exact.join(
            F.broadcast(approx),  # 5 rows per probe — always tiny
            (exact["probe_id"] == approx["probe_id"])
            & (exact["vec_id"] == approx["a_vec"]),
            "left",
        )
        .groupBy(exact["probe_id"].alias("probe_id"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("a_vec").alias("n_hit"),
            rnd(F.count("a_vec") / (1.0 * F.count(F.lit(1))), 6).alias(
                "recall"
            ),
        )
    )


@register(
    "q_mrl_recall",
    oracle=f"""
    WITH d AS ({_VD_SQL}),
    d16 AS (
      SELECT vec_id, v[1:16] AS v,
             sqrt(list_dot_product(v[1:16], v[1:16])) AS vn
      FROM d
    ),
    probes AS (SELECT vec_id AS probe_id, v AS pv, vn AS pn FROM d
               WHERE vec_id % 100 = 0),
    probes16 AS (SELECT vec_id AS probe_id, v AS pv, vn AS pn FROM d16
                 WHERE vec_id % 100 = 0),
    exact AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, c.vec_id,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY ROUND(list_dot_product(c.v, p.pv)
                                / (c.vn * p.pn), 9) DESC,
                          c.vec_id ASC) AS rank
        FROM d c CROSS JOIN probes p
        WHERE c.vec_id != p.probe_id
      ) WHERE rank <= 5
    ),
    approx AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, c.vec_id,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY ROUND(list_dot_product(c.v, p.pv)
                                / (c.vn * p.pn), 9) DESC,
                          c.vec_id ASC) AS rank
        FROM d16 c CROSS JOIN probes16 p
        WHERE c.vec_id != p.probe_id
      ) WHERE rank <= 5
    )
    SELECT e.probe_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
           (ROUND(COUNT(a.vec_id) / (1.0 * COUNT(*)), 6) + 0.0) AS recall
    FROM exact e
    LEFT JOIN approx a USING (probe_id, vec_id)
    GROUP BY e.probe_id
    """,
)
def q_mrl_recall(spark, sf_dir):
    """Matryoshka-truncation recall — the third leg of the embedding
    storage/compute-reduction trio (int8 q_embed_quantize, PQ
    q_pq_encode/search): recall@5 when search uses only the FIRST 16
    of 64 dimensions (4× cheaper dot products and storage, the MRL
    deployment pattern) against the full-dimension exact ranking.
    Both passes reuse the verified cosine_topk machinery — the
    truncated corpus is just a sliced-embedding view.

    Scale shape: two broadcast-probe brute-force scans (the exact
    baseline's own cost model) and a 2·k-row-per-probe recall join;
    the truncated pass's dot products cost 1/4 of the full pass."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(emb, probes, k=5).select("probe_id", "vec_id")
    emb16 = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    probes16 = emb16.filter(F.col("vec_id") % 100 == 0)
    approx = cosine_topk(emb16, probes16, k=5).select(
        "probe_id", F.col("vec_id").alias("a_vec")
    )
    return (
        exact.join(
            F.broadcast(approx),  # 5 rows per probe — always tiny
            (exact["probe_id"] == approx["probe_id"])
            & (exact["vec_id"] == approx["a_vec"]),
            "left",
        )
        .groupBy(exact["probe_id"].alias("probe_id"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("a_vec").alias("n_hit"),
            rnd(F.count("a_vec") / (1.0 * F.count(F.lit(1))), 6).alias(
                "recall"
            ),
        )
    )


_IVF_PQ_ORACLE = f"""
    WITH d AS ({_VD_SQL}),
    cen AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cvn
            FROM d WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT d.vec_id, cen.centroid_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND(list_dot_product(d.v, cen.cv)
                                / (d.vn * cen.cvn), 9) DESC,
                          cen.centroid_id ASC) AS rn
        FROM d CROSS JOIN cen
      ) WHERE rn = 1
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv
      FROM d WHERE vec_id % 50 = 0 AND vec_id < 2500
    ),
    dist AS (
      SELECT d.vec_id, t.j, cb.ci,
             list_reduce(
               list_transform(range(1, 9), dd ->
                 (v[t.j * 8 + dd] - cv[t.j * 8 + dd])
                 * (v[t.j * 8 + dd] - cv[t.j * 8 + dd])),
               (a, b) -> a + b) AS dsq
      FROM d CROSS JOIN cb CROSS JOIN UNNEST(range(0, 8)) AS t(j)
    ),
    best AS (SELECT vec_id, j, MIN(dsq) AS mn FROM dist GROUP BY 1, 2),
    pick AS (
      SELECT di.vec_id, di.j, MIN(di.ci) AS ci
      FROM dist di
      JOIN best b ON di.vec_id = b.vec_id AND di.j = b.j AND di.dsq = b.mn
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT d.vec_id AS probe_id, d.v AS pv, a.centroid_id
      FROM d JOIN assign a ON d.vec_id = a.vec_id
      WHERE d.vec_id % 100 = 0
    ),
    adc AS (
      SELECT p.probe_id, pk.vec_id,
             CAST(SUM(CAST(FLOOR(
               list_reduce(
                 list_transform(range(1, 9), dd ->
                   (p.pv[pk.j * 8 + dd] - cb.cv[pk.j * 8 + dd])
                   * (p.pv[pk.j * 8 + dd] - cb.cv[pk.j * 8 + dd])),
                 (a, b) -> a + b) * 1000000000.0 + 0.5) AS BIGINT))
               AS BIGINT) AS nano
      FROM pick pk
      JOIN assign a ON a.vec_id = pk.vec_id
      JOIN probes p ON p.centroid_id = a.centroid_id
      JOIN cb ON cb.ci = pk.ci
      WHERE pk.vec_id != p.probe_id
      GROUP BY 1, 2
    )
    SELECT probe_id, vec_id,
           ROUND(CAST(nano AS DOUBLE) / 1000000000.0, 6) + 0.0 AS adc,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY nano ASC, vec_id ASC) AS rank
          FROM adc)
    WHERE rank <= 5
    """


@register("q_ivf_pq_search", oracle=_IVF_PQ_ORACLE)
def q_ivf_pq_search(spark, sf_dir):
    """IVF-PQ (FAISS IVFADC) — the composition that actually runs at
    100 TB: brute-force ADC is O(corpus × probes) no matter how cheap
    the per-pair lookup is, so candidates are FIRST pruned to the
    probe's IVF cluster (a hash equi-join on centroid_id — candidate
    volume drops by ~the centroid count) and only then scored by the
    per-probe ADC lookup table over 16-byte (id, code) rows. Every
    stage reuses an already-oracled piece: ivf_assign's packed-argmax
    hash agg, q_pq_encode's literal-codebook in-row codes, the ADC
    LUT, the packed-key top-5. The shuffle carries assignments and
    codes — ints, never vectors.

    The (centroid_id, vec_id, pq_code) index is built once and cached
    through LutCache BUCKETED BY centroid_id (the index build — one
    corpus × centroids assignment pass + the in-row encode — is the
    batch job; searches are cheap scans of the already-partitioned
    17-byte rows)."""
    from pyresample_spark.operators.similarity import ivf_assign
    from pyresample_spark.plans.lut import LutCache

    emb = _emb(spark, sf_dir)
    cb = _pq_codebook(emb, sf_dir)
    cache = LutCache(bucket_col="centroid_id")
    src_hash = lut_src_hash("ivfpq-index", sf_dir, "embeddings")

    def build_index():
        centroids = emb.filter(F.col("vec_id") % 50 == 0)
        assign = ivf_assign(emb, centroids)
        return _pq_codes_df(emb, cb).join(
            assign.hint("shuffle_hash"), "vec_id"
        ).select("centroid_id", "vec_id", "pq_code")

    corpus = cache.get_or_compute(
        spark, src_hash, "ivfpq-mod50", 0.0, ("ivfpq_index", 1),
        build_index,
    )
    # the probe side still needs its own centroid: assignments ride
    # the cached index (probes are corpus vectors), no recompute
    assign = corpus.select("vec_id", "centroid_id")
    probes = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .join(assign, "vec_id")
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pv"),
            "centroid_id",
            *cb,
        )
        .selectExpr("probe_id", "centroid_id", *_adc_lut_exprs())
    )
    cand = corpus.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != F.col("probe_id")
    )
    c = cand.selectExpr(
        "probe_id", "vec_id", f"({_adc_nano_expr()}) AS nano"
    )
    return _nano_top5(c).select(
        "probe_id", "vec_id",
        rnd(F.col("nano").cast("double") / 1000000000.0, 6).alias("adc"),
        "rank",
    )
