"""Explain-plan audit: dump formatted physical plans for the headline
queries and grep them for the scale-critical properties (SURVEY.md §4):

- ReadSchema column pruning (scan reads only referenced columns)
- PushedFilters reaching the parquet scan where a filter exists
- WholeStageCodegen coverage (expressions stay JVM-side)
- broadcast vs shuffle join choices
- partial (map-side) aggregation before every exchange
- no more transcendental calls in the optimized plan than in the
  analyzed plan (pushdown re-inlining projection math into filters)
- Python stages per query: each pays a fixed cost per task on top of
  its work (PERF.md "Python-stage fixed cost")

Writes EXPLAINS.md at the repo root. Run: python tools/explain_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "q_scan_lineitem",
    "q_bucket_avg",
    "q_knn_join",
    "q_gauss_agg",
    "q_weighted_avg",
    "q_bilinear_regular",
    "q_events_tumbling",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_cosine_topk",
    "q_ann_ivf",
    "q_ewa_ellipse",
    "q_hash_split",
    "q_domain_quota",
    "q_kmeans_iter",
    "q_hard_negatives",
    "q_curation_pipeline",
    # round 4 additions
    "q_proj_aea",
    "q_proj_moll",
    "q_proj_robin",
    "q_regrid_aea",
    "q_regrid_moll",
    "q_regrid_robin",
    "q_regrid_eqdc",
    "q_gauss_lut_reuse",
    "q_resample_nearest_keyed",
    "q_sessionize_gap",
    "q_quantile_bin",
    "q_ngram_lm_ppl",
    "q_dedup_span_mask",
    "q_near_dup_rank",
    "q_proj_stere_oblique",
    "q_regrid_stere_oblique",
    "q_vincenty",
    "q_minhash_jaccard_est",
    # round 5 additions
    "q_bilinear_lut_reuse",
    "q_ppm_decode",
    "q_wav_decode",
    "q_proj_omerc",
    "q_regrid_omerc_exact",
    "q_pivot",
    "q_grouping_sets",
    "q_ppm_video",
    "q_bloom_filter",
    "q_proj_aeqd",
    "q_regrid_aeqd",
    "q_proj_gnom",
    "q_regrid_gnom",
    "q_edit_distance_rank",
    "q_embed_covariance",
    "q_bloom_decontaminate",
    "q_proj_stere_ell",
    "q_regrid_stere_ell",
    "q_regrid_stere_wgs84",
    "q_regrid_geos_ell",
    # round 6 additions
    "q_bilinear_irregular",
    "q_regrid_ups",
    "q_regrid_bessel",
    "q_contamination_frac",
    "q_semdedup",
    "q_line_dedup",
    "q_cluster_balance",
    "q_gopher_rules",
    "q_ann_ivf_reuse",
    "q_pq_encode",
    "q_pq_search",
    "q_pq_recall",
    "q_proj_abi",
    "q_regrid_abi",
    "q_doc_chunk",
    "q_data_card",
    "q_quality_logreg",
    "q_tile_assign",
    "q_zorder_key",
    "q_tile_pyramid",
    "q_minhash_band_tuning",
    "q_mrl_recall",
    # round 7 additions
    "q_gradient_walk",
    "q_ewa_multiband",
    "q_approx_distinct",
    "q_proj_udf",
    "q_raster_ingest",
    "q_geotiff_ingest",
    "q_pq_search_reuse",
    "q_ivf_pq_search",
    "q_gauss_multi_sigma",
    "q_gradient_lut_reuse",
    "q_dedup_incremental",
    # round 8 additions
    "q_knn_approx",
    "q_knn_approx_recall",
    "q_hdf5_ingest",
    # round 13 additions
    "q_regrid_nad27",
    "q_regrid_to_nad27",
    "q_jpeg_ingest",
    "q_regrid_ntv2_multigrid",
    "q_regrid_nad27_localdatum",
]

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Transcendental calls as Catalyst prints them (Sin -> SIN(...),
# Pow -> POWER(...)); case-insensitive because a function alias may
# print in lower case.
TRANSCENDENTAL = re.compile(
    r"\b(?:A?SINH?|A?COSH?|A?TANH?|ATAN2|COT|SEC|CSC|SQRT|CBRT|EXPM1|EXP"
    r"|LN|LOG10|LOG2|LOG1P|LOG|POWER|POW|HYPOT)\(",
    re.IGNORECASE,
)


def transcendental_counts(df) -> tuple[int, int]:
    """(analyzed, optimized) number of transcendental calls in ``df``'s
    logical plans; builds the plans without executing them. Catalyst's
    filter pushdown copies projected expressions into pushed and
    inferred filters with no cost guard, so optimized > analyzed means
    per-row math now runs more than once per row."""
    qe = df._jdf.queryExecution()

    def count(plan):
        # verbose tree with no field cap: toString() elides operator
        # field lists past spark.sql.debug.maxToStringFields
        text = plan.treeString(True, False, 2**31 - 1, False, False)
        return len(TRANSCENDENTAL.findall(text))

    return count(qe.analyzed()), count(qe.optimizedPlan())


# Python operator nodes, as formatted plans head their detail sections
# (`(N) MapInPandas`); each runs its tasks in Python workers.
PYTHON_NODE = re.compile(
    r"^\(\d+\) (?:MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython"
    r"|FlatMapGroupsInPandas)\b",
    re.MULTILINE,
)


def python_stages(plan: str) -> int:
    """Number of Python operator nodes in a formatted plan."""
    return len(PYTHON_NODE.findall(plan))


def growth_notes(df) -> list[str]:
    analyzed, optimized = transcendental_counts(df)
    if optimized > analyzed:
        return [
            f"!! {optimized} transcendental calls in the optimized plan "
            f"vs {analyzed} analyzed (filter pushdown re-inlined "
            "projection math; see functions/exprs.py generate_barrier)"
        ]
    return []


def audit_plan(name: str, plan: str) -> list[str]:
    notes = []
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    for s in scans:
        ncols = len([c for c in s.split(",") if c.strip()])
        notes.append(f"scan reads {ncols} column(s): `{s[:90]}`")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    for p in pushed:
        if p.strip():
            notes.append(f"pushed filters: `{p[:120]}`")
    # formatted mode: codegen ids annotate nodes as `[codegen id : N]`,
    # Exchange nodes appear as numbered detail sections `(N) Exchange`
    # with the partitioning on their Arguments line, and partial aggs
    # show as `partial_<fn>` in HashAggregate Functions lines
    n_codegen = len(set(re.findall(r"codegen id : (\d+)", plan)))
    if n_codegen:
        notes.append(f"{n_codegen} whole-stage codegen span(s)")
    elif "AdaptiveSparkPlan" in plan:
        # AQE's pre-execution formatted plan carries no codegen ids;
        # absence here is not absence of codegen
        notes.append("codegen ids elided by pre-execution AQE plan")
    # every partitioning shuffles: hash, range, round-robin (a
    # repartition(n)) and single
    n_exch = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.MULTILINE))
    notes.append(f"{n_exch} shuffle exchange(s)")
    if "BroadcastHashJoin" in plan:
        notes.append("broadcast hash join present")
    if "ShuffledHashJoin" in plan:
        notes.append("shuffled hash join present (no sort of either side)")
    if "SortMergeJoin" in plan:
        notes.append("!! SortMergeJoin present (check: is a sort needed?)")
    partial = plan.count("partial_")
    if partial:
        notes.append(
            f"{partial} partial (map-side) aggregation function(s)"
        )
    if "SortAggregate" in plan:
        notes.append("!! SortAggregate present (hash agg preferred)")
    rowudf = plan.count("BatchEvalPython")
    if rowudf:
        notes.append(f"!! {rowudf} row-at-a-time Python UDF node(s)")
    n_python = python_stages(plan)
    if n_python:
        notes.append(f"{n_python} Python stage(s)")
    return notes


def main():
    from pyresample_spark.queries import load_all
    from pyresample_spark.session import get_spark

    registry = load_all()
    spark = get_spark("explain-audit")

    out = [
        "# EXPLAINS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/explain_audit.py` at sf dir `{SF}`.",
        "Flags: `!!` marks a property to justify or fix.",
        "",
    ]
    for name in HEADLINE:
        df = registry[name].builder(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}")
        out.append("")
        for n in audit_plan(name, plan) + growth_notes(df):
            out.append(f"- {n}")
        out.append("")
        out.append("<details><summary>formatted plan</summary>")
        out.append("")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("")
        out.append("</details>")
        out.append("")
    # planner-auto-salted cell kNN (VERDICT r5 item 2): not a registry
    # query, but the skew decision's physical plan belongs in the audit
    # — the salt must appear as an extra equi-join key (build side
    # pmod, probe side explode over sequence(0, salt-1)), NOT as a new
    # shuffle stage.
    from pyspark.sql import functions as F

    from pyresample_spark.geometry import AreaDefinition
    from pyresample_spark.plans.planner import Resampler

    hot = spark.range(200_000).select(
        F.col("id").alias("src_id"),
        (10.0 + (F.col("id") % 10) * 1e-6).alias("lon"),
        F.lit(50.0).alias("lat"),
    )
    probe = spark.range(64).select(
        F.col("id").alias("tgt_id"),
        (10.0 + F.col("id") * 1e-5).alias("lon"),
        F.lit(50.0).alias("lat"),
    )
    r = Resampler(spark, "hot-swath-audit", AreaDefinition(
        "o", "stere", 10, 10, (0.0, 0.0, 1.0, 1.0)))
    from pyresample_spark.operators.knn import knn_join

    salt = r._choose_salt(hot, 50_000.0, hot_cell_rows=50_000)
    salted = knn_join(hot, probe, 50_000.0, k=1, salt_factor=salt)
    plan = salted._sc._jvm.PythonSQLUtils.explainString(
        salted._jdf.queryExecution(), "formatted"
    )
    out.append("## planner-auto-salted cell kNN (one-cell hot source)")
    out.append("")
    out.append(
        f"- `choose_salt_factor` picked salt={salt} for a 200k-row "
        "one-cell source (hot_cell_rows=50k for the audit fixture)"
    )
    for n in audit_plan("salted_knn", plan) + growth_notes(salted):
        out.append(f"- {n}")
    out.append("")
    out.append("<details><summary>formatted plan</summary>")
    out.append("")
    out.append("```")
    out.append(plan.strip())
    out.append("```")
    out.append("")
    out.append("</details>")
    out.append("")

    # Full-registry flag sweep (VERDICT r8 item 7 / r9 item 5): every
    # registered query's formatted plan is audited; the curated
    # sections above keep full plan dumps, the sweep records the flag
    # count for ALL queries so no plan escapes the audit.
    out.append("## Full-registry flag sweep")
    out.append("")
    out.append(
        "Every query in the registry, audited with the same patterns; "
        "`!!` notes listed inline, clean queries only counted."
    )
    out.append("")
    flagged, clean, python = [], [], []
    for name, spec in registry.items():
        df = spec.builder(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        flags = [n for n in audit_plan(name, plan) + growth_notes(df)
                 if n.startswith("!!")]
        if flags:
            flagged.append((name, flags))
        else:
            clean.append(name)
        n_python = python_stages(plan)
        if n_python:
            python.append((name, n_python))
        print(name, "OK" if not flags else f"FLAGS: {flags}",
              f"python_stages={n_python}", flush=True)
    out.append(
        f"- **{len(registry)} queries audited: "
        f"{len(flagged)} flagged, {len(clean)} clean.**"
    )
    for name, flags in flagged:
        for fl in flags:
            out.append(f"- `{name}`: {fl}")
    out.append("")
    out.append(
        f"Queries with Python stages ({len(python)}; each pays the "
        "per-task fixed cost of PERF.md \"Python-stage fixed cost\"): "
        + ", ".join(f"`{name}` ({n})" for name, n in python)
    )
    out.append("")

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "EXPLAINS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    print(f"sweep: {len(registry)} audited, {len(flagged)} flagged, "
          f"{len(python)} with Python stages")


if __name__ == "__main__":
    main()
