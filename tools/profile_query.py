"""Per-stage CPU/row attribution and a plan summary for one or more
registry queries.

Runs each named query N times (first runs warm codegen/JIT and one-time
index builds; the LAST run is attributed). The attributed run, its
builder included, runs in its own job group, and
``perfbench/tracing.py SparkRest`` reads that group's stages. Prints,
per query:

- wall, stage cpu, task run time and shuffle write/read records and
  bytes summed over the run's completed stages;
- the plan summary of ``tools/explain_audit.py audit_plan`` (shuffle
  exchange count, join kinds, scans) for the formatted plan that ran;
- per stage: executorRunTime, executorCpuTime, task count, input
  records, shuffle read/write records.

Usage: python tools/profile_query.py q_knn_join [q_gauss_agg ...]
  (SPARK_GRAFT_SF_DIR picks the data; SPARK_GRAFT_PROFILE_REPS, default 2)

Reproduces the retired probes: ``q_regrid_ntv2_national q_regrid_nad27
q_geoid_height q_regrid_vdatum`` (grid-shift shuffle volume),
``q_pq_search q_ann_ivf_reuse`` (ANN shuffle volume) and
``q_bilinear_irregular`` (bilinear stage attribution).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

UI_PORT = int(os.environ.get("SPARK_GRAFT_PROFILE_UI_PORT", "4053"))


def main():
    names = sys.argv[1:]
    reps = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "2"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from explain_audit import audit_plan
    from perfbench.tracing import SparkRest, stage_totals
    from pyresample_spark.queries import load_all
    from pyresample_spark.session import get_spark

    registry = load_all()
    spark = get_spark("profile_query", ui_port=UI_PORT)
    spark.range(10).count()
    sc = spark.sparkContext
    rest = SparkRest(sc)

    for name in names:
        spec = registry[name]
        for _ in range(reps - 1):
            spec.builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        gid = f"profile:{name}"
        sc.setJobGroup(gid, name)
        t0 = time.time()
        df = spec.builder(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        stages = [st for st in rest.group(gid)["stages"]
                  if st["status"] == "COMPLETE"]
        plan = sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        stages.sort(key=lambda st: -st.get("executorCpuTime", 0))
        tot = stage_totals(stages)
        run_s = sum(st.get("executorRunTime", 0) for st in stages) / 1e3
        read_rec = sum(st.get("shuffleReadRecords", 0) for st in stages)
        read_mb = sum(st.get("shuffleReadBytes", 0) for st in stages) / 1e6
        print(f"\n=== {name}: wall {wall:.2f}s, stage-cpu "
              f"{tot['cpu_s']:.2f}s, task-run {run_s:.2f}s, "
              f"{len(stages)} stages ===")
        print(f"shuffle write {tot['shuffle_write_records']} rec / "
              f"{tot['shuffle_write_mb']:.3f} MB, shuffle read "
              f"{read_rec} rec / {read_mb:.3f} MB")
        for note in audit_plan(name, plan):
            print(f"- {note}")
        print(f"{'stage':>6} {'cpu_s':>8} {'run_s':>8} {'tasks':>5} "
              f"{'in_rec':>10} {'sh_r_rec':>10} {'sh_w_rec':>10}  name")
        for st in stages:
            print(
                f"{st['stageId']:>6} "
                f"{st.get('executorCpuTime', 0) / 1e9:>8.3f} "
                f"{st.get('executorRunTime', 0) / 1e3:>8.3f} "
                f"{st.get('numCompleteTasks', 0):>5} "
                f"{st.get('inputRecords', 0):>10} "
                f"{st.get('shuffleReadRecords', 0):>10} "
                f"{st.get('shuffleWriteRecords', 0):>10}  "
                f"{(st.get('name') or '')[:60]}"
            )


if __name__ == "__main__":
    main()
