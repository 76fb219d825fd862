"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Each query is fully materialized via the noop sink (no driver collect,
no pandas conversion — measures the Spark plan only).

Per-query time is the MEDIAN of $SPARK_GRAFT_BENCH_REPS runs
(default 3) so round-over-round comparisons reflect plan changes, not
machine-load noise (VERDICT r1 "What's wrong" #3). The JSON line also
carries min/max totals and the 1-minute load average as context.

Quiet-machine gate (VERDICT r4 item 4): a rep whose starting load1
exceeds $SPARK_GRAFT_BENCH_MAX_LOAD1 (default 2.0, excluding this
process's own just-finished work via a settle sleep) is retried up to
twice after a backoff; if the machine never quiets, the rep runs anyway
and its starting load1 is recorded in `rep_load1` so the judge can see
which numbers absorbed external noise instead of re-deriving it.

Mid-run noise repair (VERDICT r10 item 5): when the median rep total
sits >25% above the best rep — i.e. external load poisoned the median
itself, the BENCH_r10 failure shape — up to
$SPARK_GRAFT_BENCH_EXTRA_REPS (default 2) extra reps run so quiet reps
reclaim the median; `extra_reps` in the JSON records how many fired.

Load-invariant floor (VERDICT r13 item 2): wall-clock on a shared host
lost resolution as a regression detector (best-rep floor drifted
7.86→10.00 across sessions on byte-identical plans). The JSON now also
carries per-query `cpu` — the median across reps of the task CPU
seconds the plan actually burned, summed over the query's stages — plus
`comparable12_cpu` / `comparable12_cpu_best`. CPU time is what the plan
costs regardless of who else is on the box, so THOSE are the
round-over-round anchors.

Each timed query runs in its own job group; after it, outside the timed
window, `perfbench/tracing.py SparkRest` reads that group's stages and
`stage_totals` sums their cpu, GC and shuffle-write records. `cpus` is
the session's core count: never compare numbers across boxes without it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_scan_lineitem",
    "q_bucket_avg",
    "q_knn_join",
    "q_gauss_agg",
    "q_weighted_avg",
    "q_bilinear_regular",
    "q_events_tumbling",
    "q_events_session",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_cosine_topk",
    "q_text_stats",
    # VERDICT r5 item 7: the two most expensive newer families, so the
    # driver bench tracks the plans that matter at scale
    "q_bilinear_irregular",
    "q_dedup_span_mask",
    # VERDICT r6 item 6: ANN-stack representatives — the fused PQ/ADC
    # search (worst case: encode inline + brute ADC) and the IVF-PQ
    # composition over the cached bucketed index (the production path).
    "q_pq_search",
    "q_ivf_pq_search",
    # VERDICT r8/r9 item: the native HDF5 decode path (666 new lines
    # across r8+r9) and the shift2 approximate-kNN tier need
    # round-over-round cost tracking like every other headline plan.
    "q_hdf5_ingest",
    "q_knn_approx",
    # round 15: the szip (CCSDS Rice) decode — the one deliberate
    # sequential-python cost center on the ingest path — and the
    # composed h+v datum broadcast pipeline
    "q_hdf5_szip_ingest",
    "q_regrid_vdatum",
    # round 16: the vectorized nbit decode path joins the tracked set
    # like every other new ingest family
    "q_hdf5_nbit_ingest",
    # round 17 (continuation): the registered-plugin filter decoders
    # (lzf / lz4 / bitshuffle+lz4) and the progressive-JPEG granule
    # set join the tracked ingests
    "q_hdf5_lzf_ingest",
    "q_hdf5_lz4_ingest",
    "q_hdf5_bitshuffle_ingest",
    "q_jpeg_ingest",
]

# The original round-1 headline set, unchanged across rounds — its
# subtotal is emitted as `comparable12` so round-over-round comparison
# stays mechanical as the headline list above grows (VERDICT r7 item 7).
COMPARABLE12 = [
    "q_scan_lineitem",
    "q_bucket_avg",
    "q_knn_join",
    "q_gauss_agg",
    "q_weighted_avg",
    "q_bilinear_regular",
    "q_events_tumbling",
    "q_events_session",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_cosine_topk",
    "q_text_stats",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from perfbench.tracing import SparkRest, stage_totals
    from pyresample_spark.queries import load_all
    from pyresample_spark.session import get_spark

    registry = load_all()
    spark = get_spark(
        "bench", ui_port=int(os.environ.get("SPARK_GRAFT_BENCH_UI_PORT", "4048"))
    )
    spark.range(10).count()  # JVM warmup

    sc = spark.sparkContext
    rest = SparkRest(sc)

    # Initialize the parquet reader path (footer/schema reads only — no
    # data pages) so the first timed query measures the query, not
    # Hadoop FS + codec init.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in ("lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).schema

    # One untimed warm pass per query: rep 1 otherwise pays JVM codegen
    # + plan-compile (the let-bound bilinear chain alone is ~3 s of
    # one-time compile), which is not what round-over-round comparisons
    # should track. Disable with SPARK_GRAFT_BENCH_WARM=0.
    if os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0":
        for name in HEADLINE:
            registry[name].builder(spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    max_load1 = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD1", "2.0"))

    def load1_now():
        try:
            return os.getloadavg()[0]
        except OSError:
            return None

    # Quiet-machine gate: only BEFORE the first rep — load1 is a 1-min
    # average, so between reps it mostly reflects our own just-finished
    # Spark stages, not external noise. Bounded: at most 2 backoffs.
    gate_waits = 0
    start_load = load1_now()
    while (
        start_load is not None
        and start_load > max_load1
        and gate_waits < 2
    ):
        time.sleep(30.0)
        gate_waits += 1
        start_load = load1_now()

    rep_load1 = []
    samples = {name: [] for name in HEADLINE}
    cpu_samples = {name: [] for name in HEADLINE}
    shuf_samples = {name: [] for name in HEADLINE}
    gc_samples = {name: [] for name in HEADLINE}
    cpu_dropped = [0]
    rep_totals = []

    def run_rep():
        l1 = load1_now()
        rep_load1.append(round(l1, 2) if l1 is not None else None)
        tot = 0.0
        for name in HEADLINE:
            spec = registry[name]
            gid = f"bench:{name}:{len(rep_totals)}"
            sc.setJobGroup(gid, name)
            t0 = time.time()
            df = spec.builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            samples[name].append(dt)
            tot += dt
            # the group's stage metrics, read OUTSIDE the wall-timed
            # window; a group with no completed stage is flagged
            # instead of recording garbage into the load-invariant
            # anchor
            stages = rest.group(gid)["stages"]
            if not any(st["status"] == "COMPLETE" for st in stages):
                cpu_dropped[0] += 1
                continue
            st = stage_totals(stages)
            cpu_samples[name].append(st["cpu_s"])
            shuf_samples[name].append(st["shuffle_write_records"])
            # GC attribution for the host's ~200x cpu blowups (r17
            # A/B): a blowup WITH a matching jvmGcTime spike is heap
            # pressure; one without is external to the JVM.
            gc_samples[name].append(round(st["gc_s"], 3))
        rep_totals.append(tot)

    def median(xs):
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0

    for _ in range(reps):
        run_rep()
    # Noise-adaptive extra reps (VERDICT r10 item 5, "re-gate
    # mid-run"): a mid-run LOAD gate can't distinguish this process's
    # own just-finished 32-thread burst from external noise, but rep
    # totals can — an externally-loaded rep inflates uniformly. While
    # the median rep total still sits >25% above the best rep (the
    # median is poisoned: half the reps absorbed noise), run bounded
    # extra reps so quiet reps win the median. BENCH_r10's 24.15 s
    # artifact (2 of 3 reps under load1 4+) is exactly the shape this
    # repairs.
    extra_budget = int(
        os.environ.get("SPARK_GRAFT_BENCH_EXTRA_REPS", "2"))
    extra = 0
    while (
        extra < extra_budget
        and len(rep_totals) >= 2
        and median(rep_totals) > 1.25 * min(rep_totals)
    ):
        run_rep()
        extra += 1

    times = {name: round(median(v), 3) for name, v in samples.items()}
    total = round(sum(times.values()), 3)
    have_cpu = all(cpu_samples[n] for n in HEADLINE)
    cpu = (
        {n: round(median(v), 3) for n, v in cpu_samples.items()}
        if have_cpu
        else None
    )
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    payload = json.dumps(
        {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "comparable12": round(
                    sum(times[n] for n in COMPARABLE12), 3
                ),
                # best-rep subtotal (VERDICT r11 item 4): per-query
                # minima are the noise floor — on a loaded host the
                # median absorbs external load uniformly while the
                # best rep tracks the plans; the judge reads both.
                "comparable12_best": round(
                    sum(min(samples[n]) for n in COMPARABLE12), 3
                ),
                # Load-invariant anchors (VERDICT r13 item 2): median
                # executor task-CPU seconds per query; the floor that
                # host noise can't inflate.
                "cpu": cpu,
                "cpu_total": (
                    round(sum(cpu.values()), 3) if cpu else None
                ),
                "comparable12_cpu": (
                    round(sum(cpu[n] for n in COMPARABLE12), 3)
                    if cpu
                    else None
                ),
                "comparable12_cpu_best": (
                    round(
                        sum(min(cpu_samples[n]) for n in COMPARABLE12), 3
                    )
                    if have_cpu
                    else None
                ),
                # Per-query CPU minima (r16): on this host CPU time
                # itself drifts upward as a session wears on (PERF.md
                # r15 measured 16/56/220 cpu-s for one byte-identical
                # plan), so the min across reps — usually rep 1, the
                # coolest — is the least-confounded per-plan cost.
                "cpu_best": (
                    {n: round(min(v), 3) for n, v in cpu_samples.items()}
                    if have_cpu
                    else None
                ),
                # Per-query WALL minima (r18, VERDICT r17 item 7):
                # the host-noise-resistant wall anchor next to
                # cpu_best — round-over-round comparison can use the
                # best rep per query instead of medians that absorb
                # external load. Additions-only field.
                "queries_best": {
                    n: round(min(v), 3) for n, v in samples.items()
                },
                # rep timeline so degradation is visible at a glance
                "rep_totals": [round(t, 3) for t in rep_totals],
                "sf": sf,
                "cpus": sc.defaultParallelism,
                "reps": reps,
                "total_min": round(sum(min(v) for v in samples.values()), 3),
                "total_max": round(sum(max(v) for v in samples.values()), 3),
                # Deterministic structural metric (VERDICT r15 item
                # 2): shuffle-write records per query (median over
                # reps; identical across reps for a fixed plan+data).
                # Host noise cannot move this number — regressions in
                # it are real plan regressions.
                "shuffle_write_records": (
                    {
                        n: int(median(v))
                        for n, v in shuf_samples.items()
                        if v
                    }
                    or None
                ),
                # per-query MAX jvmGcTime seconds across reps — a
                # cpu blowup with a matching GC spike is heap
                # pressure, one without is external (r17)
                "gc_max": (
                    {n: max(v) for n, v in gc_samples.items() if v}
                    or None
                ),
                "load1": load1,
                "rep_load1": rep_load1,
                "gate_waits": gate_waits,
                "extra_reps": extra,
                "cpu_dropped_deltas": cpu_dropped[0],
        }
    )
    # Truncation-proof artifact (VERDICT r16 item 3): the driver's
    # stdout tail-capture has lost the end of this line before
    # (BENCH_r16.json arrived cut mid-dict), so the same JSON is also
    # written whole to BENCH_LATEST.json in the repo — committed each
    # round, readable regardless of how the capture slices stdout.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_LATEST.json"), "w") as f:
            f.write(payload + "\n")
    except OSError:
        pass
    print(payload)


if __name__ == "__main__":
    main()
