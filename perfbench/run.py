"""Benchmark entry point.

    python3 perfbench/run.py --workload swath_to_grid --seed 1 \\
        --seconds 18 --trace 0

Run from the repository root. One process, one client, closed loop: the
next op starts when the previous one has finished. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md
in this directory). The last stdout line is the result object; the line
before it is an ``info`` object with host facts and the per-op-type
breakdown.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OP_KINDS = ("nearest", "gauss", "bilinear", "ewa", "bucket_avg",
            "lut_build", "lut_apply", "ingest_regrid")
E2E_NAMES = ("setup_s", "op_p50_s", "op_tail_s", "src_px_per_s",
             "peak_rss_mb")
# per-op counts also reported per op type (a type absent from the
# workload reads 0): name -> key of the op record
KIND_COUNTS = {
    "plans.planner.py4j_calls": "py4j_calls",
    "plans.planner.build_jobs": "build_jobs",
    "operators.shuffle_write_records": "shuffle_write_records",
    "operators.tasks": "tasks",
}
# per-op means over the traced ops: name -> key of the op record
LAYER_MEANS = {
    "plans.planner.build_s": "build_s",
    "plans.planner.py4j_calls": "py4j_calls",
    "plans.planner.build_jobs": "build_jobs",
    "catalyst.plan_s": "plan_s",
    "operators.exec_s": "exec_s",
    "operators.cpu_s": "cpu_s",
    "operators.gc_s": "gc_s",
    "operators.shuffle_write_records": "shuffle_write_records",
    "operators.shuffle_write_mb": "shuffle_write_mb",
    "operators.spill_mb": "spill_mb",
    "operators.tasks": "tasks",
}


def per_layer_names() -> list:
    """Every metric a traced run prints, in BENCHMARK.json order."""
    from inputs import CODECS

    return [
        *LAYER_MEANS,
        "plans.lut.misses", "plans.lut.hits", "plans.lut.mb",
        "session.start_s", "session.gen_s", "session.warm_s",
        *[f"{name}.{kind}" for kind in OP_KINDS for name in KIND_COUNTS],
        *[f"sources.{m}.{c}" for c in CODECS
          for m in ("decode_s", "decode_mb_per_s")],
        "trace.overhead_frac",
    ]


def host_env(run_dir: str) -> dict:
    """Environment of the engine process: cores and driver heap sized
    from this host, and every scratch path inside the run directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f
                        if line.startswith("MemTotal:"))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, total_mb // 4))}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn512m",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }


def redirect_warehouse(path: str):
    """``get_spark`` pins ``spark.sql.warehouse.dir`` under /tmp, and the
    LUT cache's table registrations create that directory. Rewrite that
    one deployment path, as the session builder receives it, into the
    run directory, so a run writes only inside its checkout."""
    from pyspark.sql import SparkSession

    config = SparkSession.Builder.config

    def redirected(self, key=None, value=None, *args, **kwargs):
        if key == "spark.sql.warehouse.dir":
            value = path
        return config(self, key, value, *args, **kwargs)

    SparkSession.Builder.config = redirected


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Ctx:
    def __init__(self, spark, seed: int, run_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.data_dir = os.path.join(run_dir, "data")
        self.lut_dir = os.path.join(run_dir, "luts")
        os.makedirs(self.data_dir)


def _group(sc, group_id, phase):
    if group_id is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group_id, phase)


def run_op(ctx, op, op_id: str, tracer=None) -> dict:
    """One op: build through the public API, then a noop write carrying
    the op's Observation; check the observation against the oracle.
    With a tracer, the op's jobs are tagged and scraped afterwards."""
    from pyspark.sql import Observation

    rec = {"id": op_id, "kind": op.kind, "px": op.px, "ok": False}
    counter = None
    t0 = time.perf_counter()
    w0 = time.time()
    try:
        if tracer is not None:
            from tracing import Py4jCalls

            _group(ctx.sc, op_id, "build")
            counter = Py4jCalls(ctx.sc)
            with counter:
                df, exprs, inner = op.build()
        else:
            df, exprs, inner = op.build()
        t1 = time.perf_counter()
        w1 = time.time()
        if tracer is not None:
            _group(ctx.sc, op_id, "exec")
        obs = Observation(f"check_{op_id}")
        df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        got = dict(obs.get)
        for o in inner:
            got.update(o.get)
        bad = op.expected.mismatches(got)
        rec.update(wall=t2 - t0, build_s=t1 - t0, ok=not bad)
        if bad:
            rec["mismatch"] = {k: got.get(k) for k in bad}
            print(f"op {op_id} ({op.kind}) failed its check: "
                  f"{rec['mismatch']}", file=sys.stderr)
    except Exception as exc:  # an op that raises is a failed op
        traceback.print_exc(file=sys.stderr)
        rec.update(wall=time.perf_counter() - t0, error=repr(exc)[:300])
    finally:
        if tracer is not None:
            _group(ctx.sc, None, None)
    if op.classify is not None:
        rec["kind"] = op.kind = op.classify()
    if tracer is not None and "build_s" in rec:
        tracer.record(rec, w0, w1, counter.calls)
    return rec


class Tracer:
    """Scrapes each traced op's jobs after it ends and keeps its spans."""

    def __init__(self, sc):
        from tracing import SparkRest, Spans

        self.rest = SparkRest(sc)
        self.spans = Spans()

    def record(self, rec: dict, w0: float, w1: float, py4j_calls: int):
        from tracing import rest_time, stage_totals

        g = self.rest.group(rec["id"])
        build_jobs = [j for j in g["jobs"] if j.get("description") == "build"]
        exec_jobs = [j for j in g["jobs"] if j.get("description") == "exec"]
        first = min(rest_time(j["submissionTime"]) for j in exec_jobs)
        last = max(rest_time(j["completionTime"]) for j in exec_jobs)
        rec.update(
            py4j_calls=py4j_calls,
            build_jobs=len(build_jobs),
            plan_s=max(0.0, first - w1),
            exec_s=max(0.0, last - first),
            **stage_totals(g["stages"]),
        )
        tid = rec["id"]
        sp = self.spans
        sp.add("op", tid, w0, w0 + rec["wall"], kind=rec["kind"], px=rec["px"])
        sp.add("build", tid, w0, w1, parent="op", jobs=len(build_jobs),
               py4j_calls=py4j_calls)
        sp.add("plan", tid, w1, first, parent="op")
        sp.add("exec", tid, first, last, parent="op", jobs=len(exec_jobs),
               stages=len(g["stages"]))


def decode_bench(seed: int) -> dict:
    """Single-thread, in-process decode of one seeded granule per codec
    through the engine's per-batch decoder: the plain baseline for the
    codecs that ``read_raster_pixels`` runs in Python workers."""
    import pandas as pd

    import inputs
    from pyresample_spark.sources.binary_raster import raster_decode_fn

    gs = inputs.granule_set(seed, 8_000_000, 256, 256, 0.02)
    decode = raster_decode_fn("netcdf3")
    out = {}
    for codec, (name, buf), arr in zip(inputs.CODECS, gs.files, gs.arrays):
        times = []
        for _ in range(3):
            batch = pd.DataFrame({"path": [name], "content": [buf]})
            t = time.perf_counter()
            n = sum(len(pdf) for pdf in decode(iter([batch])))
            times.append(time.perf_counter() - t)
            if n != arr.size:
                raise RuntimeError(f"{codec}: decoded {n} of {arr.size} px")
        best = sorted(times)[len(times) // 2]
        out[f"sources.decode_s.{codec}"] = best
        out[f"sources.decode_mb_per_s.{codec}"] = arr.nbytes / 1e6 / best
    return out


def summarize_e2e(timed, setup_s, rss_mb) -> tuple:
    from stats import median, tail

    walls = [r["wall"] for r in timed]
    tail_v, pct, n_beyond = tail(walls)
    cut = sorted(walls).index(tail_v)
    # which op types sit around the tail cut
    by_wall = sorted(timed, key=lambda r: r["wall"])
    around = [r["kind"] for r in by_wall[max(0, cut - 2):cut + 3]]
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": median(walls),
        "op_tail_s": tail_v,
        "src_px_per_s": sum(r["px"] for r in timed) / sum(walls),
        "peak_rss_mb": rss_mb,
    }
    info = {"tail_percentile": pct, "tail_ops_beyond": n_beyond,
            "ops": len(walls), "tail_kinds_around_cut": around}
    return metrics, info


def by_kind(records) -> dict:
    from stats import median

    out = {}
    for kind in sorted({r["kind"] for r in records}):
        rs = [r for r in records if r["kind"] == kind]
        row = {"ops": len(rs), "wall_p50_s": median([r["wall"] for r in rs])}
        for k in ("build_s", "plan_s", "exec_s", "cpu_s", "gc_s",
                  "py4j_calls", "build_jobs", "shuffle_write_records",
                  "shuffle_write_mb", "spill_mb", "tasks"):
            if k in rs[0]:
                row[k] = sum(r[k] for r in rs) / len(rs)
        if "plan_s" in row:
            row["phase_sum_over_wall"] = (
                sum(r["build_s"] + r["plan_s"] + r["exec_s"] for r in rs)
                / sum(r["wall"] for r in rs))
        out[kind] = row
    return out


def summarize_layers(timed, traced, session, lut_mb) -> dict:
    m = {name: sum(r[key] for r in traced) / len(traced)
         for name, key in LAYER_MEANS.items()}
    m.update({
        "plans.lut.misses": sum(r["kind"] == "lut_build" for r in timed),
        "plans.lut.hits": sum(r["kind"] == "lut_load" for r in timed),
        "plans.lut.mb": lut_mb,
        **session,
    })
    for kind in OP_KINDS:
        rs = [r for r in traced if r["kind"] == kind]
        for name, key in KIND_COUNTS.items():
            m[f"{name}.{kind}"] = sum(r[key] for r in rs) / len(rs) if rs else 0

    m["trace.overhead_frac"] = trace_overhead(timed)
    return m


def trace_overhead(timed) -> float:
    """Relative px/s gap of each traced (odd) cycle against the mean of
    its two untraced neighbours, median over cycles: comparing with both
    neighbours cancels the warm-up trend that runs through a run."""
    cycles = {}
    for r in timed:
        px, wall = cycles.get(r["cycle"], (0, 0.0))
        cycles[r["cycle"]] = (px + r["px"], wall + r["wall"])
    rate = {c: px / wall for c, (px, wall) in cycles.items()}
    gaps = [1.0 - rate[c] / ((rate[c - 1] + rate[c + 1]) / 2.0)
            for c in rate if c % 2 == 1 and c + 1 in rate]
    from stats import median

    return median(gaps)


def unit_of(name: str) -> str:
    if "mb_per_s" in name:
        return "MB/s"
    if name.endswith("_mb") or name == "plans.lut.mb" or "_mb." in name:
        return "MB"
    if name == "src_px_per_s":
        return "1/s"
    if name == "trace.overhead_frac":
        return "fraction"
    if name.endswith("_s") or "_s." in name:
        return "s"
    return "count"


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pyresample_spark",
                                       "__init__.py")):
        print(f"perfbench: no pyresample_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    load1 = os.getloadavg()[0]
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    spark = proc = None
    try:
        os.environ.update(host_env(run_dir))
        import pyspark
        from pyspark import SparkContext

        from pyresample_spark.session import get_spark

        redirect_warehouse(os.path.join(run_dir, "warehouse"))
        spark = get_spark("perfbench", ui_port=4040 if args.trace else None)
        proc = SparkContext._gateway.proc
        ctx = Ctx(spark, args.seed, run_dir)
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        t_session = time.time()

        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        decode = decode_bench(args.seed) if args.trace else {}
        t_gen = time.time()

        warm = [run_op(ctx, op, f"warm{i}")
                for i, op in enumerate(wl.warm_ops())]
        t_warm = time.time()
        setup_s = t_warm - T_START

        tracer = Tracer(ctx.sc) if args.trace else None
        timed = []
        n_cycles = wl.cycles(args.seconds)
        for c in range(n_cycles):
            # odd cycles traced, even ones not: see trace_overhead
            on = tracer is not None and c % 2 == 1
            for j, op in enumerate(wl.cycle(c)):
                rec = run_op(ctx, op, f"c{c}o{j}", tracer if on else None)
                rec["cycle"] = c
                rec["traced"] = on
                timed.append(rec)
        traced = [r for r in timed if r["traced"]]

        rss = {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb("self")}
        rss_mb = sum(rss.values())
        failed = sum(1 for r in timed if not r["ok"])
        warm_failed = sum(1 for r in warm if not r["ok"])
        info = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "cycles": n_cycles,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "pyspark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "load1_at_start": load1,
            "warehouse": spark.conf.get("spark.sql.warehouse.dir"),
            "warm_failed": warm_failed,
            "peak_rss_mb_by_process": rss,
            "timed_s": sum(r["wall"] for r in timed),
            "by_kind": by_kind(traced if args.trace else timed),
        }
        e2e, tail_info = summarize_e2e(timed, setup_s, rss_mb)
        info.update(tail_info)
        if args.trace:
            session = {"session.start_s": t_session - T_START,
                       "session.gen_s": t_gen - t_session,
                       "session.warm_s": t_warm - t_gen}
            metrics = {**summarize_layers(timed, traced, session,
                                          dir_mb(ctx.lut_dir)), **decode}
            out_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.spans.dump(
                os.path.join(out_dir,
                             f"{args.workload}-seed{args.seed}-"
                             f"{os.getpid()}.json"),
                {"info": info, "ops": timed})
        else:
            metrics = e2e
        want = per_layer_names() if args.trace else list(E2E_NAMES)
        if set(metrics) != set(want):
            raise RuntimeError(f"metrics {sorted(metrics)} != declared {want}")
        metrics = {k: metrics[k] for k in want}
        print(json.dumps({"info": info}))
        print(json.dumps({
            "correct": failed == 0 and warm_failed == 0,
            "attempted": len(timed),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
