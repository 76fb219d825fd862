"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same settings (AQE, skew join, shuffle partitions sized to cores) are the
ones you'd set for a 1000-executor job — only the master and memory knobs
change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(total_bytes: int | None = None) -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    a quarter of host RAM (``total_bytes``, default this host's),
    capped at 4 GB and floored at 1 GB — the driver heap of a local
    session that shares the host with its Python workers."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, min(4096, total_bytes // 2**20 // 4))}m"


def get_spark(app_name: str = "pyresample_spark", ui_port: int | None = None) -> SparkSession:
    """Session factory.

    The master is ``local[$SPARK_GRAFT_CPUS]`` (default 32) with shuffle
    partitions sized to it; the driver heap comes from
    :func:`driver_memory`. A Python stage (``mapInPandas``/``mapInArrow``,
    Python UDFs) costs a fixed amount per task on top of its work
    (PERF.md "Python-stage fixed cost"). Importing this package in a
    worker, which unpickling any of its functions does, runs
    ``pyworker.install``, and that removes most of it.

    ``ui_port``: when given, the Spark UI (and its REST API) is enabled on
    that port, or the next free one — ``perfbench/tracing.py SparkRest``
    reads the port Spark bound and, per job group, the REAL executor
    metrics (``executorCpuTime``, shuffle bytes) for ``bench.py``,
    ``perfbench`` and the profiling tools. Only honored by the first
    ``getOrCreate`` in a process (Spark config semantics); tests keep
    the UI off.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DataFrame-debugging call-site capture costs ~4 py4j round
        # trips (~2.4 ms) on EVERY DataFrame/Column API call — with
        # ~250 calls per complex query builder that is ~0.6-1 s of
        # driver-side build time per query, all inside the bench's
        # timed region (r18 profile: 7 s of the 19 s headline total
        # was builder time). Off: error messages lose the Python
        # call-site line, nothing else. This is driver-side Python
        # overhead identical on any cluster, not a local-mode knob.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Constraint propagation infers filters (isnotnull(<join-key
        # expression>), copies of a filter onto the other join side)
        # that predicates already in the plan imply, so results cannot
        # change. Building those constraint sets made PruneFilters the
        # costliest optimizer rule of a bilinear op (~39 ms per op, 0
        # effective runs), and the inferred isnotnull filters re-inline
        # the lon/lat -> xyz trig into the scan and the probe. PERF.md
        # "Constraint propagation".
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "true" if ui_port else "false")
        .config("spark.ui.port", str(ui_port or 4040))
        # SparkRest reads each job group's jobs and stages right after
        # the group ends, when the default retainedStages=1000 still
        # holds them; 10k keeps a whole bench run (~2-3k stages)
        # readable afterwards, in the UI or the REST API, with bounded
        # driver memory — unbounded retention in the task-sharing
        # local JVM is its own hazard.
        .config("spark.ui.retainedStages", "10000")
        .config("spark.ui.retainedJobs", "10000")
        # managed-table machinery (bucketed tables) kept out of the repo
        .config("spark.sql.warehouse.dir", "/tmp/pyresample_spark_warehouse")
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/pyresample_spark_derby",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
