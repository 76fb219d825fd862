"""Tracing for the benchmark: spans, a py4j call counter and one scraper
of Spark's monitoring REST API.

Nothing here runs in an untraced run. In a traced run every op gets a
job group (``SparkContext.setJobGroup(op_id, phase)``) so its jobs can be
found afterwards in ``/jobs``; ``/stages`` gives the per-stage executor
metrics. The scrape happens between ops, outside any timed window.

``SparkRest`` knows nothing about the benchmark: it takes a
``SparkContext`` and answers "what did the jobs of group G do", so other
harnesses can reuse it as their single scraper.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from datetime import datetime, timezone

from py4j.protocol import CALL_COMMAND_NAME


def rest_time(s: str | None) -> float | None:
    """Spark REST timestamp ('2026-10-17T13:45:36.123GMT') -> epoch s."""
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Reads job and stage records of one application from the UI's
    REST API (``/api/v1``). Needs the UI enabled."""

    def __init__(self, sc, timeout_s: float = 30.0):
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("the Spark UI is disabled; tracing needs it")
        port = urllib.parse.urlparse(url).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.timeout_s = timeout_s

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path,
                                    timeout=self.timeout_s) as r:
            return json.load(r)

    def group(self, group_id: str) -> dict:
        """Jobs of ``group_id`` and the stages they ran, once every job
        has finished and its stages are final in the status store (the
        listener bus trails the action's return by a few ms)."""
        deadline = time.monotonic() + self.timeout_s
        while True:
            jobs = [j for j in self._get("/jobs")
                    if j.get("jobGroup") == group_id]
            done = all(j["status"] in ("SUCCEEDED", "FAILED")
                       and j.get("completionTime") for j in jobs)
            stages = {}
            if done:
                ids = {s for j in jobs for s in j["stageIds"]}
                for st in self._get("/stages"):
                    if st["stageId"] in ids:
                        stages[(st["stageId"], st["attemptId"])] = st
                done = all(st["status"] in ("COMPLETE", "SKIPPED", "FAILED")
                           for st in stages.values())
            if done or time.monotonic() > deadline:
                return {"jobs": jobs, "stages": list(stages.values())}
            time.sleep(0.02)


def stage_totals(stages) -> dict:
    """Executor-side work of a set of stages (skipped stages ran nothing)."""
    run = [s for s in stages if s["status"] == "COMPLETE"]
    return {
        "cpu_s": sum(s.get("executorCpuTime", 0) for s in run) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in run) / 1e3,
        "shuffle_write_records": sum(s.get("shuffleWriteRecords", 0)
                                     for s in run),
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0)
                                for s in run) / 1e6,
        "spill_mb": sum(s.get("memoryBytesSpilled", 0)
                        + s.get("diskBytesSpilled", 0) for s in run) / 1e6,
        "tasks": sum(s.get("numCompleteTasks", 0) for s in run),
    }


class Py4jCalls:
    """Counts py4j CALL commands sent while active (context manager).

    Only call commands count: release commands come from Python garbage
    collection and vary from run to run."""

    def __init__(self, sc):
        self.client = sc._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        send = type(self.client).send_command.__get__(self.client)

        def counted(command, *args, **kwargs):
            if command.startswith(CALL_COMMAND_NAME):
                self.calls += 1
            return send(command, *args, **kwargs)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc):
        del self.client.send_command
        return False


class Spans:
    """In-memory spans; written out once, when the run ends."""

    def __init__(self):
        self.items = []

    def add(self, name: str, trace_id: str, start: float, end: float,
            parent: str | None = None, **attrs):
        self.items.append({"name": name, "trace_id": trace_id,
                           "parent": parent, "start": start, "end": end,
                           **attrs})

    def dump(self, path: str, meta: dict):
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.items}, f)
