"""Layer spans and Spark counters aggregated by job group.

Each layer call runs under ``sc.setJobGroup("<run>/<layer>")`` inside
a :class:`Span` that records wall time and process-tree CPU. After a
run, the driver's local REST API (``{uiWebUrl}/api/v1/applications/
{id}/jobs`` and ``/stages``) gives every job's group and every
stage's task metrics; :func:`aggregate` folds them into per-group
counters. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
import urllib.request
from dataclasses import asdict, dataclass, field
from datetime import datetime

#: the counters each layer reports, in output order
LAYER_METRICS = (
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("python_cpu_s", "s"),
    ("driver_s", "s"),
    ("parallelism", "x"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("read_amp", "ratio"),
    ("shuffle_bytes", "B"),
    ("spill_bytes", "B"),
    ("output_bytes", "B"),
)


@dataclass
class Span:
    name: str
    run: str
    start: float
    end: float = 0.0
    cpu0: float = 0.0
    cpu1: float = 0.0
    ok: bool = True
    error: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run}/{self.name}"


def _ts(s: "str | None") -> "float | None":
    """REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def aggregate(jobs: "list[dict]", stages: "list[dict]", groups) -> "dict[str, dict]":
    """Fold REST ``jobs`` and ``stages`` into counters per job group
    in ``groups``: jobs, tasks, executor run/CPU seconds, input
    records, shuffle write, spill and output bytes, and the
    submission-to-completion intervals of the group's stages. A stage
    shared by two groups' jobs is counted once, for the first; skipped
    stages (no attempt ran) contribute nothing."""
    wanted = set(groups)
    out = {
        g: {
            "jobs": 0, "tasks": 0, "run_s": 0.0, "exec_cpu_s": 0.0,
            "input_records": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "output_bytes": 0, "intervals": [],
        }
        for g in wanted
    }
    stage_group: "dict[int, str]" = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = j.get("jobGroup")
        if g not in wanted:
            continue
        out[g]["jobs"] += 1
        for sid in j.get("stageIds", ()):
            stage_group.setdefault(sid, g)
    for s in stages:
        g = stage_group.get(s["stageId"])
        if g is None or s.get("status") == "SKIPPED":
            continue
        c = out[g]
        c["tasks"] += int(s.get("numCompleteTasks", 0))
        c["run_s"] += s.get("executorRunTime", 0) / 1e3
        c["exec_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        c["input_records"] += int(s.get("inputRecords", 0))
        c["shuffle_bytes"] += int(s.get("shuffleWriteBytes", 0))
        c["spill_bytes"] += int(s.get("diskBytesSpilled", 0))
        c["output_bytes"] += int(s.get("outputBytes", 0))
        a, b = _ts(s.get("submissionTime")), _ts(s.get("completionTime"))
        if a is not None and b is not None:
            c["intervals"].append((a, b))
    return out


def layer_metrics(span: Span, c: dict, input_rows: int) -> dict:
    """The :data:`LAYER_METRICS` of one span from its group counters."""
    wall = span.end - span.start
    cpu = span.cpu1 - span.cpu0
    return {
        "wall_s": wall,
        "cpu_s": cpu,
        "python_cpu_s": cpu - c["exec_cpu_s"],
        "driver_s": wall - _covered(c["intervals"], span.start, span.end),
        "parallelism": c["run_s"] / wall if wall > 0 else 0.0,
        "jobs": c["jobs"],
        "tasks": c["tasks"],
        "read_amp": c["input_records"] / input_rows if input_rows else 0.0,
        "shuffle_bytes": c["shuffle_bytes"],
        "spill_bytes": c["spill_bytes"],
        "output_bytes": c["output_bytes"],
    }


class SparkRest:
    """Reads the driver's status REST API; needs no network beyond
    the local UI port."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the REST view covers all finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def jobs(self) -> "list[dict]":
        return self._get("/jobs")

    def stages(self) -> "list[dict]":
        return self._get("/stages")


class Tracer:
    """Collects :class:`Span`s; ``enabled=False`` makes every call a
    plain passthrough apart from the wall/CPU bookkeeping the
    ``failed_frac`` accounting needs."""

    def __init__(self, spark_context_getter, cpu_reader, enabled: bool):
        self._sc = spark_context_getter
        self._cpu = cpu_reader
        self.enabled = enabled
        self.spans: "list[Span]" = []

    def call(self, name: str, run: str, fn, *args):
        """Run ``fn(*args)`` as layer ``name`` of ``run``; returns the
        finished span (``ok=False`` with the error text when ``fn``
        raised — the caller decides what that means for the run)."""
        sp = Span(name=name, run=run, start=time.time())
        sc = self._sc() if self.enabled else None
        if sc is not None:
            sc.setJobGroup(sp.group, name)
        sp.cpu0 = self._cpu() if self.enabled else 0.0
        try:
            fn(*args)
        except Exception as e:  # a failed layer call is a counted outcome
            sp.ok, sp.error = False, f"{type(e).__name__}: {e}"
        finally:
            sp.cpu1 = self._cpu() if self.enabled else 0.0
            sp.end = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self.spans.append(sp)
        return sp

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f, default=str)
