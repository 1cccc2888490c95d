"""Measurement helpers: medians, spans, peak memory, Spark REST.

Nothing here imports Spark; the REST reader talks to the Spark UI over
``localhost`` with the standard library.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime


# -- statistics ------------------------------------------------------------------


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    return float(xs[mid]) if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


# -- spans -----------------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None = None  # index into Tracer.spans
    trace_id: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing, so the
    untraced path pays only the ``if``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, trace_id: str = "", **attrs) -> int:
        self.spans.append(Span(name, layer, start, end, parent, trace_id, attrs))
        return len(self.spans) - 1

    def span(self, name: str, layer: str, trace_id: str = "", **attrs):
        return _SpanCtx(self, name, layer, trace_id, attrs)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer, name, layer, trace_id, attrs):
        self.t, self.name, self.layer, self.trace_id, self.attrs = (
            tracer, name, layer, trace_id, attrs)

    def __enter__(self):
        self.start = time.time()
        if self.t.enabled:
            self.idx = self.t.add(self.name, self.layer, self.start, self.start,
                                  self.t._stack[-1] if self.t._stack else None,
                                  self.trace_id, **self.attrs)
            self.t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.t.enabled:
            self.t.spans[self.idx].end = self.end
            self.t._stack.pop()
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> list[float]:
    """Each span's duration minus the part of its interval its children
    cover (children clipped to the parent, overlaps counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return [
        (s.end - s.start) - _union_length(kids.get(i, [])) for i, s in enumerate(spans)
    ]


def layer_self_ms(spans) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.layer] = out.get(s.layer, 0.0) + t * 1000
    return out


# -- peak memory over the process tree ---------------------------------------------


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
                out[int(name)] = (int(tail.split()[1]), head.split("(", 1)[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def counted(procs: dict[int, tuple[int, str]], root: int) -> list[int]:
    """``root`` and its descendants, less any ``java`` child of a ``java``
    process: between fork and exec a child the JVM spawns (a Python worker)
    still carries the JVM's name and reports the JVM's resident pages as its
    own, which would count the JVM twice."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        ppid, comm = procs.get(pid, (0, ""))
        if not (comm == "java" and procs.get(ppid, (0, ""))[1] == "java"):
            out.append(pid)
        todo += kids.get(pid, [])
    return sorted(out)


def _mem_kb(pid: int, comm: str) -> int:
    """Resident memory of one process: RSS for the JVM, which shares nothing
    worth counting, and proportional set size for Python processes, so pages
    forked workers share are counted once (and the JVM's page tables are not
    walked on every sample)."""
    field_, path = (("VmRSS:", f"/proc/{pid}/status") if comm == "java"
                    else ("Pss:", f"/proc/{pid}/smaps_rollup"))
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field_):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_mem_mb(root: int) -> float:
    procs = _processes()
    return sum(_mem_kb(pid, procs.get(pid, (0, ""))[1]) for pid in counted(procs, root)) / 1024


class MemSampler:
    """Samples :func:`tree_mem_mb` of this process (the benchmark, the JVM and the
    Python workers) every ``interval_s``; ``peak_mb`` is the highest sum."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_mem_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# -- Spark UI REST ------------------------------------------------------------------


class SparkRest:
    """Reads jobs and stages of the running application from the Spark UI."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> list[dict]:
        return self.get("/stages?status=complete")


def next_job_id(spark) -> int:
    return max((j["jobId"] for j in SparkRest(spark).jobs()), default=-1) + 1


def ui_time(stamp: str) -> float:
    """Epoch seconds of a UI timestamp such as ``2026-10-17T10:31:20.123GMT``."""
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


STAGE_SUMS = {
    "spark.tasks": "numCompleteTasks",
    "spark.executor_run_ms": "executorRunTime",
    "spark.executor_cpu_ms": "executorCpuTime",
    "spark.gc_ms": "jvmGcTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.spill_bytes": "diskBytesSpilled",
}


def spark_totals(spark, first_job: int) -> tuple[dict, list[dict], list[dict]]:
    """Task-metric sums over the jobs with id >= ``first_job``, with those
    jobs and their completed stages. CPU time arrives in ns."""
    rest = SparkRest(spark)
    jobs = [j for j in rest.jobs() if j["jobId"] >= first_job]
    ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in rest.stages() if s["stageId"] in ids]
    out = {k: float(sum(st.get(f, 0) or 0 for st in stages)) for k, f in STAGE_SUMS.items()}
    out["spark.executor_cpu_ms"] /= 1e6
    out["spark.jobs"] = float(len(jobs))
    return out, jobs, stages


def attach_jobs(tracer: Tracer, jobs: list[dict]) -> None:
    """Add a ``spark`` span per finished job, parented to the shortest
    recorded span that contains its submission, sharing that span's id."""
    base = list(enumerate(tracer.spans))
    for j in jobs:
        if not j.get("completionTime"):
            continue
        t0, t1 = ui_time(j["submissionTime"]), ui_time(j["completionTime"])
        holders = [(s.end - s.start, i) for i, s in base if s.start <= t0 <= s.end]
        parent = min(holders)[1] if holders else None
        tracer.add(f"spark.job.{j['jobId']}", "spark", t0, t1, parent,
                   tracer.spans[parent].trace_id if parent is not None else "",
                   group=j.get("jobGroup", ""))
