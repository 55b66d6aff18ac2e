"""Tracing for the per-layer run: the benchmark's own spans, Spark job tags
and the Spark event log.

Spans are recorded by the benchmark around its calls into each engine layer
(name, start, end, parent, one id per query, batch or phase), kept in memory
and written out as JSON lines when the run ends. Self time of a span is its
duration minus the part covered by its children.

The event log (``spark.eventLog.compress=false``) gives per-job task
metrics. Jobs are attributed to a unit of work through the tags the
benchmark sets with ``SparkContext.addJobTag``; they arrive in the log as
the ``spark.job.tags`` job property.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    unit: str
    id: int


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, unit: str = ""):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans.append(Span(name, start, time.time(), parent, unit, sid))

    def durations(self, name: str, self_time: bool = False) -> list[float]:
        """Durations (s) of every span called ``name``, optionally minus
        the time covered by their direct children."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            d = s.end - s.start
            if self_time:
                d -= _covered([(k.start, k.end) for k in kids.get(s.id, [])])
            out.append(d)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@contextlib.contextmanager
def job_tag(spark, tag: str, enabled: bool):
    """Tag every Spark job this thread starts inside the block."""
    if not enabled:
        yield
        return
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
@dataclass
class JobStats:
    tags: tuple[str, ...]
    submit: float  # epoch seconds
    end: float
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Every job in the uncompressed event logs under ``log_dir`` (Spark 4
    writes one ``eventlog_v2_<app>/events_*`` directory per application)."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                    job = JobStats(
                        tuple(t for t in tags.split(",") if t),
                        ev["Submission Time"] / 1000.0,
                        ev["Submission Time"] / 1000.0,
                    )
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in jobs:
                        jobs[jid].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid not in jobs or not m:
                        continue
                    j = jobs[jid]
                    j.tasks += 1
                    j.task_s += m.get("Executor Run Time", 0) / 1000.0
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics", {})
                    j.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    j.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


def spark_layer(jobs: list[JobStats], units: dict[str, tuple[float, float]]) -> dict[str, float]:
    """``spark.*`` per-layer metrics averaged over the tagged units of work.

    ``units`` maps a job tag to the wall interval of its unit. The
    scheduling gap of a unit is its wall time not covered by any of its
    jobs: driver-side planning and orchestration between jobs.
    """
    keys = ("jobs", "stages", "tasks", "sched_gap_s", "task_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    sums = dict.fromkeys(keys, 0.0)
    for tag, (start, end) in units.items():
        mine = [j for j in jobs if tag in j.tags]
        sums["jobs"] += len(mine)
        sums["sched_gap_s"] += (end - start) - _covered(
            [(max(j.submit, start), min(j.end, end)) for j in mine if j.end > start and j.submit < end]
        )
        for j in mine:
            sums["stages"] += j.stages
            sums["tasks"] += j.tasks
            sums["task_s"] += j.task_s
            sums["gc_s"] += j.gc_s
            sums["shuffle_read_bytes"] += j.shuffle_read_bytes
            sums["shuffle_write_bytes"] += j.shuffle_write_bytes
            sums["spill_bytes"] += j.spill_bytes
    n = max(1, len(units))
    return {f"spark.{k}": v / n for k, v in sums.items()}
