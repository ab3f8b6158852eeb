"""Spans around layer calls, and their attribution from Spark's event log.

A :class:`Tracer` records one span per call into a layer's public function
(name, start, end, parent) and tags the Spark jobs the call launches with a
job group named after the span. After the session stops, the event log is
parsed and each job, stage and task is charged to a span: by its job group
when it has one, otherwise to the innermost span whose interval holds its
submission time. The second rule catches jobs launched from threads the
span did not start (``DedupPipeline.run`` runs its substring pass on a
worker thread, and Python threads do not inherit Spark's local
properties).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

# Per-span counters, in the order they are reported.
COUNTERS = {
    "wall_s": "s",
    "rows_out": "count",
    "jobs": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "driver_gap_s": "s",
    "py_start_s": "s",
    "py_run_s": "s",
    "py_bytes": "B",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "task_failures": "count",
}

# Spark SQL task accumulables for the Python boundary (pyspark 4.x names).
_PY_START = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = ("time to run Python workers",)
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
PY_ACCUMULABLES = _PY_START + _PY_RUN + _PY_BYTES


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float | None = None
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    def span(self, name: str):
        return nullcontext({})


class Tracer:
    """Records spans in memory; with a SparkContext, also sets the job
    group of every job launched inside a span to the span's name."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(name, time.time(), parent=parent)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        self._set_group(name)
        try:
            yield s.counts
        finally:
            s.end = time.time()
            self._open.pop()
            self._set_group(self.spans[self._open[-1]].name if self._open else None)

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    def by_name(self, name: str) -> Span:
        (s,) = [s for s in self.spans if s.name == name]
        return s


# --- interval arithmetic ---------------------------------------------------

def covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(spans: list[Span], i: int) -> float:
    """Span ``i``'s duration minus the part its child spans cover."""
    s = spans[i]
    kids = [(c.start, c.end) for c in spans if c.parent == i]
    return s.wall - covered(s.start, s.end, kids)


# --- event log ---------------------------------------------------------------

def read_events(path: Path):
    """Events of one application's log: a plain file, or the
    ``eventlog_v2_*`` directory Spark writes with one or more
    ``events_<n>_*`` parts."""
    path = Path(path)
    if path.is_dir():
        parts = sorted(path.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    else:
        parts = [path]
    for part in parts:
        with part.open() as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def find_log(log_dir: Path) -> Path:
    (app,) = [p for p in Path(log_dir).iterdir() if not p.name.startswith(".")]
    return app


def _task_counters(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    acc: dict[str, float] = {}
    for a in ev["Task Info"].get("Accumulables", []):
        name = a.get("Name")
        if name in PY_ACCUMULABLES:
            acc[name] = acc.get(name, 0.0) + float(a.get("Update") or 0)
    # A reused Python worker stamps its "boot" when it finished its previous
    # task, so its initialize time includes the idle wait in between and it
    # reports no start time. Worker start-up is charged only to tasks that
    # started a fresh worker.
    py_start = sum(acc.get(n, 0.0) for n in _PY_START) if acc.get(_PY_START[0]) else 0.0
    return {
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "py_start_s": py_start / 1e3,
        "py_run_s": sum(acc.get(n, 0.0) for n in _PY_RUN) / 1e3,
        "py_bytes": sum(acc.get(n, 0.0) for n in _PY_BYTES),
        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "task_failures": int(ev["Task End Reason"]["Reason"] != "Success"),
    }


@dataclass
class LogSummary:
    jobs: list[dict]  # {"group", "submit", "end"}, epoch seconds
    stages: list[dict]  # {"group", "submit", **summed task counters}


def summarize(events) -> LogSummary:
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit": ev["Submission Time"] / 1e3,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stages[key] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit": info["Submission Time"] / 1e3,
            }
        elif kind == "SparkListenerTaskEnd":
            st = stages[(ev["Stage ID"], ev["Stage Attempt ID"])]
            for k, v in _task_counters(ev).items():
                st[k] = st.get(k, 0) + v
    for j in jobs.values():
        if j["end"] is None:  # job still running when the log was cut
            j["end"] = j["submit"]
    return LogSummary(list(jobs.values()), list(stages.values()))


def _owner(spans: list[Span], group: str | None, t: float) -> int | None:
    """Index of the span charged with work submitted at ``t``."""
    inside = [i for i, s in enumerate(spans) if s.start <= t <= s.end]
    named = [i for i in inside if spans[i].name == group]
    pick = named or inside
    # innermost: the latest-starting containing span
    return max(pick, key=lambda i: spans[i].start) if pick else None


def attribute(spans: list[Span], log: LogSummary) -> dict[str, dict]:
    """Per-span counters (see :data:`COUNTERS`, plus ``untagged_jobs``)
    from an event-log summary."""
    out = {}
    for s in spans:
        c = {k: 0 for k in COUNTERS}
        c["untagged_jobs"] = 0  # charged by time, not by job group
        c["wall_s"] = s.wall
        c["rows_out"] = s.counts.get("rows_out", 0)
        out[s.name] = c
    for j in log.jobs:
        i = _owner(spans, j["group"], j["submit"])
        if i is not None:
            out[spans[i].name]["jobs"] += 1
            out[spans[i].name]["untagged_jobs"] += j["group"] is None
    for st in log.stages:
        i = _owner(spans, st["group"], st["submit"])
        if i is None:
            continue
        c = out[spans[i].name]
        for k in COUNTERS:
            if k in st:
                c[k] += st[k]
    job_iv = [(j["submit"], j["end"]) for j in log.jobs]
    for s in spans:
        out[s.name]["driver_gap_s"] = s.wall - covered(s.start, s.end, job_iv)
    return out
