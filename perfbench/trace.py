"""Layer spans recorded from outside the engine, and the Spark event log
parsed into per-span costs.

A span wraps one call into an engine layer.  While it is open, every Spark
job submitted from the calling thread carries the span's job group
(``sc.setJobGroup``).  Jobs that engine code submits from its own worker
threads (``ResolutionJob.materialize`` runs one level's stage writes
concurrently) do not inherit the group, so a job or stage without one is
attributed to the span whose wall-clock window contains its submission
time.  The client is a single closed loop, so span windows never overlap.

Spans are kept in memory; the event log is read once, after the session
has stopped and flushed it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

MB = float(1 << 20)

# the per-span metrics every span reports, with their units
SPAN_METRICS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
    ("busy_frac", "frac"),
)


@dataclass
class Span:
    name: str
    op: int
    t0: float
    t1: float
    jobs: int = 0
    task_ms: list = field(default_factory=list)
    run_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0

    @property
    def group(self) -> str:
        return f"{self.name}#{self.op}"

    def covers(self, ms: float) -> bool:
        return self.t0 * 1000 <= ms <= self.t1 * 1000


class Tracer:
    """Record spans around engine calls and tag their Spark jobs."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        s = Span(name, op, 0.0, 0.0)
        self.sc.setJobGroup(s.group, name)
        s.t0 = time.time()
        try:
            yield s
        finally:
            s.t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def attribute(self, event_log_dir: str) -> None:
        """Fill each span's job, task, shuffle and spill counts from the
        event log of the (stopped) session."""
        by_group = {s.group: s for s in self.spans}

        def owner(props: dict, ms: float | None) -> Span | None:
            g = (props or {}).get("spark.jobGroup.id")
            if g in by_group:
                return by_group[g]
            if ms is None:
                return None
            return next((s for s in self.spans if s.covers(ms)), None)

        stage_owner: dict[int, Span | None] = {}
        files = glob.glob(os.path.join(event_log_dir, "*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log, found {files}")
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    s = owner(ev.get("Properties"), ev.get("Submission Time"))
                    if s is not None:
                        s.jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_owner[info["Stage ID"]] = owner(
                        ev.get("Properties"), info.get("Submission Time"))
                elif kind == "SparkListenerTaskEnd":
                    s = stage_owner.get(ev["Stage ID"])
                    if s is None:
                        continue
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    s.task_ms.append(ti["Finish Time"] - ti["Launch Time"])
                    s.run_ms += tm.get("Executor Run Time", 0)
                    s.shuffle_write += (tm.get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0)
                    s.spill += tm.get("Disk Bytes Spilled", 0)

    def metrics(self, names, cores: int) -> dict:
        """Per span name, the median over ops of each SPAN_METRICS value;
        a span that never ran reports 0 (its layer is absent)."""
        out = {}
        for name in names:
            rows = [self._row(s, cores) for s in self.spans if s.name == name]
            for key, unit in SPAN_METRICS:
                vals = [r[key] for r in rows]
                out[f"{name}.{key}"] = (
                    statistics.median(vals) if vals else 0.0, unit)
        return out

    @staticmethod
    def _row(s: Span, cores: int) -> dict:
        wall = s.t1 - s.t0
        med = statistics.median(s.task_ms) if s.task_ms else 0
        return {
            "wall_s": wall,
            "jobs": s.jobs,
            "tasks": len(s.task_ms),
            "shuffle_write_mb": s.shuffle_write / MB,
            "spill_mb": s.spill / MB,
            "task_skew": max(s.task_ms) / med if med else 0.0,
            "busy_frac": s.run_ms / (wall * 1000 * cores) if wall else 0.0,
        }

    def self_time(self, op: int, wall: float) -> float:
        """op wall time not covered by any of the op's spans."""
        return wall - sum(s.t1 - s.t0 for s in self.spans if s.op == op)
