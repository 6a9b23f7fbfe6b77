"""Spans around engine calls and their roll-up from the Spark event log.

A span is opened by the benchmark around each call into one layer of the
engine. In a traced run the span also sets the Spark job group
``<phase>/<span>``, so every Spark job the call submits is tagged; nested
spans (``checkpoint.save`` inside ``csr.pagerank``) tag their own jobs, so
each job belongs to its innermost span. After ``spark.stop()`` the event
log is parsed and rolled up per span name and phase (a setup or a repeat).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPANS = (
    "sources.derive",
    "projection.project",
    "catalog.project",
    "messaging.edge_plan",
    "pregel.pagerank",
    "csr.pagerank",
    "pregel.labelprop",
    "checkpoint.save",
    "algorithms.scc",
    "algorithms.wcc",
    "algorithms.triangles",
)
SPAN_METRICS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "driver_gap_s": "s",
    "task_skew": "ratio",
}
MB = 1024.0 * 1024.0


@dataclass
class Span:
    phase: str
    name: str
    start: float  # epoch seconds, the clock the event log uses
    end: float

    @property
    def group(self) -> str:
        return f"{self.phase}/{self.name}"


@dataclass
class Spans:
    """Records spans; tags Spark jobs with the span's group when traced."""

    sc: object
    traced: bool
    phase: str = "setup0"
    records: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    def _set_group(self, group: str | None) -> None:
        if self.traced:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        group = f"{self.phase}/{name}"
        self._set_group(group)
        self._stack.append(group)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.records.append(Span(self.phase, name, start, end))


@dataclass
class _Stage:
    submitted: float = 0.0
    completed: float = 0.0
    task_durations: list[float] = field(default_factory=list)
    shuffle_write: float = 0.0
    shuffle_read: float = 0.0
    spill: float = 0.0
    gc: float = 0.0


@dataclass
class EventLog:
    job_group: dict[int, str]
    job_query: dict[int, str]
    job_interval: dict[int, tuple[float, float]]
    job_stages: dict[int, list[int]]
    stages: dict[int, _Stage]

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        job_group, job_query, job_start, job_end = {}, {}, {}, {}
        stages: dict[int, _Stage] = {}
        owner: dict[int, int] = {}
        wanted = tuple(f'{{"Event":"{k}"' for k in (
            "SparkListenerJobStart", "SparkListenerJobEnd",
            "SparkListenerStageCompleted", "SparkListenerTaskEnd",
        ))
        with open(paths[0]) as f:
            for line in f:
                if not line.startswith(wanted):
                    continue  # skip the (large) SQL plan events unparsed
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id") or ""
                    # a job outside any SQL query counts as its own query
                    job_query[jid] = props.get("spark.sql.execution.id") or f"job{jid}"
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        owner.setdefault(sid, jid)  # a stage runs in the first job listing it
                elif kind == "SparkListenerJobEnd":
                    job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _Stage())
                    st.submitted = info.get("Submission Time", 0) / 1000.0
                    st.completed = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _Stage())
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st.task_durations.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.spill += m.get("Disk Bytes Spilled", 0)
                    st.gc += m.get("JVM GC Time", 0) / 1000.0
        job_stages = {j: [] for j in job_group}
        for sid, jid in owner.items():
            if sid in stages:  # skipped stages never complete
                job_stages[jid].append(sid)
        interval = {j: (job_start[j], job_end.get(j, job_start[j])) for j in job_start}
        return cls(job_group, job_query, interval, job_stages, stages)

    def jobs_of(self, group: str, exact: bool = False) -> list[int]:
        """Jobs tagged with ``group`` (or, unless exact, any group under it)."""
        return [
            j for j, g in self.job_group.items()
            if g == group or (not exact and g.startswith(group))
        ]

    def queries(self, jobs: list[int]) -> int:
        """Distinct SQL queries (actions) behind ``jobs``. Unlike the job
        count, this does not depend on how adaptive execution happened to
        split a query's stages into jobs."""
        return len({self.job_query[j] for j in jobs})

    def covered(self, start: float, end: float) -> float:
        """Seconds of [start, end] during which any Spark job was running."""
        covered, cursor = 0.0, start
        for lo, hi in sorted(self.job_interval.values()):
            lo, hi = max(lo, cursor), min(hi, end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return covered

    def rollup(self, spans: list[Span]) -> dict[str, float]:
        """Metrics of one span name within one phase (a span such as
        ``checkpoint.save`` can occur several times in one repeat)."""
        jobs = self.jobs_of(spans[0].group, exact=True)
        stages = [self.stages[s] for j in jobs for s in self.job_stages[j]]
        wall = sum(s.end - s.start for s in spans)
        # Driver gap: span wall time with no Spark job (of any span)
        # running -- Python driver work, planning, result collection.
        gap = sum(max(0.0, s.end - s.start - self.covered(s.start, s.end)) for s in spans)
        skew = 0.0
        if stages:
            longest = max(stages, key=lambda s: s.completed - s.submitted)
            if longest.task_durations:
                med = statistics.median(longest.task_durations)
                skew = max(longest.task_durations) / max(med, 0.001)
        return {
            "wall_s": wall,
            "jobs": float(len(jobs)),
            "tasks": float(sum(len(s.task_durations) for s in stages)),
            "shuffle_write_mb": sum(s.shuffle_write for s in stages) / MB,
            "shuffle_read_mb": sum(s.shuffle_read for s in stages) / MB,
            "spill_mb": sum(s.spill for s in stages) / MB,
            "gc_s": sum(s.gc for s in stages),
            "driver_gap_s": gap,
            "task_skew": skew,
        }


def span_metrics(log: EventLog, spans: list[Span]) -> dict[str, float]:
    """``<span>.<metric>`` for every known span: the median over the phases
    it ran in (each setup, each timed repeat), 0 where it never ran."""
    out: dict[str, float] = {}
    for name in SPANS:
        phases: dict[str, list[Span]] = {}
        for s in spans:
            if s.name == name:
                phases.setdefault(s.phase, []).append(s)
        rolled = [log.rollup(group) for group in phases.values()]
        for metric in SPAN_METRICS:
            vals = [r[metric] for r in rolled]
            out[f"{name}.{metric}"] = statistics.median(vals) if vals else 0.0
    return out
