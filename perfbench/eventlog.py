"""Offline reader for a Spark event log (one JSON event per line).

Only the events the benchmark needs are kept: job start/end (submission
time, stage ids), stage completion (the operator names in each RDD's
scope, which identify the pandas UDF stage) and task end (run time, CPU,
GC, shuffle, spill).  Times in the log are wall-clock milliseconds, the
same clock as ``time.time()`` in the Spark driver process, so jobs can be attributed
to the driver-side spans that submitted them.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

UDF_OPERATORS = ("MapInPandas", "MapInArrow", "PythonMapInArrow")


@dataclass
class Stage:
    id: int
    name: str = ""
    operators: set = field(default_factory=set)
    task_s: list = field(default_factory=list)  # executor run time per task
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def is_udf(self) -> bool:
        return any(op in self.operators for op in UDF_OPERATORS)


@dataclass
class Job:
    id: int
    submit_s: float
    end_s: float | None = None
    stage_ids: list = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        """Jobs submitted inside the wall-clock window [t0, t1]."""
        return [j for j in self.jobs.values() if t0 <= j.submit_s <= t1]

    def stages_of(self, jobs) -> list[Stage]:
        """Stages of ``jobs`` that ran at least one task (skipped stages
        are listed by their job but never run)."""
        out = []
        for j in jobs:
            for sid in j.stage_ids:
                st = self.stages.get(sid)
                if st is not None and st.task_s:
                    out.append(st)
        return out


def summarize(stages) -> dict:
    """Totals over ``stages``; ``task_skew`` is max/median task time."""
    tasks = [t for st in stages for t in st.task_s]
    med = statistics.median(tasks) if tasks else 0.0
    return {
        "tasks": len(tasks),
        "task_s": sum(tasks),
        "task_skew": (max(tasks) / med) if med > 0 else 0.0,
        "cpu_s": sum(st.cpu_s for st in stages),
        "gc_s": sum(st.gc_s for st in stages),
        "shuffle_read_bytes": sum(st.shuffle_read_bytes for st in stages),
        "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages),
        "spill_bytes": sum(st.spill_bytes for st in stages),
    }


def _scope_name(rdd: dict) -> str | None:
    scope = rdd.get("Scope")
    if not scope:
        return None
    try:
        return json.loads(scope).get("name")
    except (ValueError, AttributeError):
        return None


def parse_lines(lines) -> EventLog:
    log = EventLog()

    def stage(sid: int) -> Stage:
        if sid not in log.stages:
            log.stages[sid] = Stage(sid)
        return log.stages[sid]

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[ev["Job ID"]] = Job(
                id=ev["Job ID"],
                submit_s=ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1000.0
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            st = stage(info["Stage ID"])
            st.name = info.get("Stage Name", st.name)
            for rdd in info.get("RDD Info", []):
                name = _scope_name(rdd)
                if name:
                    st.operators.add(name)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = stage(ev["Stage ID"])
            st.task_s.append(m.get("Executor Run Time", 0) / 1000.0)
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics", {})
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return log


def parse(path) -> EventLog:
    with open(path) as f:
        return parse_lines(f)
