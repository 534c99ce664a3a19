"""Spans recorded around the calls into each layer, and Spark's own stage
and task metrics read back from an uncompressed event log.

Every span that calls into Spark tags its jobs with a job group named
``<trace id>/<span name>``, so each stage in the event log maps back to
the pass (trace id) and the query step that ran it.
"""

from __future__ import annotations

import itertools
import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# Physical operators that hand rows to Python workers (RDD scope names).
PYTHON_OPERATOR = re.compile(r"Pandas|Python|InArrow")


@dataclass
class Span:
    id: int
    trace: str
    name: str
    parent: int | None
    start: float
    end: float


class Tracer:
    """Keeps spans in memory; ``span`` also sets the Spark job group, and
    restores the enclosing span's group when it ends."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, trace: str, name: str, parent: int | None = None):
        sid = next(self._ids)
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        group = f"{trace}/{name}"
        self.sc.setJobGroup(group, group)
        start = time.time()
        try:
            yield sid
        finally:
            self.spans.append(Span(sid, trace, name, parent, start, time.time()))
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(outer, outer)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of it that its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.id, [])
            if b > s.start and a < s.end
        ]
        out[s.id] = (s.end - s.start) - union_length(clipped)
    return out


def read_event_log(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def stages_from_events(events: list[dict]) -> list[dict]:
    """One record per completed stage attempt, with its job group and the
    task metrics summed over its tasks (times in seconds, sizes in bytes)."""
    groups: dict[tuple[int, int], str | None] = {}
    tasks: dict[tuple[int, int], list[dict]] = {}
    done: list[dict] = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            props = e.get("Properties") or {}
            groups[(si["Stage ID"], si["Stage Attempt ID"])] = props.get(
                "spark.jobGroup.id"
            )
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            tasks.setdefault(key, []).append(e)
        elif kind == "SparkListenerStageCompleted":
            done.append(e["Stage Info"])
    out = []
    for si in done:
        key = (si["Stage ID"], si["Stage Attempt ID"])
        ts = tasks.get(key, [])
        m = [t.get("Task Metrics") or {} for t in ts]
        durations = sorted(
            t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in ts
        )
        median = statistics.median(durations) if durations else 0
        scopes = [json.loads(r["Scope"])["name"] for r in si.get("RDD Info", []) if r.get("Scope")]
        out.append({
            "stage": si["Stage ID"],
            "attempt": si["Stage Attempt ID"],
            "group": groups.get(key),
            "start": si.get("Submission Time", 0) / 1000,
            "end": si.get("Completion Time", 0) / 1000,
            "tasks": len(ts),
            "executor_s": sum(x.get("Executor Run Time", 0) for x in m) / 1e3,
            "executor_cpu_s": sum(x.get("Executor CPU Time", 0) for x in m) / 1e9,
            "gc_s": sum(x.get("JVM GC Time", 0) for x in m) / 1e3,
            "shuffle_write_bytes": sum(
                x.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for x in m
            ),
            "shuffle_records": sum(
                x.get("Shuffle Write Metrics", {}).get("Shuffle Records Written", 0) for x in m
            ),
            "spill_bytes": sum(x.get("Disk Bytes Spilled", 0) for x in m),
            "input_bytes": sum(x.get("Input Metrics", {}).get("Bytes Read", 0) for x in m),
            "input_records": sum(x.get("Input Metrics", {}).get("Records Read", 0) for x in m),
            # max task time over median; 1.0 for one-task or sub-ms stages
            "skew": durations[-1] / median if len(durations) > 1 and median > 0 else 1.0,
            "python": any(PYTHON_OPERATOR.search(s) for s in scopes),
        })
    return out


def jobs_by_group(events: list[dict]) -> dict[str, int]:
    out: dict[str, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is not None:
                out[g] = out.get(g, 0) + 1
    return out


def aggregate(stages: list[dict], jobs: int, start: float, end: float) -> dict:
    """Operator and driver-control layer metrics over the stages of one
    pass (or one query step) that ran between ``start`` and ``end``."""
    mb = 1e6
    active = union_length([
        (max(s["start"], start), min(s["end"], end))
        for s in stages if s["end"] > start and s["start"] < end
    ])
    return {
        "operators.executor_s": sum(s["executor_s"] for s in stages),
        "operators.executor_cpu_s": sum(s["executor_cpu_s"] for s in stages),
        "operators.gc_s": sum(s["gc_s"] for s in stages),
        "operators.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / mb,
        "operators.shuffle_records": sum(s["shuffle_records"] for s in stages),
        "operators.spill_mb": sum(s["spill_bytes"] for s in stages) / mb,
        "operators.task_skew": max((s["skew"] for s in stages), default=1.0),
        "operators.python_stage_s": sum(s["executor_s"] for s in stages if s["python"]),
        "sources.input_rows": sum(s["input_records"] for s in stages),
        "sources.input_mb": sum(s["input_bytes"] for s in stages) / mb,
        "queries.jobs": jobs,
        "queries.stages": len(stages),
        "queries.driver_gap_s": (end - start) - active,
    }
