"""Spans around calls into the engine's layers, and Spark counts per span.

A span times one call from the benchmark into a layer. Timing is always
on (two ``perf_counter`` reads), so traced and untraced runs time the
same code. With tracing on, every Spark job started inside a span is
tagged with the job group ``<phase>:<span name>``, and the event log
written by the session is parsed after it stops, giving jobs, stages,
tasks, shuffle, spill, GC, CPU and Python-worker time per span.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

PYTHON_TIME_METRIC = "time to run Python workers"  # PythonSQLMetrics, ms


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def bind(self, spark) -> None:
        self.spark = spark

    def _set_group(self, name: str | None) -> None:
        if self.enabled and self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id", None if name is None else f"{self.phase}:{name}")

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append({"name": name, "parent": parent, "phase": self.phase,
                               "start": t0, "end": t1})


class GroupCounts:
    __slots__ = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                 "gc_ms", "cpu_ns", "python_ms", "stage_task_ms")

    def __init__(self):
        self.jobs = self.stages = self.tasks = 0
        self.shuffle_write_bytes = self.spill_bytes = 0
        self.gc_ms = self.cpu_ns = self.python_ms = 0
        self.stage_task_ms: dict[int, list[int]] = defaultdict(list)

    def add(self, other: "GroupCounts") -> None:
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                  "gc_ms", "cpu_ns", "python_ms"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for sid, ms in other.stage_task_ms.items():
            self.stage_task_ms[sid].extend(ms)

    def task_skew(self, min_tasks: int) -> float:
        """Largest max/median task time over stages with >= min_tasks tasks."""
        worst = 1.0
        for ms in self.stage_task_ms.values():
            if len(ms) >= min_tasks:
                worst = max(worst, max(ms) / max(statistics.median(ms), 1.0))
        return worst

    def as_dict(self) -> dict:
        return {"jobs": self.jobs, "stages": self.stages, "tasks": self.tasks,
                "shuffle_write_bytes": self.shuffle_write_bytes,
                "spill_bytes": self.spill_bytes, "gc_ms": self.gc_ms,
                "cpu_s": self.cpu_ns / 1e9, "python_s": self.python_ms / 1e3}


def parse_event_log(path: str) -> dict[str, GroupCounts]:
    """Counts per job group from one Spark JSON event log."""
    groups: dict[str, GroupCounts] = defaultdict(GroupCounts)
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                groups[g].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "-")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                gc = groups[stage_group.get(sid, "-")]
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                gc.tasks += 1
                gc.stage_task_ms[sid].append(info["Finish Time"] - info["Launch Time"])
                gc.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                gc.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                gc.gc_ms += tm.get("JVM GC Time", 0)
                gc.cpu_ns += tm.get("Executor CPU Time", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == PYTHON_TIME_METRIC:
                        gc.python_ms += int(acc.get("Update") or 0)
    return groups


def total(groups: dict[str, GroupCounts], keep) -> GroupCounts:
    """Sum of the groups whose name satisfies ``keep``."""
    out = GroupCounts()
    for name, gc in groups.items():
        if keep(name):
            out.add(gc)
    return out
