"""Spans around the benchmark's calls into the engine, and Spark's own
task metrics for each span, read from an uncompressed event log.

A span is (name, start, end, parent, pass id), kept in memory and
written out when the run ends. Its self time is its duration minus the
part of its interval that its child spans cover. Each span runs its
Spark jobs under a job group named after the span, so the event log
attributes every task to exactly one span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_id: int = 0
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return [
        s.duration - covered(kids[i], s.start, s.end) for i, s in enumerate(spans)
    ]


class Tracer:
    """Records spans; `spark` (optional) tags each span's jobs with a job
    group so that EventLog can attribute task metrics to it."""

    def __init__(self, spark=None, clock=time.perf_counter):
        self.spark = spark
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{name}#{self.pass_id}"
        s = Span(name, 0.0, parent=parent, pass_id=self.pass_id, group=group)
        self.spans.append(s)
        self._stack.append(idx)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        s.start = self.clock()
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(self.spans[self._stack[-1]].group, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def records(self) -> list[dict]:
        return [
            {
                "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "pass": s.pass_id, "self_s": st,
                **s.counts,
            }
            for s, st in zip(self.spans, self_times(self.spans))
        ]


def event_log_conf(log_dir: str) -> dict:
    """Spark settings for an uncompressed event log under `log_dir`."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# SQL metrics of the Arrow/Python operators, as Spark 4 names them
PYTHON_TIME_MS = "time to run Python workers"
ARROW_BYTES = ("data sent to Python workers", "data returned from Python workers")


class EventLog:
    """Incremental reader of one application's event log.

    Per job group it sums the task metrics of every task of every job in
    the group: executor CPU time, shuffle bytes written, bytes spilled,
    failed tasks, and the Python-worker time and the bytes crossing the
    Arrow boundary of Arrow operators."""

    def __init__(self, spark, log_dir: str):
        self.spark = spark
        app_id = spark.sparkContext.applicationId
        paths = glob.glob(os.path.join(log_dir, app_id + "*"))
        if len(paths) != 1:
            raise FileNotFoundError(f"no single event log for {app_id} in {log_dir}")
        self.path = paths[0]
        self._pos = 0
        self._stage_group: dict[int, str] = {}
        self.groups: dict[str, dict] = defaultdict(_zero_metrics)

    def sync(self, timeout_ms: int = 60_000):
        """Wait until Spark's listeners have seen every event so far, then
        read what the log gained."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
        with open(self.path, "rb") as f:
            f.seek(self._pos)
            data = f.read()
        end = data.rfind(b"\n") + 1
        self._pos += end
        for line in data[:end].splitlines():
            self._event(json.loads(line))

    def _event(self, ev: dict):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                self.groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    self._stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = self._stage_group.get(ev.get("Stage ID"))
            if group is None:
                return
            m = self.groups[group]
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                m["failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["shuffle_write_mb"] += (
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                / 2**20
            )
            m["spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / 2**20
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                name = acc.get("Name")
                if name == PYTHON_TIME_MS:
                    m["python_s"] += float(acc.get("Update", 0)) / 1e3
                elif name in ARROW_BYTES:
                    m["arrow_mb"] += float(acc.get("Update", 0)) / 2**20


def _zero_metrics() -> dict:
    return {
        "jobs": 0, "failed_tasks": 0, "executor_cpu_s": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "python_s": 0.0,
        "arrow_mb": 0.0,
    }
