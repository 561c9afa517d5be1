"""Spans, Spark job accounting and process memory for the benchmark.

Spans are recorded from the benchmark's own code around calls into
each layer's public functions; nothing inside the program is
instrumented. Each layer call runs under its own Spark job group, so
job and task counts come from the status tracker and shuffle, spill
and skew figures from the traced run's own event log.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    children: list[Span] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part its (sequential) children cover."""
        return self.duration - sum(c.duration for c in self.children)


class Tracer:
    """In-memory span recorder; written out once, when the run ends."""

    def __init__(self, spark):
        self.spark = spark
        self.roots: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        """Record a span; with `job_group`, tag the Spark jobs it runs
        with the span name so they can be counted afterwards."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent.name if parent else None)
        (parent.children if parent else self.roots).append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if job_group else None
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sp.end = time.perf_counter()
            self._stack.pop()

    def all_spans(self) -> list[Span]:
        out: list[Span] = []
        todo = list(self.roots)
        while todo:
            sp = todo.pop(0)
            out.append(sp)
            todo.extend(sp.children)
        return out

    def find(self, name: str) -> Span:
        return next(s for s in self.all_spans() if s.name == name)


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) the status tracker recorded for a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numTasks
    return len(jobs), tasks


def event_log_stats(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: shuffle bytes written, bytes spilled to disk,
    and task skew (max over stages of longest / median task time),
    read from the application's event log after the session stops."""
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    out: dict[str, dict[str, float]] = {}
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if not f.startswith(".")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid)
                    if group is None:
                        continue
                    info = ev.get("Task Info", {})
                    metrics = ev.get("Task Metrics") or {}
                    acc = out.setdefault(
                        group, {"shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
                    )
                    acc["shuffle_write_bytes"] += (
                        metrics.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        )
                    )
                    acc["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
                    stage_tasks.setdefault(sid, []).append(
                        (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000
                    )
    for sid, durations in stage_tasks.items():
        med = statistics.median(durations)
        skew = max(durations) / med if med > 0 else 1.0
        acc = out[stage_group[sid]]
        acc["task_skew"] = max(acc.get("task_skew", 1.0), skew)
    return out


# -- process memory ----------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """`root` and every descendant: the JVM, the PySpark daemon and its
    Python workers."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def reset_peak_rss(root: int) -> None:
    """Reset VmHWM to the current RSS for the whole tree."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(root: int) -> float:
    """Sum of VmHWM over the tree, in MiB."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def cpu_seconds(root: int) -> float:
    """CPU time used so far by this process, `root`'s tree and their
    reaped children. Steal time on a shared host is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:4])
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / tick
    return total
