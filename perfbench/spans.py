"""Spans, Spark event-log attribution and process-tree accounting.

Spans are recorded by the benchmark around its own calls into the
program's layers and kept in memory until the run ends. Spark work is
attributed afterwards from the event log: each job belongs to the span
whose [start, end] window contains the job's submission time, so the
traced pass calls one layer at a time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

SPARK_METRICS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("failed_tasks", "count"),
)


@dataclass
class Span:
    name: str
    parent: str | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans nest, and each records its
    parent's name."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, self._stack[-1].name if self._stack else None, time.time())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)


def spark_stats_by_span(event_log_dir: str, spans: list[Span]) -> dict:
    """{span name: {metric: value}} for SPARK_METRICS, read from the
    (uncompressed) event log(s) under ``event_log_dir``. Jobs whose
    submission falls in no span are dropped."""
    windows = sorted((s.start * 1e3, s.end * 1e3, s.name) for s in spans)
    out = {s.name: {m: 0.0 for m, _ in SPARK_METRICS} for s in spans}
    stage_span: dict[int, str] = {}

    def span_at(ms: float) -> str | None:
        # innermost (latest-starting) span containing the instant
        hit = None
        for t0, t1, name in windows:
            if t0 <= ms <= t1:
                hit = name
        return hit

    for path in sorted(glob.glob(os.path.join(event_log_dir, "*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    name = span_at(e["Submission Time"])
                    if name is None:
                        continue
                    out[name]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_span[sid] = name
                elif ev == "SparkListenerStageSubmitted":
                    name = stage_span.get(e["Stage Info"]["Stage ID"])
                    if name is not None:
                        out[name]["stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    name = stage_span.get(e["Stage ID"])
                    if name is None:
                        continue
                    o = out[name]
                    m = e.get("Task Metrics") or {}
                    o["tasks"] += 1
                    o["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    o["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    o["shuffle_write_mb"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        / 1e6
                    )
                    if e["Task End Reason"]["Reason"] != "Success":
                        o["failed_tasks"] += 1
    return out


# -- process tree (/proc) ------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree under ``root``,
    including reaped children (cutime/cstime)."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are stat fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_gb(root: int | None = None) -> float:
    """Sum over the process tree of each process's peak resident set
    (VmHWM)."""
    kb = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1e6
