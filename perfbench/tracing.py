"""Tracing for the benchmark: in-memory spans, Spark event-log reduction and
process-tree accounting.

Spans are recorded by the benchmark around its calls into each layer of the
program; nothing inside the program is instrumented. A traced run also
enables Spark's event log and tags every job with a job group
``<pass>|<op>|<phase>``, so the log can be reduced to per-pass Spark totals
and a per-op build/action job table.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Keeps spans in memory; ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished root span measured elsewhere (another process
        reading the same monotonic clock)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, None, self.run_id))

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)


def job_group(pass_no: int, op: str, phase: str) -> str:
    return f"{pass_no}|{op}|{phase}"


_TASK_FIELDS = {
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "deser_s": lambda m: m.get("Executor Deserialize Time", 0) / 1e3,
    "input_mb": lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0) / _MB,
    "output_mb": lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0) / _MB,
    "shuffle_write_mb": lambda m: m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0) / _MB,
    "shuffle_read_mb": lambda m: (
        m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
    ) / _MB,
    "spill_mb": lambda m: m.get("Disk Bytes Spilled", 0) / _MB,
}

SPARK_FIELDS = ("jobs", "stages", "tasks", *_TASK_FIELDS)


def _event_files(log_dir: str) -> list[str]:
    """Event-log files in write order: a rolling log is a directory of
    ``events_<n>_<app>`` parts next to an ``appstatus`` marker."""
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    parts = [p for p in paths if os.path.isfile(p)
             and not os.path.basename(p).startswith("appstatus")]

    def order(p: str) -> tuple[int, str]:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (int(m.group(1)) if m else 0, p)

    return sorted(parts, key=order)


def reduce_event_log(log_dir: str) -> dict[str, dict]:
    """Reduce the (uncompressed) event log in ``log_dir`` to totals per job
    group: ``{group: {"jobs", "stages", "tasks", <task metric>...}}``.
    Jobs started outside any group are dropped."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0))
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        out[group]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics")
                    if group and metrics:
                        row = out[group]
                        row["tasks"] += 1
                        for name, get in _TASK_FIELDS.items():
                            row[name] += get(metrics)
    return dict(out)


def _proc_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        kids[int(raw[raw.rindex(")") + 2:].split()[1])].append(int(d))
    tree, frontier = [root], [root]
    while frontier:
        for c in kids.get(frontier.pop(), ()):
            tree.append(c)
            frontier.append(c)
    return tree


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of per-process peak resident set size (``VmHWM``) over the live
    process tree under ``root`` (default: this process): the driver Python,
    the JVM and its Python workers."""
    total_kb = 0
    for pid in _proc_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def descendants(root: int | None = None) -> list[int]:
    return _proc_tree(root or os.getpid())[1:]
