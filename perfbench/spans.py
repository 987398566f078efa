"""Spans recorded around the program's public functions, and Spark's own
counters attributed to them.

Spans are recorded from outside the program: ``Tracer.wrap`` replaces a
module or class attribute with a wrapper that times each call. Every
top-level span (one request or one operation) runs under its own Spark
job group, and ``parse_event_log`` reads Spark's event log afterwards to
credit each group with the jobs, stages, tasks, CPU, GC, shuffle and
spill it caused.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float          # epoch seconds, comparable with Spark's timestamps
    end: float = 0.0
    parent: int | None = None
    rid: str | None = None    # request or operation id shared by its spans

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans nest per thread; a top-level span
    gets a fresh ``rid`` which its descendants inherit."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        parent = self.current()
        with self._lock:
            sid = self._next
            self._next += 1
        if rid is None:
            rid = parent.rid if parent else f"op{sid}"
        s = Span(sid, name, time.time(), parent=parent.sid if parent else None, rid=rid)
        stack = self._stack()
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({**asdict(s), "self": selfs[s.sid]}) + "\n")


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict[int, float]:
    """A span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.dur - union_length(kids.get(s.sid, ()), s.start, s.end)
        for s in spans
    }


@dataclass
class GroupCounters:
    """What Spark did for one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list = field(default_factory=list)

    @property
    def shuffle_bytes(self) -> int:
        return self.shuffle_write_bytes

    def add(self, other: "GroupCounters") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def parse_event_log(lines) -> dict[str, GroupCounters]:
    """Job-group -> counters, from Spark event-log JSON lines.

    Stages and tasks are credited to the job group of the first job that
    listed their stage; a stage counts once it completes (stages skipped
    because their shuffle output already exists never run)."""
    groups: dict[str, GroupCounters] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            groups.setdefault(g, GroupCounters()).jobs += 1
            for st in ev.get("Stage IDs", ()):
                stage_group.setdefault(st, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            g = job_group.get(jid, "")
            groups.setdefault(g, GroupCounters()).job_intervals.append(
                (job_start.get(jid, ev["Completion Time"] / 1000.0), ev["Completion Time"] / 1000.0)
            )
        elif kind == "SparkListenerStageCompleted":
            st = ev["Stage Info"]["Stage ID"]
            groups.setdefault(stage_group.get(st, ""), GroupCounters()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            c = groups.setdefault(stage_group.get(ev["Stage ID"], ""), GroupCounters())
            c.tasks += 1
            m = ev.get("Task Metrics") or {}
            c.run_s += m.get("Executor Run Time", 0) / 1e3
            c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c.spill_bytes += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
    return groups


def read_event_logs(log_dir: str) -> dict[str, GroupCounters]:
    """Parse every application's event log under ``log_dir``; job-group
    names are unique per run, so applications merge without clashes."""
    merged: dict[str, GroupCounters] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for g, c in parse_event_log(f).items():
                merged.setdefault(g, GroupCounters()).add(c)
    return merged
