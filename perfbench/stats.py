"""Small statistics and host-measurement helpers."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

MIN_BEYOND = 10


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest whole percentile p such that at least ``min_beyond`` of
    ``n`` samples lie above it (nearest-rank), or None when n is too
    small for any percentile to have that many samples beyond it."""
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)          # nearest-rank index, 1-based
        if n - rank >= min_beyond:
            return float(p)
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def tail(values, min_beyond: int = MIN_BEYOND) -> tuple[float | None, float]:
    """(percentile, value): the highest percentile with ``min_beyond``
    samples beyond it; the maximum when there are too few samples."""
    p = tail_percentile(len(values), min_beyond)
    if p is None:
        return None, max(values)
    return p, percentile(values, p)


def median(values) -> float:
    return statistics.median(values)


def calib_probe(n: int = 1_000_000) -> float:
    """Seconds for a fixed pure-Python loop (about 0.1 s): flags a slow
    host window. Moves with the host, never with the program under test."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal) from /proc/stat; empty where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests: flags a slow host window as
    ``calib_probe`` does."""
    if len(before) < 8 or len(after) < 8:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total > 0 else None


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(child pids by parent pid, resident bytes by pid), from /proc."""
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue      # the process ended while being read
        fields = stat.rsplit(")", 1)[1].split()
        if fields[0] == "Z":
            continue      # ended, only not yet reaped
        kids.setdefault(int(fields[1]), []).append(int(name))
        rss[int(name)] = pages * page
    return kids, rss


def descendants(root: int) -> list[int]:
    """Live processes descended from ``root``, ``root`` excluded."""
    kids, _ = _proc_table()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident memory of ``root`` ("driver"), of the JVM among its
    descendants ("jvm") and of every other descendant ("workers")."""
    kids, rss = _proc_table()
    out = {"driver": rss.get(root, 0) / 2**20, "jvm": 0.0, "workers": 0.0}
    todo = list(kids.get(root, ()))
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "workers"
        except OSError:
            kind = "workers"
        out[kind] += rss.get(p, 0) / 2**20
        todo.extend(kids.get(p, ()))
    return out


class RssSampler:
    """Samples the process tree's resident memory on a thread; ``peak``
    is the largest sample of the whole tree (the JVM and Python workers
    included), ``parts`` the largest of each part."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0.0
        self.parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            parts = tree_rss_mb(os.getpid())
            self.peak = max(self.peak, sum(parts.values()))
            for k, v in parts.items():
                self.parts[k] = max(self.parts[k], v)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
