"""Shared helpers: checkout paths, spans, summary statistics."""

from __future__ import annotations

import os
import resource
import statistics
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def cpu_ticks() -> list[int]:
    """The all-CPU line of /proc/stat: user, nice, system, idle, iowait,
    irq, softirq, steal, ... in clock ticks; empty where there is
    none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def got_share(t0: list[int], t1: list[int]) -> float:
    """Of the CPU time this machine's busy CPUs wanted between two
    ``cpu_ticks`` readings, the share they got: busy / (busy + steal).
    Steal is the time a virtual CPU was ready to run while the
    hypervisor ran another guest; it is 1.0 on a machine without
    steal accounting."""
    d = [b - a for a, b in zip(t0, t1)]
    if len(d) < 8:
        return 1.0
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return busy / (busy + d[7]) if busy + d[7] else 1.0


class Stopwatch:
    """Times an interval twice: ``wall``, and ``cpu_wall``, the wall
    scaled by ``got_share`` over the interval, which removes the CPU
    time the hypervisor gave to other guests (see README.md)."""

    def __init__(self):
        self.ticks0 = cpu_ticks()
        self.t0 = time.perf_counter()

    def stop(self) -> "Stopwatch":
        self.wall = time.perf_counter() - self.t0
        self.cpu_wall = self.wall * got_share(self.ticks0, cpu_ticks())
        return self


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs) -> tuple[int, float]:
    """The highest integer percentile with at least 10 samples above
    it (the benchmark's reporting rule), and its value; (50, median) when
    there are too few samples."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99, 95, 90, 75):
        if n - int(n * p / 100) > 10:
            return p, float(xs[min(n - 1, int(n * p / 100))])
    return 50, median(xs)


def summary(xs) -> dict:
    p, v = tail_percentile(xs)
    return {"median": round(median(xs), 6), f"p{p}": round(v, 6),
            "n": len(xs)}


class Tracer:
    """Times benchmark-level calls into the library's layers.

    ``span(name)`` records the call's wall interval. Given a session
    (the traced run) it also tags the Spark jobs the call launches with
    the span name as their job group, so the event-log rollup can
    attribute them; jobs a library thread launches without the group
    fall back to the innermost span covering their submission time.
    """

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[tuple[str, float, float]] = []
        self.cpu_walls: dict[str, list[float]] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if self.spark else None
        if sc is not None:
            sc.setJobGroup(name, name)
        self._stack.append(name)
        t0 = time.time()
        sw = Stopwatch()
        try:
            yield
        finally:
            sw.stop()
            t1 = time.time()
            self._stack.pop()
            self.spans.append((name, t0, t1))
            self.cpu_walls.setdefault(name, []).append(sw.cpu_wall)
            if sc is not None:
                outer = self._stack[-1] if self._stack else None
                if outer:
                    sc.setJobGroup(outer, outer)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def walls(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1 in self.spans if n == name]

    def last(self, name: str) -> float:
        return self.walls(name)[-1]

    def last_cpu(self, name: str) -> float:
        """The last ``name`` span's ``Stopwatch.cpu_wall``."""
        return self.cpu_walls[name][-1]
