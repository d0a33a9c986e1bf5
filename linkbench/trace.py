"""Spans, process-tree memory sampling, host context and Spark stage
statistics for the benchmark.

Spans are recorded from the benchmark's own files only: around each
set-up step, around each public call a workload makes, and — in a traced
run — around the package's public functions that those calls reach,
by wrapping the module attributes (:meth:`Tracer.wrap`). Nothing inside
the package is edited. A span holds a name, start, end, parent and the
run id shared by all spans of one run; spans stay in memory and are
written out once, when the run ends.

Stage statistics come from the Spark status REST API (the traced run
turns the UI on). Stages are attributed to a span by time: one client
runs one call at a time, so every stage submitted inside a span's
interval belongs to it, including the stages a streaming query runs on
its own thread under its own job group.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
import urllib.request
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import Any, Callable, Iterator

import numpy as np


class Tracer:
    def __init__(self, spark=None, traced: bool = False) -> None:
        self.spark = spark
        self.traced = traced
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._patched: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any]]:
        rec: dict[str, Any] = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.traced and self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"{name}:{self.run_id}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.traced and self.spark is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]["name"]
                    self.spark.sparkContext.setJobGroup(
                        f"{outer}:{self.run_id}", outer)
                else:
                    sc = self.spark.sparkContext
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module: Any, attr: str, name: str,
             summary: Callable[[Any], dict[str, Any]] | None = None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper (undone by
        :meth:`unwrap`); ``summary(result)`` adds fields to the span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if summary is not None:
                    rec.update(summary(out))
                return out

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def named(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def self_time(self, rec: dict[str, Any]) -> float:
        """Span duration minus the part covered by its direct children."""
        kids = [(s["start"], s["end"]) for s in self.spans
                if s["parent"] == rec["id"] and s["end"]]
        return (rec["end"] - rec["start"]) - _covered(kids, rec["start"], rec["end"])

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s, self_s=round(self.self_time(s), 6))
                f.write(json.dumps(row) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_mb(root: int | None = None) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 1e6


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by this process and its descendants,
    including reaped children: steal time on a shared host is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def descendants() -> list[int]:
    return _tree_pids(os.getpid())[1:]


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver
    JVM and Python workers), sampled from ``/proc`` while running."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: Any) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# ---------------------------------------------------------------------------
# host context: explains noisy runs, gates nothing
# ---------------------------------------------------------------------------


def cpu_sample() -> tuple[float, float]:
    """(busy, steal) jiffies from /proc/stat, host-wide."""
    with open("/proc/stat") as f:
        vals = [float(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0.0] * 8)[:8]
    return user + nice + system + irq + softirq, steal


def steal_pct(before: tuple[float, float], after: tuple[float, float]) -> float:
    busy, steal = after[0] - before[0], after[1] - before[1]
    return 100.0 * steal / (busy + steal) if busy + steal > 0 else 0.0


def host_speed_s() -> float:
    """Fixed-work single-thread CPU and memory probe: 10 matmuls of a
    512x512 float64 array."""
    a = np.arange(512 * 512, dtype=np.float64).reshape(512, 512) / 1e6
    t0 = time.perf_counter()
    acc = a
    for _ in range(10):
        acc = (acc @ a) % 1.0
    float(acc[0, 0])
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


class StageLog:
    """Every completed job and stage of the application, fetched once."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.jobs = [
            {"start": _ts(j.get("submissionTime")), **j}
            for j in self._get("/jobs")
        ]
        self.stages = []
        for s in self._get("/stages?status=complete"):
            s["start"] = _ts(s.get("submissionTime"))
            s["end"] = _ts(s.get("completionTime"))
            s["launch"] = _ts(s.get("firstTaskLaunchedTime"))
            if s["start"] and s["end"]:
                self.stages.append(s)

    def _get(self, path: str) -> Any:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def stats(self, spans: list[dict[str, Any]]) -> dict[str, float]:
        """Totals over the stages and jobs submitted inside ``spans``."""
        def inside(t):
            return t is not None and any(s["start"] <= t <= s["end"] for s in spans)

        stages = [s for s in self.stages if inside(s["start"])]
        jobs = [j for j in self.jobs if inside(j["start"])]
        wall = sum(s["end"] - s["start"] for s in spans)
        busy = sum(_covered([(st["start"], st["end"]) for st in stages],
                            s["start"], s["end"]) for s in spans)
        out = {
            "wall_s": wall,
            "jobs": float(len(jobs)),
            "stages": float(len(stages)),
            "tasks": float(sum(s.get("numCompleteTasks", 0) for s in stages)),
            "driver_gap_s": wall - busy,
            "sched_delay_s": sum(
                max(0.0, (s["launch"] or s["start"]) - s["start"]) for s in stages),
            "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6,
            "spill_mb": sum(s.get("diskBytesSpilled", 0) for s in stages) / 1e6,
            "task_skew": 0.0,
        }
        if stages:
            heavy = max(stages, key=lambda s: s.get("executorRunTime", 0))
            q = self._get(f"/stages/{heavy['stageId']}/{heavy['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")
            med, top = q["executorRunTime"]
            out["task_skew"] = top / med if med > 0 else 1.0
        return out


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0
