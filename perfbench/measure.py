"""Measurement helpers: the percentile rule, the span tracer (with self
time), job-id-window attribution of Spark event-log records to spans, and
the ``/proc`` peak-RSS reader and reset. Pure Python; nothing here imports Spark.
"""

from __future__ import annotations

import json
import math
import time
from collections import defaultdict
from dataclasses import dataclass, field


# --- percentiles -------------------------------------------------------------


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(xs: list[float], q: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank ``q``-quantile, or None when fewer than ``min_beyond``
    samples lie above it (a tail with fewer samples is not reported)."""
    s = sorted(xs)
    rank = max(1, math.ceil(q * len(s)))
    if len(s) - rank < min_beyond:
        return None
    return s[rank - 1]


def highest_percentile(xs: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest nearest-rank percentile that still has ``min_beyond``
    samples above it, as (q, value); None when there are too few samples."""
    s = sorted(xs)
    rank = len(s) - min_beyond
    if rank < 1:
        return None
    return rank / len(s), s[rank - 1]


# --- spans ---------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0  # DAGScheduler nextJobId at span start
    job_hi: int = 0  # ... and at span end: the span owns jobs [job_lo, job_hi)


class Tracer:
    """In-memory span recorder for a single driver thread. ``job_counter``
    returns the number of Spark jobs submitted so far; with one thread
    submitting jobs, the jobs a span caused are exactly the ids between its
    start and end readings."""

    def __init__(self, job_counter=lambda: 0, clock=time.time):
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.active = True  # wrappers record only while active
        self._stack: list[int] = []
        self._deferred: list = []
        self._job_counter = job_counter
        self._clock = clock

    def count(self, name: str, value: float) -> None:
        self.counts[name].append(value)

    def defer(self, thunk) -> None:
        """Queue work (e.g. a count that runs a Spark job) for ``flush``,
        which runs outside the traced iteration."""
        self._deferred.append(thunk)

    def flush(self) -> None:
        active, self.active = self.active, False
        try:
            while self._deferred:
                self._deferred.pop(0)()
        finally:
            self.active = active

    def begin(self, name: str) -> Span:
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                  self._clock(), job_lo=self._job_counter())
        self.spans.append(sp)
        self._stack.append(sp.id)
        return sp

    def end(self, sp: Span) -> None:
        sp.job_hi = self._job_counter()
        sp.end = self._clock()
        popped = self._stack.pop()
        if popped != sp.id:
            raise RuntimeError(f"span {sp.name} closed out of order")

    def call(self, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        sp = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(sp)

    def wrap(self, owner, attr: str, name: str, after=None):
        """Rebind ``owner.attr`` (a module or class attribute that callers
        look up at call time) to a traced wrapper; returns the original.
        ``after(args, kwargs, result)`` runs after the span closes, on
        traced calls only."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            active = self.active
            result = self.call(name, fn, *args, **kwargs)
            if after is not None and active:
                after(args, kwargs, result)
            return result

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)
        return fn


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def covered(interval: tuple[float, float], others: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``others``."""
    lo, hi = interval
    clipped = [(max(lo, a), min(hi, b)) for a, b in others if b > lo and a < hi]
    return _union_length(clipped)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    return {sp.id: (sp.end - sp.start) - covered((sp.start, sp.end), children[sp.id]) for sp in spans}


# --- Spark event log -----------------------------------------------------------

ENGINE_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


@dataclass
class Job:
    id: int
    start: float  # seconds since the epoch
    end: float
    stages: set = field(default_factory=set)
    metrics: dict = field(default_factory=lambda: dict.fromkeys(ENGINE_METRICS, 0))


def parse_event_log(lines) -> dict[int, Job]:
    """Jobs, with their stages' task metrics summed, from Spark's JSON event
    log. A stage id listed by several jobs (a reused shuffle) is charged to
    the job that ran its tasks: the latest job started before the task."""
    jobs: dict[int, Job] = {}
    stage_jobs: dict[int, list[int]] = defaultdict(list)
    counted_stages: set[int] = set()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"] / 1000, 0.0)
            jobs[job.id] = job
            for sid in ev.get("Stage IDs", []):
                stage_jobs[sid].append(job.id)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            owners = stage_jobs.get(ev["Stage ID"])
            if not owners:
                continue
            job = jobs[owners[-1]]
            m = job.metrics
            if ev["Stage ID"] not in counted_stages:
                counted_stages.add(ev["Stage ID"])
                m["stages"] += 1
            job.stages.add(ev["Stage ID"])
            m["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    for job in jobs.values():
        job.metrics["jobs"] = 1
        if not job.end:
            job.end = job.start
    return jobs


def jobs_in_window(sp: Span, jobs: dict[int, Job]) -> list[Job]:
    """The jobs a span caused: ids in its [job_lo, job_hi) window."""
    return [jobs[j] for j in range(sp.job_lo, sp.job_hi) if j in jobs]


def engine_totals(job_list: list[Job]) -> dict[str, float]:
    out = dict.fromkeys(ENGINE_METRICS, 0)
    for job in job_list:
        for k, v in job.metrics.items():
            out[k] += v
    return out


def driver_busy(sp: Span, jobs: list[Job]) -> float:
    """Span time during which none of its Spark jobs was running: planning,
    Python, py4j round trips and local file IO."""
    return (sp.end - sp.start) - covered((sp.start, sp.end), [(j.start, j.end) for j in jobs])


# --- memory ----------------------------------------------------------------------


def vmhwm_mb(pid: int | str = "self", proc_root: str = "/proc") -> float:
    """Peak resident set (``VmHWM``) of one process, in MB (2**20 bytes)."""
    with open(f"{proc_root}/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                value, unit = line.split()[1:3]
                if unit != "kB":
                    raise ValueError(f"unexpected VmHWM unit {unit!r}")
                return int(value) / 1024
    raise ValueError(f"no VmHWM line for pid {pid}")


def reset_vmhwm(pid: int | str = "self", proc_root: str = "/proc") -> None:
    """Reset a process's ``VmHWM`` to its current resident set (Linux
    ``clear_refs`` code 5), so a later read gives the peak since now."""
    with open(f"{proc_root}/{pid}/clear_refs", "w", encoding="ascii") as f:
        f.write("5")
