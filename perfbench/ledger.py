"""Span recording, Spark event-log attribution and process-tree RSS sampling.

The benchmark measures every layer from outside: it opens a span around each
of its own calls into a layer's public functions. In a traced run Spark
writes its event log, and each Spark job is attributed to the span that was
open when the job was submitted. The benchmark issues one call at a time, so
that attribution is unambiguous even for jobs submitted from the engine's
own thread pools (which drop Spark job groups).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str  # e.g. "compaction", "scan", "queries.simhash"
    call: int  # one logical call; a call may own several phases
    phase: str  # e.g. "call", "plan", "exec"
    start_ms: float
    end_ms: float = 0.0

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


@dataclass
class SpanLog:
    """In-memory spans, folded with the event log when the run ends. Times
    are epoch milliseconds, the clock of Spark's event-log timestamps."""

    spans: list[Span] = field(default_factory=list)
    _next_call: int = 0

    def new_call(self) -> int:
        self._next_call += 1
        return self._next_call

    @contextmanager
    def span(self, layer: str, phase: str = "call", call: int | None = None):
        s = Span(layer, call if call is not None else self.new_call(), phase, time.time() * 1000.0)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self.spans.append(s)


# ----------------------------------------------------------------- event log
@dataclass
class JobRecord:
    job_id: int
    submit_ms: float
    end_ms: float
    stage_ids: list[int]
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0


def read_event_log(log_dir: str) -> list[JobRecord]:
    """Jobs with their folded SparkListenerTaskEnd metrics, from the plain
    (uncompressed, non-rolling) event log Spark wrote under ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    task_ends: list[dict] = []
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = JobRecord(ev["Job ID"], float(ev["Submission Time"]), 0.0, list(ev["Stage IDs"]))
                    jobs[j.job_id] = j
                    for sid in j.stage_ids:
                        stage_job[sid] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = float(ev["Completion Time"])
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(ev)
    for ev in task_ends:
        j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
        m = ev.get("Task Metrics") or {}
        if j is None:
            continue
        j.tasks += 1
        j.run_ms += float(m.get("Executor Run Time", 0))
        j.cpu_ns += float(m.get("Executor CPU Time", 0))
    for j in jobs.values():
        if not j.end_ms:
            j.end_ms = j.submit_ms
    return sorted(jobs.values(), key=lambda j: j.submit_ms)


def _covered_ms(intervals: list[tuple[float, float]]) -> float:
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


def attribute(spans: list[Span], jobs: list[JobRecord], cores: int) -> dict[tuple[str, int], dict]:
    """Fold jobs into the (layer, call) whose span was open at submission.

    Per call: ``jobs``, ``tasks``, ``task_s`` (summed executor run time),
    ``cpu_s`` (summed executor CPU time), ``idle_s`` (span time with no job
    of this call running: driver-side work and gaps between jobs) and
    ``core_util`` = task_s / (cores x span)."""
    calls: dict[tuple[str, int], dict] = {}
    for s in spans:
        c = calls.setdefault((s.layer, s.call), {"span_ms": 0.0, "spans": [], "jobs": []})
        c["span_ms"] += s.end_ms - s.start_ms
        c["spans"].append(s)
    ordered = sorted(spans, key=lambda s: s.start_ms)
    for j in jobs:
        for s in ordered:
            if s.start_ms <= j.submit_ms <= s.end_ms:
                calls[(s.layer, s.call)]["jobs"].append(j)
                break
    out = {}
    for key, c in calls.items():
        busy = 0.0
        for s in c["spans"]:
            busy += _covered_ms(
                [(max(j.submit_ms, s.start_ms), min(j.end_ms, s.end_ms)) for j in c["jobs"]
                 if j.end_ms > s.start_ms and j.submit_ms < s.end_ms]
            )
        span_s = c["span_ms"] / 1000.0
        task_s = sum(j.run_ms for j in c["jobs"]) / 1000.0
        out[key] = {
            "jobs": len(c["jobs"]),
            "tasks": sum(j.tasks for j in c["jobs"]),
            "task_s": task_s,
            "cpu_s": sum(j.cpu_ns for j in c["jobs"]) / 1e9,
            "idle_s": max(0.0, (c["span_ms"] - busy) / 1000.0),
            "core_util": task_s / (cores * span_s) if span_s > 0 else 0.0,
        }
    return out


COUNTERS = ("jobs", "tasks", "task_s", "cpu_s", "idle_s", "core_util")


def layer_counters(per_call: dict[tuple[str, int], dict], layer: str) -> dict[str, float]:
    """Median over the calls of ``layer`` of each Spark counter (0 when the
    workload never called the layer)."""
    rows = [v for (lay, _), v in per_call.items() if lay == layer]
    return {k: (statistics.median(r[k] for r in rows) if rows else 0.0) for k in COUNTERS}


# ----------------------------------------------------------------- RSS
def _tree_rss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as fh:
                ppid, kb = 0, 0
                for line in fh:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        pid = int(d)
        rss[pid] = kb
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, []))
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Spark
    JVM and its Python workers), sampled on a background thread while a
    ``measure()`` block runs; the peak accumulates over all blocks."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0

    def _run(self, stop: threading.Event) -> None:
        pid = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            if stop.wait(self.interval_s):
                return

    @contextmanager
    def measure(self):
        stop = threading.Event()
        thread = threading.Thread(target=self._run, args=(stop,), name="rss-sampler", daemon=True)
        thread.start()
        try:
            yield
        finally:
            stop.set()
            thread.join(timeout=5)
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
