"""Measurement plumbing: spans, per-layer counters, RSS sampling, the
Spark event-log reader and the summary statistics the benchmark reports.

Spans are recorded by the benchmark around its calls into each engine
layer (never inside the engine). A span is ``(name, start, end, parent,
op)``; times are wall-clock epoch seconds so they line up with the
millisecond timestamps of the Spark event log.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: Layers a span name may start with; ``bench`` is the harness itself (the
#: operation's root span), so its self time is the unaccounted share.
LAYERS = ("bench", "session", "sources", "context", "plans", "operators")


class Tracer:
    """In-memory span and counter store for one run.

    Disabled tracers cost one attribute test per call, so the same workload
    code serves the untraced and the traced measurement.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[list] = []
        self.counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.time(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.time()
            self._stack.pop()

    def add(self, name: str, value: float) -> None:
        """Add ``value`` to counter ``name`` of the current operation."""
        if self.enabled and self.op is not None:
            self.counters[self.op][name] += value

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by that span's child spans, summed
        over the spans inside operations (``bench.op`` trees); spans of the
        post-operation inspection are excluded."""
        covered = [0.0] * len(self.spans)
        in_op = [False] * len(self.spans)
        for i, (name, start, end, parent, _op) in enumerate(self.spans):
            if parent is not None:
                covered[parent] += end - start
                in_op[i] = in_op[parent]
            else:
                in_op[i] = name == "bench.op"
        out: dict[str, float] = {layer: 0.0 for layer in LAYERS}
        for i, (name, start, end, _parent, _op) in enumerate(self.spans):
            if in_op[i]:
                layer = name.split(".", 1)[0]
                out[layer] += (end - start) - covered[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op}) + "\n")


def rss_bytes(pid: int) -> int:
    """Resident set size of ``pid`` from /proc (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Background sampler of the summed RSS of a fixed set of processes;
    ``peak`` is the largest sum seen between ``start`` and ``stop``."""

    def __init__(self, pids: list[int], interval: float = 0.05) -> None:
        self.pids = pids
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(rss_bytes(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest order statistic with at least ten samples beyond it:
    ``(value, percentile, samples_beyond)``. With ten or fewer samples no
    such percentile exists and the maximum is reported (percentile 100,
    zero beyond)."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, 0
    k = n - 10  # 1-based rank with exactly ten samples above it
    return s[k - 1], 100.0 * k / n, 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one job group, read through
    the status tracker right after the group's last job ended."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = failed = 0
    for stage in stages:
        info = tracker.getStageInfo(stage)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue  # skipped: its shuffle output was reused
        ran += 1
        tasks += info.numCompletedTasks + info.numFailedTasks
        failed += info.numFailedTasks
    return {"scheduler.jobs": len(jobs), "scheduler.stages": ran,
            "scheduler.tasks": tasks, "scheduler.failed_tasks": failed}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def event_log_metrics(log_dir: str, groups: dict[str, tuple[float, float]],
                      cores: int) -> dict[str, dict[str, float]]:
    """Per job group (one per traced operation) scheduler metrics from the
    Spark event log: task run/CPU/GC/fetch-wait seconds, spilled bytes,
    busy ratio over the operation window, and the driver gap (operation
    wall time not covered by any job).

    ``groups`` maps job group -> (start, end) epoch seconds of the
    operation. Only jobs whose group is in ``groups`` count.
    """
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_window: dict[str, list[tuple[float, float]]] = defaultdict(list)
    acc: dict[str, dict[str, float]] = {g: defaultdict(float) for g in groups}
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir)
                   for n in names if n.startswith("events"))
    for path in paths:  # one file, or a directory of rolled files
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in groups:
                        job_group[ev["Job ID"]] = group
                        job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                        for stage in ev.get("Stage IDs", []):
                            stage_group[stage] = group
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    jid = ev["Job ID"]
                    job_window[job_group[jid]].append(
                        (job_start[jid], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                    m = ev.get("Task Metrics") or {}
                    a = acc[stage_group[ev["Stage ID"]]]
                    a["scheduler.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["scheduler.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["scheduler.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["scheduler.shuffle_fetch_wait_s"] += (
                        m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3)
                    a["scheduler.spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
    out: dict[str, dict[str, float]] = {}
    for group, (start, end) in groups.items():
        wall = max(end - start, 1e-9)
        a = dict(acc[group])
        clipped = [(max(s, start), min(e, end)) for s, e in job_window[group] if e > start]
        a["scheduler.driver_gap_s"] = max(0.0, wall - _union_length(clipped))
        a["scheduler.busy_ratio"] = a.get("scheduler.task_run_s", 0.0) / (wall * cores)
        out[group] = a
    return out


def finite(x: float) -> float:
    return x if math.isfinite(x) else 0.0
