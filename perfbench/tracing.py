"""Tracing for the per-layer run: spans, Spark event-log counters and
process-tree memory.

Spans are recorded from the benchmark's own code around each call into
a layer and kept in memory. Every span also names the Spark job group
its jobs ran under, so the task counters Spark writes to its event log
(enabled only for the traced run) can be attributed to the span after
the session has stopped and the log is complete.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    group: str


@dataclass
class Tracer:
    """In-memory span recorder. ``span`` sets the Spark job group for
    the duration of the call, so the group id ties jobs to the span."""

    sc: object
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[tuple[str, str]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        """Record a span around the block, whose Spark jobs run under a
        job group named after the span."""
        parent = self._stack[-1] if self._stack else None
        group = f"{name}#{self.run_id}#{len(self.spans)}"
        self._set_group(group, name)
        self._stack.append((name, group))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, t0, t1, parent and parent[0],
                                   self.run_id, group))
            self._set_group(parent[1] if parent else None,
                            parent and parent[0])

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def _set_group(self, group: str | None, name: str | None) -> None:
        if not group:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, name)

    def seconds(self, name: str) -> float:
        """Total seconds spent in spans called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# --- Spark event log ----------------------------------------------------

EVENTLOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}


@dataclass
class TaskStats:
    tasks: int = 0
    failed: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    shuffle_records: int = 0

    def add(self, ev: dict) -> None:
        info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
        self.tasks += 1
        if info.get("Failed") or ev.get("Task End Reason", {}).get(
                "Reason", "Success") != "Success":
            self.failed += 1
        self.cpu_ns += int(m.get("Executor CPU Time", 0))
        self.gc_ms += int(m.get("JVM GC Time", 0))
        sw = m.get("Shuffle Write Metrics", {})
        self.shuffle_bytes += int(sw.get("Shuffle Bytes Written", 0))
        self.shuffle_records += int(sw.get("Shuffle Records Written", 0))


@dataclass
class EventLog:
    """Job, stage and task counters of the jobs one finished application
    submitted within a time window, keyed by the job group each job ran
    under."""

    jobs_by_group: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    tasks_by_group: dict[str, TaskStats] = field(
        default_factory=lambda: defaultdict(TaskStats))
    stage_runs: dict[int, list[int]] = field(
        default_factory=lambda: defaultdict(list))
    total: TaskStats = field(default_factory=TaskStats)
    n_jobs: int = 0

    @classmethod
    def read(cls, log_dir: str, since_ms: float,
             until_ms: float) -> "EventLog":
        """The jobs submitted between ``since_ms`` and ``until_ms``
        (epoch milliseconds) and the tasks of their stages, from the
        rolling event log Spark writes under ``log_dir``."""
        files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                              "events_*")))
        out = cls()
        stage_group: dict[int, str] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        if not since_ms <= ev["Submission Time"] <= until_ms:
                            continue
                        group = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id") or ""
                        out.n_jobs += 1
                        out.jobs_by_group[group] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                    elif kind == "SparkListenerTaskEnd":
                        sid = ev.get("Stage ID")
                        if sid not in stage_group:
                            continue
                        out.total.add(ev)
                        out.tasks_by_group[stage_group[sid]].add(ev)
                        out.stage_runs[sid].append(int(
                            (ev.get("Task Metrics") or {})
                            .get("Executor Run Time", 0)))
        return out

    def for_span(self, tracer: Tracer, name: str) -> tuple[int, TaskStats]:
        """Jobs and task counters of every span called ``name``
        (nested spans excluded: they run under their own group)."""
        jobs, agg = 0, TaskStats()
        for s in tracer.spans:
            if s.name != name:
                continue
            jobs += self.jobs_by_group.get(s.group, 0)
            t = self.tasks_by_group.get(s.group)
            if t is None:
                continue
            for k in ("tasks", "failed", "cpu_ns", "gc_ms", "shuffle_bytes",
                      "shuffle_records"):
                setattr(agg, k, getattr(agg, k) + getattr(t, k))
        return jobs, agg

    def task_skew(self, min_tasks: int) -> float:
        """Median over stages with >= ``min_tasks`` tasks of the max
        task run time over the median task run time."""
        ratios = []
        for runs in self.stage_runs.values():
            if len(runs) >= min_tasks:
                med = statistics.median(runs)
                ratios.append(max(runs) / med if med > 0 else 1.0)
        return statistics.median(ratios) if ratios else 1.0


# --- process tree --------------------------------------------------------

def process_tree(root: int) -> dict[int, int]:
    """Resident bytes of every live process in ``root``'s tree (``root``
    included), keyed by pid. Zombies are left out: they have ended."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] == "Z":
            continue
        pid = int(d)
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21]) * page
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in rss:
            tree[pid] = rss[pid]
        todo.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Samples the resident set size of this process and all of its
    descendants (the JVM and the Python workers) every ``interval``
    seconds on a daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_mb

    def _sample(self) -> None:
        total = sum(process_tree(os.getpid()).values())
        self.peak_mb = max(self.peak_mb, total / 2 ** 20)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()
