"""In-memory span tracing around the program's public functions.

A traced run patches each layer's public function at the name its caller
resolves (``monitors/scheduler.py`` binds ``evaluate_monitors``,
``next_fire`` and ``transition`` with ``from ... import``, so the patch
goes on the scheduler module, not on the defining one). Every call then
records a span: name, start, end, parent span and operation id. Spans stay
in memory and are written out as JSON lines when the run ends.

Self time is a span's duration minus the time its child spans cover; the
run is single-threaded, so children never overlap and the self times of
one operation's spans sum to the operation's own span.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op = ""
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        i = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               self._stack[-1] if self._stack else None, self.op))
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i].end = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        """Count at a layer boundary (only while tracing)."""
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + value

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, wrapper=None) -> None:
        """Replace ``owner.attr`` by a traced version; ``restore`` undoes it."""
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, (wrapper or self.wrap)(name, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- derived numbers ----------------------------------------------------

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def busy(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        return sum(t for s, t in zip(self.spans, self.self_times()) if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_sum_ratio(self, root: str) -> float:
        """Sum of self times of every span under ``root`` spans divided by
        the root spans' duration: 1.0 when the spans nest correctly."""
        selfs = self.self_times()
        roots = {i for i, s in enumerate(self.spans) if s.name == root}
        total = sum(self.spans[i].end - self.spans[i].start for i in roots)
        if not total:
            return 1.0
        covered = 0.0
        for i, s in enumerate(self.spans):
            j = i
            while j is not None and j not in roots:
                j = self.spans[j].parent
            if j is not None:
                covered += selfs[i]
        return covered / total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def patch_program(tracer: Tracer, sc) -> None:
    """Wrap every layer boundary the benchmark reports on. Calls the
    benchmark makes itself (renders, page loads, dedup passes) get their
    spans at the call site instead, around the collect that does the work."""
    from rearview_spark.functions import graphite
    from rearview_spark.monitors import dashboard, evaluate, scheduler, store
    from rearview_spark.monitors.notify import AlertRouter
    from rearview_spark.operators import dedup

    def traced_compile(name, fn):
        # building the lazy frame from the returned plan is its own span
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                plan = fn(*args, **kwargs)
            wrapped = tracer.wrap("graphite.plan", plan)
            wrapped.lookback_s, wrapped.lookahead_s = plan.lookback_s, plan.lookahead_s
            return wrapped

        return traced

    def traced_evaluate(name, fn):
        # counts the windows shared-window dedup leaves and the Spark jobs
        # evaluation itself runs (job ids are issued in submission order)
        @functools.wraps(fn)
        def traced(spark, monitors, metrics, now, *args, **kwargs):
            specs = list(monitors)
            windows = {(tuple(s.metrics), s.to_date or now, s.minutes) for s in specs}
            tracker = sc.statusTracker()
            before = set(tracker.getJobIdsForGroup(tracer.op))
            with tracer.span(name):
                out = fn(spark, specs, metrics, now, *args, **kwargs)
            tracer.add("evaluate.monitors", len(specs))
            tracer.add("evaluate.windows", len(windows))
            tracer.add("evaluate.spark_jobs",
                       len(set(tracker.getJobIdsForGroup(tracer.op)) - before))
            return out

        return traced

    sched = scheduler.MonitorScheduler
    tracer.patch(sched, "tick", "scheduler.tick")
    tracer.patch(sched, "due_monitors", "scheduler.due_monitors")
    tracer.patch(scheduler, "evaluate_monitors", "evaluate", traced_evaluate)
    tracer.patch(dashboard, "evaluate_monitors", "evaluate", traced_evaluate)
    tracer.patch(scheduler, "next_fire", "cron.next_fire")
    tracer.patch(scheduler, "transition", "lifecycle.transition")
    tracer.patch(evaluate, "compile_target", "graphite.compile", traced_compile)
    tracer.patch(graphite, "compile_target", "graphite.compile", traced_compile)
    for op in STORE_OPS:
        tracer.patch(store.JobStore, op, f"store.{op}")
    tracer.patch(AlertRouter, "dispatch", "notify.dispatch")
    tracer.patch(dedup, "connected_components", "dedup.components")


STORE_OPS = ("read", "save_monitors", "append_job_data", "overwrite",
             "pending_alerts", "mark_alert_dispatched")


# ---------------------------------------------------------------------------
# Spark job counts, directory deltas, resident memory
# ---------------------------------------------------------------------------

def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st is not None else 0
    return len(jobs), stages, tasks


def walk(root: str) -> dict[str, int]:
    """path -> size of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(bytes, files) of files that appeared between two walks."""
    new = [p for p in after if p not in before]
    return sum(after[p] for p in new), len(new)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, children reaped included) of ``root``
    and every process under it: the driver, the JVM and the Python
    workers the JVM forks. A worker reaped between the reads of one sweep
    is missed or counted twice, so this is the median of three sweeps."""
    def sweep() -> float:
        stat = _proc_stat()
        return sum(sum(int(x) for x in stat[p][11:15]) for p in _subtree(stat, root))

    return sorted(sweep() for _ in range(3))[1] / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Every process under ``pid``."""
    return _subtree(_proc_stat(), pid)[1:]


def _proc_stat() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = f.read().rsplit(")", 1)[1].split()
            except (FileNotFoundError, ProcessLookupError):
                pass
    return out


def _subtree(stat: dict[int, list[str]], root: int) -> list[int]:
    """``root`` (if alive) and every process under it."""
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        if p in stat:
            out.append(p)
        frontier += [c for c, f in stat.items() if int(f[1]) == p]
    return out
