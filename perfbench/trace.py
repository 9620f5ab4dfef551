"""Spans, Spark job attribution and the per-layer metrics of a traced run.

A span records name, start, end, parent, thread and the run id of the
operation (tick or query) it belongs to. Spans live in memory
until the run ends. On the main thread each span also sets a Spark job
group, so the local event log ties every job to the span that started
it; jobs started on other threads (a stream's `foreachBatch`) carry no
group and are placed by time instead. Catalyst phase times come from a
`QueryExecutionListener` registered through py4j.

Spans are opened only from the benchmark's own files: around its calls
into the package, and by wrapping public package functions for the
length of the traced phase (`Tracer.wrap`, undone by `unwrap_all`).
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    run: int | None = None
    main: bool = True  # opened on the main thread

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    start: float
    end: float
    group: str | None
    stages: list[int] = field(default_factory=list)
    tasks: list[dict] = field(default_factory=list)


class Tracer:
    """Times every span; stores spans and sets job groups only while
    ``active``."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.run: int | None = None
        self.sc = None
        self.plans: list[tuple[float, float]] = []  # (start, planning seconds)
        self._ids = itertools.count(1)
        self._main: list[Span] = []
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self, main: bool) -> list[Span]:
        if main:
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _group(self, sp: Span | None) -> None:
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{sp.id}", sp.name)

    @contextmanager
    def span(self, name: str):
        main = threading.current_thread() is threading.main_thread()
        stack = self._stack(main)
        outer = stack[-1] if stack else (self._main[-1] if self._main else None)
        sp = Span(next(self._ids), name, time.time(),
                  parent=outer.id if outer else None, run=self.run, main=main)
        stack.append(sp)
        record = self.active
        if record and main:
            self._group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if record:
                self.spans.append(sp)
                if main:
                    self._group(stack[-1] if stack else None)

    def write(self, path: str) -> None:
        """Write the recorded spans out, one JSON object a line."""
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.id, "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "run": sp.run, "main": sp.main,
                }) + "\n")

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned call."""
        orig = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def listen_planning(self, spark) -> None:
        """Record Catalyst analysis + optimization + planning time of
        every query execution, keyed by when its analysis began."""
        from pyspark.java_gateway import ensure_callback_server_started

        tracer = self

        class PlanningListener:
            def onSuccess(self, func_name, qe, duration_ns):
                it = qe.tracker().phases().iterator()
                first, total = None, 0
                while it.hasNext():
                    phase = it.next()._2()
                    total += phase.durationMs()
                    first = min(first or phase.startTimeMs(), phase.startTimeMs())
                if first is not None:
                    tracer.plans.append((first / 1000.0, total / 1000.0))

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self._listener = PlanningListener()
        spark._jsparkSession.listenerManager().register(self._listener)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their stages and finished tasks from a Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    ran: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                              props.get("spark.jobGroup.id"))
                    jobs[job.id] = job
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, job.id)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    ran.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev))
    for sid in ran:
        if sid in stage_job:
            jobs[stage_job[sid]].stages.append(sid)
    for sid, ev in tasks:
        if sid in stage_job:
            jobs[stage_job[sid]].tasks.append(ev)
    return [j for j in jobs.values() if j.end]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def task_window(ev: dict) -> tuple[float, float]:
    info = ev["Task Info"]
    return info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0


def exec_metrics(tasks: list[dict]) -> dict[str, float]:
    out = defaultdict(float)
    for ev in tasks:
        m = ev.get("Task Metrics") or {}
        out["exec.task_s"] += m.get("Executor Run Time", 0) / 1000.0
        out["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        rd = m.get("Shuffle Read Metrics") or {}
        out["exec.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        out["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        out["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return out


class Attribution:
    """Spans of the traced ops joined with the event log's jobs."""

    def __init__(self, tracer: Tracer, jobs: list[Job], ops: set[int]):
        self.ops = ops  # run ids of the traced operations
        self.spans = [s for s in tracer.spans if s.run in ops]
        self.by_id = {s.id: s for s in tracer.spans}
        self.roots = {s.run: s for s in self.spans if s.name == "op"}
        self.plans = tracer.plans
        self.job_span: dict[int, Span] = {}
        for job in jobs:
            sp = None
            if job.group and job.group.startswith("pb"):
                sp = self.by_id.get(int(job.group[2:]))
            if sp is None:  # other threads: the innermost span open at submission
                open_ = [s for s in tracer.spans if s.start <= job.start <= s.end]
                sp = max(open_, key=lambda s: s.start, default=None)
            if sp is not None and sp.run in ops:
                self.job_span[job.id] = sp
        self.jobs = [j for j in jobs if j.id in self.job_span]

    def n_ops(self) -> int:
        return max(len(self.roots), 1)

    def is_within(self, sp: Span, name: str) -> bool:
        while sp is not None:
            if sp.name == name:
                return True
            sp = self.by_id.get(sp.parent)
        return False

    def total(self, name: str) -> float:
        """Summed duration of ``name`` spans, outermost ones only."""
        return sum(
            s.duration for s in self.spans
            if s.name == name and not self.is_within(self.by_id.get(s.parent), name)
        )

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s.parent].append((s.start, s.end))
        return sum(
            s.duration - _union(_clip(kids[s.id], s.start, s.end))
            for s in self.spans if s.name == name
        )

    def jobs_of(self, runs=None, within: str | None = None) -> list[Job]:
        out = []
        for j in self.jobs:
            sp = self.job_span[j.id]
            if runs is not None and sp.run not in runs:
                continue
            if within and not self.is_within(sp, within):
                continue
            out.append(j)
        return out

    def spark_split(self) -> dict[str, float]:
        """The five-way Spark split, summed over the traced ops."""
        out = defaultdict(float)
        jobs = self.jobs_of()
        for j in jobs:
            out["spark.stages"] += len(j.stages)
            out["spark.tasks"] += len(j.tasks)
            covered = _union(_clip([task_window(t) for t in j.tasks], j.start, j.end))
            out["spark.sched_s"] += (j.end - j.start) - covered
            for k, v in exec_metrics(j.tasks).items():
                out[k] += v
        out["spark.jobs"] = len(jobs)
        job_windows = [(j.start, j.end) for j in jobs]
        for root in self.roots.values():
            busy = _union(_clip(job_windows, root.start, root.end))
            out["driver.self_s"] += root.duration - busy
            out["catalyst.plan_s"] += sum(
                p for t, p in self.plans if root.start <= t <= root.end
            )
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total
