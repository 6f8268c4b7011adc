"""Span recorder and Spark event-log parser for the traced run.

Standard library only, so the parser and its test run without Spark.

``SpanRecorder`` wraps module attributes of the program in this process.
Each call of a wrapped function is a span: it records its wall interval
and tags the Spark jobs started inside it by setting ``spark.jobGroup.id``
in the calling thread (local properties are per thread, so a span entered
on a pool thread tags that thread's jobs).  A span's parent is the
innermost open span of its own thread, else the innermost open span of
the main thread, which is where the pool threads of ``generate_changes``
are started from.

``EventLog`` reads an uncompressed Spark event log (one JSON object per
line) into jobs, stages, task totals and SQL execution starts.
``span_metrics``, ``query_metrics`` and ``window_metrics`` turn spans and
time windows into the benchmark's per-layer numbers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"
# Spark stamps events in whole milliseconds; a job started right after a
# window opened may carry a stamp up to this much before it
SLACK_S = 0.001
GROUP_KEY = "spark.jobGroup.id"

# accumulator names of org.apache.spark.sql.execution.python.PythonSQLMetrics
PY_ACCUMS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "recv_bytes",
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # seconds since the epoch, the clock Spark stamps events with
    end: float


class SpanRecorder:
    """Records spans around calls; ``sc`` needs ``get/setLocalProperty``."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._next = 0
        self._main = threading.main_thread().ident
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        with self._lock:
            sid = self._next
            self._next += 1
            own = self._stacks[tid]
            main = self._stacks[self._main]
            parent = own[-1] if own else (main[-1] if main else None)
            own.append(sid)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self._stacks[tid].remove(sid)
                self.spans.append(Span(sid, name, parent, start, end))

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``restore``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


@dataclass
class Job:
    jid: int
    group: str | None
    submit: float  # seconds
    end: float | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class TaskTotals:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    py: dict[str, float] = field(default_factory=lambda: dict.fromkeys(PY_ACCUMS.values(), 0.0))

    def add(self, other: TaskTotals) -> None:
        for k in ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for k, v in other.py.items():
            self.py[k] += v


class EventLog:
    """Jobs, per-stage task totals and SQL execution starts of one app."""

    def __init__(self, lines) -> None:
        self.jobs: dict[int, Job] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, TaskTotals] = defaultdict(TaskTotals)
        self.sql_starts: list[float] = []
        for line in lines:
            line = line.strip()
            if line:
                self._event(json.loads(line))

    @classmethod
    def read(cls, path: str) -> EventLog:
        with open(path, encoding="utf-8") as f:
            return cls(f)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], props.get(GROUP_KEY), e["Submission Time"] / 1000.0)
            job.stages = list(e.get("Stage IDs", []))
            self.jobs[job.jid] = job
            for s in job.stages:
                self.stage_job.setdefault(s, job.jid)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            t = self.stage_tasks[e["Stage ID"]]
            t.tasks += 1
            m = e.get("Task Metrics") or {}
            t.run_ms += m.get("Executor Run Time", 0)
            t.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            t.gc_ms += m.get("JVM GC Time", 0)
            r = m.get("Shuffle Read Metrics") or {}
            t.shuffle_read_bytes += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            w = m.get("Shuffle Write Metrics") or {}
            t.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
            t.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                key = PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    t.py[key] += float(acc.get("Update") or 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql_starts.append(e["time"] / 1000.0)

    def job_end(self, job: Job) -> float:
        return job.end if job.end is not None else job.submit

    def stages_run(self, jobs: list[Job]) -> list[int]:
        """Stages that ran tasks for these jobs.  A stage that a later job
        lists again but skips counts once, for the job that ran it."""
        return [
            s for job in jobs for s in job.stages
            if self.stage_job.get(s) == job.jid and s in self.stage_tasks
        ]

    def totals(self, jobs: list[Job]) -> TaskTotals:
        out = TaskTotals()
        for s in self.stages_run(jobs):
            out.add(self.stage_tasks[s])
        return out

    def busy_s(self, jobs: list[Job], start: float, end: float) -> float:
        """Length of the union of the jobs' intervals, clipped to a window."""
        ivs = sorted(
            (max(j.submit, start), min(self.job_end(j), end)) for j in jobs
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy

    def jobs_between(self, start: float, end: float) -> list[Job]:
        return [j for j in self.jobs.values() if start - SLACK_S <= j.submit <= end]


def _descendants(spans: list[Span]) -> dict[int, set[int]]:
    children: dict[int | None, list[int]] = defaultdict(list)
    for s in spans:
        children[s.parent].append(s.sid)
    out: dict[int, set[int]] = {}
    for s in spans:
        todo, seen = [s.sid], set()
        while todo:
            sid = todo.pop()
            seen.add(sid)
            todo.extend(children.get(sid, ()))
        out[s.sid] = seen
    return out


def span_metrics(log: EventLog, spans: list[Span], names: list[str]) -> dict[str, float]:
    """``<name>.wall_ms``/``driver_ms``/``jobs``/``exec_cpu_ms`` per span name.

    Metrics are inclusive: a span owns the jobs tagged with its own group
    and with the groups of its descendant spans (on any thread).  Several
    calls of one name add up.  ``driver_ms`` is the span's wall time with
    none of its jobs running."""
    desc = _descendants(spans)
    by_group: dict[str, list[Job]] = defaultdict(list)
    for job in log.jobs.values():
        if job.group:
            by_group[job.group].append(job)
    out = {}
    for name in names:
        wall = driver = cpu = 0.0
        njobs = 0
        for s in spans:
            if s.name != name:
                continue
            jobs = [j for sid in desc[s.sid] for j in by_group.get(f"{GROUP_PREFIX}{sid}", ())]
            wall += s.end - s.start
            driver += (s.end - s.start) - log.busy_s(jobs, s.start, s.end)
            cpu += log.totals(jobs).cpu_ms
            njobs += len(jobs)
        out[f"{name}.wall_ms"] = wall * 1000.0
        out[f"{name}.driver_ms"] = driver * 1000.0
        out[f"{name}.jobs"] = float(njobs)
        out[f"{name}.exec_cpu_ms"] = cpu
    return out


def window_metrics(log: EventLog, start: float, end: float) -> dict[str, float]:
    """Runtime metrics of every job submitted in ``[start, end]``."""
    jobs = log.jobs_between(start, end)
    t = log.totals(jobs)
    mb = 1024.0 * 1024.0
    return {
        "driver.busy_ms": ((end - start) - log.busy_s(jobs, start, end)) * 1000.0,
        "executor.jobs": float(len(jobs)),
        "executor.stages": float(len(log.stages_run(jobs))),
        "executor.tasks": float(t.tasks),
        "executor.run_ms": t.run_ms,
        "executor.cpu_ms": t.cpu_ms,
        "executor.gc_ms": t.gc_ms,
        "shuffle.read_mb": t.shuffle_read_bytes / mb,
        "shuffle.write_mb": t.shuffle_write_bytes / mb,
        "shuffle.spill_mb": t.spill_bytes / mb,
        "pyworker.start_ms": t.py["start_ms"],
        "pyworker.init_ms": t.py["init_ms"],
        "pyworker.run_ms": t.py["run_ms"],
        "pyworker.sent_mb": t.py["sent_bytes"] / mb,
        "pyworker.recv_mb": t.py["recv_bytes"] / mb,
    }


def query_metrics(log: EventLog, spans: list[Span]) -> dict[str, float]:
    """``queries.<q>.build_ms``/``plan_ms``/``exec_ms`` from the spans
    ``queries.<q>.build`` (the builder call) and ``queries.<q>.exec`` (the
    sink call, split by ``plan_exec_ms``)."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if not s.name.startswith("queries."):
            continue
        prefix, part = s.name.rsplit(".", 1)
        if part == "build":
            out[f"{prefix}.build_ms"] += (s.end - s.start) * 1000.0
        else:
            plan, execute = plan_exec_ms(log, s.start, s.end)
            out[f"{prefix}.plan_ms"] += plan
            out[f"{prefix}.exec_ms"] += execute
    return dict(out)


def plan_exec_ms(log: EventLog, start: float, end: float) -> tuple[float, float]:
    """Split a sink call ``[start, end]`` at its first SQL execution start.

    Spark posts the start event once the write command is analysed,
    optimized and planned, so the part before it is Catalyst time and the
    part after it is execution.  Without a start event the whole call
    counts as execution."""
    first = min((t for t in log.sql_starts if start - SLACK_S <= t <= end), default=None)
    if first is None:
        return 0.0, (end - start) * 1000.0
    first = max(first, start)
    return (first - start) * 1000.0, (end - first) * 1000.0
