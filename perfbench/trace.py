"""Spans, Spark task metrics and process memory, measured from outside.

Spans wrap the benchmark's own calls into the engine's public functions.
In a traced run each span also sets Spark's job group to its span id, so
the event log (enabled only in traced runs) attributes every Spark job,
and so every stage and task, to the innermost enclosing span. Phases of
an engine call that the engine reports itself (``build_index``'s parse
and stage walls, ``compact_staging``'s stage walls) become derived child
spans; jobs are assigned to them by submission time.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    phase: str
    start: float
    end: float = 0.0
    derived: bool = False
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Setting ``sc`` (a SparkContext) turns on
    the per-span Spark job group, which traced runs do."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.phase = "setup"

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}.{len(self.spans) + 1}", name,
                 parent.id if parent else None, self.run_id, self.phase,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def derive(self, parent: Span, name: str, start: float,
               end: float) -> Span:
        """Child span for an engine-reported phase of ``parent``."""
        s = Span(f"{self.run_id}.{len(self.spans) + 1}", name, parent.id,
                 self.run_id, parent.phase, start, end, derived=True)
        self.spans.append(s)
        return s

    def named(self, name: str, phase: str = "timed") -> list[Span]:
        return [s for s in self.spans if s.name == name and s.phase == phase]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "run_id": s.run_id, "phase": s.phase, "start": s.start,
                    "end": s.end, "derived": s.derived, **s.attrs,
                }) + "\n")


def derive_sequence(tracer: Tracer, parent: Span, start: float,
                    phases: list[tuple[str, float]]) -> None:
    """Consecutive derived children of ``parent`` from (name, seconds)."""
    t = start
    for name, sec in phases:
        tracer.derive(parent, name, t, t + sec)
        t += sec


# -- process memory -------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def _resident_kb(pid: int) -> int | None:
    """Memory of one process: the resident set of the JVM, the
    proportional set of every other process, None for a child the JVM
    forked to run a command (until it execs, it maps the JVM's pages).

    The JVM's pages are its own, so its resident set, read from ``statm``,
    equals its proportional set. ``smaps_rollup`` would walk the page
    tables of its multi-GB heap under the JVM's mmap lock, tens of
    milliseconds per sample that would slow the run being measured.
    """
    if _comm(pid) == "java":
        with open(f"/proc/{pid}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        if _comm(ppid) == "java":
            return None
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    return _pss_kb(pid)


def descendants_rss_mb(root: int) -> float:
    """Resident memory of every process below ``root`` (the Spark driver
    JVM and its Python workers), not counting ``root`` itself.

    Proportional set size, so pages the forked Python workers share with
    their daemon count once rather than once per worker.
    """
    kids = _children_map()
    todo, total = list(kids.get(root, [])), 0
    while todo:
        pid = todo.pop()
        try:
            kb = _resident_kb(pid)
        except OSError:
            continue
        if kb is None:  # a fork of the JVM: its pages are the JVM's
            continue
        todo.extend(kids.get(pid, []))
        total += kb
    return total / 1024


class RssSampler:
    """Background sampler of ``descendants_rss_mb`` keeping the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- Spark event log --------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    shuffle_write: int
    spill: int
    input_bytes: int
    input_rows: int
    output_bytes: int
    failed: bool


class EventLog:
    """Jobs and tasks from one application's event-log events."""

    def __init__(self, events):
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        ends = {}
        for e in events:
            if e.get("Event") == "SparkListenerJobEnd":
                ends[e["Job ID"]] = e["Completion Time"] / 1000
            else:
                self._event(e)
        for job_id, end in ends.items():
            self.jobs[job_id].end = end
        owner: dict[int, int] = {}
        for job in sorted(self.jobs.values(), key=lambda j: j.id):
            for sid in job.stages:
                owner.setdefault(sid, job.id)
        self.stage_job = owner

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], props.get("spark.jobGroup.id"),
                e["Submission Time"] / 1000, stages=list(e["Stage IDs"]))
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            self.tasks.append(Task(
                stage=e["Stage ID"],
                run_s=m.get("Executor Run Time", 0) / 1000,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                shuffle_write=(m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                spill=m.get("Disk Bytes Spilled", 0),
                input_bytes=(m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0),
                input_rows=(m.get("Input Metrics") or {}).get(
                    "Records Read", 0),
                output_bytes=(m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0),
                failed=(e.get("Task End Reason") or {}).get("Reason")
                != "Success",
            ))

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        ids = {j.id for j in jobs}
        return [t for t in self.tasks if self.stage_job.get(t.stage) in ids]


def read_event_log(directory: str) -> EventLog:
    """The single application's event log under ``directory`` (Spark
    writes one ``eventlog_v2_<app id>`` directory per application)."""
    from scripts.stage_balance import read_events

    logs = os.listdir(directory)
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {logs}")
    return EventLog(read_events(os.path.join(directory, logs[0])))


class Attribution:
    """Spans joined with the jobs and tasks that ran inside them."""

    def __init__(self, tracer: Tracer, log: EventLog):
        self.log = log
        self._by_id = {s.id: s for s in tracer.spans}
        self._kids: dict[str, list[Span]] = {}
        for s in tracer.spans:
            if s.parent:
                self._kids.setdefault(s.parent, []).append(s)

    def _subtree(self, span: Span) -> set[str]:
        ids, todo = set(), [span]
        while todo:
            s = todo.pop()
            ids.add(s.id)
            todo.extend(self._kids.get(s.id, []))
        return ids

    def jobs(self, span: Span) -> list[Job]:
        if span.derived:
            return [j for j in self.jobs(self._by_id[span.parent])
                    if span.start <= j.submit < span.end]
        ids = self._subtree(span)
        return [j for j in self.log.jobs.values() if j.group in ids]

    def tasks(self, span: Span) -> list[Task]:
        return self.log.tasks_of(self.jobs(span))

    @staticmethod
    def _covered(span: Span, jobs: list[Job]) -> float:
        """Seconds of ``span`` during which at least one job ran."""
        covered, last = 0.0, span.start
        for j in sorted(jobs, key=lambda j: j.submit):
            s, e = max(j.submit, last), min(j.end, span.end)
            if e > s:
                covered += e - s
                last = e
        return covered

    def driver_gap(self, span: Span) -> float:
        """Span wall not covered by any of its Spark jobs."""
        return span.wall - self._covered(span, self.jobs(span))

    def write_wall(self, span: Span) -> float:
        """Union wall of the span's jobs that wrote output files."""
        writers = {t.stage for t in self.tasks(span) if t.output_bytes}
        return self._covered(span, [j for j in self.jobs(span)
                                    if writers.intersection(j.stages)])


def task_skew(tasks: list[Task]) -> float:
    """max / median task run time of the heaviest stage among ``tasks``."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_s)
    if not by_stage:
        return 0.0
    heavy = max(by_stage.values(), key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med else 1.0


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
