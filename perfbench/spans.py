"""Spans around calls into the program's layers, and the Spark event log
parsed into the same tree.

The benchmark opens a span around every call it makes into a layer
(name, layer, start, end, parent). In a traced run each span also
becomes the Spark job group of the jobs it submits, so the event log
can hang jobs, stages and task metrics under the span that caused them.
Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: str | None = None
    ok: bool = True

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans; with ``spark_context`` set, also tags Spark jobs.

    The job group is a thread-local property of the SparkContext, so
    concurrent client threads each tag their own jobs.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.spark_context = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        # perf_counter is monotonic; the offset puts it on the epoch clock
        # the event log uses.
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        s = Span(f"{name}#{next(self._ids)}", name, layer, 0.0, parent=parent)
        self._tag(s.id, name)
        stack.append(s.id)
        s.start = self.now()
        try:
            yield s
        except BaseException:
            s.ok = False
            raise
        finally:
            s.end = self.now()
            stack.pop()
            self._tag(stack[-1] if stack else None, "")
            with self._lock:
                self.spans.append(s)

    def _tag(self, span_id: str | None, name: str) -> None:
        sc = self.spark_context
        if sc is None:
            return
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span_id, name)


@dataclass
class Stage:
    stage_id: int
    submitted: float | None = None  # epoch seconds
    completed: float | None = None
    tasks: int = 0
    first_launch: float | None = None
    run_s: float = 0.0
    scheduler_delay_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted: float
    completed: float | None = None
    stage_ids: list[int] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)

    @property
    def first_launch(self) -> float | None:
        launches = [s.first_launch for s in self.stages if s.first_launch]
        return min(launches) if launches else None

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages)


def _ms(v) -> float | None:
    return v / 1000.0 if isinstance(v, (int, float)) and v > 0 else None


def parse_event_log(lines) -> list[Job]:
    """Jobs with their stages and summed task metrics from event-log lines.

    Stages that lack a submission or completion time (skipped stages, or
    a log cut short) keep ``None`` there and are never used in a time
    difference. A shuffle stage reused by a later job is listed by that
    job too but skipped there, so each stage is credited to the first job
    submitted that lists it.
    """
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"],
                props.get("spark.jobGroup.id") or None,
                ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].completed = _ms(ev.get("Completion Time"))
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submitted = _ms(info.get("Submission Time")) or st.submitted
            st.completed = _ms(info.get("Completion Time")) or st.completed
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            launch, finish = _ms(info.get("Launch Time")), _ms(info.get("Finish Time"))
            st.tasks += 1
            if launch is not None:
                st.first_launch = min(st.first_launch or launch, launch)
            run = m.get("Executor Run Time", 0) / 1000.0
            st.run_s += run
            if launch is not None and finish is not None:
                other = (
                    m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                ) / 1000.0
                st.scheduler_delay_s += max(0.0, finish - launch - run - other)
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            out = m.get("Output Metrics") or {}
            st.input_bytes += inp.get("Bytes Read", 0)
            st.input_records += inp.get("Records Read", 0)
            st.output_bytes += out.get("Bytes Written", 0)
            st.output_records += out.get("Records Written", 0)
    owner: dict[int, Job] = {}
    for job in sorted(jobs.values(), key=lambda j: (j.submitted, j.job_id)):
        for sid in job.stage_ids:
            owner.setdefault(sid, job)
    for sid, job in owner.items():
        st = stages.get(sid)
        if st is not None and st.tasks:
            job.stages.append(st)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def read_event_logs(log_dir: str) -> list[Job]:
    """Parse every event log file in ``log_dir`` (one per SparkContext)."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            jobs += parse_event_log(f)
    return jobs


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class SpanReport:
    span: Span
    jobs: list[Job]  # jobs of this span and of every span below it
    self_s: float  # duration minus the part covered by child spans and own jobs
    job_gap_s: float  # duration not covered by any job in ``jobs``
    job_wait_s: float  # sum over ``jobs`` of submission -> first task launch

    def total(self, attr: str) -> float:
        return sum(j.total(attr) for j in self.jobs)


def attach(spans: list[Span], jobs: list[Job]) -> dict[str, SpanReport]:
    """Hang jobs under the span whose id is their job group, and compute
    each span's self time from its children."""
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        if j.group:
            by_group.setdefault(j.group, []).append(j)
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s)

    def subtree_jobs(s: Span) -> list[Job]:
        out = list(by_group.get(s.id, []))
        for c in children.get(s.id, []):
            out += subtree_jobs(c)
        return out

    reports = {}
    for s in spans:
        own = by_group.get(s.id, [])
        below = subtree_jobs(s)
        iv = (s.start, s.end)
        child_iv = [(c.start, c.end) for c in children.get(s.id, [])]
        dur = s.end - s.start
        waits = [j.first_launch - j.submitted for j in below if j.first_launch]
        reports[s.id] = SpanReport(
            s,
            below,
            dur - covered(iv, [(j.submitted, j.completed or s.end) for j in own] + child_iv),
            dur - covered(iv, [(j.submitted, j.completed or s.end) for j in below]),
            sum(max(0.0, w) for w in waits),
        )
    return reports


def under(reports: dict[str, SpanReport], roots: list[str]) -> list[SpanReport]:
    """Reports of every span below any of the ``roots`` span ids."""
    wanted = set(roots)
    out = []
    for r in reports.values():
        p = r.span.parent
        while p is not None and p not in wanted:
            p = reports[p].span.parent if p in reports else None
        if p is not None:
            out.append(r)
    return out
