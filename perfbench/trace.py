"""Spans around the benchmark's calls, and Spark event-log attribution.

A span records name, start, end (epoch seconds), parent and run id. While
a span is open on a thread, that thread's Spark jobs carry the span id as
their job group, so every job and stage in the event log can be charged
to the innermost span that started it. Spans stay in memory and are
written out once, at the end of the run.

With tracing off, ``span`` records nothing and sets no job group, and no
engine method is wrapped.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str, sc=None, enabled: bool = False):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = f"{self.run_id}:{next(self._ids)}"
        s = Span(sid, name, stack[-1].id if stack else None, self.run_id,
                 time.time(), attrs=dict(attrs))
        stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._tag(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner: Any, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned version for this process;
        ``on_result(span, args, result)`` may copy counts into the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with self.span(name) as s:
                out = orig(*a, **kw)
                if s is not None and on_result is not None:
                    on_result(s, a, out)
                return out

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__, default=str) + "\n")


# ------------------------------------------------------------ event log
@dataclass
class Stage:
    id: int
    submitted: float = 0.0
    completed: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    task_s: list[float] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(self.completed - self.submitted, 0.0)

    @property
    def skew(self) -> float:
        if len(self.task_s) < 2:
            return 1.0
        med = statistics.median(self.task_s)
        return max(self.task_s) / med if med > 0 else 1.0


@dataclass
class Job:
    id: int
    group: str | None
    submitted: float
    completed: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


def parse_event_log(lines) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs (with their job group) and per-stage task aggregates from a
    Spark JSON event log. Times are epoch seconds."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submitted = info.get("Submission Time", 0) / 1000.0
            st.completed = info.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            st.run_s += tm.get("Executor Run Time", 0) / 1000.0
            st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
            st.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            om = tm.get("Output Metrics") or {}
            st.output_bytes += om.get("Bytes Written", 0)
            st.output_records += om.get("Records Written", 0)
            if ti.get("Finish Time") and ti.get("Launch Time"):
                st.task_s.append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
    return jobs, stages


class Attribution:
    """Spark jobs and stages charged to spans through the job group."""

    def __init__(self, spans: list[Span], jobs: dict[int, Job],
                 stages: dict[int, Stage]):
        self.spans = {s.id: s for s in spans}
        self.children: dict[str, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.jobs_of: dict[str, list[Job]] = {}
        self.stages = stages
        for j in jobs.values():
            if j.group in self.spans:
                self.jobs_of.setdefault(j.group, []).append(j)

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s.id, []))
        return out

    def jobs(self, span: Span, deep: bool = True) -> list[Job]:
        spans = self.subtree(span) if deep else [span]
        return sorted(
            (j for s in spans for j in self.jobs_of.get(s.id, [])),
            key=lambda j: j.id,
        )

    def stages_of(self, span: Span, deep: bool = True) -> list[Stage]:
        # a stage can be listed by several jobs (reused shuffle output);
        # count it once, and only if it actually ran
        seen: dict[int, Stage] = {}
        for j in self.jobs(span, deep):
            for sid in j.stage_ids:
                st = self.stages.get(sid)
                if st is not None and st.completed:
                    seen[sid] = st
        return [seen[k] for k in sorted(seen)]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return max(span.end - span.start - _covered(
            [(c.start, c.end) for c in self.children.get(span.id, [])],
            span.start, span.end,
        ), 0.0)

    def unattributed(self, span: Span) -> float:
        """Self time not covered by Spark jobs started in this span."""
        cover = [(c.start, c.end) for c in self.children.get(span.id, [])]
        cover += [(j.submitted, j.completed) for j in self.jobs(span, deep=False)]
        return max(span.end - span.start - _covered(cover, span.start, span.end), 0.0)

    def driver_time(self, span: Span) -> float:
        """Span duration not covered by any Spark job in its subtree."""
        cover = [(j.submitted, j.completed) for j in self.jobs(span)]
        return max(span.end - span.start - _covered(cover, span.start, span.end), 0.0)


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
