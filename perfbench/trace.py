"""Spans around the package's public calls, and Spark event-log attribution.

The benchmark measures each layer from outside the program: it replaces a
public function or method with a wrapper that records a span, runs the
workload, and puts the original back. Nothing in the package is edited.

A span records its name, start, end, parent and tags (batch or query id).
Spans stay in memory and are written out when the run ends.

Calls that return a lazy DataFrame (``IceboxTable.read``, ``point_lookup``,
``table_changes``, the entry queries) do their work in the action the
caller runs on the result. When such a call is made by the benchmark itself
(no span open), its span stays open until the benchmark calls
:meth:`Tracer.close_pending` after the action, so the span covers it. Lazy
calls nested in another span close when they return.

Spark jobs are attributed to spans through a thread-local job property
(``perfbench.span``) set while a span is open; jobs submitted from threads
the benchmark does not own carry no property and fall back to the innermost
span open at their submission time.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass(eq=False)
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    tags: dict = field(default_factory=dict)


class Tracer:
    """Records spans for wrapped calls. ``sc`` (a SparkContext) is given only
    in traced runs: it tags every Spark job with the open span's id."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pending: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._main = threading.get_ident()

    # -- spans -----------------------------------------------------------

    def _open(self, name: str, tags: dict) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time(), tags=tags)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_property(sp.id)
        return sp

    def _close(self, sp: Span) -> None:
        if sp not in self._stack:
            return
        sp.end = time.time()
        # a span closes in LIFO order; pending lazy spans above it close too
        while self._stack:
            top = self._stack.pop()
            if top.end is None:
                top.end = sp.end
            if top is sp:
                break
        self._pending = [p for p in self._pending if p.end is None]
        self._set_property(self._stack[-1].id if self._stack else None)

    def _set_property(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    def close_pending(self) -> None:
        """End the lazy spans the benchmark opened, after its action."""
        for sp in reversed(list(self._pending)):
            if sp.end is None:
                self._close(sp)
        self._pending = []

    # -- wrappers --------------------------------------------------------

    def traced(self, fn, name: str, lazy: bool = False, tag=None, result_tag=None):
        """A span-recording wrapper around ``fn``. ``tag`` maps the call's
        arguments, and ``result_tag`` its result, to span tags."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if threading.get_ident() != tracer._main:
                return fn(*args, **kwargs)
            top_level = not tracer._stack
            sp = tracer._open(name, tag(*args, **kwargs) if tag else {})
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                tracer._close(sp)
                raise
            if result_tag is not None:
                sp.tags.update(result_tag(out))
            if lazy and top_level:
                tracer._pending.append(sp)
            else:
                tracer._close(sp)
            return out

        return wrapper

    def wrap(self, owner, attr: str, name: str, **kw):
        """Replace ``owner.attr`` (a module function or a method defined on
        the class itself) with a span-recording wrapper."""
        original = owner.__dict__[attr]
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.traced(original, name, **kw))

    def remove(self) -> bool:
        """Put every wrapped attribute back; True when all are restored."""
        restored = list(reversed(self._patches))
        for owner, attr, original in restored:
            setattr(owner, attr, original)
        self._patches = []
        self._set_property(None)
        return all(owner.__dict__[attr] is original for owner, attr, original in restored)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


# -- span arithmetic ------------------------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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


def children(spans: list[Span], sp: Span) -> list[Span]:
    return [c for c in spans if c.parent == sp.id]


def self_time(spans: list[Span], sp: Span) -> float:
    """A span's duration minus the part of it its child spans cover."""
    kids = [(c.start, c.end) for c in children(spans, sp)]
    return (sp.end - sp.start) - covered(kids, sp.start, sp.end)


# -- Spark event log --------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float
    end: float
    span: int | None
    stages: list[int]
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(path: str, spans: list[Span]) -> list[Job]:
    """Jobs from a Spark event log, each with its task metrics summed and
    attributed to a span: the ``perfbench.span`` job property when set, else
    the innermost span open at submission time."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    task_ends = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sid = props.get(SPAN_PROPERTY)
                submit = ev["Submission Time"] / 1000.0
                span = int(sid) if sid is not None else _innermost(spans, submit)
                job = Job(ev["Job ID"], submit, submit, span, list(ev.get("Stage IDs", [])))
                jobs[job.id] = job
                for s in job.stages:
                    stage_job.setdefault(s, job.id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
    for ev in task_ends:
        job = jobs.get(stage_job.get(ev.get("Stage ID")))
        m = ev.get("Task Metrics")
        if job is None or not m:
            continue
        job.tasks += 1
        job.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
        rd = m.get("Shuffle Read Metrics", {})
        wr = m.get("Shuffle Write Metrics", {})
        job.shuffle_bytes += (
            rd.get("Remote Bytes Read", 0)
            + rd.get("Local Bytes Read", 0)
            + wr.get("Shuffle Bytes Written", 0)
        )
        job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def _innermost(spans: list[Span], t: float) -> int | None:
    best = None
    for sp in spans:
        if sp.start <= t and (sp.end is None or t <= sp.end):
            if best is None or sp.start >= best.start:
                best = sp
    return None if best is None else best.id
