"""Span recorder for the traced run, and Spark status-store attribution.

Spans are recorded from outside the program: the traced run replaces a
module's public entry points with timing wrappers (``Tracer.patch``) and
puts them back when it ends. Each span has a name, wall-clock start and
end, the span that was open when it began, and a dict of counts. Spans
stay in memory; the run writes them out once it has finished.

Spark's own accounting (tasks, executor time, GC, shuffle, spill) comes
from the driver's status store over its REST endpoint (``sc.uiWebUrl``),
fetched once at the end of the run. A job is charged to the innermost
span that was open when the job was submitted; a stage is charged to
the first job that lists it (later jobs that list it skipped it).
"""

from __future__ import annotations

import calendar
import functools
import json
import time
import urllib.request
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

SPARK_COUNTERS = (
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time the tracer itself spent inside spans
        self._kids: dict[int, list[Span]] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._open[-1].id if self._open else None
        s = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
        self.spans.append(s)
        self._open.append(s)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def patch(
        self,
        owner: object,
        attr: str,
        name: str | Callable[..., str | None],
        counts: Callable[..., dict] | None = None,
    ) -> None:
        """Wrap ``owner.attr`` in a span. ``name`` may be a function of
        the call's arguments returning the span name, or None for no
        span; ``counts(args, kwargs, result)`` adds counts to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            if span_name is None:
                return orig(*args, **kwargs)
            with tracer.span(span_name) as s:
                out = orig(*args, **kwargs)
                if counts is not None:
                    t0 = time.perf_counter()
                    s.attrs.update(counts(args, kwargs, out))
                    tracer.bookkeeping_s += time.perf_counter() - t0
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def add_gap_span(self, op: Span, name: str, after: str, before: str) -> None:
        """Record ``name`` as the interval between the end of ``op``'s
        last ``after`` child and the start of its first ``before`` child:
        work the program does between two traced calls (span order)."""
        kids = [s for s in self.spans if s.parent == op.id]
        ends = [s.end for s in kids if s.name == after]
        starts = [s.start for s in kids if s.name == before]
        if ends and starts and max(ends) <= min(starts):
            self.spans.append(Span(len(self.spans), name, op.id, max(ends), min(starts)))

    def children(self, span: Span) -> list[Span]:
        if len(self._kids) != len(self.spans):  # rebuilt once spans stop changing
            self._kids = {s.id: [] for s in self.spans}
            for s in self.spans:
                if s.parent is not None:
                    self._kids[s.parent].append(s)
        return self._kids[span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, cursor = 0.0, span.start
        for a, b in sorted((c.start, c.end) for c in self.children(span)):
            a, b = max(a, cursor), min(b, span.end)
            if b > a:
                covered += b - a
                cursor = b
        return span.dur - covered

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def attach_spark(self, jobs: list[dict], stages: list[dict]) -> None:
        """Charge status-store jobs and their stages to spans."""
        by_stage: dict[int, list[dict]] = {}
        for st in stages:
            by_stage.setdefault(st["stageId"], []).append(st)
        seen: set[int] = set()
        depth = {s.id: self._depth(s) for s in self.spans}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            t = _spark_time(job["submissionTime"])
            # Spark stamps milliseconds: allow one before the span start
            holders = [s for s in self.spans if s.start - 1e-3 <= t <= s.end]
            if not holders:
                continue
            span = max(holders, key=lambda s: (depth[s.id], s.start))
            acc = span.spark
            acc["jobs"] = acc.get("jobs", 0) + 1
            acc.setdefault("call_sites", []).append(job.get("name", ""))
            for sid in job.get("stageIds", []):
                if sid in seen:
                    continue
                seen.add(sid)
                for st in by_stage.get(sid, []):
                    for k, v in _stage_counters(st).items():
                        acc[k] = acc.get(k, 0) + v

    def _depth(self, span: Span) -> int:
        d, s = 0, span
        while s.parent is not None:
            d, s = d + 1, self.spans[s.parent]
        return d

    def spark_total(self, spans: list[Span]) -> dict[str, float]:
        return {k: sum(s.spark.get(k, 0) for s in spans) for k in SPARK_COUNTERS}

    def to_json(self) -> dict:
        return {
            "run_id": self.run_id,
            "spans": [
                {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
                 "end": s.end, "attrs": s.attrs, "spark": s.spark}
                for s in self.spans
            ],
        }


def _spark_time(stamp: str) -> float:
    """Status-store timestamp ('2026-01-02T03:04:05.678GMT') → epoch s."""
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


def _stage_counters(st: dict) -> dict[str, float]:
    return {
        "tasks": st.get("numCompleteTasks", 0),
        "failed_tasks": st.get("numFailedTasks", 0),
        "executor_run_s": st.get("executorRunTime", 0) / 1e3,
        "executor_cpu_s": st.get("executorCpuTime", 0) / 1e9,
        "gc_s": st.get("jvmGcTime", 0) / 1e3,
        "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
        "spill_bytes": st.get("diskBytesSpilled", 0),
    }


class StatusStore:
    """Read-only client of the driver's status store REST API."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str) -> list[dict]:
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def fetch(self) -> tuple[list[dict], list[dict]]:
        """All jobs and stage attempts, once the listener bus has
        delivered every event already posted."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return self._get("/jobs"), self._get("/stages")
