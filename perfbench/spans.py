"""Spans and Spark job accounting, recorded from outside the program.

A :class:`Tracer` wraps public functions of the program under test by
attribute name (a module global, a class attribute) and records one span
per call: name, start, end, parent span and the run id. Spans stay in
memory and are written once, when the run ends. With tracing off no
timing wrapper is installed and :meth:`Tracer.span` records nothing, so
the untraced run measures the program exactly as shipped.

:class:`JobCounter` tags each benchmark operation with a Spark job group
and reads job, task and failed-task counts back from the status tracker
after the operation, outside any timed region.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block and yield it (with tracing off,
        an unrecorded one) so callers can attach counts to its attrs."""
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), parent, name, time.perf_counter(), attrs=attrs)
        if not self.enabled:
            yield sp
            return
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call.
        ``name`` is a span name or a ``(args, kwargs) -> name`` callable;
        ``after(attrs, result, args, kwargs)`` may attach counts once the
        call returns. No-op with tracing off."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            with self.span(span_name) as sp:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(sp.attrs, result, args, kwargs)
                return result

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` for the rest of the run, tracing on or off;
        :meth:`unwrap_all` restores the original."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def within(self, root: Span) -> list[Span]:
        """``root`` and every span that descends from it."""
        inside = {root.id}
        out = [root]
        for sp in self.spans[root.id + 1:]:
            if sp.parent in inside:
                inside.add(sp.id)
                out.append(sp)
        return out

    @staticmethod
    def totals(spans: list[Span]) -> tuple[dict, dict, dict]:
        """(total seconds, self seconds, calls) per span name. Self time is
        the span's duration minus its direct children's; spans come from
        one thread, so children never overlap."""
        child = defaultdict(float)
        for sp in spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        total, self_s, calls = defaultdict(float), defaultdict(float), defaultdict(int)
        for sp in spans:
            dur = sp.end - sp.start
            total[sp.name] += dur
            self_s[sp.name] += dur - child[sp.id]
            calls[sp.name] += 1
        return total, self_s, calls

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": sp.id, "parent": sp.parent,
                    "name": sp.name, "start": sp.start, "end": sp.end,
                    "attrs": sp.attrs,
                }) + "\n")


class JobCounter:
    """Counts the Spark jobs, tasks and failed tasks of one operation via
    its job group. Read right after the operation, before the status
    store's retention (1000 jobs) can evict it."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.run_id = run_id
        self._seq = 0

    @contextmanager
    def group(self, label: str):
        self._seq += 1
        gid = f"{self.run_id}:{self._seq}:{label}"
        self.sc.setJobGroup(gid, label)
        counts = {}
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            counts.update(self.read(gid))

    def read(self, gid: str) -> dict:
        """Jobs, completed tasks and failed tasks of job group ``gid``."""
        job_ids = self.tracker.getJobIdsForGroup(gid)
        stage_ids = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else ())
        tasks = failed = 0
        # a stage reused by a later job shows up in both jobs' stage lists
        # but ran once; skipped stages report zero completed tasks
        for sid in stage_ids:
            stage = self.tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
        return {"jobs": len(job_ids), "tasks": tasks, "failed_tasks": failed}
