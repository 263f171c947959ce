"""In-memory spans around calls into the engine's public functions.

A span records name, label, start, end, parent and the run id. With
tracing on, each span also gets its own Spark job group, so the jobs a
call launched can be read back from the Spark REST API after the timed
region (see ``counters``). Spans stay in memory until the run ends.

With tracing off the benchmark uses plain timers and installs nothing.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    label: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
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


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - union_length(
        [(c.start, c.end) for c in children], span.start, span.end)


class Tracer:
    """Records spans on the thread that created it. Calls made from
    other threads (e.g. a streaming ``foreachBatch`` callback) pass
    through unrecorded; their Spark jobs are attributed by time."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc              # set → each span gets a job group
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._thread = threading.get_ident()
        self.instrument_s = 0.0   # time spent in the tracer itself

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, group)

    @contextmanager
    def span(self, name: str, label: str = ""):
        if threading.get_ident() != self._thread:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, label, 0.0,
                 parent=parent.id if parent else None,
                 group=f"pb-{self.run_id}-{len(self.spans)}")
        self.spans.append(s)
        if parent:
            parent.children.append(s.id)
        self._stack.append(s)
        self._set_group(s.group)
        s.start = time.time()
        self.instrument_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else None)
            self.instrument_s += time.perf_counter() - t1

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span called ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def children(self, span: Span) -> list[Span]:
        return [self.spans[i] for i in span.children]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], list(span.children)
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out

    def named(self, name: str, outermost: bool = True) -> list[Span]:
        """Spans called ``name``; with ``outermost`` skip those nested
        inside another span of the same name (recursion)."""
        found = [s for s in self.spans if s.name == name]
        if not outermost:
            return found
        ids = {s.id for s in found}

        def nested(s: Span) -> bool:
            p = s.parent
            while p is not None:
                if p in ids:
                    return True
                p = self.spans[p].parent
            return False
        return [s for s in found if not nested(s)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["run_id"] = self.run_id
                f.write(json.dumps(rec) + "\n")


@contextmanager
def patched(obj, attr: str, replacement):
    """Set ``obj.attr`` for the duration of the block."""
    old = getattr(obj, attr)
    setattr(obj, attr, replacement)
    try:
        yield
    finally:
        setattr(obj, attr, old)
