"""In-memory spans around the benchmark's calls into the engine.

A span has a name (``layer.call``), start and end (perf_counter seconds),
its parent span, the op it serves and any counters attached to it. Spans are
kept in a list and written once, when the run ends. ``NullTracer`` is the
untraced run: the same call sites, no recording.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **counters):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(next(self._ids), name, op, parent.id if parent else None, time.perf_counter())
        s.counters.update(counters)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def write(self, path: str, extra: dict | None = None) -> None:
        doc = {
            "spans": [
                {
                    "id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "counters": s.counters,
                }
                for s in sorted(self.spans, key=lambda s: s.id)
            ],
            **(extra or {}),
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f)


class NullTracer:
    enabled = False
    spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **counters):
        yield None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover.
    Children of one span run on the span's own thread, so they never
    overlap and their durations simply add up."""
    child_sum: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_sum[s.parent] = child_sum.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - child_sum.get(s.id, 0.0) for s in spans}


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
