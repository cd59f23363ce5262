"""In-memory spans around the engine's public calls.

A span records its name, start, end, parent and the id of the operation it
belongs to; every span opened inside an operation shares that id. With a
SparkContext attached, entering a span also tags the jobs it launches with
the span id as Spark job group, so the event log attributes each stage to
the innermost span. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = float("nan")
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._next_op = 0

    def attach(self, sc) -> None:
        """Tag jobs with span ids from now on (once the session exists)."""
        if self.enabled:
            self._sc = sc

    @contextmanager
    def span(self, name: str, new_op: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if new_op or parent is None:
            self._next_op += 1
            op = self._next_op
        else:
            op = parent.op
        s = Span(len(self.spans), name, op, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s.id)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(parent.id if parent else None)

    def count(self, key: str, value: float) -> None:
        """Add ``value`` to a counter of the innermost open span."""
        if self.enabled and self._stack:
            c = self._stack[-1].counts
            c[key] = c.get(key, 0) + value

    def _tag(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(str(span_id), "perfbench span", False)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_end = s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = max(cur_end, hi)
        out[s.id] = s.duration - covered
    return out


def descendants(spans: list[Span], root_ids: set[int]) -> set[int]:
    """Ids of the given spans and of every span below them."""
    out = set(root_ids)
    for s in spans:  # spans are appended in open order: parents come first
        if s.parent in out:
            out.add(s.id)
    return out
