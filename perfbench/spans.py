"""In-memory span recorder for the traced run.

A span is a named interval with a parent. Spans are held in a list while
the pass runs and turned into per-layer numbers afterwards. A span's
*self time* is its duration minus the part of its interval that its
direct children cover, so the root span's self time is the wall time no
layer accounts for.

Each span may carry a Spark job group: on entry the tracer calls
``set_group(name)`` and on exit restores the enclosing span's group, so
every Spark job started inside a span is attributed to the innermost one.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float | None = None
    group: str | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Tracer:
    def __init__(self, set_group: Callable[[str | None], None] | None = None,
                 clock: Callable[[], float] = time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._set_group = set_group
        self._clock = clock

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"perfbench-{idx}-{name}" if self._set_group else None
        s = Span(name, parent, self._clock(), group=group)
        self.spans.append(s)
        self._stack.append(idx)
        if self._set_group:
            self._set_group(group)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            if self._set_group:
                self._set_group(self.spans[parent].group if parent is not None else None)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.children(idx) if c.end is not None]
        return s.duration - covered(kids, s.start, s.end if s.end is not None else s.start)

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.duration for s in self.spans if s.name == name)

    def groups(self, name: str | None = None) -> list[str]:
        return [s.group for s in self.spans
                if s.group and (name is None or s.name == name)]
