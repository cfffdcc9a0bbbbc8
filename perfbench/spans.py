"""In-memory span recorder for the traced benchmark run.

A span is one timed call the benchmark makes into a module of the engine:
name, start, end, the span that caused it and the operation it belongs
to. Spans stay in memory and are written out once, when the run ends, so
recording one costs two clock reads and a list append.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable, Dict, Iterable, Iterator, List, Optional, Tuple


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: Optional[float]
    parent: Optional[int]
    op_id: Optional[str]
    attrs: Dict[str, object] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered_length(interval: Tuple[float, float], children: Iterable[Tuple[float, float]]) -> float:
    """Length of the part of ``interval`` covered by the union of
    ``children`` (each clipped to the interval; overlaps counted once)."""
    lo, hi = interval
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in children if e > lo and s < hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(interval: Tuple[float, float], children: Iterable[Tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (interval[1] - interval[0]) - covered_length(interval, children)


class SpanRecorder:
    """Nested spans on one thread. ``span`` is a context manager; the
    innermost open span is the parent of the next one opened, and a span
    inherits its parent's operation id unless given one."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self._clock = clock
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    @contextmanager
    def span(self, name: str, op_id: Optional[str] = None, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        sp = Span(
            span_id=len(self.spans),
            name=name,
            start=self._clock(),
            end=None,
            parent=parent.span_id if parent is not None else None,
            op_id=op_id,
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self._clock()
            self._stack.pop()

    def children(self, span: Span) -> List[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span, child_filter: Callable[[Span], bool] = lambda s: True) -> float:
        """Self time of ``span`` against its direct children that pass
        ``child_filter``."""
        kids = [(c.start, c.end) for c in self.children(span) if child_filter(c)]
        return self_time((span.start, span.end), kids)

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def write(self, path: str) -> None:
        """One JSON object per span, times in seconds since the first span."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["start"] = s.start - t0
                row["end"] = None if s.end is None else s.end - t0
                f.write(json.dumps(row, default=str) + "\n")
