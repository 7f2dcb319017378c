"""In-memory spans recorded around the benchmark's calls into each layer.

A span is one call into a layer's public function: name, layer, start,
end, parent span and the op it belongs to. Spans stay in memory and are
written once, when the run ends. Nothing inside the program under test
is instrumented; the spans wrap calls the benchmark itself makes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
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


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.

    Children are clipped to the parent's interval and overlapping
    children are counted once, so concurrent children never drive the
    result below zero."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.duration - _covered(clipped)


class Tracer:
    """Span recorder. A disabled tracer records nothing and costs one
    attribute check per call, so untraced runs time the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, layer, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def add(self, name: str, layer: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (e.g. a stage duration the
        program reports), as a child of the currently open span."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(len(self.spans), name, layer, start, end, parent, self.op))

    def self_times(self) -> dict[str, float]:
        """Summed self time per layer."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + self_time(s, kids.get(s.id, []))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], "self_s": self.self_times()}, fh)
