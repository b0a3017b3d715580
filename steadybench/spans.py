"""In-memory spans recorded around calls into the engine.

A span has a name, a start and an end (``time.perf_counter`` seconds),
the index of its parent span and the id of the op it belongs to.  The
recorder keeps every span in a list and writes them once, at the end.
A span's self time is its duration minus the part of that interval its
children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str = ""):
        parent = self._stack[-1] if self._stack else None
        if not op and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        return self_time(self.spans[idx], self.children(idx))

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON list."""
        rows = [dict(asdict(s), self_s=self.self_time(i)) for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump(rows, f)


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` not covered by any child.  Children are
    clipped to the parent's interval and overlapping children are
    merged, so time two children share is subtracted once."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered
