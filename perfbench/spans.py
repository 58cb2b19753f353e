"""In-memory spans for the traced run.

A span is (name, start, end, parent, run id). Spans are recorded from the
benchmark's own files around calls into the engine's public functions, or
built from the per-phase durations the engine reports for each micro-batch.
They stay in memory and are written as JSON once the run ends. A span's
self time is its duration minus the part of it covered by its children.
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
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    def __init__(self, run: str):
        self.run = run
        self.spans: list[Span] = []
        self._open: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if parent is None and self._open:
            parent = self._open[-1]
        self.spans.append(Span(len(self.spans), name, start, end, parent, self.run))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str):
        sid = self.add(name, time.perf_counter(), float("nan"))
        self._open.append(sid)
        try:
            yield sid
        finally:
            self._open.pop()
            self.spans[sid].end = time.perf_counter()

    def self_time(self, sid: int) -> float:
        """Duration minus the union of the children's intervals (clipped to
        the span), so overlapping children are not subtracted twice."""
        s = self.spans[sid]
        kids = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in self.spans if c.parent == sid
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in kids:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (s.end - s.start) - covered

    def self_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self.self_time(s.id)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
