"""Spans recorded around the benchmark's own calls into each layer.

A span has a name, start, end, parent span and operation id. Spans are
kept in memory and written out once, when the run ends. A disabled
tracer records nothing and costs one attribute test per call.
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
    op: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), name, op,
                 self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_times(self, ops=None) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover,
        over the spans of operations ``ops`` (all when None)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            if ops is None or s.op in ops:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.id]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
