"""In-memory spans for the traced run.

A span is recorded around each call the benchmark makes into one of the
program's layers: name, start, end, parent span, and the id of the
operation it belongs to. Spans stay in memory and are written once, at
the end of the run. A disabled tracer records nothing, so untraced runs
pay one attribute check per call site.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    run_id: int
    name: str
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._run_id = 0

    def new_run(self) -> int:
        """Start a new operation: spans opened from now on share its id."""
        self._run_id += 1
        return self._run_id

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), parent, self._run_id, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus the part of its
        interval its children cover (children never overlap: calls are
        sequential)."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent_id is not None:
                covered[s.parent_id] = covered.get(s.parent_id, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered.get(s.span_id, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
