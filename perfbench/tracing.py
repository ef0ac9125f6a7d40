"""In-memory spans around the benchmark's calls into each layer.

A span is (trace id, span id, parent id, name, start, end); the spans
of one query or one ingest tick share a trace id.  Spans stay in
memory and are written as JSON lines when the run ends.  A layer's
self time is its spans' duration minus the part covered by their
child spans.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    trace: int
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing
    and costs one attribute check per call site."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._next_id = 0
        self._next_trace = 0
        self._local = threading.local()
        # parent for spans opened on threads the benchmark does not
        # own (streaming foreachBatch sinks run on the query thread)
        self.foreign_parent: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        """A span under the innermost open span of this thread (or
        ``foreign_parent``); without one it starts a new trace."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.foreign_parent
        with self._lock:
            if parent is None:
                self._next_trace += 1
            trace = parent.trace if parent is not None else self._next_trace
            self._next_id += 1
            sp = Span(trace, self._next_id, parent.id if parent else None, name,
                      time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def self_time_ms(self) -> dict[str, float]:
        """Total self time per span name, in ms."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = 0.0
            cursor = sp.start
            for ch in sorted(children.get(sp.id, []), key=lambda c: c.start):
                lo, hi = max(ch.start, cursor), min(ch.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start - covered) * 1e3
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "trace": sp.trace,
                            "id": sp.id,
                            "parent": sp.parent,
                            "name": sp.name,
                            "start_ms": round(sp.start * 1e3, 3),
                            "end_ms": round(sp.end * 1e3, 3),
                        }
                    )
                    + "\n"
                )
