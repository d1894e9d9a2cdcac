"""In-memory spans for the traced replay.

A span is (name, start_ns, end_ns, parent, trace_id): ``parent`` is the
index of the enclosing span (-1 for a root) and ``trace_id`` the
document the span belongs to (-1 for per-run work such as selector
compilation). Spans stay in memory; the run writes them out once, when
it ends. A span's self time is its duration minus the time its child
spans cover.
"""

from __future__ import annotations

from collections import defaultdict
from time import perf_counter_ns


class Tracer:
    def __init__(self):
        self.names: list[str] = []
        self.starts: list[int] = []
        self.ends: list[int] = []
        self.parents: list[int] = []
        self.traces: list[int] = []
        self._stack: list[int] = []
        self.trace_id = -1

    def _open(self, name: str) -> int:
        k = len(self.names)
        self.names.append(name)
        self.parents.append(self._stack[-1] if self._stack else -1)
        self.traces.append(self.trace_id)
        self.ends.append(0)
        self._stack.append(k)
        self.starts.append(perf_counter_ns())
        return k

    def _close(self, k: int) -> None:
        self.ends[k] = perf_counter_ns()
        self._stack.pop()

    def call(self, name: str, fn, *args):
        """Run ``fn(*args)`` inside a span called ``name``."""
        k = self._open(name)
        try:
            return fn(*args)
        finally:
            self._close(k)

    def root(self, name: str, trace_id: int, fn, *args):
        """Run ``fn(*args)`` as the root span of trace ``trace_id``."""
        self.trace_id = trace_id
        try:
            return self.call(name, fn, *args)
        finally:
            self.trace_id = -1

    def self_ns(self) -> list[int]:
        out = [e - s for s, e in zip(self.starts, self.ends)]
        for k, p in enumerate(self.parents):
            if p >= 0:
                out[p] -= self.ends[k] - self.starts[k]
        return out

    def per_trace(self) -> dict[str, dict[int, int]]:
        """{span name: {trace id: summed self ns}}."""
        acc: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
        for name, t, ns in zip(self.names, self.traces, self.self_ns()):
            acc[name][t] += ns
        return acc
