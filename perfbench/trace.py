"""In-memory spans around the benchmark's calls into the engine.

A span is (name, start, end, parent, request id). The layer of a span is
the part of its name before the first ':' (``index/search:search_rows``
belongs to ``index/search``). Spans stay in memory and are written out
once, when the run ends. ``NullTracer`` is the untraced run's stand-in.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, rid: int | None = None):
        yield


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[tuple] = []  # (name, start, end, parent, rid)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rid: int | None = None):
        parent = self._stack[-1] if self._stack else None
        i = len(self.spans)
        self.spans.append((name, time.perf_counter(), None, parent, rid))
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[i]
            self.spans[i] = (s[0], s[1], time.perf_counter(), s[3], s[4])

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time minus the time its child spans cover."""
        child_time = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child_time[parent] += t1 - t0
        out: dict[str, float] = {}
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            layer = name.split(":", 1)[0]
            out[layer] = out.get(layer, 0.0) + (t1 - t0) - child_time[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, t0, t1, parent, rid) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start": t0,
                                    "end": t1, "parent": parent,
                                    "rid": rid}) + "\n")


SPAN_COST_REPS = 20000  # spans timed to estimate the cost of one


def span_cost_s() -> float:
    """Cost of recording one span, traced minus untraced, in seconds."""
    n = SPAN_COST_REPS
    null, tr = NullTracer(), Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with null.span("x"):
            pass
    t1 = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            pass
    t2 = time.perf_counter()
    return max(0.0, ((t2 - t1) - (t1 - t0)) / n)
