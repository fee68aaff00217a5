"""Spans, counters and latency statistics for the benchmark.

A span records name, start, end, parent span and op id.  Spans are kept
in memory and written out once, when the run ends.  With tracing off,
``Tracer.span`` returns a shared no-op context manager, so the untimed
bookkeeping costs nothing measurable.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict

# Candidate percentiles for a tail figure, highest first.
_TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


class _Span:
    def __init__(self, tracer: "Tracer", name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        stack = t._stack()
        with t._lock:
            t._next_id += 1
            self.id = t._next_id
        self.parent = stack[-1] if stack else None
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.tracer
        t._stack().pop()
        with t._lock:
            t.spans.append(
                {
                    "id": self.id,
                    "name": self.name,
                    "start": self.start - t.t0,
                    "end": end - t.t0,
                    "parent": self.parent,
                    "op": t.op,
                }
            )
        return False


class Tracer:
    """Spans and per-op counts of one run.

    ``op`` is the id of the op in progress; spans opened from other
    threads (streaming sinks) are attributed to it as well.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.op: str | None = None
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NULL_SPAN

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name].append(float(value))

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def per_op_ms(self, name: str) -> dict[str, float]:
        """Summed duration of the spans called ``name`` in each op."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["op"] is not None:
                out[s["op"]] += (s["end"] - s["start"]) * 1e3
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """The highest candidate percentile with at least ten samples beyond
    it: (value, percentile, sample count).  With fewer than twenty
    samples no candidate qualifies and the maximum is reported with
    percentile 100."""
    xs = sorted(values)
    n = len(xs)
    for q in _TAIL_CANDIDATES:
        rank = max(1, int(-(-q * n // 100)))
        if n - rank >= 10:
            return float(xs[rank - 1]), q, n
    return (float(xs[-1]) if xs else 0.0), 100.0, n
