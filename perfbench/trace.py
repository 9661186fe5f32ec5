"""In-memory spans, layer self time and the percentile rule.

A span is recorded around each call the benchmark makes into one of the
engine's public functions. Spans stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder; with ``enabled=False`` ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._requests = 0

    @contextmanager
    def span(self, name: str, new_request: bool = False):
        """Record one span. A span opens a new request id when asked to or
        when it has no parent; otherwise it shares its parent's."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if new_request or parent is None:
            self._requests += 1
            request = self._requests
        else:
            request = self.spans[parent]["request"]
        rec = {"id": sid, "name": name, "parent": parent, "request": request, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, each span's duration minus the part of it
    its direct children cover (children never overlap: one client)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest percentile that has at least ten samples above it, and
    its value, by the nearest-rank rule: with n samples that is the
    sample of rank n-10, i.e. percentile 100·(n-10)/n. Fewer than 20
    samples cannot support anything above the median, so the median is
    returned."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    if n < 20:
        return 50.0, statistics.median(samples)
    ordered = sorted(samples)
    return 100.0 * (n - 10) / n, ordered[n - 11]


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0
