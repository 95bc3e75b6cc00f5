"""In-memory spans recorded by the benchmark around its calls into the
engine.  A span is (id, name, start, end, parent, workload, iteration);
spans are kept in a list and written out once, when the run ends.

With tracing off the recorder hands back a shared no-op context, so the
untraced run pays one attribute lookup per call site.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import nullcontext

_OFF = nullcontext()


class Tracer:
    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.iteration = -1
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _OFF

    def _open(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": time.perf_counter(),
            "end": None, "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload, "iteration": self.iteration})
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self._stack.pop()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, the list of self times (duration minus the part
        covered by child spans), one entry per span."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s["end"] - s["start"] - covered[s["id"]])
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    __slots__ = ("tracer", "name", "sid")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        self.sid = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.sid)
        return False
