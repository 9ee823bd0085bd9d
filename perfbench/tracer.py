"""In-memory spans around the benchmark's calls into each layer.

A span holds a name, the layer it charges, start and end (epoch seconds),
its parent span and the run id.  Spans stay in memory until ``dump``.  A
layer's self time is the summed duration of its spans minus the part of
each span that its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        idx = self.add(name, layer, time.time(), None)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    @contextlib.contextmanager
    def recording(self, on: bool):
        """Record spans only if ``on`` (and the tracer is enabled) inside the
        block; untraced passes of a traced run use it."""
        was = self.enabled
        self.enabled = was and on
        try:
            yield
        finally:
            self.enabled = was

    def add(self, name: str, layer: str, start: float, end: float | None,
            parent: int | None = None) -> int:
        """Record a span; ``parent`` defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "name": name,
                           "layer": layer, "start": start, "end": end,
                           "parent": parent, "run_id": self.run_id})
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], ())])
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
