"""In-memory spans around calls into bloomspark, written out at the end.

A span is ``(id, parent, name, layer, workload, run, start, end)``.  The
layer is the bloomspark module the call belongs to (``build``, ``probe``,
``grouped``, ...) or ``bench`` for the benchmark's own phases.  Spans are
only recorded when tracing is on; untraced runs go through the same
``span`` calls, which then cost one attribute check.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, workload: str, run_id: str):
        self.enabled = enabled
        self.workload = workload
        self.run_id = run_id
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "workload": self.workload,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time_by_layer(self) -> dict:
        """Sum over spans of (duration - time covered by direct children),
        grouped by layer.  Children of one span never overlap (calls are
        sequential), so their durations add."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
