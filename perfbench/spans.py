"""In-memory span tracer used only by traced runs.

A span records a name, start, end, parent span and the id of the
operation it belongs to. Spans stay in memory and are written out once,
when the run ends (run.py). Counts (Spark jobs, splits, ...) are attached
to the span of the operation they were measured for, so ratios come from
the same boundary as the times.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Time the enclosed block as one span; yields the span dict so
        the caller can attach counts (`sp["counts"][k] = v`)."""
        if not self.enabled:
            yield {"counts": {}}
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "parent": parent,
              "op": op if op is not None else (
                  self.spans[parent]["op"] if parent is not None else 0),
              "start": time.perf_counter(), "end": None, "counts": {}}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict:
        """Per span name: summed duration minus the part of each span's
        interval its direct children cover."""
        child_time: dict = {}
        for sp in self.spans:
            if sp["parent"] is not None and sp["end"] is not None:
                child_time[sp["parent"]] = (child_time.get(sp["parent"], 0.0)
                                            + sp["end"] - sp["start"])
        out: dict = {}
        for sp in self.spans:
            if sp["end"] is None:
                continue
            own = sp["end"] - sp["start"] - child_time.get(sp["id"], 0.0)
            out[sp["name"]] = out.get(sp["name"], 0.0) + own
        return out

    def durations(self, name: str) -> list:
        return [sp["end"] - sp["start"] for sp in self.spans
                if sp["name"] == name and sp["end"] is not None]
