"""In-memory span recorder for traced runs.

A span is (name, layer, start, end, parent, run id). Spans come from the
benchmark's own timing around calls into the program's public functions,
from wrappers the benchmark installs on the epoch sink and lineage
recorder, and from Spark's records (jobs, stages, micro-batch
``durationMs`` phases). Spans are kept in memory and written out once,
when the run ends.

A disabled tracer records nothing and costs one attribute test per call,
so the same workload code serves both the untraced (end-to-end) and the
traced (per-layer) run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cost_s = 0.0  # time spent in tracing work itself
        self._stack: list[int] = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "name": name, "layer": layer,
                           "start": start, "end": end, "parent": parent,
                           "run": self.run_id, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Time the body; nested ``span`` calls become its children."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, layer, time.time(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    @contextmanager
    def overhead(self):
        """Body is tracing work: its time counts toward trace overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cost_s += time.perf_counter() - t0

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer: sum over its spans of duration minus the part of
        that interval that child spans cover."""
        from perfbench.records import covered

        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - covered(
                children.get(s["id"], []), s["start"], s["end"])
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "summary": summary,
                       "spans": self.spans}, f)
