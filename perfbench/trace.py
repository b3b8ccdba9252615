"""In-memory span recorder for traced runs.

A span is one call into a layer, recorded from the benchmark's side of
the call: name, start, end, parent span and run id. Spans stay in a
list until ``dump`` writes them out at exit. Untraced runs use a
disabled tracer whose ``span`` does no bookkeeping.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        """Median duration of the named spans; 0.0 when the layer was
        never called (the workload bypasses it)."""
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus
        the part of it its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run": self.run_id, "spans": self.spans, "self_s": self.self_times()},
                f,
            )
