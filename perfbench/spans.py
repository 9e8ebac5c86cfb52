"""In-memory spans around the benchmark's calls into each layer.

Only the main thread opens nested spans; callbacks add root spans.

A span is (name, start, end, parent, run id). Spans are kept in memory and
written once, when the run ends; a layer's self time is its span's duration
minus the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float) -> None:
        """Record an already-timed root span; used from engine callbacks,
        which run on another thread than the open spans."""
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": None, "run": self.run_id})

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name, summed over its spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, fh, indent=1)
