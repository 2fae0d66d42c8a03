"""In-memory spans for the traced run.

A span has a name, a start, an end and a parent. Spans are recorded
from the benchmark's own code around each call into the package, kept
in memory, and written once when the run ends. With tracing off,
``span`` records nothing, so untraced runs pay one context-manager
entry per call and nothing else.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the body as one span. Spans nest by call order; only
        the main thread records spans, so the stack needs no lock."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "parent": parent, "start": time.perf_counter()})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by the span's children.
        Children of one span run one after another (single thread), so
        the covered part is the sum of their durations."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)
