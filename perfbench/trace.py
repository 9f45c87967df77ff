"""Spans recorded around the benchmark's calls into each layer.

A span has a name (``<layer>.<what>``), start and end (seconds from
``time.perf_counter``), the index of its parent span and the id of the
operation it belongs to. Spans stay in memory and are written once, when
the run ends. A layer's self time is the time its spans cover minus the
time covered by their child spans.

With tracing off, :meth:`Tracer.span` hands back one shared null context,
so the measured path carries no bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0

    def next_op(self) -> int:
        self.op_id += 1
        return self.op_id

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer (the span name's first dotted part)."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                layer = s["name"].split(".", 1)[0]
                out[layer] += (s["end"] - s["start"]) - child_time[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
