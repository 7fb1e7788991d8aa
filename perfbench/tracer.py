"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end, the span that caused it and the trace
it belongs to (the epoch id), plus counts measured at the same boundary.
Nothing is written while the run is measured: :meth:`Tracer.dump` writes
the spans out when the run ends. An untraced run uses :data:`NO_TRACE`,
whose spans cost one context-manager entry and record nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        s = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "trace": trace_id or (parent["trace"] if parent else "run"),
            "name": name,
            "attrs": dict(attrs),
            "start": time.perf_counter(),
            "end": None,
        }
        self._stack.append(s)
        try:
            yield s["attrs"]
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class _NoTrace:
    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        yield {}


NO_TRACE = _NoTrace()
