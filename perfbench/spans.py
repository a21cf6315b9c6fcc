"""Tracing: spans recorded around the benchmark's calls into the program.

A span has a name, start and end (epoch seconds), the id of the span
open around it, and the run id shared by every span of one run. Spans
stay in memory and are written once, as JSON lines, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield


NULL = NullTracer()


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None, **attrs}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
