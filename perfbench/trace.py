"""In-memory spans recorded by the benchmark around calls into the program.

A span has a name, start and end (seconds since the run's origin), the id
of the span that encloses it, and the run id shared by every span of one
run. Spans stay in memory and are written as one JSON file at exit, each
with its self time: its duration minus the time its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._origin = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed block. Yields the span dict (None when tracing
        is off, so untraced runs pay one branch per call)."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter() - self._origin,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._origin

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by direct child spans."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, reach = 0.0, span["start"]
        for a, b in kids:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        return (span["end"] - span["start"]) - covered

    def write(self, path: str) -> None:
        """All spans as JSON, each with its self time added."""
        spans = [{**s, "self": self.self_time(s)} for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": spans}, fh)
