"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, op id). ``Tracer(enabled=False)`` hands
out a shared no-op context so the untraced run pays one attribute lookup per
call site and records nothing. Spans are only written out by ``dump`` when
the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds (duration
        minus the part of it covered by child spans)."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] += s.dur
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            d = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += s.dur
            d["self_s"] += s.dur - child_cover[i]
        return out

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({
                **extra,
                "self_times": self.self_times(),
                "spans": [
                    {"name": s.name, "start": s.start - t0, "end": s.end - t0,
                     "parent": s.parent, "op": s.op}
                    for s in self.spans
                ],
            }, f, indent=1)
