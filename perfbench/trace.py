"""In-memory span recorder for the traced run.

A span is (id, parent, request, name, start, end, attrs). Spans are
kept in a list and written out once, at exit. A span's self time is
its duration minus the part of its interval that its children cover.
The recorder times its own bookkeeping so the run can report how much
of the measured wall it added.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_ns = 0

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter_ns()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {
            "id": len(self.spans),
            "parent": parent,
            "request": request,
            "name": name,
            "start_ns": 0,
            "end_ns": 0,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        b1 = time.perf_counter_ns()
        rec["start_ns"] = b1
        self.overhead_ns += b1 - b0
        try:
            yield rec
        finally:
            e0 = time.perf_counter_ns()
            rec["end_ns"] = e0
            self._stack.pop()
            self.overhead_ns += time.perf_counter_ns() - e0

    @contextmanager
    def bookkeeping(self):
        """Time trace-only work (counter reads, status reads) done
        inside a measured sample; it is counted as tracing overhead."""
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            self.overhead_ns += time.perf_counter_ns() - t0

    def self_times(self) -> dict[int, float]:
        """Span id -> self time in seconds."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered = 0
            cursor = s["start_ns"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
                lo, hi = max(c["start_ns"], cursor), min(c["end_ns"], s["end_ns"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
        return out

    def dump(self, path: str, extra: dict) -> None:
        st = self.self_times()
        spans = [dict(s, self_s=round(st[s["id"]], 6)) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)
