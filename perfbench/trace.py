"""In-memory spans and counters for the traced run.

A span is recorded around each call the benchmark makes into a layer of the
engine. Spans stay in memory and are written once, when the run ends.
With tracing off every method is a cheap no-op, so the untraced run times
the same code path.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def self_times(spans: list[dict], key) -> dict:
    """Seconds per ``key(span)``: each span's duration minus the part of it
    that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict = defaultdict(float)
    for s in spans:
        if s["end"] is None:
            continue
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[key(s)] += (s["end"] - s["start"]) - covered
    return dict(out)


class Tracer:
    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, query: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = {"name": name, "query": query, "workload": self.workload,
               "parent": stack[-1] if stack else None,
               "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def add_span(self, name: str, start: float, end: float,
                 query: str | None = None, parent: int | None = None) -> None:
        """Record a span measured elsewhere (e.g. a micro-batch whose start
        and duration come from the streaming progress report)."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "query": query,
                               "workload": self.workload, "parent": parent,
                               "start": start, "end": end})

    def count_in_span(self, name: str) -> None:
        """Count against the innermost open span of the calling thread."""
        if self.enabled:
            stack = self._stack()
            where = self.spans[stack[-1]]["name"] if stack else "none"
            with self._lock:
                self.counters[f"{name}.{where}"] += 1

    def self_times(self) -> dict[str, float]:
        return self_times(self.spans, lambda s: s["name"])

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": self.spans,
                       "counters": dict(self.counters),
                       "self_s": self.self_times(), **extra}, f, indent=1)
