"""In-memory spans around the benchmark's calls into each program layer.

A span records name, start, end, parent span and request id. Spans are
kept in memory and written out once, at the end of the run, with each
layer's self time: a span's duration minus the part of it that its child
spans cover. The layer of a span is its name up to the first dot
(``engine.plan`` belongs to ``engine``).
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def _span(self, name: str, request: str | None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if request is None and parent is not None:
            request = parent["request"]
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "request": request, "start": time.perf_counter()}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def span(self, name: str, request: str | None = None):
        """Context manager timing one call; a no-op when tracing is off."""
        if not self.enabled:
            return nullcontext()
        return self._span(name, request)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self, requests_only: bool = False) -> dict[str, float]:
        """Total self time per layer, in seconds; ``requests_only`` keeps
        the spans that belong to a request."""
        spans = [s for s in self.spans if s["request"] is not None or not requests_only]
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def request_shares(self, layers: tuple[str, ...]) -> dict[str, float]:
        """Each layer's share of request time: its self time inside
        request spans over the summed duration of the requests."""
        total = sum(self.durations("request"))
        own = self.self_times(requests_only=True)
        return {f"{layer}.self_share": own.get(layer, 0.0) / total for layer in layers}

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"self_time_s": self.self_times(), **extra, "spans": spans}, f)
