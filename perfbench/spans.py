"""Spans recorded by the benchmark around each call into a layer.

A span is (name, start, end, parent, request id) on the monotonic clock,
which Linux shares between processes, so spans built from the load
generator's timestamps line up with ours. Spans stay in memory and are
written out when the run ends. Self time of a span is its duration minus
the union of its children's intervals; a layer's self time is the sum
over its spans. With tracing off, ``span`` records nothing.
"""

from __future__ import annotations

import collections
import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.monotonic(), "end": None, "parent": parent, "req": req})
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.monotonic()

    def add(self, name: str, start: float, end: float, req: str | None = None) -> None:
        """Record a finished span under the innermost open one — used for
        intervals measured elsewhere, such as micro-batches."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent, "req": req})

    def _under(self, sid: int, root: str) -> bool:
        while sid is not None:
            if self.spans[sid]["name"] == root:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def self_times(self, under: str) -> dict[str, float]:
        """Self time per span name, over the spans inside spans named ``under``."""
        children: dict[int, list[tuple[float, float]]] = collections.defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = collections.defaultdict(float)
        for sid, s in enumerate(self.spans):
            if not self._under(sid, under):
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children[sid]):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
