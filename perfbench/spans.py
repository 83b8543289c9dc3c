"""In-memory span recorder for the traced benchmark run.

A span covers one call into a layer's public function, made from the
benchmark's own code. Spans are kept in a list and written out once, at the
end of the run. When the recorder is disabled, ``span`` only runs the body,
so the untraced passes pay no bookkeeping.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; nested spans become children."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: dict | None,
            **attrs) -> None:
        """Record a span measured elsewhere (a Spark job, from the
        scheduler's own submission and completion times)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "run_id": self.run_id,
                               "parent": parent["id"] if parent else None,
                               "start": start, "end": end, **attrs})

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover
        (children may overlap each other, so their union is taken)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cur = 0.0, lo
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], cur), min(c["end"], hi)
                if b > a:
                    covered += b - a
                    cur = b
            out[s["id"]] = (hi - lo) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump([s | {"self_s": selfs[s["id"]]} for s in self.spans], f)
