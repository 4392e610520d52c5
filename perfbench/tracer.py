"""In-memory span recorder for the traced run.

A span is ``(name, start, end, parent)``.  Spans are kept in a list and
written out once, when the run ends.  A span's self time is its
duration minus the durations of its direct children.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Dict, List, Optional


class Tracer:
    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent: Optional[int] = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, name: str) -> float:
        """Duration of the last finished span called ``name``."""
        for s in reversed(self.spans):
            if s["name"] == name and s["end"] is not None:
                return s["end"] - s["start"]
        raise KeyError(name)

    def self_times(self) -> Dict[str, float]:
        """Self time per span name, summed over spans of that name."""
        child: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: Dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([dict(s, start=s["start"] - t0, end=s["end"] - t0)
                       for s in self.spans], f, indent=1)
