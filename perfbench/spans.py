"""In-memory spans around the calls the benchmark makes into each layer.

A span is ``(name, start, end, parent, op)``; the root span of an
operation is named ``op`` and every layer span inside it names that root
as its parent.  Spans are kept in a list and written out once, when the
run ends.  With tracing off only the root spans are kept, which is all the
end-to-end metrics need.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """``probe``, when tracing, is read just outside each root span and the
    difference is stored as the span's ``counters`` (CPU, GC)."""

    def __init__(self, enabled: bool, probe=None):
        self.enabled = enabled
        self.probe = probe if enabled else None
        self.spans: list[dict] = []

    @contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one operation; yields its record (end set on exit)."""
        before = self.probe() if self.probe else None
        rec = {"name": "op", "entry": name, "op": op_id, "parent": None,
               "start": time.perf_counter(), "end": None}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if before is not None:
                after = self.probe()
                rec["counters"] = {k: after[k] - before[k] for k in before}
            self.spans.append(rec)

    @contextmanager
    def span(self, name: str, op_id: int):
        if not self.enabled:
            yield
            return
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"name": name, "op": op_id, "parent": "op",
                               "start": start, "end": time.perf_counter()})

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, summed over operations: each layer span's own
        time, plus ``uncovered`` — the part of each root span no layer span
        covers.  The values add up to the summed root-span time."""
        out: dict[str, float] = {"uncovered": 0.0}
        roots = {s["op"]: s for s in self.spans if s["name"] == "op"}
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["name"] != "op" and s["op"] in roots:
                children.setdefault(s["op"], []).append(s)
        for op_id, root in roots.items():
            covered = 0.0
            cursor = root["start"]
            for s in sorted(children.get(op_id, []), key=lambda s: s["start"]):
                start, end = max(s["start"], cursor), min(s["end"], root["end"])
                if end > start:
                    out[s["name"]] = out.get(s["name"], 0.0) + (end - start)
                    covered += end - start
                    cursor = end
            out["uncovered"] += (root["end"] - root["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)
