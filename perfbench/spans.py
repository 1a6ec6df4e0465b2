"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, run_id). Spans are kept in memory and
written as one JSON file when the run ends. A span's self time is its
duration minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Spans:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run_id": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time(self, rec: dict) -> float:
        """Duration minus the union of the child spans' intervals."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, rec["start"]), min(e, rec["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        out: dict[str, float] = {}
        for rec in self.spans:
            out[rec["name"]] = out.get(rec["name"], 0.0) + self.self_time(rec)
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [{**s, "start": s["start"] - t0, "end": s["end"] - t0,
                 "self_s": self.self_time(s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows, **extra}, f, indent=1)
