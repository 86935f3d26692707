"""In-memory span recorder and the per-layer ledger built from it.

Spans wrap the benchmark's own calls into the engine's modules (no
instrumentation inside the package). Each span has a name, start,
end and the id of the span that was open when it began. Spans are
kept in memory and written out once, when the run ends.

A layer's self time is its span's duration minus the durations of
its child spans (spans are opened on one thread, so children never
overlap).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, list[float]]:
        """name -> self time of every closed span of that name."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = sum(c["end"] - c["start"]
                          for c in children.get(s["id"], [])
                          if c["end"] is not None)
            out.setdefault(s["name"], []).append(
                s["end"] - s["start"] - covered)
        return out

    def ledger(self) -> dict[str, dict]:
        """name -> {n, median self time, median wall}."""
        rows = {}
        for name, selfs in self.self_times().items():
            rows[name] = {"n": len(selfs),
                          "self_s": statistics.median(selfs),
                          "wall_s": statistics.median(self.walls(name))}
        return rows

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "ledger": self.ledger(), **extra}, f, indent=1)


def format_ledger(ledger: dict[str, dict]) -> str:
    lines = [f"{'layer':<34}{'n':>4}{'self_s':>10}{'wall_s':>10}"]
    for name, row in sorted(ledger.items()):
        lines.append(f"{name:<34}{row['n']:>4}{row['self_s']:>10.4f}"
                     f"{row['wall_s']:>10.4f}")
    return "\n".join(lines)
