"""In-memory span recorder for the benchmark's layer calls.

A span is (id, name, parent id, start, end) on the ``time.perf_counter``
clock, recorded around a call into one layer of the engine. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Spans:
    def __init__(self):
        self.records: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.records.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def busy(self, name: str) -> float:
        """Summed duration of every closed span called ``name``."""
        return sum(r["end"] - r["start"] for r in self.records
                   if r["name"] == name and r["end"] is not None)

    def write(self, path) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh, indent=1)
