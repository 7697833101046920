"""Spans recorded by the benchmark around calls into the program's layers.

Each span also names the Spark job group of the jobs it launches, so the
event log's counters attach to the same name. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Iterator, List, Optional


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: List[dict] = []
        self._stack: List[str] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        parent: Optional[str] = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, parent)
            self.spans.append({"name": name, "parent": parent, "start": start, "end": end})

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def save(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


class NoTracer:
    """Tracing off: spans cost nothing and set no job group."""

    def span(self, name: str):
        return contextlib.nullcontext()
