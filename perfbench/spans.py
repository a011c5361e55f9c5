"""In-memory spans around the benchmark's calls into each layer.

Each span records name, start, end, parent and run id, and tags the
Spark jobs it triggers with a job group named after the span id, so the
event-log reader (eventlog.py) can attach Spark's counters to it. Spans
are written out as JSON once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Tag later spans' jobs on this SparkContext."""
        self._sc = sc

    def _tag(self, span: dict | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str):
        """Open a span around the with-block (a no-op while disabled)."""
        if not self.enabled:
            yield
            return
        rec = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh, indent=1)
