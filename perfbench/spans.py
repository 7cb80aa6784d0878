"""In-memory span recorder for the traced run.

A span records a name, start, end, parent span and query id. Spans
are kept in memory and written once when the run ends. Each span also
sets its own Spark job group, so the jobs started while it is the
innermost open span can be counted exactly through
``statusTracker().getJobIdsForGroup``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        """``sc``: the SparkContext whose job group each span sets, or
        None for spans without job groups (tests)."""
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, query: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "query": query if query is not None else (parent or {}).get("query"),
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def job_ids(self, rec: dict) -> list[int]:
        """Jobs started while ``rec`` was the innermost open span."""
        return list(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
