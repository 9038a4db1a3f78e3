"""Spans and Spark job counts recorded from the benchmark's side.

A span is (id, name, parent, start, end), kept in memory and written as
JSON when the run ends. A span's layer is its name up to the first dot
(``build.segments`` belongs to ``build``); a layer's self time is the
time its spans cover minus the part their child spans cover.

Job counts come from outside the engine: each counted call runs in its
own Spark job group, and the count is the group's jobs plus any jobs with
no group that started meanwhile (threads the engine starts do not
inherit the caller's job group).
"""
from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Record one span; a no-op when tracing is off."""
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_seconds(self) -> dict[str, float]:
        """Layer → total self time in seconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str, **header) -> None:
        with open(path, "w") as f:
            json.dump(
                {**header, "self_s": self.self_seconds(), "spans": self.spans}, f
            )


class JobCounter:
    """Counts the Spark jobs one call launches."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ids = itertools.count()

    @contextmanager
    def count(self, label: str, into: list[int]):
        """Run the body in its own job group; append its job count to
        ``into`` once the body returns."""
        tracker = self.sc.statusTracker()
        group = f"perfbench-{label}-{next(self._ids)}"
        before = set(tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, label)
        try:
            yield
        finally:
            self.sc.setJobGroup(None, None)
        after = set(tracker.getJobIdsForGroup(None))
        into.append(len(tracker.getJobIdsForGroup(group)) + len(after - before))
