"""Spans around the benchmark's calls into the program's layers.

A span records name, start, end, parent span and request id, plus the
change across the call in the executor summary of Spark's status store
(task time, input bytes, shuffle bytes written, GC time). Spans stay in
memory and are written once, when the run ends. With tracing off,
``span`` records nothing and touches no Spark state.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = ("task_s", "input_mb", "shuffle_mb", "gc_s")


def executor_totals(spark) -> tuple[float, float, float, float]:
    """Summed executor counters, after the listener bus has delivered
    every task-end event posted so far."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(True)
    task_ms = input_b = shuffle_b = gc_ms = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        task_ms += e.totalDuration()
        input_b += e.totalInputBytes()
        shuffle_b += e.totalShuffleWrite()
        gc_ms += e.totalGCTime()
    return task_ms / 1e3, input_b / 2**20, shuffle_b / 2**20, gc_ms / 1e3


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"name": name, "parent": parent, "request": request}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        before = executor_totals(self.spark) if self.spark else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None:
                after = executor_totals(self.spark)
                rec.update(
                    {k: a - b for k, a, b in zip(COUNTERS, after, before)}
                )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str, key: str | None = None) -> float:
        """Summed duration (or counter ``key``) over spans called ``name``."""
        return sum(
            (s["end"] - s["start"]) if key is None else s.get(key, 0.0)
            for s in self.named(name)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
