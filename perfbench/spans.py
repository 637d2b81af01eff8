"""Spans the benchmark records around each call it makes into the
program, plus the job-group tag that lets the traced run attribute
Spark's own event-log records to the same call."""

from __future__ import annotations

import time
from collections import defaultdict


class Spans:
    """Records (op, layer, start, end) for every wrapped call.

    Timing is always on (two clock reads per call). Job-group tagging
    is a py4j round trip, so it happens only when ``trace`` is set."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.op = "setup"
        self.records: list[tuple[str, str, float, float]] = []
        self._open: list[str] = []

    def _tag(self) -> None:
        if not self.trace:
            return
        if self._open:
            self.sc.setJobGroup(f"{self.op}:{self._open[-1]}", self._open[-1])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` as ``layer``; spans nest, and jobs are tagged with
        the innermost open layer."""
        self._open.append(layer)
        self._tag()
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.records.append((self.op, layer, t0 * 1000.0, time.time() * 1000.0))
            self._open.pop()
            self._tag()

    def wrap(self, obj, method: str, layer: str) -> None:
        """Time every call of ``obj.method`` as ``layer``, including
        calls the program makes internally (an instance attribute
        shadows the class method only for this object)."""
        inner = getattr(obj, method)
        setattr(obj, method, lambda *a, **k: self.call(layer, inner, *a, **k))

    def durations_ms(self, ops: set[str]) -> dict[str, list[float]]:
        """Per layer, the summed span time of each listed op."""
        per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for op, layer, t0, t1 in self.records:
            if op in ops:
                per[layer][op] += t1 - t0
        return {layer: list(v.values()) for layer, v in per.items()}
