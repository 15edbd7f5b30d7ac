"""In-memory span recorder for the traced run.

Spans are recorded by the benchmark's own code around its calls into
each ``venus_spark`` layer: name, start and end. They stay in memory
and are reduced to per-layer metrics when the run ends. A disabled
recorder hands out a shared no-op context, so the untraced run pays one
attribute lookup per call site.
"""

from __future__ import annotations

import contextlib
import time
import uuid
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = {}
        self._null = contextlib.nullcontext()

    def span(self, name: str):
        return self._record(name) if self.enabled else self._null

    @contextlib.contextmanager
    def _record(self, name: str):
        span = Span(name, time.perf_counter(), 0.0)
        self.spans.append(span)
        try:
            yield
        finally:
            span.end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        """Record a count observed at a layer boundary."""
        self.counts.setdefault(name, []).append(value)

    def durations(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]


class JobCounter:
    """Counts the Spark jobs and stages one operation launched, by job
    group, through the status tracker (traced run only)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._prefix = f"perfbench-{uuid.uuid4().hex[:12]}"
        self._n = 0

    def begin(self, description: str) -> str:
        self._n += 1
        group = f"{self._prefix}-{self._n}"
        self._sc.setJobGroup(group, description)
        return group

    def end(self, group: str) -> tuple[int, int]:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages += len(info.stageIds) if info is not None else 0
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        return len(jobs), stages
