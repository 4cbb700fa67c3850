"""Spans and Spark job census for the benchmark's traced run.

A ``Tracer`` built with ``enabled=False`` records nothing and sets no job
group, so the measured runs pay for neither.  In a traced run every call
into a layer of the package is wrapped in ``span(name)``, and every
operation runs in its own Spark job group, whose jobs, stages and tasks
are counted afterwards through the public ``statusTracker``.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        #: (name, start, end, parent name) in completion order
        self.spans: list[tuple[str, float, float, str | None]] = []
        #: per-layer metrics set directly (counts, sizes, heap samples)
        self.values: dict[str, float] = {}
        #: (jobs, stages, tasks) of each operation's job group
        self.census: list[tuple[int, int, int]] = []
        self._stack: list[str] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append((name, start, end, parent))

    @contextmanager
    def job_group(self, sc, description: str):
        """Run the body in a fresh job group, then record its job census."""
        if not self.enabled:
            yield
            return
        self._groups += 1
        group = f"perfbench-{self._groups}"
        sc.setJobGroup(group, description)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.census.append(_group_census(sc, group))

    def durations(self, name: str) -> list[float]:
        return [end - start for (n, start, end, _) in self.spans if n == name]

    def median(self, name: str) -> float:
        """Median duration of the spans called ``name``; 0 when there are none."""
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def set(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name] = value

    def write(self, path: str, extra: dict) -> None:
        doc = dict(extra)
        doc["spans"] = [
            {"name": n, "start": s, "end": e, "parent": p} for (n, s, e, p) in self.spans
        ]
        doc["census"] = [list(c) for c in self.census]
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


def _group_census(sc, group: str) -> tuple[int, int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        for stage in info.stageIds:
            stage_info = tracker.getStageInfo(stage)
            # a stage whose shuffle output was reused is listed but runs
            # no task: count only the stages and tasks that ran
            if stage_info is not None and stage_info.numCompletedTasks > 0:
                stages += 1
                tasks += stage_info.numCompletedTasks
    return len(jobs), stages, tasks


def census_per_op(census: list[tuple[int, int, int]]) -> dict[str, float]:
    n = max(1, len(census))
    totals = [sum(c[i] for c in census) for i in range(3)]
    return {
        "spark.jobs_per_op": totals[0] / n,
        "spark.stages_per_op": totals[1] / n,
        "spark.tasks_per_op": totals[2] / n,
    }

