"""In-memory span tracer with per-span Spark job accounting.

A span has a name, start, end, parent and run id. Each span runs under
its own Spark job group, so the jobs, stages and tasks it launched are
read back from ``statusTracker()`` when it closes. Spans stay in memory
until :meth:`Tracer.dump` writes them to one JSON-lines file.

The tracer lives in the benchmark, around calls into the program's
public functions; the program itself is not instrumented.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, next(self._ids), parent, self.run_id, time.perf_counter())
        group = f"{self.run_id}:{s.span_id}"
        self._stack.append(s)
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"{self.run_id}:{outer.span_id}", outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._count(s, group)
            self.spans.append(s)

    def _count(self, s: Span, group: str) -> None:
        # Job and stage events reach the status store through the
        # asynchronous listener bus; drain it so the counts are complete.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            s.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                st = tracker.getStageInfo(stage_id)
                launched = st.numCompletedTasks + st.numFailedTasks if st else 0
                if launched:  # skipped stages (reused shuffle output) launch none
                    s.stages += 1
                    s.tasks += launched
                    s.failed_tasks += st.numFailedTasks

    def self_seconds(self, s: Span) -> float:
        """Duration minus the part covered by direct child spans."""
        children = [c for c in self.spans if c.parent == s.span_id]
        return s.seconds - sum(c.seconds for c in children)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
