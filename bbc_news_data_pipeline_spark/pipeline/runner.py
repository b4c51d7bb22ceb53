"""Stage runner — the engine-side replacement for the reference's Airflow
DAG control flow (SURVEY §2.12).

  O1 dependencies        → declarative Stage(deps=...) toposorted; every
                           stage starts once its deps are done, so ready
                           stages run concurrently in one SparkSession
  O2 retries             → per-stage retry count
  O3 ALL_DONE publishing → optional=True stages: failure recorded, run continues
  O4 XCom                → the results dict threaded to downstream stages

Stages run on a thread pool with one thread per stage. Each stage thread
inherits the caller's Spark local properties (job group, scheduler pool)
and session tags, so a caller's ``setJobGroup``/``cancelJobGroup`` covers
every stage's jobs.

Orchestration *scheduling* (cron cadence, distributed workers) stays an
external concern, exactly as SURVEY §3.1 prescribes — this runner is the
in-process dependency/retry engine.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Any

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

log = logging.getLogger(__name__)


@dataclass
class Stage:
    name: str
    fn: Callable[[dict[str, Any]], Any]  # results-so-far -> stage result
    deps: tuple[str, ...] = ()
    retries: int = 1  # bbc_news_dag.py:247 default_args retries=1
    optional: bool = False  # TriggerRule.ALL_DONE semantics (bbc_news_dag.py:321)


@dataclass
class RunReport:
    results: dict[str, Any] = field(default_factory=dict)
    failed: dict[str, str] = field(default_factory=dict)
    timings: dict[str, float] = field(default_factory=dict)


def _attempt(stage: Stage, results: dict[str, Any]) -> tuple[Any, str | None, float]:
    """Run one stage with its retries: (result, last error or None, seconds)."""
    t0 = time.perf_counter()
    result, err = None, None
    for attempt in range(stage.retries + 1):
        try:
            result, err = stage.fn(results), None
            break
        except Exception as e:  # noqa: BLE001 - stage isolation is the point
            err = f"{type(e).__name__}: {e}"
            log.warning("stage %s attempt %d failed: %s", stage.name, attempt, err)
    return result, err, round(time.perf_counter() - t0, 3)


class Pipeline:
    def __init__(self, stages: list[Stage]):
        names = [s.name for s in stages]
        if len(names) != len(set(names)):
            raise ValueError("duplicate stage names")
        self.stages = {s.name: s for s in stages}

    def run(self) -> RunReport:
        order = TopologicalSorter({s.name: set(s.deps) for s in self.stages.values()})
        order.prepare()
        report = RunReport()
        session = SparkSession.getActiveSession()
        running: dict[Future, str] = {}
        with ThreadPoolExecutor(max_workers=max(1, len(self.stages))) as pool:
            while order.is_active():
                for name in order.get_ready():
                    stage = self.stages[name]
                    # An optional upstream's failure does not poison downstream
                    # (TriggerRule.ALL_DONE); a required upstream's failure does,
                    # unless this stage is itself marked optional-tolerant.
                    dead_deps = [
                        d for d in stage.deps
                        if d in report.failed and not self.stages[d].optional
                    ]
                    if dead_deps and not stage.optional:
                        report.failed[name] = f"skipped: upstream failed {dead_deps}"
                        order.done(name)
                        continue
                    # Wrapped per stage: each thread gets its own copy of the
                    # caller's local properties, so a stage's setJobGroup
                    # stays its own.
                    target = _attempt
                    if session is not None:
                        target = inheritable_thread_target(session)(_attempt)
                    running[pool.submit(target, stage, dict(report.results))] = name
                if not running:  # only skips this round; they may have readied more
                    continue
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in finished:
                    name = running.pop(fut)
                    result, err, report.timings[name] = fut.result()
                    if err is None:
                        report.results[name] = result
                    else:
                        report.failed[name] = err
                        if not self.stages[name].optional:
                            log.error("required stage %s failed; downstream will skip", name)
                    order.done(name)
        return report
