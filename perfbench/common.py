"""Shared harness pieces: the Spark session, operation accounting and the
order statistics every workload reports."""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    """The program's own session factory on ``local[nproc]``, with every
    scratch location inside ``work``."""
    from bbc_news_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's short-lived launcher JVM
    # the environment variable, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return get_spark(
        "perfbench",
        cpus=nproc(),
        driver_memory="2g",
        extra_conf={
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop every query, the session and the JVM, and wait for the JVM
    (and with it Spark's Python workers) to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's VmHWM (peak resident set) from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, as
    (value, label). Below 11 samples no percentile qualifies, and the
    maximum is reported and labelled so."""
    n = len(xs)
    s = sorted(xs)
    if n < 11:
        return s[-1], f"max of n={n}"
    pct = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100 * n))  # nearest-rank percentile
    return s[rank - 1], f"p{pct} of n={n}"


@dataclass
class Ops:
    """Attempted and failed operations; ``failed / attempted`` is the
    run's error rate. An operation is a stage attempt, a delta, a file, an
    operator call or an output check."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def expect(self, got, want, what: str) -> bool:
        return self.check(got == want, f"{what}: got {got!r}, want {want!r}")
