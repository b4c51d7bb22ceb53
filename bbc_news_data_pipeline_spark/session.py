"""SparkSession factory.

Centralizes the configs every entry point (tests, bench, driver harness)
needs so plans behave identically everywhere:

  * UTC session timezone — required for DuckDB-oracle comparison (DuckDB
    timestamps are UTC-naive).
  * AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
    plan is always wrong somewhere; AQE re-plans from actual map output
    sizes.
  * shuffle.partitions sized to cores for local runs; on a real cluster
    AQE's coalescing makes the initial number mostly a ceiling.
  * Arrow enabled so pandas interchange and Pandas UDFs are vectorized.
  * Generated-code cache sized to the pipeline's working set. Spark keeps
    Janino-compiled whole-stage and expression classes in one JVM-wide
    LRU keyed by the generated source, capped by the static conf
    ``spark.sql.codegen.cache.maxEntries`` (default 100). On the
    benchmark's inputs one DAG run generates ~135 distinct classes and
    one curation pass ~117–129, so at 100 the LRU evicts every class
    before its next use and each warm run recompiles ~90–120 of them
    (0.5–1 s of Janino time). A session that runs a DAG, a curation pass
    and a stream ladder touches 263 classes (mean 2.1 KB, max 8.7 KB of
    bytecode), so 1,000 entries leave ~4x headroom for at most ~9 MB.
    ``count_codegen_compiles`` checks that a repeat compiles nothing.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries, sized in the module docstring. New
# plans grow the working set: re-measure it with count_codegen_compiles
# and raise this, never cut it to a current count.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 256,
    arrow_batch_rows: int | None = None,
) -> dict[str, str]:
    """The recommended conf for the 100 TB / multi-executor deployment —
    the production counterpart of get_spark's local[] defaults (SCALE.md
    records the rationale; this makes it executable).

    Local tests cannot exercise a real cluster, but every plan in this
    repo is written against these assumptions: AQE re-plans from actual
    map sizes, shuffle partitions start at 2×total-cores and coalesce
    down, scan splits target ``target_partition_mb``, skew joins split
    oversized partitions, speculation covers stragglers, and every JVM's
    generated-code cache holds the pipeline's working set.
    """
    total_cores = executors * cores_per_executor
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{target_partition_mb}m",
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.files.maxPartitionBytes": f"{target_partition_mb}m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.speculation": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        # executors keep their own generated-code caches and thrash alike
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
    }
    # Arrow batch ROW cap — the memory bound the multimodal mapInPandas
    # contract relies on (operators/multimodal.py): the 10k default means
    # ~100 GB per batch for 10 MB media payloads; pass ~512 for jobs that
    # read payload-bearing tables. Deliberately NOT set by default: a
    # session-wide cap would also chop every text pandas-UDF batch
    # (VADER/HF/POS paths) into ~20x more Arrow round-trips for a bound
    # only media jobs need — set it per job, not per cluster.
    if arrow_batch_rows is not None:
        conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = str(arrow_batch_rows)
    return conf


def get_spark(
    app_name: str = "bbc-news-data-pipeline-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all cores.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    driver_memory = driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "8g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def count_py4j_round_trips() -> Iterator[Callable[[], int]]:
    """Count py4j gateway commands (Python→JVM round trips, ~90 µs each)
    sent inside the block; yields a callable giving the running total.

    Wraps ``py4j.clientserver.ClientServerConnection.send_command``, the
    connection PySpark uses in its default pinned-thread mode. Building
    a DataFrame runs no job but costs round trips — three per ``F.lit``
    or ``F.col`` of a node-by-node Column build — so this is the measure
    of an operator's driver-side construction cost.

    Object-release commands are not counted: py4j's finalizer thread
    sends them whenever it gets to proxies Python dropped earlier, so
    they land in whichever block happens to be open and made counts of
    the same build differ by 100+ between runs.
    """
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    sent = [0]
    lock = threading.Lock()  # concurrent DAG stages send from several threads
    send = ClientServerConnection.send_command

    def counting_send(self, command):
        if not command.startswith(release):
            with lock:
                sent[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting_send
    try:
        yield lambda: sent[0]
    finally:
        ClientServerConnection.send_command = send


@contextmanager
def count_codegen_compiles(spark: SparkSession) -> Iterator[Callable[[], int]]:
    """Count generated classes Janino compiles inside the block; yields a
    callable giving the running total.

    Reads the count of Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME``
    histogram, which the generated-code cache updates only on a miss, so
    a repeated operation whose classes are still cached reads 0. The
    counter is JVM-wide: in local mode it covers the executors' compiles
    too, on a cluster only the driver's.
    """
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    hist = metrics.METRIC_COMPILATION_TIME()
    start = hist.getCount()
    yield lambda: hist.getCount() - start
