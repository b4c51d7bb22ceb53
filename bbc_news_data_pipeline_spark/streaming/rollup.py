"""Continuously-maintained rollup: Structured Streaming micro-batches
folded into the day-partitioned rollup table via
``operators/incremental.py`` — the streaming materialized view the
reference approximates by recomputing every statistic each 30-minute
DAG run (``bbc_news_dag.py:253``, ``stats.py``).

Per micro-batch cost is O(batch + affected day partitions) — dynamic
partition overwrite leaves every other partition untouched — and the
mergeable (n, sum, sum_sq) state makes the fold order-insensitive, so
a stream drain equals a single batch recompute over the same events
(asserted in tests/test_streaming_rollup.py).

Scale notes: the per-batch shuffle is on (day, event_type) — the
micro-batch's OWN grain, not history; checkpointing makes re-drains
no-ops. Exactly-once caveat: foreachBatch may re-run a batch on
failure mid-write; the merge is NOT idempotent per re-delivery (counts
would double), so production pairs this with batch-id tracking in
``run_metadata_table`` — the same ledger the batch pipeline uses —
skipping batch ids already recorded.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..operators.incremental import incremental_update
from .drain import drain

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def run_streaming_rollup(
    spark: SparkSession, src_dir: str, rollup_dir: str, ckpt_dir: str
) -> None:
    """Drain all available event micro-batches, folding each into the
    rollup table (only affected day partitions rewritten per batch)."""
    drain(
        spark.readStream.schema(EVENT_SCHEMA).parquet(src_dir),
        lambda batch: incremental_update(batch.sparkSession, rollup_dir, batch),
        ckpt_dir,
    )
