"""Stream-stream interval join (SURVEY ST-family extension): the
streaming twin of the batch range join (q62 /
``operators/timeseries.py:binned_range_join``) — correlate each error
with the same user's clicks in the preceding ``window_s`` seconds while
BOTH sides arrive as unbounded streams.

The reference has no streaming engine at all (its closest shape is the
30-min full-recompute DAG, ``bbc_news_dag.py:253``); Spark's Structured
Streaming gives the stateful two-sided join natively once both sides
carry watermarks and the join predicate time-bounds each side against
the other.

Semantics: inner join on ``user_id`` with
``error.ts - window_s <= click.ts < error.ts`` — identical to the batch
q62, so a full drain over the same inputs must produce the same rows
(asserted in tests/test_streaming_joins.py).

Scale notes (100 TB/day firehose):
  * State per side is bounded by the watermark: a click older than
    ``max(event time seen) - delay - window_s`` can never join a future
    error, so Spark evicts it. State ≈ (rows/sec × (delay + window)),
    independent of stream length.
  * The join itself shuffles both sides on ``user_id`` — the same
    key/skew profile as the batch join; per-key state stays small
    because the time bound caps how many clicks an error can see.
  * ``availableNow`` drains give batch-equivalent replays for backfill
    (the same code path serves both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import drain_to_parquet

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
    ]
)

DEFAULT_WINDOW_S = 6 * 3600
DEFAULT_DELAY = "10 minutes"


def read_events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Parquet-directory event stream (each file = one micro-batch)."""
    return spark.readStream.schema(EVENT_SCHEMA).parquet(src_dir)


def interval_join_streams(
    events: DataFrame,
    *,
    window_s: int = DEFAULT_WINDOW_S,
    delay: str = DEFAULT_DELAY,
) -> DataFrame:
    """Errors ⋈ clicks of the same user within the trailing window, both
    sides streaming. One source stream is split by filter into the two
    sides (a supported stream self-join); each side gets its own
    watermark so the state store can evict expired rows.

    The time predicate bounds click_ts on BOTH sides of error ts —
    required by Spark to derive the state-cleanup condition.
    """
    errors = (
        events.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", delay)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    cond = (
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("ts") - F.expr(f"INTERVAL {window_s} SECONDS"))
        & (F.col("click_ts") < F.col("ts"))
    )
    return errors.join(clicks, cond, "inner").select(
        "event_id",
        "click_id",
        "user_id",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


def run_error_click_join(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    ckpt_dir: str,
    *,
    window_s: int = DEFAULT_WINDOW_S,
    delay: str = DEFAULT_DELAY,
) -> None:
    """Drain every available micro-batch through the interval join into a
    parquet sink, exactly-once via the checkpoint (re-runs are no-ops
    until new files arrive)."""
    joined = interval_join_streams(
        read_events_stream(spark, src_dir), window_s=window_s, delay=delay
    )
    drain_to_parquet(joined, out_dir, ckpt_dir)
