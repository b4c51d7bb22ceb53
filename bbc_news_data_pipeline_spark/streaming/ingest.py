"""Structured Streaming ingestion (SURVEY §2.10).

The reference fakes streaming with a 30-min Airflow cron + idempotent
keyed inserts (ST1–ST3). Here the same semantics are a real incremental
pipeline:

  ST1 micro-batch cadence   → trigger(availableNow)/processingTime
  ST2 new-url discovery     → dropDuplicates("url") with state
  ST3 skip-already-scraped  → stream-static left_anti vs the stored table
  ST4 event-time windows    → window()/watermark
  ST5 late/duplicate data   → dropDuplicatesWithinWatermark

State-growth note (SURVEY §7.4.6): unkeyed dropDuplicates state grows
forever; production uses dropDuplicatesWithinWatermark keyed on the
lastmod event time so the store stays bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import drain_to_parquet

LINK_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("lastmod", T.StringType(), True),
    ]
)


def read_links_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Parquet-directory link stream (each new file = one micro-batch of
    discovered sitemap links). A production source would be Kafka; the
    transformation graph below is source-agnostic."""
    return spark.readStream.schema(LINK_SCHEMA).parquet(src_dir)


def dedup_links_stream(
    links: DataFrame, already_scraped: DataFrame | None = None
) -> DataFrame:
    """ST2+ST3: state-backed exactly-once url dedup, then anti-join against
    the static table of already-scraped urls (middlewares.py:16-20)."""
    out = links.dropDuplicates(["url"])
    if already_scraped is not None:
        out = out.join(already_scraped.select("url"), "url", "left_anti")
    return out


def dedup_links_stream_bounded(
    links: DataFrame, watermark: str = "2 hours", already_scraped: DataFrame | None = None
) -> DataFrame:
    """ST5 bounded-state variant: dedup keyed within an event-time
    watermark on ``lastmod`` so the state store stays finite at 100 TB
    (SURVEY §7.4.6). Urls re-discovered after the watermark expires are
    treated as new — the keyed_append sink still makes the write
    idempotent, so the end state matches the unbounded variant."""
    with_ts = links.withColumn("lastmod_ts", F.to_timestamp("lastmod")).filter(
        F.col("lastmod_ts").isNotNull()
    )
    out = with_ts.withWatermark("lastmod_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )
    if already_scraped is not None:
        out = out.join(already_scraped.select("url"), "url", "left_anti")
    return out.drop("lastmod_ts")


def run_links_ingest(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    already_scraped: DataFrame | None = None,
) -> None:
    """One availableNow drain of the link stream into a parquet sink —
    the streaming twin of sinks.keyed_append, exactly-once via
    checkpointed state."""
    stream = dedup_links_stream(read_links_stream(spark, src_dir), already_scraped)
    drain_to_parquet(stream, out_path, checkpoint)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """ST4/ST5: watermarked tumbling event-time aggregation — the
    streaming twin of plans/streaming_plans.q50 (same groupBy, so the
    batch oracle certifies the semantics; the streaming test asserts
    stream == batch on the same input)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
