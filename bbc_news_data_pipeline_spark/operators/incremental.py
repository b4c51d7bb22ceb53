"""Incremental aggregate maintenance — materialized-rollup refresh that
touches ONLY the partitions new data lands in.

The reference recomputes every statistic from the full collection each
30-minute run (``bbc_news_dag.py:253`` schedules the whole DAG;
``stats.py`` re-reads everything). At 100 TB a full recompute per
refresh is impossible; the standard fix is a partitioned rollup table
plus *mergeable* partial aggregates:

  1. aggregate ONLY the new micro-batch to the rollup grain (count/sum
     are mergeable: merge = sum of partials);
  2. read back just the affected partitions of the existing rollup
     (partition pruning on the day key — the unaffected 99.9% of the
     table is never opened);
  3. merge (``merge_partials``, the additive fold every state table in
     streaming/ shares) and rewrite ONLY those partitions
     (``sinks.overwrite_partitions``).

Cost per refresh is O(new data + affected partitions), independent of
table history length. Avg/stddev derive from (n, sum, sum_sq) at read
time — never store non-mergeable aggregates in an incremental rollup.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.sinks import capped_distinct, overwrite_partitions, table_exists

# Mergeable state kept per (event_type, day): n, sum, sum_sq. Derived
# metrics (mean, variance) are computed by readers from these.
_STATE_COLS = ("n", "sum_value", "sum_sq")

#: Cap on the driver-side affected-day list (``sinks.capped_distinct``):
#: a normal incremental delta touches a handful of days; thousands means
#: an unbatched backfill replay, which must be split rather than silently
#: materializing an unbounded isin() literal list on the driver.
MAX_AFFECTED_DAYS = 1024


def rollup_events(events: DataFrame) -> DataFrame:
    """Daily mergeable rollup of the events stream (one shuffle)."""
    return events.groupBy(
        F.date_trunc("DAY", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sum_value"),
        F.sum(F.col("value") * F.col("value")).alias("sum_sq"),
    )


def merge_partials(
    stored: DataFrame | None,
    delta: DataFrame,
    keys: Sequence[str],
    cols: Sequence[str],
) -> DataFrame:
    """Fold a delta of mergeable partial aggregates into the stored ones:
    per ``keys``, each of ``cols`` is the sum of both sides (union +
    groupBy-sum, one shuffle). A column one side does not carry counts as
    0 there, so a stored-only column (a frozen baseline) passes through
    and a delta-only column (a per-batch count) is 0 on stored-only keys.
    ``stored=None`` (first fold) returns the delta alone. Keys the delta
    does not touch keep bit-identical values: a sum of one integer."""

    def side(df: DataFrame) -> DataFrame:
        return df.select(
            *keys,
            *[
                F.col(c) if c in df.columns else F.lit(0).cast("long").alias(c)
                for c in cols
            ],
        )

    if stored is None:
        return side(delta)
    return (
        side(stored)
        .unionByName(side(delta))
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in cols])
    )


def incremental_update(
    spark: SparkSession, rollup_dir: str, new_events: DataFrame
) -> int:
    """Fold ``new_events`` into the day-partitioned rollup at
    ``rollup_dir``, rewriting only the affected day partitions.
    Returns the number of affected days.

    The read-back of existing state filters on the delta's day set —
    partition pruning keeps it O(affected partitions); the
    partition-scoped overwrite leaves every other partition
    byte-identical.
    """
    delta = rollup_events(new_events)
    affected = None
    # Filesystem probe, not read-and-swallow: an existing-but-unreadable
    # rollup must fail loudly on the read below, never be mistaken for
    # "first refresh" (which would silently drop all accumulated state on
    # the overwrite) — the shared sinks.table_exists discipline.
    if table_exists(spark, rollup_dir):
        days = capped_distinct(delta, "day", MAX_AFFECTED_DAYS)
        affected = spark.read.parquet(rollup_dir).filter(F.col("day").isin(days))
    merged = merge_partials(affected, delta, ["day", "event_type"], _STATE_COLS)

    n_days = merged.select("day").distinct().count()
    overwrite_partitions(merged, rollup_dir, "day")
    return n_days
