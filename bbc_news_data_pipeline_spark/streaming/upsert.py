"""Streaming keyed UPSERT sink — ST5's "allow updates via Delta MERGE"
design decision end-to-end STREAMING: ``merge_upsert``
(``sources/sinks.py``) applied per micro-batch via ``foreachBatch``,
with version-based conflict resolution so the final table is a pure
function of the data — independent of how the stream was sliced into
micro-batches, their arrival order, or redelivery.

The reference's closest shape is the 30-min re-crawl that SKIPS changed
articles (``pipelines.py:38-44``); this is the upgrade path the SURVEY
flags: re-crawled rows UPDATE in place, keyed by url, versioned by crawl
timestamp.

Resolution contract (``version_col``):
  * WITHIN a batch: one survivor per key by max(version, then the
    remaining columns as a struct tiebreak) — a total deterministic
    order, so even version ties resolve identically on every run.
  * ACROSS batches: an incoming row only applies when its version is
    strictly NEWER than the stored one. Late replays of old versions
    are no-ops, and redelivered rows (version == stored) are filtered —
    effective exactly-once on top of at-least-once delivery without a
    transaction log.
  * NULL versions are REFUSED (raise): under the strict ``>`` guard a
    NULL-versioned row silently loses every cross-batch comparison and
    every within-batch struct-max tie — an unorderable version is a
    data bug upstream, not a resolvable conflict (mirrors
    ``merge_upsert``'s duplicate-key refusal).

Scale notes: the cross-batch guard reads only (key, version) of the
existing table (column pruning); with ``partition_col`` the underlying
merge rewrite is partition-scoped (see merge_upsert) so a micro-batch
touching k partitions costs O(batch + k partitions) regardless of table
history. State lives in the TABLE, not the stream — the streaming query
itself is stateless, so there is no watermark to tune and no state
store to grow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.sinks import merge_upsert, recover_merge, table_exists
from .drain import drain


def resolve_latest(df: DataFrame, key: str, version_col: str) -> DataFrame:
    """One survivor per key: max by (version, remaining columns) — a
    total order, deterministic under any tie."""
    other = [c for c in df.columns if c not in (key, version_col)]
    s = F.struct(F.col(version_col), *[F.col(c) for c in other])
    agg = df.groupBy(key).agg(F.max(s).alias("_s"))
    return agg.select(
        key,
        F.col(f"_s.{version_col}").alias(version_col),
        *[F.col(f"_s.{c}").alias(c) for c in other],
    ).select(*df.columns)


def upsert_batch(
    batch_df: DataFrame,
    path: str,
    key: str,
    version_col: str,
    partition_col: str | None = None,
) -> dict:
    """Apply one (micro-)batch: resolve within-batch, drop rows not
    strictly newer than the stored version, merge the rest. Raises on
    NULL versions (see module docstring) and repairs any crash-stranded
    swap BEFORE the existence probe — otherwise a stranded table reads
    as absent, the version guard is skipped, and old replayed rows could
    become the new table."""
    spark = batch_df.sparkSession
    recover_merge(path)
    n_null = batch_df.filter(F.col(version_col).isNull()).count()
    if n_null:
        raise ValueError(
            f"{n_null} row(s) arrived with NULL '{version_col}' — an "
            "unorderable version can never win the strict '>' guard; "
            "assign versions upstream"
        )
    resolved = resolve_latest(batch_df, key, version_col)
    if table_exists(spark, path):
        cur = spark.read.parquet(path).select(
            key, F.col(version_col).alias("_stored_v")
        )
        resolved = (
            resolved.join(cur, key, "left")
            .filter(
                F.col("_stored_v").isNull()
                | (F.col(version_col) > F.col("_stored_v"))
            )
            .drop("_stored_v")
        )
    return merge_upsert(spark, resolved, path, key, partition_col=partition_col)


def run_stream_upsert(
    stream_df: DataFrame,
    path: str,
    ckpt_dir: str,
    key: str,
    version_col: str,
    partition_col: str | None = None,
) -> None:
    """Drain every available micro-batch through the versioned upsert.
    Exactly-once effective: the checkpoint dedups batch REPLAY, and the
    version guard dedups row REDELIVERY across checkpoints."""
    drain(
        stream_df,
        lambda bdf: upsert_batch(
            bdf, path, key, version_col, partition_col=partition_col
        ),
        ckpt_dir,
    )
