"""Streaming SCD2 maintenance — dimension snapshots arriving as a stream,
applied per micro-batch through ``operators/scd2.py:scd2_apply_table``
(which itself rides merge_upsert's partition-scoped, crash-recovering,
contract-enforcing machinery). The ST5/ST6 shape for dimensions: state
lives in the TABLE, the stream is stateless, so there is no watermark to
tune. Redelivery of the CURRENT snapshot (at-least-once within a
checkpoint, or a re-send of the latest snapshot) re-applies it with an
empty change set — idempotent.

Ordering contract: a micro-batch may carry one or more FULL snapshots
(tagged by ``date_col``); they apply in date order within the batch, and
``scd2_apply_table`` refuses a snapshot strictly OLDER than the newest
stored interval — cross-batch misordering, and replaying history from
scratch into a non-empty table, fail loudly instead of closing intervals
backwards in time (re-initialize into a fresh path to rebuild).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_apply_table
from ..sources.sinks import capped_distinct
from .drain import drain


MAX_SNAPSHOTS_PER_BATCH = 1024
"""Hard cap on distinct snapshot dates applied from one micro-batch.

The per-batch date list is bounded by snapshots-per-batch (a handful
in steady state), never by rows — but a backfill replay that feeds
months of daily snapshots in ONE batch would silently turn it into a
driver-side list of thousands, and each date then costs a full MERGE
pass. A batch carrying more than this many distinct dates fails loudly
with re-ingestion guidance (``sinks.capped_distinct``, the guard
merge_upsert and the incremental rollup share) instead of degrading
the driver.
"""


def apply_snapshot_batch(
    batch_df: DataFrame,
    path: str,
    key: str,
    attr: str,
    date_col: str,
    n_buckets: int = 16,
) -> list[dict]:
    """Apply every full snapshot in the batch, in date order (at most
    MAX_SNAPSHOTS_PER_BATCH distinct dates)."""
    dates = sorted(
        str(d) for d in capped_distinct(batch_df, date_col, MAX_SNAPSHOTS_PER_BATCH)
    )
    stats = []
    for d in dates:
        snap = batch_df.filter(F.col(date_col) == d).select(key, attr)
        stats.append(
            scd2_apply_table(
                batch_df.sparkSession, snap, path, key, attr, d, n_buckets=n_buckets
            )
        )
    return stats


def run_stream_scd2(
    stream_df: DataFrame,
    path: str,
    ckpt_dir: str,
    key: str,
    attr: str,
    date_col: str,
    n_buckets: int = 16,
) -> None:
    """Drain every available micro-batch of snapshot rows into the SCD2
    table at ``path``."""
    drain(
        stream_df,
        lambda bdf: apply_snapshot_batch(
            bdf, path, key, attr, date_col, n_buckets=n_buckets
        ),
        ckpt_dir,
    )
