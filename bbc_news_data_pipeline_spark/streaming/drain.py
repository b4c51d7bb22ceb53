"""The availableNow micro-batch drain behind every state-table fold
(rollup, corpusbuild, annindex, scd2, upsert): the stream itself is
stateless, each micro-batch is handed to a ``fold`` that reads and
rewrites its state tables, and the checkpoint makes a re-drain skip the
batches already folded (Structured Streaming's ``foreachBatch`` sink).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def drain(
    stream_df: DataFrame, fold: Callable[[DataFrame], object], ckpt_dir: str
) -> None:
    """Run ``fold(batch_df)`` on every micro-batch available now, one at
    a time, and return once the source is drained."""
    (
        stream_df.writeStream.foreachBatch(lambda bdf, _id: fold(bdf))
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
