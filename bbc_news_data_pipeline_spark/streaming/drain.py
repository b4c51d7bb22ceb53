"""The availableNow drains every streaming flow here runs through.

``drain``: the stream itself is stateless, each micro-batch is handed
to a ``fold`` that reads and rewrites its state tables (rollup,
corpusbuild, annindex, scd2, upsert) — Structured Streaming's
``foreachBatch`` sink. ``drain_to_parquet``: the stream's rows are
appended to a parquet file sink (links ingest, docs curation, the
error→click join). Either way the checkpoint makes a re-drain skip the
batches already written.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


def _available_now(writer: DataStreamWriter, ckpt_dir: str) -> None:
    (
        writer.option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def drain(
    stream_df: DataFrame, fold: Callable[[DataFrame], object], ckpt_dir: str
) -> None:
    """Run ``fold(batch_df)`` on every micro-batch available now, one at
    a time, and return once the source is drained."""
    _available_now(
        stream_df.writeStream.foreachBatch(lambda bdf, _id: fold(bdf)), ckpt_dir
    )


def drain_to_parquet(stream_df: DataFrame, out_path: str, ckpt_dir: str) -> None:
    """Append every micro-batch available now to the parquet directory
    ``out_path``, exactly once via the checkpoint, and return once the
    source is drained."""
    _available_now(
        stream_df.writeStream.format("parquet").option("path", out_path), ckpt_dir
    )
