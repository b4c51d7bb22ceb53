"""Streaming corpus curation — the q63 pipeline as a Structured Streaming
flow: documents arrive in micro-batches, pass the row-local quality gate /
PII redaction / weighted mixing unchanged (stateless exprs work on
streams as-is), and exact dedup becomes STATE-backed ``dropDuplicates``
on the content fingerprint, so duplicates are caught ACROSS batches.

Semantics delta vs batch: batch ``exact_dedup`` keeps the min-id row per
fingerprint; streaming keeps the FIRST-ARRIVED row (state insert order).
When re-runs must be idempotent regardless of arrival order, drain into
``sinks.keyed_append`` on the fingerprint.

Scale notes: everything before the dedup is row-local (zero shuffle,
stateless — each micro-batch is embarrassingly parallel); dedup state is
one 32-char key per distinct kept document, and production bounds it
with ``dropDuplicatesWithinWatermark`` once documents carry an event
time (same ST5 pattern as ingest.dedup_links_stream_bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.curation import (
    LANG_RATES,
    gate_documents,
    lang_keep_threshold,
    redact_pii,
    sample_key_expr,
)
from ..operators.dedup import fingerprint
from .drain import drain_to_parquet

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def read_docs_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Parquet-directory document stream (each new file = one micro-batch
    of crawled/ingested documents)."""
    return spark.readStream.schema(DOC_SCHEMA).parquet(src_dir)


def curate_docs_stream(
    docs: DataFrame,
    dup_t: float = 0.6,
    bigram_t: float = 0.1,
    rates: tuple[tuple[str, float], ...] = LANG_RATES,
    mix_salt: str = "mix",
) -> DataFrame:
    """Quality-gate → redact → weighted-mix → stateful exact dedup.

    Works identically on a static DataFrame (minus the cross-batch state)
    — the batch/stream parity test relies on that.
    """
    kept = gate_documents(docs, dup_t=dup_t, bigram_t=bigram_t, carry=("lang", "text"))
    mixed = kept.filter(sample_key_expr("doc_id", salt=mix_salt) < lang_keep_threshold(rates))
    return (
        mixed.withColumn("_fp", fingerprint("text"))
        .dropDuplicates(["_fp"])
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "dup_word_ratio",
            redact_pii("text").alias("redacted"),
        )
    )


def run_docs_curation(
    spark: SparkSession, src_dir: str, out_path: str, checkpoint: str
) -> None:
    """One availableNow drain of the curation flow into a parquet sink."""
    drain_to_parquet(curate_docs_stream(read_docs_stream(spark, src_dir)), out_path, checkpoint)
