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
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textstats import max_run_count_expr
from ..operators.curation import (
    LANG_RATES,
    redact_pii,
    sample_key_expr,
    sample_threshold,
)
from ..operators.dedup import fingerprint, shingles_from_tokens

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
    toked = docs.select(
        "doc_id", "lang", "text", F.split("text", " ").alias("_toks")
    ).filter(F.size("_toks") >= 2)
    base = toked.select(
        "doc_id",
        "lang",
        "text",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("_toks")) / F.size("_toks"), 4
        ).alias("dup_word_ratio"),
        F.round(
            max_run_count_expr(shingles_from_tokens("_toks", 2)) / (F.size("_toks") - 1),
            4,
        ).alias("top_bigram_ratio"),
    )
    kept = base.filter(
        (F.col("dup_word_ratio") <= dup_t) & (F.col("top_bigram_ratio") <= bigram_t)
    )
    thr = F.lit(None).cast("long")
    for lang, rate in rates:
        thr = F.when(F.col("lang") == lang, F.lit(sample_threshold(rate))).otherwise(thr)
    mixed = kept.filter(sample_key_expr("doc_id", salt=mix_salt) < thr)
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
    q = (
        curate_docs_stream(read_docs_stream(spark, src_dir))
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
