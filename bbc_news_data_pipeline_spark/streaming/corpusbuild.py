"""Streaming nightly corpus build — the ST6 twin of the batch delta
apply (operators/curation.delta_corpus_build, q267): documents arrive
as micro-batches and each batch is folded into three STORED state
tables, so the pipeline never repacks or re-deduplicates history.

State (parquet tables under one state dir):
  fpindex   — one row per content fingerprint ever ingested (the
              incremental-dedup probe target; append-only)
  counts    — cumulative post-gate per-lang doc counts (the
              temperature-rate denominators; tiny, overwritten)
  manifest  — per-shard (n_docs, n_tokens, n_spanning, checksum)
              (tiny, overwritten; n_tokens doubles as the packing
              offset for the next batch — q170's algebra)

Per batch:
  1. dedup within the batch (min doc_id per fingerprint), then probe
     the stored index with ONE left-anti join (the corpus-scale index
     never shuffles onto the batch side beyond the join);
  2. gate row-locally (operators/curation.gate_documents);
  3. fold the gated per-lang counts into ``counts``
     (operators/incremental.merge_partials) and derive temperature rates
     from the UPDATED cumulative counts (sticky rates: earlier epochs
     were sampled at their own stored rates and are never revisited);
  4. sample the batch at those rates;
  5. pack per shard starting at the stored token totals
     (operators/curation.shard_manifest — the same algebra as the batch
     delta build);
  6. fold the batch manifest into ``manifest`` (merge_partials);
  7. append the new fingerprints to ``fpindex``.

Equivalence contract (the oracle in plans/curation_plans.q277): a full
rebuild over the union with epoch stamps — window dedup ordered by
(epoch, doc_id), per-epoch rates from cumulative gated counts <= e,
packing ordered by (epoch, shuffle_key, doc_id) — must reproduce the
drained manifest exactly, checksums included.

Durability note: the three state writes are not one atomic commit —
a crash between them can leave counts ahead of the manifest. The
availableNow drains here are single-threaded and re-runnable from
scratch; a production deployment wraps the writes in merge_upsert's
versioned-commit recovery (sources/sinks.py) exactly like the SCD2
stream does.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import (
    MANIFEST_COLS,
    SAMPLE_KEY_MOD,
    gate_documents,
    sample_key_expr,
    shard_manifest,
    temperature_rates,
)
from ..operators.dedup import fingerprint, first_wins
from ..operators.incremental import merge_partials
from ..sources.sinks import table_exists
from .drain import drain


def apply_corpus_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    *,
    n_shards: int = 8,
    seqlen: int = 128,
    budget: float = 0.5,
    dup_t: float = 0.6,
    bigram_t: float = 0.1,
    salt_mix: str = "scbmix",
    salt_shuf: str = "scbshuf",
    salt_sum: str = "scbsum",
) -> dict:
    """Fold one micro-batch of (doc_id, lang, text) into the stored
    corpus state. Returns per-batch stats."""
    fpi, cnts, man = (
        os.path.join(state_dir, t) for t in ("fpindex", "counts", "manifest")
    )

    # 1. dedup: min-id within the batch, then anti-join the stored index.
    # Every checkpoint below is eager: a lazily checkpointed frame lets
    # Spark drop its SQL-metric accumulators before its tasks report.
    batch = first_wins(batch_df.withColumn("_fp", fingerprint("text")), ["_fp"], ["doc_id"])
    if table_exists(spark, fpi):
        batch = batch.join(
            spark.read.parquet(fpi),
            batch["_fp"] == F.col("fp"),
            "left_anti",
        )
    batch = batch.localCheckpoint()  # feeds the gate and the index append

    # 2. row-local quality gate
    gated = gate_documents(
        batch, dup_t=dup_t, bigram_t=bigram_t, carry=("lang",)
    ).localCheckpoint()

    # 3. cumulative counts -> this epoch's frozen rates
    stored_cnt = spark.read.parquet(cnts) if table_exists(spark, cnts) else None
    cum = merge_partials(
        stored_cnt, gated.groupBy("lang").agg(F.count("*").alias("n")), ["lang"], ["n"]
    ).localCheckpoint()  # safe to overwrite the source below
    cum.write.mode("overwrite").parquet(cnts)
    rates = temperature_rates(cum, budget)

    # 4. mix at the updated rates (batch docs only — history is sticky)
    thr = F.floor(F.col("rate") * F.lit(float(SAMPLE_KEY_MOD))).cast("long")
    mixed = (
        gated.join(F.broadcast(rates), "lang")
        .filter(sample_key_expr("doc_id", salt=salt_mix) < thr)
        .select("doc_id", "n_tokens")
    )

    # 5. pack from the stored per-shard token totals, 6. merge the
    # manifest additively; unchanged shards keep bit-identical rows
    stored_man = (
        spark.read.parquet(man).localCheckpoint() if table_exists(spark, man) else None
    )
    bman = shard_manifest(
        mixed, stored_man,
        n_shards=n_shards, seqlen=seqlen, salt_shuf=salt_shuf, salt_sum=salt_sum,
    )
    merged = merge_partials(
        stored_man, bman, ["shard_id"], MANIFEST_COLS
    ).localCheckpoint()
    merged.write.mode("overwrite").parquet(man)

    # 7. append the batch's fingerprints to the stored index
    batch.select(F.col("_fp").alias("fp")).write.mode("append").parquet(fpi)

    return {
        "batch_rows": batch.count(),
        "gated_rows": gated.count(),
    }


def run_stream_corpus_build(
    stream_df: DataFrame,
    state_dir: str,
    ckpt_dir: str,
    **kwargs,
) -> None:
    """Drain every available micro-batch of documents into the corpus
    state tables."""
    drain(
        stream_df,
        lambda bdf: apply_corpus_batch(bdf.sparkSession, bdf, state_dir, **kwargs),
        ckpt_dir,
    )
