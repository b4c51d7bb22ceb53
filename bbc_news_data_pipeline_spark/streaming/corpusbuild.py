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

Per batch: dedup within the batch (min doc_id per fingerprint), probe
the stored index with ONE left-anti join (the corpus-scale index never
shuffles onto the batch side beyond the join), gate row-locally,
sample at temperature rates recomputed from the UPDATED cumulative
counts (sticky rates: earlier epochs were sampled at their own stored
rates and are never revisited), pack per shard starting at the stored
token totals, merge the manifest additively, append the new
fingerprints.

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


def _exists(spark: SparkSession, path: str) -> bool:
    """True iff the state table holds committed data on disk.

    A filesystem probe, NOT a read-and-swallow: a state table that exists
    but cannot be read (corrupt parquet, transient IO error) must FAIL
    LOUDLY on the subsequent read, never be mistaken for "first batch" —
    silently rebuilding dedup/counts/manifest state from empty would
    corrupt every later batch (round-8 ADVICE finding). Delegates to
    sinks.table_exists, whose committed-entry semantics also keep a
    crashed first write (an only-``_temporary`` directory) retryable.
    """
    from ..sources.sinks import table_exists

    return table_exists(spark, path)


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
    from ..operators.curation import (
        SAMPLE_KEY_MOD,
        gate_documents,
        sample_key_expr,
        shuffle_shards,
    )
    from ..operators.dedup import fingerprint, first_wins
    from ..operators.skew import exclusive_prefix_sum
    from ..plans.curation_plans import _temperature_rates

    fpi, cnts, man = (
        os.path.join(state_dir, t) for t in ("fpindex", "counts", "manifest")
    )

    # 1. dedup: min-id within the batch, then anti-join the stored index
    batch = first_wins(batch_df.withColumn("_fp", fingerprint("text")), ["_fp"], ["doc_id"])
    if _exists(spark, fpi):
        batch = batch.join(
            spark.read.parquet(fpi),
            batch["_fp"] == F.col("fp"),
            "left_anti",
        )
    # lazy: survivors feed gate + index append through ONE compiled RDD;
    # the cum eager checkpoint below (a full groupBy over gated) is the
    # batch's first action and materializes batch+gated caches end-to-end,
    # so the later fpindex append and stats counts read the cache — two
    # fewer scheduler jobs per micro-batch, identical data.
    batch = batch.localCheckpoint(eager=False)

    # 2. row-local quality gate
    gated = gate_documents(
        batch, dup_t=dup_t, bigram_t=bigram_t, carry=("lang",)
    ).localCheckpoint(eager=False)

    # 3. cumulative counts -> this epoch's frozen rates
    bc = gated.groupBy("lang").agg(F.count("*").alias("n"))
    if _exists(spark, cnts):
        stored = spark.read.parquet(cnts)
        z = F.lit(0).cast("long")
        cum = (
            stored.withColumnRenamed("n", "n0")
            .join(bc.withColumnRenamed("n", "n1"), "lang", "full")
            .select(
                "lang",
                (F.coalesce("n0", z) + F.coalesce("n1", z)).alias("n"),
            )
        )
    else:
        cum = bc.select("lang", F.col("n").cast("long").alias("n"))
    cum = cum.localCheckpoint()  # safe to overwrite the source below
    cum.write.mode("overwrite").parquet(cnts)
    rates = _temperature_rates(cum, budget)

    # 4. mix at the updated rates (batch docs only — history is sticky)
    thr = F.floor(F.col("rate") * F.lit(float(SAMPLE_KEY_MOD))).cast("long")
    mixed = (
        gated.join(F.broadcast(rates), "lang")
        .filter(sample_key_expr("doc_id", salt=salt_mix) < thr)
        .select("doc_id", "n_tokens")
    )

    # 5. pack from the stored per-shard token totals (q170's offsets)
    sharded = (
        shuffle_shards(mixed, "doc_id", n_shards, salt=salt_shuf)
        .withColumn("_ord", F.col("shuffle_key") * F.lit(2**31) + F.col("doc_id"))
        .withColumn("_ck", sample_key_expr("doc_id", salt=salt_sum))
    )
    if _exists(spark, man):
        # lazy: merged's EAGER checkpoint below consumes it (fully
        # materializing this cache) strictly before the manifest overwrite,
        # so the read-then-overwrite hazard is still fenced
        stored_man = spark.read.parquet(man).localCheckpoint(eager=False)
    else:
        stored_man = None
    packed = exclusive_prefix_sum(
        sharded, "shard_id", "_ord", "n_tokens", block_size=2**47
    )
    if stored_man is not None:
        packed = packed.join(
            stored_man.select("shard_id", F.col("n_tokens").alias("_base_tok")),
            "shard_id",
            "left",
        ).withColumn("_base_tok", F.coalesce("_base_tok", F.lit(0)))
    else:
        packed = packed.withColumn("_base_tok", F.lit(0))
    first = F.expr(f"(_base_tok + _prefix) div {seqlen}")
    last = F.expr(f"(_base_tok + _prefix + n_tokens - 1) div {seqlen}")
    bman = packed.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.when(last > first, 1).otherwise(0)).cast("long").alias("n_spanning"),
        F.sum("_ck").cast("long").alias("checksum"),
    )

    # 6. additive manifest merge; unchanged shards keep bit-identical rows
    if stored_man is not None:
        z = F.lit(0).cast("long")
        b = stored_man.select(
            "shard_id", F.col("n_docs").alias("d0"), F.col("n_tokens").alias("t0"),
            F.col("n_spanning").alias("s0"), F.col("checksum").alias("c0"),
        )
        n = bman.select(
            "shard_id", F.col("n_docs").alias("d1"), F.col("n_tokens").alias("t1"),
            F.col("n_spanning").alias("s1"), F.col("checksum").alias("c1"),
        )
        merged = b.join(n, "shard_id", "full").select(
            "shard_id",
            (F.coalesce("d0", z) + F.coalesce("d1", z)).alias("n_docs"),
            (F.coalesce("t0", z) + F.coalesce("t1", z)).alias("n_tokens"),
            (F.coalesce("s0", z) + F.coalesce("s1", z)).alias("n_spanning"),
            (F.coalesce("c0", z) + F.coalesce("c1", z)).alias("checksum"),
        )
    else:
        merged = bman
    merged = merged.localCheckpoint()
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
    (
        stream_df.writeStream.foreachBatch(
            lambda bdf, _id: apply_corpus_batch(
                bdf.sparkSession, bdf, state_dir, **kwargs
            )
        )
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
