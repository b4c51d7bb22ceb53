"""Streaming IVF postings maintenance — the ANN-index twin of
corpusbuild.py's dedup-state fold (round-8 verdict task #7).

A production IVF deployment trains its coarse quantizer OFFLINE (the
q268 Lloyd pass) and then maintains the index ONLINE: every ingest batch
assigns new vectors to the existing centroids, appends postings, and
tracks per-cell residual energy so the operator knows when the frozen
centroids have drifted far enough from the data to warrant a re-train
(FAISS's `add` vs `train` split; Jégou et al. 2011 §IV assume exactly
this regime). This module is that maintenance job as a foreachBatch
fold over three stored state tables:

  centroids/  — the frozen coarse quantizer (written once, pre-stream);
  postings/   — append-only (vec_id, cell, r2) inverted-list entries,
                PARTITIONED by bucket = vec_id % POSTING_BUCKETS (r10,
                verdict task #5): the per-batch replay probe semi-joins
                only the buckets the batch's keys hash into, so the
                probe cost scales with the batch's bucket footprint,
                not the full index — the 100 TB shape for a
                continuously-fed index (raise POSTING_BUCKETS with
                corpus scale; it is a physical layout knob, invisible
                to the fold semantics and to q282's oracle);
  cellstats/  — per-cell (n, sum_r2) folds PLUS the frozen baseline
                (base_n, base_sum_r2) captured from the FIRST batch —
                the residual-energy reference the drift test compares
                against.

Invariants (mirrored by q282's full-rebuild oracle and pinned in
tests/test_streaming_annindex.py):
  * replay-idempotent: re-delivering a FULLY-COMMITTED batch is a
    no-op (vec_id anti-join against the stored postings, bucket-pruned);
  * incremental ≡ batch: after any prefix of fully-committed batches,
    (n, sum_r2) per cell equal a from-scratch rebuild over the union of
    those batches — all folds are exact int64 sums;
  * baseline frozen: cells first seen AFTER batch 0 carry base_n = 0
    (the baseline epoch has passed), and stored baselines never change.

Torn-batch semantics (r10, ADVICE fix): the two state writes are not
atomic, so the invariants above cover FULLY-COMMITTED batches only.
Postings are appended FIRST, cellstats second — a crash between the two
leaves the batch present in postings but absent from stats, and the
replay anti-join then (correctly) refuses to double-insert the vectors.
That torn state is SELF-DETECTED and repaired at the next fold entry:
postings-row mass vs Σ cellstats.n is a metadata-cheap comparison
(footer counts vs a cell-sized table), and a mismatch triggers
:func:`rebuild_cellstats`, which recomputes (n, sum_r2) exactly from
the append-only postings while carrying the frozen baselines over.
(The previous order — stats first — was unrepairable: a torn batch was
counted in stats but absent from postings, so the replay folded those
vectors into stats a second time, permanently breaking incremental ≡
batch.) A batch-0 tear (postings present, cellstats never written)
loses the baseline epoch identity, which postings do not record — the
fold REFUSES that state loudly (proceeding would freeze an empty
baseline); reset the state directory and re-drain. Legacy
pre-bucketing state dirs are likewise refused with a pointer to
:func:`migrate_postings_layout`.

Int64 headroom (the block_size-style bound): r2 ≤ dim·(Δmax)² in
QUANT_SCALE² units — ≈6.4e13 on this fixture's ×16-anchored geometry —
so a cell's sum_r2 stays exact below ~1.4e5 vectors/cell here (~9e6 at
unit-norm geometry, r2 ≈ 1e12). Shard cells or widen to decimal(38,0)
past that.

The availableNow drains are single-threaded and re-runnable for
fully-committed batches (see torn-batch semantics above).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental import merge_partials
from ..operators.similarity import anchored_corpus, nearest_centroid
from ..sources.sinks import table_exists
from .drain import drain

#: Physical fan-out of the postings layout (partition dirs bucket=0..N-1).
#: Scale with the index: the replay probe reads only the buckets a
#: batch's vec_ids hash into, so a larger N prunes harder per batch.
POSTING_BUCKETS = 16


def _bucket_probe(spark: SparkSession, post_p: str, buckets) -> DataFrame:
    """The replay probe: stored vec_ids from ONLY the given bucket
    partitions. The isin filter on the partition column prunes the scan
    at file-listing time (asserted via inputFiles() in
    tests/test_streaming_annindex.py)."""
    return (
        spark.read.parquet(post_p)
        .filter(F.col("bucket").isin(list(buckets)))
        .select("vec_id")
    )


def apply_postings_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
) -> dict:
    """Fold one micro-batch of (vec_id, embedding) into the stored
    postings + cellstats, assigning against the frozen centroids."""
    cents_p, post_p, stats_p = (
        os.path.join(state_dir, t) for t in ("centroids", "postings", "cellstats")
    )
    cents = spark.read.parquet(cents_p)  # frozen; missing = config error → loud
    ncell = cents.count()

    # the anchored fixture's corpus (anchor + own vec) against the
    # frozen centroids: the same builder q268/q281/q285/q286 use
    vecs = anchored_corpus(batch_df, cents, ncell)
    # replay idempotence: drop vectors the index already holds. The probe
    # is BUCKET-PRUNED — the batch's bucket footprint is bounded by
    # POSTING_BUCKETS (bounded collect), and the isin filter on the
    # partition column prunes the postings scan to matching directories
    # only (asserted by tests/test_streaming_annindex.py).
    if table_exists(spark, post_p):
        stored_post = spark.read.parquet(post_p)
        if "bucket" not in stored_post.columns:
            # r10 review: a pre-bucketing state dir (flat layout) would
            # break the probe's partition filter and, worse, appending
            # bucket= dirs into it would leave legacy rows NULL-bucketed
            # and invisible to future replay probes — refuse, repair once.
            raise ValueError(
                "postings at %r use the legacy unbucketed layout — run "
                "annindex.migrate_postings_layout(spark, state_dir) once "
                "before draining" % post_p
            )
        if not table_exists(spark, stats_p):
            # r10 review: postings-without-stats is EXACTLY the batch-0
            # tear (the first committed batch writes both). Proceeding
            # would let the replay anti-join drop the vectors and the
            # first-batch branch freeze an EMPTY baseline — silently and
            # permanently wrong. Fail loudly instead (module docstring:
            # reset the state dir and re-drain).
            raise ValueError(
                "postings exist at %r but cellstats is missing — batch-0 "
                "torn write; reset the state directory and re-drain "
                "(the baseline epoch identity is unrecoverable from "
                "postings alone)" % post_p
            )
        # torn-batch self-check (r10 review): a tear at batch k>0 leaves
        # stats short of postings. Both sides are metadata-cheap — the
        # stats table is cell-sized and the postings count comes from
        # parquet footers, no data pages — so the fold detects and
        # repairs the documented torn state itself instead of relying on
        # an out-of-band rebuild_cellstats run.
        n_stats = (
            spark.read.parquet(stats_p)
            .agg(F.coalesce(F.sum("n"), F.lit(0).cast("long")))
            .first()[0]
        )
        if n_stats != stored_post.count():
            rebuild_cellstats(spark, state_dir)
        batch_buckets = sorted(
            r[0]
            for r in vecs.select(
                (F.col("vec_id") % POSTING_BUCKETS).alias("b")
            )
            .distinct()
            .collect()
        )
        if batch_buckets:
            vecs = vecs.join(
                _bucket_probe(spark, post_p, batch_buckets), "vec_id", "left_anti"
            )
    new_post = (
        nearest_centroid(vecs, cents, ["vec_id"], "qv", "cvec", "cell")
        .selectExpr("vec_id", "cell", "d AS r2")
        .localCheckpoint()  # EAGER: feeds stats fold + postings append
    )
    bstats = new_post.groupBy("cell").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r2").cast("long").alias("sum_r2"),
    )
    if table_exists(spark, stats_p):
        # baseline frozen: the batch carries no base_* columns, so they
        # merge as 0 — stored baselines stay, new cells get 0
        merged = merge_partials(
            spark.read.parquet(stats_p), bstats, ["cell"],
            ("n", "sum_r2", "base_n", "base_sum_r2"),
        )
    else:
        # FIRST batch: its stats ARE the baseline
        merged = bstats.select(
            "cell", "n", "sum_r2",
            F.col("n").alias("base_n"), F.col("sum_r2").alias("base_sum_r2"),
        )
    merged = merged.localCheckpoint()  # safe to overwrite the source below
    # Postings FIRST, stats second (r10 ADVICE fix): a crash between the
    # two writes must leave the repairable state (batch in postings,
    # missing from stats → rebuild_cellstats), never the unrepairable
    # one (batch in stats, missing from postings → silent double-fold on
    # replay). See the module docstring's torn-batch semantics.
    new_post.withColumn(
        "bucket", F.col("vec_id") % POSTING_BUCKETS
    ).write.mode("append").partitionBy("bucket").parquet(post_p)
    merged.write.mode("overwrite").parquet(stats_p)
    return {"batch_vecs": new_post.count()}


def migrate_postings_layout(spark: SparkSession, state_dir: str) -> None:
    """One-time rewrite of a legacy FLAT postings table into the
    bucket-partitioned layout (bucket = vec_id % POSTING_BUCKETS).

    Run once when upgrading a state directory created before bucketing;
    :func:`apply_postings_batch` refuses legacy layouts loudly rather
    than mixing NULL-bucketed legacy rows (invisible to the pruned
    replay probe) with partitioned appends. Idempotent — a no-op on an
    already-bucketed table. The rewrite eagerly checkpoints the legacy
    rows before overwriting, the module's safe-overwrite pattern; take
    a filesystem backup first if the index is irreplaceable.
    """
    post_p = os.path.join(state_dir, "postings")
    df = spark.read.parquet(post_p)
    if "bucket" in df.columns:
        return
    migrated = df.withColumn(
        "bucket", F.col("vec_id") % POSTING_BUCKETS
    ).localCheckpoint()  # eager: safe to overwrite the source below
    migrated.write.mode("overwrite").partitionBy("bucket").parquet(post_p)


def rebuild_cellstats(spark: SparkSession, state_dir: str) -> None:
    """Repair cellstats after a torn batch (postings written, stats not).

    (n, sum_r2) are recomputed exactly from the append-only postings;
    the frozen baselines are carried over from the existing stats table
    (cells absent there first appeared after batch 0 → baseline 0).
    Requires cellstats to exist: a batch-0 tear has no stored baseline
    to preserve and postings do not record epoch identity — reset the
    state directory and re-drain instead (module docstring).
    """
    post_p = os.path.join(state_dir, "postings")
    stats_p = os.path.join(state_dir, "cellstats")
    if not table_exists(spark, stats_p):
        raise ValueError(
            "rebuild_cellstats requires an existing cellstats table "
            "(a batch-0 tear is unrepairable: reset the state dir and "
            "re-drain)"
        )
    z = F.lit(0).cast("long")
    from_post = (
        spark.read.parquet(post_p)
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("r2").cast("long").alias("sum_r2"),
        )
    )
    base = spark.read.parquet(stats_p).select("cell", "base_n", "base_sum_r2")
    rebuilt = (
        from_post.join(base, "cell", "left")
        .select(
            "cell",
            "n",
            "sum_r2",
            F.coalesce("base_n", z).alias("base_n"),
            F.coalesce("base_sum_r2", z).alias("base_sum_r2"),
        )
        .localCheckpoint()  # detach from the table being overwritten
    )
    rebuilt.write.mode("overwrite").parquet(stats_p)


def run_stream_postings(
    stream_df: DataFrame, state_dir: str, ckpt_dir: str
) -> None:
    """Drain every available micro-batch of vectors into the index state."""
    drain(
        stream_df,
        lambda bdf: apply_postings_batch(bdf.sparkSession, bdf, state_dir),
        ckpt_dir,
    )
