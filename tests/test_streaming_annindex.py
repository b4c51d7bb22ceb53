"""Streaming IVF postings maintenance (streaming/annindex.py): the fold
must be replay-idempotent, incremental ≡ batch on (n, Σr2), baseline-
frozen, and loud on missing centroid state — the q282 contract."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bbc_news_data_pipeline_spark.operators.similarity import _qint
from bbc_news_data_pipeline_spark.streaming.annindex import apply_postings_batch

NCELL = 16
ASCALE = 16


def _seed_centroids(spark, sf_dir, state):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.filter(F.col("vec_id") < NCELL).select(
        F.col("vec_id").alias("cell"),
        F.transform(_qint("embedding"), lambda x: x * ASCALE).alias("cvec"),
    ).write.mode("overwrite").parquet(f"{state}/centroids")
    return emb


def _stats(spark, state):
    return {
        r.cell: (r.n, r.sum_r2, r.base_n, r.base_sum_r2)
        for r in spark.read.parquet(f"{state}/cellstats").collect()
    }


def test_replay_idempotent_and_incremental_equals_batch(spark, sf_dir, tmp_path):
    state = str(tmp_path / "state")
    emb = _seed_centroids(spark, sf_dir, state)
    batches = [
        emb.filter(F.col("vec_id") % 3 == e).select("vec_id", "embedding")
        for e in range(3)
    ]
    for b in batches:
        apply_postings_batch(spark, b, state)
    got = _stats(spark, state)
    n_post = spark.read.parquet(f"{state}/postings").count()

    # replay batch 1 verbatim: a strict no-op on postings AND stats
    out = apply_postings_batch(spark, batches[1], state)
    assert out["batch_vecs"] == 0
    assert _stats(spark, state) == got
    assert spark.read.parquet(f"{state}/postings").count() == n_post

    # incremental ≡ batch: numpy rebuild over the union
    rows = emb.orderBy("vec_id").collect()
    Q = {
        r.vec_id: np.floor(
            np.array(r.embedding, dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        for r in rows
    }
    cents = {c: Q[c] * ASCALE for c in range(NCELL)}
    corpus = {i: cents[i % NCELL] + Q[i] for i in Q if i >= NCELL}

    def sq(a, b):
        d = (a - b).astype(np.float64)
        return int((d * d).sum())

    expect = {}
    for i, v in corpus.items():
        cell = min(cents, key=lambda c: (sq(v, cents[c]), c))
        r2 = sq(v, cents[cell])
        n, s, bn, bs = expect.get(cell, (0, 0, 0, 0))
        first = i % 3 == 0  # epoch-0 rows form the baseline
        expect[cell] = (n + 1, s + r2, bn + (1 if first else 0),
                        bs + (r2 if first else 0))
    assert got == expect
    assert n_post == len(corpus)


def test_baseline_frozen_for_late_cells(spark, sf_dir, tmp_path):
    """A cell whose first vector arrives AFTER batch 0 carries base_n=0
    (the baseline epoch has passed) and never acquires one later."""
    state = str(tmp_path / "state")
    emb = _seed_centroids(spark, sf_dir, state)
    # batch 0: vectors anchored to cell 0 only; batch 1: everything else
    b0 = emb.filter(
        (F.col("vec_id") >= NCELL) & (F.col("vec_id") % NCELL == 0)
    ).select("vec_id", "embedding")
    b1 = emb.filter(
        (F.col("vec_id") >= NCELL) & (F.col("vec_id") % NCELL != 0)
    ).select("vec_id", "embedding")
    apply_postings_batch(spark, b0, state)
    apply_postings_batch(spark, b1, state)
    st = _stats(spark, state)
    late = {c: v for c, v in st.items() if v[2] == 0}
    assert late, "expected late-arriving cells with a zero baseline"
    for c, (n, s, bn, bs) in late.items():
        assert n > 0 and bn == 0 and bs == 0


def test_missing_centroids_fail_loudly(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(Exception):
        apply_postings_batch(
            spark, emb.select("vec_id", "embedding"), str(tmp_path / "nostate")
        )


def test_maintained_index_serves_like_fresh_build(spark, sf_dir, tmp_path):
    """Composition contract (q282 maintain → q281-style serve): a
    multiprobe search over the INCREMENTALLY maintained postings must
    return exactly what the same search returns over postings built
    from scratch in one pass — the stored (vec_id, cell, r2) rows are
    the index, so incremental ≡ batch must survive the serving path,
    not just the stats rollup."""
    from pyspark.sql import functions as F

    from bbc_news_data_pipeline_spark.operators.similarity import sq_l2_q

    state = str(tmp_path / "state")
    emb = _seed_centroids(spark, sf_dir, state)
    for e in range(3):
        apply_postings_batch(
            spark,
            emb.filter(F.col("vec_id") % 3 == e).select("vec_id", "embedding"),
            state,
        )
    post = spark.read.parquet(f"{state}/postings")
    cents = spark.read.parquet(f"{state}/centroids")

    # rebuild the corpus vectors exactly as the fold does, then serve:
    # probe the 3 nearest cells, exact rerank over their postings
    corpus = (
        emb.filter(F.col("vec_id") >= NCELL)
        .select("vec_id", F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5)).cast("long"),
        ).alias("v"))
        .withColumn("_ac", F.col("vec_id") % NCELL)
        .join(F.broadcast(cents.withColumnRenamed("cell", "_ac")), "_ac")
        .select("vec_id", F.zip_with("cvec", "v", lambda a, b: a + b).alias("v"))
    )
    query = corpus.filter(F.col("vec_id") == 123).select(F.col("v").alias("qv"))

    def serve(postings):
        probed = (
            cents.crossJoin(F.broadcast(query))
            .select("cell", sq_l2_q("cvec", "qv").alias("d"))
            .orderBy("d", "cell")
            .limit(3)
            .select("cell")
        )
        return [
            (r.vec_id, r.d)
            for r in corpus.join(postings.select("vec_id", "cell"), "vec_id")
            .join(F.broadcast(probed), "cell", "left_semi")
            .crossJoin(F.broadcast(query))
            .select("vec_id", sq_l2_q("v", "qv").alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        ]

    incremental = serve(post)
    # from-scratch single-batch build into a second state dir
    state2 = str(tmp_path / "state2")
    _seed_centroids(spark, sf_dir, state2)
    apply_postings_batch(
        spark, emb.select("vec_id", "embedding"), state2
    )
    fresh = serve(spark.read.parquet(f"{state2}/postings"))
    assert incremental == fresh and len(incremental) == 10


def test_postings_bucketed_and_probe_prunes(spark, sf_dir, tmp_path):
    """r10 (verdict task #5): postings are laid out as bucket=vec_id%B
    partition dirs, and the replay probe reads ONLY the buckets a
    batch's keys hash into — the inputFiles() of the probe frame must
    all live under matching bucket= directories."""
    import os

    from bbc_news_data_pipeline_spark.streaming.annindex import (
        POSTING_BUCKETS,
        _bucket_probe,
    )

    state = str(tmp_path / "state")
    emb = _seed_centroids(spark, sf_dir, state)
    apply_postings_batch(spark, emb.select("vec_id", "embedding"), state)
    post_p = f"{state}/postings"

    # physical layout: bucket partition dirs, bucket == vec_id % B
    dirs = {d for d in os.listdir(post_p) if d.startswith("bucket=")}
    assert len(dirs) > 1
    post = spark.read.parquet(post_p)
    assert post.filter(
        F.col("bucket") != F.col("vec_id") % POSTING_BUCKETS
    ).count() == 0

    # the probe for a bucket-{3,7} batch prunes at the partition level:
    # the scan's PartitionFilters carry the bucket IN-list (explain
    # assertion, the test_plan_budget.py style — inputFiles() reports
    # the unpruned FileIndex, so the plan is the honest witness)
    import io
    from contextlib import redirect_stdout

    probe = _bucket_probe(spark, post_p, [3, 7])
    buf = io.StringIO()
    with redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, plan
    assert "bucket" in pf[0] and "3" in pf[0] and "7" in pf[0], pf
    # and matches a full-scan filter on the derived key
    want = sorted(
        r.vec_id
        for r in post.filter(
            (F.col("vec_id") % POSTING_BUCKETS).isin([3, 7])
        ).collect()
    )
    assert sorted(r.vec_id for r in probe.collect()) == want

    # replay of a single-bucket slice is a no-op (bucket-pruned path)
    slice3 = emb.filter(
        (F.col("vec_id") >= NCELL) & (F.col("vec_id") % POSTING_BUCKETS == 3)
    ).select("vec_id", "embedding")
    n_post = post.count()
    out = apply_postings_batch(spark, slice3, state)
    assert out["batch_vecs"] == 0
    assert spark.read.parquet(post_p).count() == n_post


def test_torn_batch_self_detected_and_repaired(spark, sf_dir, tmp_path):
    """r10 (ADVICE + review): postings are written BEFORE cellstats, so
    a crash between the writes leaves the batch in postings but not in
    stats. The NEXT fold entry must self-detect the mass mismatch
    (postings rows vs Σ stats.n), auto-run rebuild_cellstats (frozen
    baselines preserved), and then treat the replayed batch as the
    no-op it is — incremental ≡ batch restored without any out-of-band
    repair step."""
    state = str(tmp_path / "state")
    emb = _seed_centroids(spark, sf_dir, state)
    batches = [
        emb.filter(F.col("vec_id") % 3 == e).select("vec_id", "embedding")
        for e in range(3)
    ]
    apply_postings_batch(spark, batches[0], state)
    apply_postings_batch(spark, batches[1], state)
    after_b1 = spark.read.parquet(f"{state}/cellstats").localCheckpoint(
        eager=True
    )
    # batch 2 commits fully, then the stats write is "torn away" by
    # restoring the batch-1 snapshot (postings keep batch 2)
    apply_postings_batch(spark, batches[2], state)
    full = _stats(spark, state)
    after_b1.write.mode("overwrite").parquet(f"{state}/cellstats")
    n_post = spark.read.parquet(f"{state}/postings").count()
    assert _stats(spark, state) != full  # the torn state is real

    # replay of the torn batch: entry self-check repairs stats, then
    # the anti-join makes the batch a no-op on postings
    out = apply_postings_batch(spark, batches[2], state)
    assert out["batch_vecs"] == 0
    assert spark.read.parquet(f"{state}/postings").count() == n_post
    assert _stats(spark, state) == full


def test_batch0_tear_and_legacy_layout_refused(spark, sf_dir, tmp_path):
    """A batch-0 tear (postings without cellstats) has no recoverable
    baseline — both the fold and the repair helper must refuse loudly
    rather than freeze an empty one. A legacy unbucketed postings
    layout is likewise refused with a migration pointer, and
    migrate_postings_layout rewrites it losslessly."""
    import shutil

    from bbc_news_data_pipeline_spark.streaming.annindex import (
        migrate_postings_layout,
        rebuild_cellstats,
    )

    state = str(tmp_path / "state")
    emb = _seed_centroids(spark, sf_dir, state)
    batch = emb.select("vec_id", "embedding")
    apply_postings_batch(spark, batch, state)
    shutil.rmtree(f"{state}/cellstats")
    with pytest.raises(ValueError, match="batch-0"):
        rebuild_cellstats(spark, state)
    with pytest.raises(ValueError, match="torn write"):
        apply_postings_batch(spark, batch, state)

    # legacy flat layout: rewrite postings without the bucket dirs
    state2 = str(tmp_path / "state2")
    _seed_centroids(spark, sf_dir, state2)
    apply_postings_batch(spark, batch, state2)
    legacy = (
        spark.read.parquet(f"{state2}/postings")
        .select("vec_id", "cell", "r2")
        .localCheckpoint(eager=True)
    )
    want = sorted((r.vec_id, r.cell, r.r2) for r in legacy.collect())
    shutil.rmtree(f"{state2}/postings")
    legacy.write.mode("overwrite").parquet(f"{state2}/postings")
    with pytest.raises(ValueError, match="legacy unbucketed"):
        apply_postings_batch(spark, batch, state2)
    migrate_postings_layout(spark, state2)
    post = spark.read.parquet(f"{state2}/postings")
    assert "bucket" in post.columns
    assert sorted((r.vec_id, r.cell, r.r2) for r in post.collect()) == want
    # migration is idempotent and the fold accepts the migrated layout
    migrate_postings_layout(spark, state2)
    out = apply_postings_batch(spark, batch, state2)
    assert out["batch_vecs"] == 0
