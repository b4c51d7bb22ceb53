"""Adversarial-scale stress for the dedup/ANN family (round 4).

Builds a DIRTY corpus in memory — N copies of the sf0.1 documents table
plus a block of byte-identical boilerplate docs (the degenerate-key case
from VERDICT r3 finding #2: every boilerplate doc shares every MinHash
band, so an uncapped pair generator would emit g·(g−1)/2 pairs and
buffer a g-element array in one aggregation buffer) — and runs the
bucketed dedup operators end-to-end with the production default cap.

What it demonstrates:
  * `pairs_within_groups(max_group=64)` keeps candidate generation
    LINEAR in the boilerplate block size (star expansion), where the
    uncapped path is quadratic;
  * duplicate clustering still produces ONE cluster containing the
    whole boilerplate block (star pairs preserve connectivity);
  * wall-clock stays flat as the boilerplate block grows 10×.

Usage:  python tools/stress_dedup.py [n_copies] [n_boiler]
Prints one JSON line per scenario. Not part of pytest (runtime scales
with the scenario); results recorded in SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bbc_news_data_pipeline_spark.operators.curation import connected_components
from bbc_news_data_pipeline_spark.operators.dedup import minhash_candidates
from bbc_news_data_pipeline_spark.session import get_spark
from bbc_news_data_pipeline_spark.sources.tables import load

BOILER = (
    "cookie notice please accept our terms and conditions to continue "
    "reading this site uses cookies to improve your experience "
) * 3


def dirty_corpus(spark, sf_dir: str, n_copies: int, n_boiler: int):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    copies = [
        docs.select((F.col("doc_id") + F.lit(i * n)).alias("doc_id"), "text")
        for i in range(n_copies)
    ]
    base = copies[0]
    for c in copies[1:]:
        base = base.unionByName(c)
    boiler = spark.range(n_boiler).select(
        (F.col("id") + F.lit(n_copies * n)).alias("doc_id"),
        F.lit(BOILER).alias("text"),
    )
    return base.unionByName(boiler), n_copies * n + n_boiler


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("stress-dedup")
    for n_boiler in (2_000, 20_000):
        corpus, total = dirty_corpus(spark, sf_dir, n_copies, n_boiler)
        corpus = corpus.localCheckpoint()  # isolate generation cost
        t0 = time.perf_counter()
        pairs = minhash_candidates(corpus, "doc_id", "text", n_hashes=8, bands=4, k=5)
        n_pairs = pairs.count()
        t_pairs = time.perf_counter() - t0

        t0 = time.perf_counter()
        clusters = connected_components(pairs)
        boiler_cluster_sizes = (
            clusters.groupBy("cluster_id").count().orderBy(F.desc("count")).limit(1).collect()
        )
        t_cc = time.perf_counter() - t0
        biggest = boiler_cluster_sizes[0]["count"] if boiler_cluster_sizes else 0
        print(
            json.dumps(
                {
                    "scenario": f"{n_copies}x_sf0.1_plus_{n_boiler}_boilerplate",
                    "total_docs": total,
                    "candidate_pairs": n_pairs,
                    "quadratic_would_be": n_boiler * (n_boiler - 1) // 2,
                    "biggest_cluster": biggest,
                    "pairs_sec": round(t_pairs, 2),
                    "cc_sec": round(t_cc, 2),
                }
            )
        )

    # Jaccard family under the same dirty corpus (reuses the final loop
    # iteration's checkpointed corpus — labels derive from the live
    # n_boiler so reordering/extending the scenario tuple stays honest):
    # every boilerplate shingle has df >= n_boiler >> the cap, so the
    # q39-style df cap must prune the whole block from the posting index
    # while the organic near-dup pairs (the N corpus copies) surface.
    from bbc_news_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    t0 = time.perf_counter()
    jp = ngram_jaccard_pairs(corpus, "doc_id", "text", k=5, min_jaccard=0.8, max_df=64)
    n_jp = jp.count()
    t_j = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "scenario": f"jaccard_maxdf64_{n_copies}x_plus_{n_boiler}_boilerplate",
                "total_docs": total,
                "jaccard_pairs": n_jp,
                "sec": round(t_j, 2),
            }
        )
    )
    # Semantic dedup (q97 path) under a degenerate embedding block: n_dup
    # byte-identical vectors all assign to ONE seed cluster, whose
    # occupancy then blows past max_cluster — the pre-collect cap must
    # prune that cluster from pair generation entirely (uncapped it would
    # score n_dup·(n_dup−1)/2 pairs inside one collected array), its
    # members all survive, and organic clusters keep deduping normally.
    from bbc_news_data_pipeline_spark.operators.similarity import (
        _qint,
        semantic_dedup,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_emb = emb.count()
    seeds = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("seed_id"), _qint("embedding").alias("seed_qv")
    )
    organic_survivors = semantic_dedup(emb, seeds, min_cos=0.3, max_cluster=1024).count()
    for n_dup in (2_000, 20_000):
        block = spark.range(n_dup).select(
            (F.col("id") + F.lit(n_emb * 100 + 1)).alias("vec_id"),
            F.array_repeat(F.lit(0.5).cast("float"), 64).alias("embedding"),
        )
        dirty = emb.unionByName(block).localCheckpoint()
        t0 = time.perf_counter()
        surv = semantic_dedup(dirty, seeds, min_cos=0.3, max_cluster=1024)
        n_surv = surv.count()
        n_block_surv = surv.filter(F.col("vec_id") > n_emb * 100).count()
        t_s = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "scenario": f"semdedup_cap1024_{n_dup}_identical_vectors",
                    "total_vectors": n_emb + n_dup,
                    "survivors": n_surv,
                    "block_survivors": n_block_surv,
                    "organic_survivors_clean": organic_survivors,
                    "quadratic_would_be": n_dup * (n_dup - 1) // 2,
                    "sec": round(t_s, 2),
                }
            )
        )
    # Block dedup (q104 path) + exact-substring spans (q101 path) under
    # the boilerplate block: every copy contributes identical 10-token
    # blocks, so the winners table stays tiny while the join-back's hot
    # block key carries n_boiler rows — the map-side-combined min-agg +
    # AQE-skew-splittable join shape this operator chose over a
    # per-block window (SCALE.md). Assertions: across ALL boilerplate
    # copies each distinct block value survives exactly once (in the
    # first copy), and wall-clock stays flat 2k → 20k.
    from bbc_news_data_pipeline_spark.operators.dedup import block_dedup, dup_spans

    for n_boiler in (2_000, 20_000):
        corpus, total = dirty_corpus(spark, sf_dir, n_copies, n_boiler)
        corpus = corpus.localCheckpoint()
        first_boiler_id = total - n_boiler
        t0 = time.perf_counter()
        bd = block_dedup(corpus, "doc_id", "text", block_w=10)
        boiler_rows = bd.filter(F.col("doc_id") >= first_boiler_id)
        later_kept = (
            boiler_rows.filter(F.col("doc_id") > first_boiler_id)
            .agg(F.sum("n_kept"))
            .collect()[0][0]
        )
        t_bd = time.perf_counter() - t0
        t0 = time.perf_counter()
        ds = dup_spans(corpus, "doc_id", "text", k=5)
        boiler_spanned = ds.filter(F.col("doc_id") >= first_boiler_id).count()
        t_ds = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "scenario": f"blockdedup_spans_{n_copies}x_plus_{n_boiler}_boilerplate",
                    "total_docs": total,
                    "later_boiler_blocks_kept": later_kept,
                    "boiler_docs_with_dup_spans": boiler_spanned,
                    "block_dedup_sec": round(t_bd, 2),
                    "dup_spans_sec": round(t_ds, 2),
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
