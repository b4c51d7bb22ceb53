"""Driver-side fixed costs of the curation operators and the DAG: py4j
round trips (one Python→JVM gateway command each, ~90 µs) and generated
classes compiled on a repeat.

Building a DataFrame runs no job, but every expression node assembled
through the Column API is a gateway call, and a curation pass or a
``foreachBatch`` micro-batch pays that cost on every call. The similarity
and dedup operators (SimHash included), the curation text gate and the
hashed quality-classifier family (q117 scoring, q159 calibration, q270
training, q278 cross-validation) ship their expressions as SQL text, one
call per projection; these budgets hold them there (node-by-node builds
cost 400–10,000 round trips each). A warm repeat of a DAG run or a curation
pass must also find every generated class in Spark's codegen cache
instead of recompiling it with Janino.
"""

import gc
import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bbc_news_data_pipeline_spark.functions.textstats import quality_score_cols
from bbc_news_data_pipeline_spark.operators.curation import gate_documents
from bbc_news_data_pipeline_spark.operators.dedup import (
    bloom_hit_expr,
    bloom_hits_count_dense,
    exact_dedup,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from bbc_news_data_pipeline_spark.operators.similarity import (
    QUANT_SCALE,
    lsh_bucket_ann,
    semantic_dedup,
)
from bbc_news_data_pipeline_spark.operators.topics import fit_lda, topic_words
from bbc_news_data_pipeline_spark.pipeline.bbc_news import build_pipeline
from bbc_news_data_pipeline_spark.plans.quality_plans import (
    q117_hashed_classifier,
    q159_calibration_ece,
    q270_classifier_training,
    q278_classifier_cv,
)
from bbc_news_data_pipeline_spark.session import count_codegen_compiles
from bbc_news_data_pipeline_spark.streaming.curation import curate_docs_stream


def _build_trips(counter, build):
    """Round trips of one build, after a warm-up build so one-off
    first-use costs are not counted. The cyclic garbage collector is off
    while counting: releasing py4j proxies sends commands too, and a
    collection at a random point would add unrelated ones."""
    build()
    gc.collect()
    gc.disable()
    try:
        before = counter()
        build()
        n = counter() - before
    finally:
        gc.enable()
    assert n > 0, "round-trip counter saw no gateway traffic"
    return n


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(11)
    emb = rng.standard_normal((40, 32)).astype(np.float32)
    emb_df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(emb)],
        "vec_id long, embedding array<float>",
    )
    seed_ids = [0, 10, 20, 30]
    seed_qv = np.floor(emb[seed_ids].astype(np.float64) * QUANT_SCALE + 0.5).astype(np.int64)
    seeds = spark.createDataFrame(
        [(s, [int(x) for x in q]) for s, q in zip(seed_ids, seed_qv)],
        "seed_id long, seed_qv array<bigint>",
    )
    planes = rng.standard_normal((6, 32)).round(6).tolist()
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 50}" for j in range(20))) for i in range(30)],
        "doc_id long, text string",
    )
    return emb_df, seeds, planes, docs


def test_lsh_bucket_ann_budget_and_double_cosine(spark, py4j_round_trips, corpus):
    emb, _, planes, _ = corpus
    n = _build_trips(py4j_round_trips, lambda: lsh_bucket_ann(emb, planes, min_cos=0.9))
    assert n <= 200, n
    schema = lsh_bucket_ann(emb, planes, min_cos=0.9).schema
    assert schema["cos_sim"].dataType == T.DoubleType()


def test_semantic_dedup_budget(spark, py4j_round_trips, corpus):
    emb, seeds, _, _ = corpus
    n = _build_trips(py4j_round_trips, lambda: semantic_dedup(emb, seeds, min_cos=0.9))
    assert n <= 400, n


def test_minhash_candidates_budget(spark, py4j_round_trips, corpus):
    docs = corpus[3]
    n = _build_trips(py4j_round_trips, lambda: minhash_candidates(docs, "doc_id", "text"))
    assert n <= 500, n


def test_simhash_candidates_budget(spark, py4j_round_trips, corpus):
    docs = corpus[3]
    n = _build_trips(py4j_round_trips, lambda: simhash_candidates(docs, "doc_id", "text"))
    assert n <= 500, n


def test_ngram_jaccard_pairs_budget(spark, py4j_round_trips, corpus):
    docs = corpus[3]
    for max_df in (None, 3):
        n = _build_trips(
            py4j_round_trips, lambda: ngram_jaccard_pairs(docs, "doc_id", "text", max_df=max_df)
        )
        assert n <= 300, (max_df, n)


def test_curation_text_gate_budgets(spark, py4j_round_trips, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budgets = {
        "gate_documents": (200, lambda: gate_documents(docs)),
        "curate_docs_stream": (450, lambda: curate_docs_stream(docs)),
        "quality_score_cols": (
            300,
            lambda: docs.select(*[c.alias(n) for n, c in quality_score_cols("text").items()]),
        ),
    }
    trips = {name: _build_trips(py4j_round_trips, build) for name, (_, build) in budgets.items()}
    assert all(trips[name] <= cap for name, (cap, _) in budgets.items()), trips


def test_quality_classifier_budgets(spark, py4j_round_trips, sf_dir):
    budgets = {
        "q117": (100, q117_hashed_classifier),
        "q159": (700, q159_calibration_ece),
        "q270": (2000, q270_classifier_training),
        "q278": (2000, q278_classifier_cv),
    }
    trips = {
        name: _build_trips(py4j_round_trips, lambda: query(spark, sf_dir))
        for name, (_, query) in budgets.items()
    }
    assert all(trips[name] <= cap for name, (cap, _) in budgets.items()), trips


def test_bloom_probe_cost_independent_of_filter_words(spark, py4j_round_trips):
    keys = [hashlib.md5(f"k{i}".encode()).hexdigest() for i in range(4)]
    df = spark.createDataFrame([(keys[0], keys)], "k string, ks array<string>")
    trips = {}
    for words in (64, 2048):
        # spread masks, some above 2^31 (bigint literals)
        masks = [(w * 2654435761) % (1 << 32) for w in range(words)]
        fmap = dict(enumerate(masks))
        trips[words] = (
            _build_trips(
                py4j_round_trips,
                lambda: df.select(bloom_hits_count_dense(F.col("ks"), masks)),
            ),
            _build_trips(
                py4j_round_trips,
                lambda: df.select(bloom_hit_expr(F.col("k"), fmap, words)),
            ),
        )
    assert trips[2048][0] <= trips[64][0] and trips[2048][1] <= trips[64][1], trips


def test_topic_words_cost_independent_of_vocabulary(spark, py4j_round_trips):
    trips = {}
    for vocab in (10, 500):
        # quotes and backslashes must survive the SQL literal of the words
        words = [(f"t{i}", f"t{i}'s", f"t{i}\\b")[i % 3] for i in range(vocab)]
        docs = spark.createDataFrame(
            [(i, " ".join(words[(i * 40 + j) % vocab] for j in range(40))) for i in range(50)],
            "id long, text string",
        )
        bundle = fit_lda(docs, "text", "id", 2, max_iter=1, min_df=1.0, max_df=50.0)
        assert sorted(bundle.cv_model.vocabulary) == sorted(words)
        trips[vocab] = _build_trips(py4j_round_trips, lambda: topic_words(bundle, topn=5))
        tw = topic_words(bundle, topn=5).collect()
        assert len(tw) == 10 and {r.word for r in tw} <= set(words)
        bundle.tokens_df.unpersist()
    assert trips[500] <= trips[10], trips


def test_repeated_dag_and_curation_pass_compile_nothing(spark, news_pages, corpus, tmp_path):
    """A DAG run and a curation pass, then both again in the same session:
    the repeat finds every generated class in the codegen cache. With
    Spark's default cache of 100 entries the ~220 classes of one round
    evict each other and every repeat recompiles nearly all of them.

    A repeat has rarely compiled a few classes (2 in one run; cause not
    found), so a repeat that compiles any class gets one more repeat,
    which must compile none."""
    emb, seeds, planes, docs = corpus

    def run_round(i):
        report = build_pipeline(spark, *news_pages, str(tmp_path / f"wd{i}"), lda_k=2).run()
        assert not report.failed, report.failed
        out = str(tmp_path / f"curation{i}")
        exact_dedup(docs, "text", "doc_id").write.parquet(f"{out}/exact")
        survivors = spark.read.parquet(f"{out}/exact")
        minhash_candidates(survivors, "doc_id", "text").write.parquet(f"{out}/cand")
        lsh_bucket_ann(emb, planes, min_cos=0.9).write.parquet(f"{out}/lsh")
        semantic_dedup(emb, seeds, min_cos=0.9).write.parquet(f"{out}/sem")

    per_round = []
    with count_codegen_compiles(spark) as compiled:
        for i in range(3):
            before = compiled()
            run_round(i)
            per_round.append(compiled() - before)
            if i and per_round[-1] == 0:
                break
    assert per_round[-1] == 0, per_round
