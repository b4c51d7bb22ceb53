"""Topic modeling — Spark ML re-expression of the reference's gensim LDA
stage (``airflow/plugins/nlp_tasks/topic_modeling.py``; SURVEY M1–M5).

Mapping (SURVEY §2.9):
  gensim Dictionary + filter_extremes  →  CountVectorizer(minDF/maxDF/vocabSize)
  LdaModel(num_topics, passes, ...)    →  pyspark.ml.clustering.LDA (online, seed)
  show_topic / topic words table       →  describeTopics + posexplode + vocab lookup
  get_document_topics argmax           →  topicDistribution → vector_to_array → argmax
  CoherenceModel(c_v)                  →  UMass coherence, DataFrame-native
                                          (c_v sliding-window parity is §7.4.1's
                                          known-hard item; UMass needs only
                                          doc-level co-occurrence, which is exact
                                          and distributed here)

Numerical parity with gensim is impossible across engines (SURVEY §7.4.2);
tests assert invariants (topic count, vocab containment, separable-corpus
cluster purity) instead of exact values.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.clustering import LDA, LDAModel
from pyspark.ml.feature import CountVectorizer, CountVectorizerModel, RegexTokenizer
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import sql_str
from ..nlp.stopwords import EN_STOPWORDS


@dataclass
class TopicModelBundle:
    """Fitted artifacts of one LDA run (reference persists these as files,
    topic_modeling.py:223-228; here they are Spark ML models with
    .save/.load)."""

    k: int
    cv_model: CountVectorizerModel
    lda_model: LDAModel
    tokens_df: DataFrame  # (id, tokens) — reused for coherence


def tokenize(
    df: DataFrame, text_col: str, id_col: str, max_tokens: int | None = None
) -> DataFrame:
    """Tokenize + stopword-filter (reference topic_modeling.py:129-133,
    with the stopword wiring FIXED per SURVEY §2.13). ``max_tokens``
    reproduces the reference's first-5000-words truncation (SURVEY T6,
    stats_visualization.py:428) via ``slice`` — a bound on per-row work
    that also caps skew from pathological documents.

    The stop list is one SQL ``filter`` (same output as ``StopWordsRemover``:
    tokens are lowercased and every stop word is lowercase), shipped in one
    call — ``StopWordsRemover`` sends its list to the JVM word by word.
    """
    tok = RegexTokenizer(inputCol=text_col, outputCol="_raw_tokens", pattern=r"\s+")
    stop = ", ".join(map(sql_str, EN_STOPWORDS))
    tokens = f"filter(_raw_tokens, t -> NOT t IN ({stop}))"
    if max_tokens:
        tokens = f"slice({tokens}, 1, {max_tokens})"
    return tok.transform(df).selectExpr(id_col, f"{tokens} AS tokens")


def fit_lda(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    *,
    max_iter: int = 10,
    vocab_size: int = 50_000,
    min_df: float = 5.0,
    max_df: float = 0.5,
    seed: int = 42,
) -> TopicModelBundle:
    """Train LDA with the reference's dictionary bounds
    (topic_modeling.py:137: no_below=5, no_above=0.5, keep_n=50000) and
    deterministic seed (topic_modeling.py:204: random_state=42).

    Online optimizer ≈ gensim's chunked variational updates
    (chunksize=2000, topic_modeling.py:203) but distributed: each
    mini-batch is a sample of partitions, no driver bottleneck.
    """
    tokens = tokenize(df, text_col, id_col).cache()
    cv = CountVectorizer(
        inputCol="tokens", outputCol="features", vocabSize=vocab_size, minDF=min_df, maxDF=max_df
    )
    cv_model = cv.fit(tokens)
    if not cv_model.vocabulary:
        raise ValueError(
            "CountVectorizer produced an empty vocabulary — every term was "
            f"filtered by minDF={min_df}/maxDF={max_df}. Note Spark treats "
            "values >= 1.0 as absolute document counts (maxDF=1.0 means "
            "'in at most ONE document'), unlike gensim's no_above fraction."
        )
    bow = cv_model.transform(tokens)
    lda = LDA(k=k, maxIter=max_iter, seed=seed, optimizer="online", featuresCol="features")
    lda_model = lda.fit(bow)
    return TopicModelBundle(k=k, cv_model=cv_model, lda_model=lda_model, tokens_df=tokens)


def topic_words(bundle: TopicModelBundle, topn: int = 10) -> DataFrame:
    """(topic_id, rank, word, weight) — the reference's topic_words_df
    shape (topic_modeling.py:34-40) via describeTopics + posexplode +
    vocabulary lookup. describeTopics is a k·topn-row local table
    (collecting it runs no Spark job), so only its k·topn term indices
    are mapped to words, on the driver, and shipped as one per-topic
    array literal: the cost does not grow with the vocabulary, which a
    literal of the whole vocabulary would send to the JVM word by word.
    """
    vocab = bundle.cv_model.vocabulary
    desc = bundle.lda_model.describeTopics(topn)
    per_topic = ", ".join(
        "array(" + ", ".join(sql_str(vocab[i]) for i in r["termIndices"]) + ")"
        for r in sorted(desc.collect(), key=lambda r: r["topic"])
    )
    return desc.selectExpr(
        "topic AS topic_id", "posexplode(arrays_zip(termIndices, termWeights)) AS (pos, tw)"
    ).selectExpr(
        "topic_id",
        "pos + 1 AS rank",
        # topic ids are 0..k-1, so topic_id + 1 indexes its word array
        f"element_at(element_at(array({per_topic}), topic_id + 1), pos + 1) AS word",
        "CAST(tw.termWeights AS DOUBLE) AS weight",
    )


def dominant_topic(bundle: TopicModelBundle, id_col: str) -> DataFrame:
    """(id, main_topic, main_topic_prob) — argmax of the per-doc topic
    mixture (reference topic_modeling.py:251-254), via vector_to_array +
    array_position(array_max) — no UDF."""
    bow = bundle.cv_model.transform(bundle.tokens_df)
    scored = bundle.lda_model.transform(bow).select(
        F.col(id_col), vector_to_array("topicDistribution").alias("dist")
    )
    return scored.select(
        F.col(id_col),
        (F.array_position(F.col("dist"), F.array_max("dist")) - 1).cast("int").alias("main_topic"),
        F.round(F.array_max("dist"), 6).alias("main_topic_prob"),
    )


def umass_coherence(bundle: TopicModelBundle, topn: int = 10) -> DataFrame:
    """Per-topic UMass coherence, fully distributed.

    C_UMass(t) = Σ_{i<j} log( (D(w_i, w_j) + 1) / D(w_j) ) over the
    top-n topic words ordered by weight — doc-level co-occurrence counts
    from one explode + self-join on doc id, restricted to the (tiny)
    topic vocabulary so the join is broadcast-sized.
    """
    return umass_coherence_for_words(bundle.tokens_df, topic_words(bundle, topn))


def umass_coherence_for_words(tokens_df: DataFrame, words: DataFrame) -> DataFrame:
    """UMass over an explicit (topic_id, rank, word) table — the testable
    core of :func:`umass_coherence` (same split as c_v)."""
    vocab_words = words.select("word").distinct()
    id_col = tokens_df.columns[0]
    presence = tokens_df.select(
        F.col(id_col).alias("_doc"), F.explode(F.array_distinct("tokens")).alias("word")
    ).join(F.broadcast(vocab_words), "word")
    docfreq = presence.groupBy("word").agg(F.countDistinct("_doc").alias("d"))
    # Doc-level co-occurrence without a self-join: collect each doc's
    # (tiny, vocab-limited) word set, generate word pairs row-locally,
    # count docs per pair (each doc contributes a pair at most once, so
    # count(*) ≡ countDistinct(doc)), and mirror since downstream pairs
    # are rank-ordered, not alphabetical.
    from ..operators.dedup import pairs_within_groups

    per_doc = presence.select("_doc", F.struct(F.col("word").alias("w")).alias("d"))
    half = (
        # max_group=None: co-occurrence counting needs EVERY pair, and
        # group size is already bounded by the broadcast vocab join.
        pairs_within_groups(per_doc, ["_doc"], max_group=None)
        .groupBy(F.col("p.a.w").alias("w_i"), F.col("p.b.w").alias("w_j"))
        .agg(F.count("*").alias("d_ij"))
    )
    cooc = half.union(
        half.select(F.col("w_j").alias("w_i"), F.col("w_i").alias("w_j"), "d_ij")
    )
    pairs = (
        words.alias("wi")
        .join(words.alias("wj"), F.col("wi.topic_id") == F.col("wj.topic_id"))
        .filter(F.col("wi.rank") < F.col("wj.rank"))
        .select(
            F.col("wi.topic_id").alias("topic_id"),
            F.col("wi.word").alias("w_i"),
            F.col("wj.word").alias("w_j"),
        )
    )
    scored = (
        pairs.join(cooc, ["w_i", "w_j"], "left")
        .na.fill({"d_ij": 0})
        .join(docfreq.withColumnRenamed("word", "w_j").withColumnRenamed("d", "d_j"), "w_j")
        .withColumn("term", F.log((F.col("d_ij") + 1.0) / F.col("d_j")))
    )
    return scored.groupBy("topic_id").agg(F.round(F.sum("term"), 6).alias("umass_coherence"))


CV_WINDOW = 110  # gensim c_v boolean sliding-window size
CV_EPS = 1e-12  # gensim's EPSILON in the NPMI log ratio


def _window_occurrences(
    tokens_df: DataFrame, vocab_df: DataFrame, window: int = CV_WINDOW
) -> tuple[DataFrame, DataFrame]:
    """Boolean sliding-window occurrence table for c_v coherence.

    Each document of length L contributes ``max(1, L - window + 1)``
    virtual documents (windows); a word "occurs" in a window iff any of
    its positions falls inside. Rather than materializing every window
    (O(L·window) tokens), only RELEVANT-word positions are kept (the
    topics' top words — a broadcast semi-join) and each position p is
    expanded to its covering window-start range
    ``[max(0, p-window+1), min(p, n_win-1)]`` — O(|relevant hits|·window)
    with distinct() collapsing overlaps. Returns (occurrences(_doc, _s,
    word), totals(n_windows)) — totals is a 1-row frame kept in-plan
    (broadcast), never collected.
    """
    id_col = tokens_df.columns[0]
    base = tokens_df.select(
        F.col(id_col).alias("_doc"),
        F.col("tokens"),
        F.greatest(F.lit(1), F.size("tokens") - F.lit(window - 1)).alias("_n_win"),
    )
    pos = base.select("_doc", "_n_win", F.posexplode("tokens").alias("_p", "word"))
    rel = pos.join(F.broadcast(vocab_df), "word")
    occ = rel.select(
        "_doc",
        "word",
        # explode_outer: the covering range is never empty (start <= _p <=
        # end by construction); avoids the inferred-filter pushdown
        # re-evaluating the sequence per row (see SCALE.md).
        F.explode_outer(
            F.sequence(
                F.greatest(F.lit(0), F.col("_p") - F.lit(window - 1)),
                F.least(F.col("_p"), F.col("_n_win") - 1),
            )
        ).alias("_s"),
    ).distinct()
    totals = base.agg(F.sum("_n_win").cast("double").alias("n_windows"))
    return occ, totals


def cv_coherence(
    bundle: TopicModelBundle, topn: int = 20, window: int = CV_WINDOW
) -> DataFrame:
    """Per-topic c_v coherence — the full measure the reference scores
    models with (topic_modeling.py:176-182,209-215: gensim
    CoherenceModel(coherence="c_v")), assembled distributed from the
    q49 NPMI core. The c_v pipeline (Röder, Both & Hinneburg 2015) is:

      1. boolean sliding window of size 110 → virtual documents;
      2. NPMI(w_i, w_j) = log((P_ij+ε)/(P_i·P_j)) / −log(P_ij+ε) with
         ε=1e-12, probabilities = window frequencies / total windows;
      3. one-set segmentation: each top word's context vector is its
         NPMI against ALL the topic's top words (γ=1, diagonal
         included);
      4. indirect cosine: cos(v(w_i), Σ_j v(w_j)), averaged over i.

    Everything stays in-plan: window counting is one explode + distinct
    (see :func:`_window_occurrences`), pair counts one self-join on
    (doc, window) restricted to the broadcast top-word vocabulary, and
    the cosine algebra runs over k·topn² rows. Returns
    (topic_id, cv_coherence).
    """
    return cv_coherence_for_words(bundle.tokens_df, topic_words(bundle, topn), window)


def cv_coherence_for_words(
    tokens_df: DataFrame, words: DataFrame, window: int = CV_WINDOW
) -> DataFrame:
    """c_v over an explicit (topic_id, word) table — the testable core of
    :func:`cv_coherence` (callers can score hand-picked word sets without
    fitting an LDA model first)."""
    vocab = words.select("word").distinct()
    occ, totals = _window_occurrences(tokens_df, vocab, window)

    n_w = occ.groupBy("word").agg(F.count("*").cast("double").alias("n"))
    # Window-level co-occurrence via the shared row-local pair generator
    # (each window's relevant-word set is tiny), not a self-join on
    # (doc, window) — one shuffle, occurrence branch computed once.
    from ..operators.dedup import pairs_within_groups

    per_win = occ.select("_doc", "_s", F.struct(F.col("word").alias("w")).alias("d"))
    n_pair = (
        # max_group=None: NPMI needs every co-occurring pair; windows are
        # at most `window` tokens so groups are tiny by construction.
        pairs_within_groups(per_win, ["_doc", "_s"], max_group=None)
        .groupBy(F.col("p.a.w").alias("w_lo"), F.col("p.b.w").alias("w_hi"))
        .agg(F.count("*").cast("double").alias("n_ij"))
    )

    # Ordered (topic, w_i, w_j) grid over each topic's top words,
    # diagonal included (the context vector has a self-dimension).
    grid = (
        words.alias("wi")
        .join(words.alias("wj"), F.col("wi.topic_id") == F.col("wj.topic_id"))
        .select(
            F.col("wi.topic_id").alias("topic_id"),
            F.col("wi.word").alias("w_i"),
            F.col("wj.word").alias("w_j"),
        )
    )
    lo = F.least("w_i", "w_j")
    hi = F.greatest("w_i", "w_j")
    joined = (
        grid.withColumn("w_lo", lo)
        .withColumn("w_hi", hi)
        .join(F.broadcast(n_pair), ["w_lo", "w_hi"], "left")
        .join(F.broadcast(n_w.select(F.col("word").alias("w_i"), F.col("n").alias("n_i"))), "w_i")
        .join(F.broadcast(n_w.select(F.col("word").alias("w_j"), F.col("n").alias("n_j"))), "w_j")
        .crossJoin(F.broadcast(totals))
    )
    p_ij = (
        F.when(F.col("w_i") == F.col("w_j"), F.col("n_i"))
        .otherwise(F.coalesce("n_ij", F.lit(0.0)))
        / F.col("n_windows")
    )
    p_i = F.col("n_i") / F.col("n_windows")
    p_j = F.col("n_j") / F.col("n_windows")
    npmi = F.log((p_ij + F.lit(CV_EPS)) / (p_i * p_j)) / -F.log(p_ij + F.lit(CV_EPS))
    ctx = joined.select("topic_id", "w_i", "w_j", npmi.alias("v"))

    # v(W*)_j = Σ_i v(w_i)_j — the summed context vector per dimension j.
    vw = ctx.groupBy("topic_id", "w_j").agg(F.sum("v").alias("vw"))
    dotted = (
        ctx.join(vw, ["topic_id", "w_j"])
        .groupBy("topic_id", "w_i")
        .agg(
            F.sum(F.col("v") * F.col("vw")).alias("dot"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("norm_i"),
        )
    )
    vw_norm = vw.groupBy("topic_id").agg(F.sqrt(F.sum(F.col("vw") * F.col("vw"))).alias("norm_w"))
    cos = (
        dotted.join(vw_norm, "topic_id")
        .withColumn("cos", F.col("dot") / (F.col("norm_i") * F.col("norm_w")))
    )
    return cos.groupBy("topic_id").agg(F.round(F.avg("cos"), 6).alias("cv_coherence"))


def auto_tune(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ks: list[int],
    *,
    scan_iter: int = 2,
    seed: int = 42,
    metric: str = "c_v",
) -> DataFrame:
    """Hyperparameter scan over k (reference M2, topic_modeling.py:152-191:
    cheap scan passes, coherence per candidate, pick best). Scores with
    c_v by default — the metric the reference's CoherenceModel uses
    (topic_modeling.py:176-182) — or UMass via ``metric="umass"``.
    Returns (k, mean_coherence) — caller re-fits the winner at full
    effort, mirroring the reference's scan/final two-phase design."""
    scorers = {"c_v": cv_coherence, "umass": umass_coherence}
    if metric not in scorers:
        raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(scorers)}")
    rows = []
    for k in ks:
        bundle = fit_lda(df, text_col, id_col, k, max_iter=scan_iter, seed=seed)
        per_topic = scorers[metric](bundle)
        mean_c = per_topic.agg(F.avg(per_topic.columns[-1])).collect()[0][0]
        rows.append((k, float(mean_c if mean_c is not None else float("-inf"))))
    spark = df.sparkSession
    return spark.createDataFrame(rows, "k int, mean_coherence double")
