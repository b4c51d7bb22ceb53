"""Sentiment scoring — the Spark re-expression of the reference's
sentiment stage (``airflow/plugins/nlp_tasks/sentiment_analysis.py``).

The reference runs three models over ≤1,000 docs in a single process:
VADER (M6), a DistilBERT binary classifier (M7), and a 7-class emotion
model (M8). This container has neither NLTK/VADER nor transformers, so:

  * the PRIMARY path is a deterministic lexicon scorer expressed as pure
    column algebra (hash-set filter + map-literal lookup + fold + VADER's
    compound normalization s/sqrt(s²+15)) — JVM-side, scales to any corpus;
  * the threshold labeling reproduces the reference EXACTLY
    (``sentiment_analysis.py:48-53``): positive iff ≥ .05, negative iff
    ≤ -.05, else neutral;
  * transformer inference is stubbed behind an import-try in
    :func:`hf_sentiment_udf` with the REAL Spark plumbing (iterator
    Pandas UDF so the model loads once per executor) and a clearly
    marked deterministic fallback.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sqltext import sql_str

# Compact valence lexicon (AFINN-style integer valences in [-5, 5],
# authored here; public-domain word sentiment knowledge).
VALENCE: dict[str, float] = {
    "good": 3, "great": 3, "excellent": 4, "amazing": 4, "wonderful": 4,
    "best": 3, "love": 3, "loved": 3, "happy": 3, "joy": 3, "win": 2,
    "wins": 2, "winning": 2, "success": 2, "successful": 2, "improve": 2,
    "improved": 2, "growth": 2, "strong": 2, "positive": 2, "hope": 2,
    "hopeful": 2, "safe": 1, "calm": 1, "support": 1, "supported": 1,
    "agree": 1, "agreed": 1, "benefit": 2, "benefits": 2, "progress": 2,
    "peace": 2, "celebrate": 3, "celebrated": 3, "breakthrough": 3,
    "bad": -3, "terrible": -4, "awful": -4, "horrible": -4, "worst": -3,
    "hate": -3, "hated": -3, "sad": -2, "angry": -3, "anger": -3,
    "fear": -2, "afraid": -2, "lose": -2, "loses": -2, "losing": -2,
    "loss": -2, "fail": -2, "failed": -2, "failure": -2, "crisis": -3,
    "war": -3, "death": -3, "dead": -3, "died": -3, "kill": -3,
    "killed": -3, "attack": -2, "attacked": -2, "weak": -2, "negative": -2,
    "threat": -2, "risk": -1, "risks": -1, "problem": -1, "problems": -1,
    "concern": -1, "concerns": -1, "disaster": -4, "collapse": -3,
    "conflict": -2, "violence": -3, "damage": -2, "damaged": -2,
}

POSITIVE_THRESHOLD = 0.05  # sentiment_analysis.py:49
NEGATIVE_THRESHOLD = -0.05  # sentiment_analysis.py:51


def _valence_map_sql() -> str:
    # DOUBLE literals ("3.0D"): a bare 3.0 is a DECIMAL in Spark SQL.
    return "map(" + ", ".join(f"{sql_str(w)}, {float(v)!r}D" for w, v in VALENCE.items()) + ")"


def compound_score_expr(tokens_col: str) -> Column:
    """VADER-style compound score from a tokens column: sum of token
    valences, normalized to (-1, 1) by s/sqrt(s²+15).

    One fold over the lexicon tokens of the array — all JVM-side. The
    tokens are first filtered by ``t IN (<lexicon words>)``, which
    OptimizeIn turns into a hash-set lookup; only the survivors pay the
    map lookup, a linear scan over the lexicon keys. Dropping the other
    tokens drops only ``+0.0D`` terms, so the sum is bit-identical to a
    fold over every token. The fold's finish lambda normalizes, so the
    sum is computed once, not once per use. Built as SQL text so the
    lexicon reaches the JVM in one call instead of three py4j round
    trips per entry.
    """
    words = ", ".join(map(sql_str, VALENCE))
    return F.expr(
        f"aggregate(filter({tokens_col}, t -> t IN ({words})), "
        f"0.0D, (acc, t) -> acc + element_at({_valence_map_sql()}, t), "
        "s -> s / sqrt(s * s + 15.0D))"
    )


def sentiment_label_expr(score_col: Column | str) -> Column:
    """EXACT reference thresholds (sentiment_analysis.py:48-53)."""
    c = F.col(score_col) if isinstance(score_col, str) else score_col
    return (
        F.when(c >= POSITIVE_THRESHOLD, "positive")
        .when(c <= NEGATIVE_THRESHOLD, "negative")
        .otherwise("neutral")
    )


def load_vader_analyzer():
    """The real VADER analyzer the reference instantiates
    (sentiment_analysis.py:42-46), from whichever public package is
    installed: ``vaderSentiment`` first, then NLTK's bundled port.
    Returns None when neither is importable (this container)."""
    try:  # pragma: no cover - optional dep
        from vaderSentiment.vaderSentiment import SentimentIntensityAnalyzer

        return SentimentIntensityAnalyzer()
    except ImportError:
        pass
    try:  # pragma: no cover - optional dep
        from nltk.sentiment.vader import SentimentIntensityAnalyzer

        return SentimentIntensityAnalyzer()
    except (ImportError, LookupError):
        return None


def vader_available() -> bool:
    return load_vader_analyzer() is not None


def vader_compound_udf():
    """polarity_scores(text)['compound'] as an iterator Pandas UDF —
    the full VADER lexicon (~7.5k entries, boosters, negation), loaded
    once per executor. Only valid when a VADER package is installed;
    executors share the driver's environment in every supported deploy
    (same image), so availability is checked driver-side by callers."""

    @F.pandas_udf(T.DoubleType())
    def compound(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        analyzer = load_vader_analyzer()
        if analyzer is None:  # pragma: no cover - driver-side guard exists
            raise ImportError(
                "vader engine requested but neither vaderSentiment nor "
                "nltk.sentiment.vader is importable on the executor"
            )
        for batch in batches:
            yield batch.fillna("").map(
                lambda t: float(analyzer.polarity_scores(t)["compound"])
            )

    return compound


def with_sentiment(
    df: DataFrame, text_col: str = "text", engine: str = "lexicon"
) -> DataFrame:
    """Append sentiment_score / sentiment_label.

    ``engine``:
      * ``"lexicon"`` (default) — the deterministic JVM-side column
        algebra; what every oracle-checked plan uses, identical in any
        environment;
      * ``"vader"`` — the reference's actual model
        (sentiment_analysis.py:42-46) via :func:`vader_compound_udf`;
        raises if no VADER package is installed;
      * ``"auto"`` — vader when importable, lexicon fallback otherwise
        (reference parity when the lib is present, deterministic stub
        when not).

    Labels always use the EXACT reference thresholds regardless of
    engine. Lexicon tokens are staged through a select (interpreted-HOF
    CSE hazard — see operators/dedup.py) so tokenization happens once.
    """
    if engine not in ("lexicon", "vader", "auto"):
        raise ValueError(f"unknown engine {engine!r}")
    if engine == "auto":
        engine = "vader" if vader_available() else "lexicon"
    if engine == "vader":
        if not vader_available():
            raise ImportError(
                "engine='vader' needs the vaderSentiment or nltk package"
            )
        scored = df.withColumn(
            "sentiment_score", F.round(vader_compound_udf()(F.col(text_col)), 6)
        )
    else:
        staged = df.withColumn("_toks", F.split(F.lower(F.col(text_col)), " "))
        scored = staged.withColumn(
            "sentiment_score", F.round(compound_score_expr("_toks"), 6)
        ).drop("_toks")
    return scored.withColumn("sentiment_label", sentiment_label_expr("sentiment_score"))


def _hf_rows_to_frame(results, label_key: str, score_key: str) -> pd.DataFrame:
    """Normalize HF text-classification wire output to (label, score).

    Mirrors the reference's result handling (sentiment_analysis.py:96-104)
    exactly: each per-text result is either a dict (top_k=1 sentiment) or
    a list of {label, score} dicts (top_k=None emotion — keep the argmax);
    labels lowercase, scores float. Wire-format changes between
    transformers versions (top_k=1 returning 1-element lists) are covered
    by the same isinstance dispatch the reference uses.
    """
    labels, scores = [], []
    for r in results:
        top = max(r, key=lambda x: x["score"]) if isinstance(r, list) else r
        labels.append(top["label"].lower())
        scores.append(float(top["score"]))
    return pd.DataFrame({label_key: labels, score_key: scores})


def _hf_classifier_udf(pipeline_factory, label_key: str, score_key: str, stub, **hf_kwargs):
    """Iterator Pandas UDF → struct<``label_key``, ``score_key``> over a
    HF text-classification pipeline: Arrow batches, classifier built once
    per executor process (the iterator form), truncation on. The
    classifier is ``pipeline_factory()`` when injected (built inside the
    worker, shipped via the closure), else ``transformers.pipeline(
    **hf_kwargs)`` when importable, else the DETERMINISTIC ``stub``
    (text → (label, score)), clearly not a model."""

    @F.pandas_udf(T.StructType([
        T.StructField(label_key, T.StringType()),
        T.StructField(score_key, T.DoubleType()),
    ]))
    def infer(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        clf = None
        if pipeline_factory is not None:
            clf = pipeline_factory()
        else:
            try:  # pragma: no cover - heavy dep absent in CI container
                from transformers import pipeline  # type: ignore

                clf = pipeline(truncation=True, **hf_kwargs)
            except ImportError:
                pass

        def score(texts: pd.Series) -> pd.DataFrame:
            if clf is not None:
                return _hf_rows_to_frame(clf(texts.fillna("").tolist()), label_key, score_key)
            rows = [stub(t) for t in texts]
            return pd.DataFrame(
                {label_key: [r[0] for r in rows], score_key: [r[1] for r in rows]}
            )

        for batch in batches:
            yield score(batch)

    return infer


def _sentiment_stub(t) -> tuple[str, float]:
    """STUB: deterministic lexicon-sign fallback (not a model)."""
    s = sum(VALENCE.get(w, 0.0) for w in str(t).lower().split())
    return ("positive" if s >= 0 else "negative", min(1.0, abs(s) / 10.0))


def hf_sentiment_udf(pipeline_factory=None):
    """Transformer sentiment as an iterator Pandas UDF (reference M7,
    sentiment_analysis.py:76-112) → struct<label, confidence>.

    ``pipeline_factory`` injects the classifier callable — how the
    wire-format parity test exercises the real branch without model
    weights. With no factory, the real transformers pipeline is
    constructed when importable; otherwise the fallback is a
    DETERMINISTIC STUB (lexicon sign) — swap in the real model by
    installing `transformers`, the Spark side needs no change.
    """
    return _hf_classifier_udf(
        pipeline_factory, "label", "confidence", _sentiment_stub,
        task="sentiment-analysis",
        model="distilbert-base-uncased-finetuned-sst-2-english",
    )


# 7-class emotion lexicon for the deterministic stub (M8 fallback):
# j-hartmann/emotion-english-distilroberta-base's label set.
EMOTION_CLASSES = ("anger", "disgust", "fear", "joy", "neutral", "sadness", "surprise")
EMOTION_CUES: dict[str, str] = {
    "angry": "anger", "anger": "anger", "furious": "anger", "outrage": "anger",
    "attack": "anger", "war": "anger", "violence": "anger",
    "disgust": "disgust", "disgusting": "disgust", "corrupt": "disgust",
    "scandal": "disgust",
    "fear": "fear", "afraid": "fear", "threat": "fear", "crisis": "fear",
    "risk": "fear", "panic": "fear", "terror": "fear",
    "joy": "joy", "happy": "joy", "celebrate": "joy", "win": "joy",
    "success": "joy", "hope": "joy", "love": "joy",
    "sad": "sadness", "sadness": "sadness", "death": "sadness",
    "died": "sadness", "loss": "sadness", "grief": "sadness",
    "surprise": "surprise", "surprising": "surprise", "unexpected": "surprise",
    "shock": "surprise", "sudden": "surprise",
}


def _emotion_stub(t) -> tuple[str, float]:
    """STUB: cue-lexicon vote, 'neutral' default (not a model)."""
    votes: dict[str, int] = {}
    for w in str(t).lower().split():
        cls = EMOTION_CUES.get(w)
        if cls:
            votes[cls] = votes.get(cls, 0) + 1
    if not votes:
        return ("neutral", 0.5)
    label = max(sorted(votes), key=lambda k: votes[k])
    return (label, votes[label] / sum(votes.values()))


def hf_emotion_udf(pipeline_factory=None):
    """7-class emotion classification (reference M8,
    sentiment_analysis.py:66-74,96-103: DistilRoBERTa with top_k=None,
    keep the max-score label — SURVEY F28 argmax-of-struct-list, done by
    :func:`_hf_rows_to_frame`) → struct<emotion_label, emotion_score>.

    Same iterator-UDF lifecycle and ``pipeline_factory`` injection as
    :func:`hf_sentiment_udf`; the deterministic stub votes over a cue
    lexicon and defaults to 'neutral', mirroring the real model's
    argmax contract.
    """
    return _hf_classifier_udf(
        pipeline_factory, "emotion_label", "emotion_score", _emotion_stub,
        task="text-classification",
        model="j-hartmann/emotion-english-distilroberta-base",
        top_k=None,
    )


def with_emotion(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach emotion_label/emotion_score (reference collection
    articles_emotion_distilroberta, sentiment_analysis.py:66-74)."""
    res = hf_emotion_udf()(F.col(text_col))
    return df.withColumn("_e", res).select(
        "*", F.col("_e.emotion_label").alias("emotion_label"),
        F.col("_e.emotion_score").alias("emotion_score")
    ).drop("_e")
