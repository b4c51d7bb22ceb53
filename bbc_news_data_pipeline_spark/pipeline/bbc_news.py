"""End-to-end BBC-news pipeline — the reference DAG (bbc_news_dag.py:360-362)
as composed engine stages:

  links(sitemap) → crawl(parse html) → prep → topics ∥ (sentiment → stats)
  ∥ emotion → chart-ready aggregate tables

Ingestion inputs are DataFrames of fetched content (xml/html) so tests run
on fixtures; production would prepend a rate-limited fetch stage (O5).
Every stage is a lazy DataFrame transformation; the Pipeline runner only
schedules writes, running the three post-prep branches concurrently.
Table row counts are observed during each write, not re-scanned after it.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..nlp.sentiment import with_emotion, with_sentiment
from ..operators.topics import dominant_topic, fit_lda, topic_words
from ..sources import sinks
from ..sources.html_articles import extract_articles, prepare_articles
from ..sources.sitemap import news_links, newest_article_links, parse_links
from .runner import Pipeline, Stage


def daily_sentiment_stats(scored: DataFrame) -> dict[str, DataFrame]:
    """Chart-ready aggregates (stats_visualization.py:261-302; SURVEY
    A2-A5): label counts, daily mean score, daily label share."""
    day = F.date_trunc("day", "date").alias("day")
    counts = scored.groupBy("sentiment_label").agg(F.count("*").alias("n"))
    daily_mean = scored.groupBy(day).agg(
        F.round(F.avg("sentiment_score"), 4).alias("avg_score")
    )
    per_day = scored.groupBy(day, "sentiment_label").agg(F.count("*").alias("n"))
    share = per_day.withColumn(
        "pct", F.round(100.0 * F.col("n") / F.sum("n").over(W.partitionBy("day")), 4)
    )
    return {"label_counts": counts, "daily_mean": daily_mean, "daily_share": share}


def build_pipeline(
    spark: SparkSession,
    sitemap_xml: DataFrame,  # (xml) child sitemap bodies
    pages: DataFrame,  # (url, html) fetched article pages
    workdir: str,
    *,
    newest_n: int = 500,  # ArticlesSpider.py:19-21 docs_count default
    lda_k: int = 4,
    min_words: int = 50,
) -> Pipeline:
    links_path = f"{workdir}/links"
    articles_path = f"{workdir}/articles_raw"
    processed_path = f"{workdir}/articles_processed"

    def write_counted(df: DataFrame, path: str) -> int:
        # S10 overwrite that counts the written rows in the same pass
        return sinks.write_with_metrics(df, path, {"n": F.count(F.lit(1))})["n"]

    def discover(_: dict[str, Any]) -> int:
        links = news_links(parse_links(sitemap_xml))
        return sinks.keyed_append(spark, links, links_path, key="url")

    def crawl(_: dict[str, Any]) -> int:
        links = spark.read.parquet(links_path)
        todo = newest_article_links(links, newest_n)
        batch = pages.join(todo.select("url"), "url", "left_semi")
        articles = extract_articles(batch)
        return sinks.keyed_append(spark, articles, articles_path, key="url")

    def prep(_: dict[str, Any]) -> int:
        raw = spark.read.parquet(articles_path)
        processed = prepare_articles(raw, min_words=min_words)
        return write_counted(processed, processed_path)

    def topics(_: dict[str, Any]) -> dict[str, Any]:
        processed = spark.read.parquet(processed_path)
        bundle = fit_lda(processed, "text", "url", k=lda_k, min_df=2.0, max_iter=5)
        words = topic_words(bundle, topn=8)
        try:
            assigned = dominant_topic(bundle, "url")
            sinks.overwrite_table(
                processed.join(assigned, "url", "left"), f"{workdir}/articles_topic_{lda_k}"
            )
        finally:
            bundle.tokens_df.unpersist()  # cached by fit_lda; this write is its last use
        sinks.write_csv(words, f"{workdir}/topic_words_top8", partition_by="topic_id")
        # the topic ids topic_words explodes, from describeTopics' local
        # rows: collecting them runs no Spark job
        desc = bundle.lda_model.describeTopics(8).collect()
        return {"k": lda_k, "n_topics": len({r["topic"] for r in desc if r["termIndices"]})}

    def sentiment(_: dict[str, Any]) -> int:
        processed = spark.read.parquet(processed_path)
        # auto = the reference's real VADER model when the package is
        # present (sentiment_analysis.py:42-46), deterministic lexicon
        # fallback when not — parity-when-available by default here; the
        # oracle-checked PLANS pin engine="lexicon" for cross-engine
        # determinism.
        scored = with_sentiment(processed, "text", engine="auto")
        return write_counted(scored, f"{workdir}/articles_sentiment")

    def emotion(_: dict[str, Any]) -> int:
        # reference's third inference branch (articles_emotion_distilroberta,
        # sentiment_analysis.py:66-74) — optional like the topic branch
        processed = spark.read.parquet(processed_path)
        scored = with_emotion(processed, "text")
        return write_counted(scored, f"{workdir}/articles_emotion")

    def stats(results: dict[str, Any]) -> dict[str, int]:
        scored = spark.read.parquet(f"{workdir}/articles_sentiment")
        tables = daily_sentiment_stats(scored)
        return {name: write_counted(df, f"{workdir}/stats_{name}") for name, df in tables.items()}

    return Pipeline(
        [
            Stage("discover_links", discover),
            Stage("crawl_articles", crawl, deps=("discover_links",)),
            Stage("prepare", prep, deps=("crawl_articles",)),
            Stage("topics", topics, deps=("prepare",), optional=True),  # ALL_DONE branch
            Stage("sentiment", sentiment, deps=("prepare",)),
            Stage("emotion", emotion, deps=("prepare",), optional=True),  # ALL_DONE branch
            Stage("stats", stats, deps=("sentiment",)),
        ]
    )
