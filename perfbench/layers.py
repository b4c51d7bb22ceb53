"""Layer spans timed in isolation for the traced run.

Each layer's public function is applied to the previous layer's output
after that output has been committed to parquet, and the call is forced
with a ``noop`` write (a lazy call alone times nothing). Functions that
write or fit eagerly are timed as they are.
"""

from __future__ import annotations

from workloads import LDA_K, Ctx

# Spans reported as <name>.s (self time), <name>.jobs and <name>.tasks.
SPANS = (
    "sources.parse_links",
    "sources.newest_article_links",
    "sources.extract_articles",
    "sources.prepare_articles",
    "sources.overwrite_table",
    "sources.keyed_append",
    "nlp.with_sentiment",
    "nlp.with_emotion",
    "operators.fit_lda",
    "operators.dominant_topic",
    "operators.topic_words",
    "pipeline.daily_sentiment_stats",
    "operators.exact_dedup",
    "operators.band_keys",
    "operators.minhash_candidates",
    "operators.lsh_bucket_ann",
    "operators.semantic_dedup",
)


def news_layers(ctx: Ctx, tracer, inputs: str, newest_n: int, append_to: str | None = None) -> dict:
    """sources -> nlp -> operators.topics -> pipeline.bbc_news stats over one
    news batch. keyed_append offers the batch's links to a copy of the
    stored links table ``append_to``, or without one to a table holding
    every other one of them."""
    from bbc_news_data_pipeline_spark.nlp.sentiment import with_emotion, with_sentiment
    from bbc_news_data_pipeline_spark.operators.topics import dominant_topic, fit_lda, topic_words
    from bbc_news_data_pipeline_spark.pipeline.bbc_news import daily_sentiment_stats
    from bbc_news_data_pipeline_spark.sources import sinks
    from bbc_news_data_pipeline_spark.sources.html_articles import extract_articles, prepare_articles
    from bbc_news_data_pipeline_spark.sources.sitemap import news_links, newest_article_links, parse_links

    spark, d = ctx.spark, ctx.fresh("layers")

    def forced(name, make):
        with tracer.span(name):
            make().write.format("noop").mode("overwrite").save()

    def keep(df, name):
        df.write.parquet(f"{d}/{name}")
        return spark.read.parquet(f"{d}/{name}")

    sitemaps = spark.read.parquet(f"{inputs}/sitemaps.parquet")
    pages = spark.read.parquet(f"{inputs}/pages.parquet")
    forced("sources.parse_links", lambda: parse_links(sitemaps))
    links = keep(news_links(parse_links(sitemaps)), "links")
    forced("sources.newest_article_links", lambda: newest_article_links(links, newest_n))
    todo = keep(newest_article_links(links, newest_n), "todo")
    batch = keep(pages.join(todo.select("url"), "url", "left_semi"), "batch")
    forced("sources.extract_articles", lambda: extract_articles(batch))
    articles = keep(extract_articles(batch), "articles")
    forced("sources.prepare_articles", lambda: prepare_articles(articles))
    processed = keep(prepare_articles(articles), "processed")
    with tracer.span("sources.overwrite_table"):
        sinks.overwrite_table(processed, f"{d}/overwrite")

    target = f"{d}/append"
    if append_to is None:
        links.filter("hash(url) % 2 = 0").write.parquet(target)
    else:
        spark.read.parquet(append_to).write.parquet(target)
    with tracer.span("sources.keyed_append"):
        appended = sinks.keyed_append(spark, links, target, key="url")

    forced("nlp.with_sentiment", lambda: with_sentiment(processed, "text", engine="auto"))
    forced("nlp.with_emotion", lambda: with_emotion(processed, "text"))
    with tracer.span("operators.fit_lda"):
        bundle = fit_lda(processed, "text", "url", k=LDA_K, min_df=2.0, max_iter=5)
    forced("operators.dominant_topic", lambda: dominant_topic(bundle, "url"))
    forced("operators.topic_words", lambda: topic_words(bundle, topn=8))
    scored = keep(with_sentiment(processed, "text", engine="auto"), "scored")
    with tracer.span("pipeline.daily_sentiment_stats"):
        for table in daily_sentiment_stats(scored).values():
            table.write.format("noop").mode("overwrite").save()

    n_batch, n_articles = batch.count(), articles.count()
    return {
        "sources.extract_articles.valid_ratio": n_articles / n_batch,
        "sources.prepare_articles.kept_ratio": processed.count() / n_articles,
        "sources.keyed_append.appended_ratio": appended / links.count(),
        "operators.fit_lda.vocab": float(len(bundle.cv_model.vocabulary)),
    }


def band_keys_span(ctx: Ctx, tracer, docs) -> None:
    from bbc_news_data_pipeline_spark.operators.dedup import band_keys

    with tracer.span("operators.band_keys"):
        band_keys(docs, "doc_id", "text").write.format("noop").mode("overwrite").save()


def span_metrics(tracer) -> dict:
    out = {}
    for name in SPANS:
        spans = [s for s in tracer.spans if s.name == name]
        out[f"{name}.s"] = sum(tracer.self_seconds(s) for s in spans)
        out[f"{name}.jobs"] = float(sum(s.jobs for s in spans))
        out[f"{name}.tasks"] = float(sum(s.tasks for s in spans))
    return out
