"""HTML article extraction — SURVEY S3/U7 (ArticlesSpider.py:40-109)
as a struct-returning Pandas UDF with the reference's selector-fallback
semantics (F17: first non-null of several selectors).

This is a legitimate Pandas-UDF case (SURVEY §2.11): HTML parsing is
genuinely procedural. The UDF is Arrow-batched and stateless, so it
scales linearly across executors. Parsing uses stdlib regex against the
specific BBC markup shapes the spider targets (lxml/bs4 are not in the
container; the extraction contract is what matters and is fixture-tested).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ARTICLE_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("subtitle", T.StringType()),
        T.StructField("authors", T.ArrayType(T.StringType())),
        T.StructField("text", T.StringType()),
        T.StructField("topic_name", T.ArrayType(T.StringType())),
        T.StructField("topic_url", T.ArrayType(T.StringType())),
        T.StructField("images", T.ArrayType(T.StringType())),
    ]
)

_TAG = re.compile(r"<[^>]+>")


def _strip(html: str) -> str:
    return _TAG.sub("", html).strip()


def _first(*vals):
    """Selector fallback chain (ArticlesSpider.py:47-67 — F17 coalesce)."""
    for v in vals:
        if v:
            return v
    return None


def _find(pattern: str, html: str, group: int = 1) -> str | None:
    m = re.search(pattern, html, re.S | re.I)
    return _strip(m.group(group)) if m else None


def _findall(pattern: str, html: str) -> list[str]:
    return [_strip(m) for m in re.findall(pattern, html, re.S | re.I)]


def parse_article_html(html: str) -> dict:
    """One article page → the 9-field record the spider builds
    (items.py:5-13), selector priorities mirroring ArticlesSpider.py."""
    title = _first(
        _find(r'<h1[^>]*class="[^"]*headline-block[^"]*"[^>]*>(.*?)</h1>', html),
        _find(r'<h1[^>]*data-testid="headline"[^>]*>(.*?)</h1>', html),
        _find(r'<h1[^>]*id="main-heading"[^>]*>(.*?)</h1>', html),
        _find(r"<h1[^>]*>(.*?)</h1>", html),
    )
    subtitle = _first(
        _find(r'<b[^>]*class="[^"]*subtitle[^"]*"[^>]*>(.*?)</b>', html),
        _find(r'<p[^>]*class="[^"]*sub-headline[^"]*"[^>]*>(.*?)</p>', html),
    )
    date = _find(r'<time[^>]*datetime="([^"]+)"', html)
    authors = _findall(r'<span[^>]*class="[^"]*byline[^"]*name[^"]*"[^>]*>(.*?)</span>', html)
    paragraphs = _findall(r"<p\b[^>]*>(.*?)</p>", html)
    # drop the subtitle paragraph from the body if it matched a <p>
    body = " ".join(p for p in paragraphs if p and p != subtitle)
    topics = _findall(r'<a[^>]*class="[^"]*topic-link[^"]*"[^>]*>(.*?)</a>', html)
    topic_urls = re.findall(r'<a[^>]*class="[^"]*topic-link[^"]*"[^>]*href="([^"]+)"', html, re.I) or re.findall(
        r'href="([^"]+)"[^>]*class="[^"]*topic-link[^"]*"', html, re.I
    )
    images = re.findall(r'<img[^>]*src="([^"]+)"', html, re.I)
    return {
        "date": date,
        "title": title,
        "subtitle": subtitle,
        "authors": authors,
        "text": body if body else None,
        "topic_name": topics,
        "topic_url": list(topic_urls),
        "images": images,
    }


@F.pandas_udf(ARTICLE_SCHEMA)
def parse_article_udf(html: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([parse_article_html(h or "") for h in html])


def extract_articles(pages: DataFrame, html_col: str = "html", url_col: str = "url") -> DataFrame:
    """(url, html) → parsed article rows, then the validation filter
    (pipelines.py:5-16 / SURVEY P10): drop rows missing date/title/text
    or with text == 'N/A'."""
    parsed = pages.select(
        F.col(url_col).alias("url"), parse_article_udf(F.col(html_col)).alias("a")
    ).select("url", "a.*")
    return parsed.filter(
        F.col("date").isNotNull()
        & F.col("title").isNotNull()
        & F.col("text").isNotNull()
        & (F.col("text") != "N/A")
    )


def prepare_articles(articles: DataFrame, min_words: int = 50) -> DataFrame:
    """The prep stage (data_preparation.py:123-169 minus the NLP columns):
    drop null text (P5), word count (P3), min-length filter (P6:
    n_words > 50), date coercion with null-on-error (F18), column drops
    (P2). JSON round-trip of array columns (F24) is left to sinks."""
    out = (
        articles.filter(F.col("text").isNotNull())
        .withColumn("n_words", F.size(F.split("text", " ")))
        .filter(F.col("n_words") > min_words)
        # try_to_timestamp = pandas errors="coerce" (null on bad input);
        # plain to_timestamp THROWS under Spark 4's default ANSI mode
        .withColumn("date", F.try_to_timestamp("date"))
        .drop("images", "topic_name", "topic_url", "authors")
    )
    return out
