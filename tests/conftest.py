import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bbc_news_data_pipeline_spark import get_spark  # noqa: E402
from bbc_news_data_pipeline_spark.session import count_py4j_round_trips  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

POS_WORDS = ["wonderful", "great", "success", "hope", "progress", "win"]
NEG_WORDS = ["crisis", "war", "terrible", "failure", "threat", "disaster"]
FILLER = ["community", "report", "city", "people", "meeting", "plan", "event",
          "update", "council", "project", "program", "service", "group"]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _article_html(title, date, words):
    body = " ".join(f"<p>{w}</p>" for w in [" ".join(words[i:i+12]) for i in range(0, len(words), 12)])
    return (
        f'<html><body><h1 data-testid="headline">{title}</h1>'
        f'<time datetime="{date}">x</time>{body}</body></html>'
    )


@pytest.fixture(scope="session")
def news_pages(spark):
    """(sitemap xml, fetched pages) DataFrames for ``build_pipeline``: 20
    articles, even ones planted positive and odd ones negative."""
    rng = random.Random(42)
    pages, xml_entries = [], []
    for i in range(20):
        url = f"https://www.bbc.com/news/articles/doc{i:08d}aaaa"
        date = f"2024-03-{(i % 9) + 1:02d}T10:00:00.000Z"
        sentiment_words = POS_WORDS if i % 2 == 0 else NEG_WORDS
        words = [rng.choice(FILLER) for _ in range(70)] + sentiment_words * 3
        rng.shuffle(words)
        pages.append((url, _article_html(f"Title {i}", date, words)))
        xml_entries.append(f"<url><loc>{url}</loc><lastmod>{date}</lastmod></url>")
    xml = f"<urlset>{''.join(xml_entries)}</urlset>"
    sitemap_df = spark.createDataFrame([(xml,)], "xml string")
    pages_df = spark.createDataFrame(pages, "url string, html string")
    return sitemap_df, pages_df


@pytest.fixture
def py4j_round_trips():
    """Callable returning the py4j round trips (gateway commands) sent
    since the fixture was set up (see ``count_py4j_round_trips``)."""
    with count_py4j_round_trips() as sent:
        yield sent
