"""Seeded input generators and their ground-truth manifests.

Everything here is plain Python (plus numpy for embeddings): the program
under test receives only the generated inputs, and the expected outputs
are derived from the generator's own plan, never from the program.

  NewsGen       sitemap XML + article HTML in the reference's markup
                variants, with the FIXTURES.md dirt quotas
  NewsSim       the DAG's table semantics (insert-if-absent links and
                articles, newest-N crawl, validation, min-length filter)
                replayed on the generator's records to give per-stage
                expected counts for a first load and for every delta
  dedup_corpus  documents with planted exact and near duplicates, plus
                embeddings with planted near-identical rows
  stream_docs   the document sequence the stream generator writes
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import numpy as np

THEMES = {
    "economy": "market bank trade budget tariff export inflation wage pension "
    "investor factory retail mortgage currency treasury revenue".split(),
    "science": "telescope genome vaccine orbit fossil particle reactor climate "
    "species laboratory satellite protein neuron galaxy molecule".split(),
    "politics": "minister parliament election senate ballot coalition treaty "
    "cabinet policy referendum governor campaign mayor diplomat".split(),
    "culture": "festival gallery novel orchestra cinema theatre album museum "
    "poet sculpture dancer concert author painter ballet".split(),
}
FILLER = "people city report week year council plan group service local "
FILLER += "region official statement figure number team member day month"
FILLER = FILLER.split()
# Words the sentiment lexicon scores: a planted article carries only one
# polarity, so its label is fixed by the plan (neutral articles carry none).
POS_WORDS = ["wonderful", "great", "success", "hope", "progress", "win"]
NEG_WORDS = ["crisis", "war", "terrible", "failure", "threat", "disaster"]
LABELS = ("positive", "negative", "neutral")

TITLE_FORMS = (
    '<h1 class="ssrcss-headline-block e1">{}</h1>',
    '<h1 data-testid="headline" class="x">{}</h1>',
    '<h1 id="main-heading" class="y">{}</h1>',
    "<h1>{}</h1>",
)
SUBTITLE_FORMS = (
    '<b class="ssrcss-subtitle">{}</b>',
    '<p class="sub-headline">{}</p>',
    "",
)
BYLINE_FORMS = (
    '<span class="byline__name">{}</span>',
    '<div class="byline"><span class="byline-name">{}</span></div>',
    "",
)
NEWS = "https://www.bbc.com/news/"


def _id12(rng: random.Random) -> str:
    return "c" + "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(11))


@dataclass
class Article:
    url: str
    lastmod: str | None
    html: str | None  # None for video/sport links (never fetched)
    valid: bool  # survives extract_articles' validation filter
    n_words: int  # body words (what prepare_articles counts)
    label: str | None  # planted sentiment label
    day: str | None  # UTC day of the <time> tag, None when unparseable


def _article(rng: random.Random, url: str, lastmod: str | None, seq: int) -> Article:
    roll = rng.random()
    no_title = roll < 0.03
    na_body = 0.03 <= roll < 0.05
    short = rng.random() < 0.20
    theme = rng.choice(list(THEMES))
    label = LABELS[seq % 3]
    n = rng.randint(20, 45) if short else rng.randint(70, 220)
    words = [rng.choice(THEMES[theme]) if rng.random() < 0.45 else rng.choice(FILLER) for _ in range(n)]
    planted = POS_WORDS if label == "positive" else NEG_WORDS if label == "negative" else []
    for i in range(len(planted) and 3):
        words[rng.randrange(n)] = planted[(seq + i) % len(planted)]
    paras = [" ".join(words[i : i + 14]) for i in range(0, n, 14)]
    body = "<p>N/A</p>" if na_body else "".join(f"<p>{p}</p>" for p in paras)
    garbage_date = rng.random() < 0.02
    day = f"2024-03-{1 + seq % 9:02d}"
    date = "sometime last week" if garbage_date else f"{day}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00.000Z"
    title = "" if no_title else rng.choice(TITLE_FORMS).format(f"{theme.title()} story {seq}")
    subtitle = rng.choice(SUBTITLE_FORMS).format(f"Standfirst for story {seq} about {theme}")
    byline = rng.choice(BYLINE_FORMS).format(f"Reporter {seq % 17}")
    topics = f'<a class="topic-link" href="/news/topics/{theme}">{theme}</a>'
    img = f'<img src="https://ichef.bbci.co.uk/{seq}.jpg"/>'
    html = (
        f"<html><head><title>BBC</title></head><body><article>{title}{subtitle}{byline}"
        f'<time datetime="{date}">t</time>{img}{body}{topics}</article></body></html>'
    )
    valid = not (no_title or na_body)
    return Article(url, lastmod, html, valid, 0 if na_body else n, label, None if garbage_date else day)


@dataclass
class NewsBatch:
    """One sitemap fetch: child sitemap bodies plus the fetched pages."""

    sitemaps: list[str]
    pages: list[tuple[str, str]]
    entries: list[tuple[str, str | None]]  # (url, lastmod) as listed, dups included
    articles: dict[str, Article]  # by url, for every listed url


def _sitemaps(entries: list[tuple[str, str | None]], n_docs: int) -> list[str]:
    docs = []
    for d in range(n_docs):
        body = []
        for url, lastmod in entries[d::n_docs]:
            lm = f"<lastmod>{lastmod}</lastmod>" if lastmod else ""
            body.append(f"<url><loc>{url}</loc>{lm}</url>")
        docs.append('<?xml version="1.0"?><urlset>' + "".join(body) + "</urlset>")
    return docs


class NewsGen:
    """Seeded stream of news batches; later batches have newer lastmods."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seq = 0
        self.clock = 0  # minutes since 2024-03-01, strictly increasing
        self.known: list[Article] = []

    def _lastmod(self) -> str | None:
        self.clock += 1 + self.rng.randrange(3)
        if self.rng.random() < 0.05:
            return None
        d, m = divmod(self.clock, 24 * 60)
        return f"2024-{3 + d // 28:02d}-{1 + d % 28:02d}T{m // 60:02d}:{m % 60:02d}:00Z"

    def batch(self, n_new: int, n_relisted: int = 0) -> NewsBatch:
        """``n_new`` fresh sitemap entries (~10% video or sport links, ~5%
        duplicated) plus ``n_relisted`` already-published articles listed
        and fetched again."""
        rng = self.rng
        fresh: list[Article] = []
        for _ in range(n_new):
            self.seq += 1
            lastmod = self._lastmod()
            kind = rng.random()
            if kind < 0.05:
                fresh.append(Article(f"{NEWS}videos/{_id12(rng)}", lastmod, None, False, 0, None, None))
            elif kind < 0.10:
                fresh.append(Article(f"https://www.bbc.com/sport/{_id12(rng)}", lastmod, None, False, 0, None, None))
            else:
                fresh.append(_article(rng, f"{NEWS}articles/{_id12(rng)}", lastmod, self.seq))
        relisted = rng.sample(self.known, min(n_relisted, len(self.known)))
        listed = fresh + relisted
        entries = [(a.url, a.lastmod) for a in listed]
        entries += [(a.url, a.lastmod) for a in rng.sample(listed, len(listed) // 20)]
        rng.shuffle(entries)
        self.known += [a for a in fresh if a.html is not None]
        pages = [(a.url, a.html) for a in listed if a.html is not None]
        return NewsBatch(_sitemaps(entries, 4), pages, entries, {a.url: a for a in listed})


@dataclass
class NewsSim:
    """The DAG's stored-table semantics replayed on generator records."""

    newest_n: int
    min_words: int = 50
    links: dict[str, str | None] = field(default_factory=dict)
    articles: dict[str, Article] = field(default_factory=dict)

    def run(self, b: NewsBatch) -> dict:
        discovered = 0
        for url, lastmod in b.entries:
            if "www.bbc.com/news/" in url and url not in self.links:
                self.links[url] = lastmod
                discovered += 1
        art = sorted(u for u in self.links if u.startswith(f"{NEWS}articles/"))
        # lastmod desc with nulls last, url asc among ties (stable sort)
        newest = sorted(art, key=lambda u: self.links[u] or "", reverse=True)[: self.newest_n]
        fetched = {u for u, _ in b.pages}
        crawled = 0
        for u in newest:
            a = b.articles.get(u)
            if u in fetched and a.valid and u not in self.articles:
                self.articles[u] = a
                crawled += 1
        kept = [a for a in self.articles.values() if a.n_words > self.min_words]
        labels = {a.label for a in kept}
        days = {a.day for a in kept}
        return {
            "discover_links": discovered,
            "crawl_articles": crawled,
            "prepare": len(kept),
            "sentiment": len(kept),
            "emotion": len(kept),
            "stats": {
                "label_counts": len(labels),
                "daily_mean": len(days),
                "daily_share": len({(a.day, a.label) for a in kept}),
            },
        }

    def labels(self) -> dict[str, str]:
        return {u: a.label for u, a in self.articles.items() if a.n_words > self.min_words}


# ---------------------------------------------------------------------------
# corpus_dedup


@dataclass
class DedupCorpus:
    docs: list[tuple[int, str]]
    exact_survivors: int
    near_pairs: set[tuple[int, int]]  # (original id, near-copy id)
    emb: np.ndarray  # (n, dim) float32, row i is vec_id i


def _doc_words(rng: random.Random, n: int) -> list[str]:
    theme = THEMES[rng.choice(list(THEMES))]
    return [rng.choice(theme) if rng.random() < 0.5 else rng.choice(FILLER) + str(rng.randrange(400)) for _ in range(n)]


def dedup_corpus(seed: int, n_base: int, dim: int = 32) -> DedupCorpus:
    """``n_base`` distinct documents, then 10% exact copies (case and
    edge-whitespace variants, which the fingerprint normalises away) and
    10% near copies (last word replaced: Jaccard ≈ 0.99 over 5-shingles,
    so the 4x2 banding misses one with odds below 1e-6). Embeddings are
    unit vectors; 10% of rows are overwritten by a near copy of another
    row, so the LSH buckets hold pairs above any cosine threshold."""
    rng = random.Random(seed)
    docs = [(i, " ".join(_doc_words(rng, rng.randint(150, 260)))) for i in range(n_base)]
    near: set[tuple[int, int]] = set()
    nid = n_base
    for i in rng.sample(range(n_base), n_base // 10):
        docs.append((nid, "  " + docs[i][1].upper() + " "))
        nid += 1
    for i in rng.sample(range(n_base), n_base // 10):
        words = docs[i][1].split(" ")
        words[-1] = "edited" + str(rng.randrange(10**6))
        docs.append((nid, " ".join(words)))
        near.add((i, nid))
        nid += 1
    order = rng.sample(docs, len(docs))
    nprng = np.random.default_rng(seed)
    n = len(order)
    emb = nprng.standard_normal((n, dim)).astype(np.float32)
    for i in nprng.choice(n, size=n // 10, replace=False).tolist():
        j = int(nprng.integers(n))
        emb[j] = emb[i] + 0.05 * nprng.standard_normal(dim).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return DedupCorpus(order, n_base + n_base // 10, near, emb)


# ---------------------------------------------------------------------------
# news_stream


def stream_docs(seed: int, n_files: int, docs_per_file: int) -> tuple[list[list[tuple[int, str]]], set[int]]:
    """Per-file document lists (doc ids increase with file order) and the
    ids of planted near copies, each of a document in an earlier file."""
    rng = random.Random(seed)
    files: list[list[tuple[int, str]]] = []
    planted: set[int] = set()
    seen: list[str] = []
    doc_id = 0
    for f in range(n_files):
        docs = []
        for _ in range(docs_per_file):
            if f > 0 and rng.random() < 0.15:
                words = rng.choice(seen).split(" ")
                words[-1] = "edited" + str(doc_id)
                text = " ".join(words)
                planted.add(doc_id)
            else:
                text = " ".join(_doc_words(rng, rng.randint(150, 250)))
            docs.append((doc_id, text))
            doc_id += 1
        seen += [t for _, t in docs]
        files.append(docs)
    return files, planted
