"""Text-analysis / dedup operator plans over the `documents` table.

Covers the reference's text surface (cleaning F1–F12, word counts P3/U5,
word-frequency A11, vocab DF-filter A8, TF-IDF trending M9/A10) plus the
LLM-data-pipeline extensions (quality scoring, language-ID heuristic,
BPE-ish token counting, fingerprint dedup, MinHash signatures, n-gram
Jaccard near-dup pairs). Everything is native column algebra — the only
Python that ever runs per-row is in the md5/regex JVM builtins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.cleaning import clean_text_expr, clean_text_sql
from ..functions.textstats import (
    EN_STOPWORDS_CORE,
    TOKEN_REGEX,
    quality_score_cols,
    quality_sql,
    stop_token_count_expr,
    token_count_regex_expr,
    token_count_regex_sql,
)
from ..operators.dedup import fingerprint, ngram_jaccard_pairs, with_minhash
from ..sources.tables import load
from .dedup_plans import SHINGLE_K, _shingle_sql
from .registry import Query


# ---------------------------------------------------------------------------
# q30 — per-doc counting stats (SURVEY P3/U5 n_words; token counting ext.).
# ---------------------------------------------------------------------------
def q30_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        token_count_regex_expr("text").alias("n_tokens"),
    )


Q30_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
       {token_count_regex_sql('text')} AS n_tokens
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q31 — the reference's exact clean_text chain (SURVEY F1–F8/U1, §2.13
# quirks preserved). Whole chain is WholeStageCodegen'd regexp_replace.
# ---------------------------------------------------------------------------
def q31_clean_text_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Stage the chain once; the consumer select references the column twice
    # (output + word count) so CollapseProject won't duplicate the regexes.
    cleaned = docs.select("doc_id", clean_text_expr("text").alias("article_clean"))
    return cleaned.select(
        "doc_id",
        "article_clean",
        F.size(F.split("article_clean", " ")).cast("long").alias("n_words_clean"),
    )


Q31_SQL = f"""
SELECT doc_id,
       {clean_text_sql('text')} AS article_clean,
       CAST(len(str_split({clean_text_sql('text')}, ' ')) AS BIGINT) AS n_words_clean
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q32 — corpus word frequencies, top 20 (reference wordcloud input A11,
# stats_visualization.py:426-428). explode → partial-agg'd groupBy.
# ---------------------------------------------------------------------------
def q32_word_freq_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


Q32_SQL = """
SELECT word, count(*) AS n
FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents) t
GROUP BY word
ORDER BY n DESC, word
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q33 — document-frequency vocab filter (gensim filter_extremes semantics,
# topic_modeling.py:137; SURVEY A8): no_below=5, no_above=0.9.
# ---------------------------------------------------------------------------
def q33_vocab_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    df = (
        docs.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )
    return (
        df.crossJoin(F.broadcast(n_docs))
        .filter((F.col("df") >= 5) & (F.col("df") <= 0.9 * F.col("n_docs")))
        .select("word", "df")
        .orderBy(F.desc("df"), "word")
    )


Q33_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS word FROM documents
),
dfreq AS (SELECT word, count(*) AS df FROM tok GROUP BY word)
SELECT word, df
FROM dfreq
WHERE df >= 5 AND df <= 0.9 * (SELECT count(*) FROM documents)
ORDER BY df DESC, word
"""


# ---------------------------------------------------------------------------
# q34 — TF-IDF top terms (reference trending keywords M9/A10,
# stats_visualization.py:229-246): sklearn-style smooth idf,
# score(term) = Σ_docs tf·idf, top 15.
# ---------------------------------------------------------------------------
def q34_tfidf_top15(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    # idf is constant per word, so sum_docs(tf·idf) = idf·sum_docs(tf):
    # the second groupBy folds BOTH the document frequency (count of
    # (doc,word) rows) and the total term count out of the tf table in
    # one pass — tf is consumed once (no branch recompute), no tf⋈df
    # join, and the score is an exact int64 sum times one double
    # (deterministic, no FP-summation-order sensitivity).
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    agg = tf.groupBy("word").agg(
        F.sum("tf").alias("total_tf"), F.count("*").alias("df")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    idf = F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0
    return (
        agg.crossJoin(F.broadcast(n_docs))
        .select("word", F.round(F.col("total_tf") * idf, 4).alias("score"))
        .orderBy(F.desc("score"), "word")
        .limit(15)
    )


Q34_SQL = """
WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
agg AS (SELECT word, sum(tf) AS total_tf, count(*) AS df FROM tf GROUP BY word),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT word,
       round(total_tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 4) AS score
FROM agg CROSS JOIN n
ORDER BY score DESC, word
LIMIT 15
"""


# ---------------------------------------------------------------------------
# q35 — quality scoring (LLM-pipeline extension): length/stopword features
# and a composite score, all pure column algebra.
# ---------------------------------------------------------------------------
def q35_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cols = quality_score_cols("text")
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


Q35_SQL = quality_sql()


# ---------------------------------------------------------------------------
# q36 — language-ID heuristic (LLM-pipeline extension): English-stopword
# ratio threshold vs the labeled lang column → confusion counts.
# ---------------------------------------------------------------------------
def q36_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tokens = "split(text, ' ')"
    ratio = stop_token_count_expr(tokens) / F.expr(f"CAST(size({tokens}) AS BIGINT)")
    predicted = F.when(ratio >= 0.05, "en").otherwise("non_en")
    return (
        docs.withColumn("predicted", predicted)
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


_STOPLIST_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS_CORE)
Q36_SQL = f"""
SELECT lang,
       CASE WHEN CAST(len(list_filter(str_split(text, ' '),
                                      t -> t IN ({_STOPLIST_SQL}))) AS BIGINT)
                 / CAST(len(str_split(text, ' ')) AS BIGINT) >= 0.05
            THEN 'en' ELSE 'non_en' END AS predicted,
       count(*) AS n
FROM documents
GROUP BY 1, 2
ORDER BY lang, predicted
"""


# ---------------------------------------------------------------------------
# q37 — exact-dedup fingerprint stats (SURVEY A1 + LLM dedup extension):
# md5 of normalized text; one row of corpus-level dup counts.
# ---------------------------------------------------------------------------
def q37_fingerprint_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(fingerprint("text").alias("fp")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count("*") - F.countDistinct("fp")).cast("long").alias("n_dups"),
    )


Q37_SQL = """
SELECT count(*) AS n_docs,
       count(DISTINCT md5(lower(trim(text)))) AS n_unique,
       CAST(count(*) - count(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS n_dups
FROM documents
"""


# ---------------------------------------------------------------------------
# q38 — MinHash signatures (LLM dedup extension): 4 min-hash lanes from ONE
# md5 per 5-gram shingle (32-bit hex lanes), computed row-local (array_min
# over transform — zero shuffles, zero explodes).
# ---------------------------------------------------------------------------
def q38_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return with_minhash(docs, "doc_id", "text", n_hashes=4, k=SHINGLE_K)


Q38_SQL = f"""
WITH sh AS (
    SELECT doc_id, {_shingle_sql()} AS shingles
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
)
SELECT doc_id,
       list_aggregate(list_transform(shingles, s -> substring(md5('0:' || s), 1, 8)), 'min')  AS sig_0,
       list_aggregate(list_transform(shingles, s -> substring(md5('0:' || s), 9, 8)), 'min')  AS sig_1,
       list_aggregate(list_transform(shingles, s -> substring(md5('0:' || s), 17, 8)), 'min') AS sig_2,
       list_aggregate(list_transform(shingles, s -> substring(md5('0:' || s), 25, 8)), 'min') AS sig_3
FROM sh
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q39 — n-gram Jaccard near-dup pairs (LLM dedup extension): inverted-index
# join on 5-gram shingles; exact Jaccard on candidate pairs.
# ---------------------------------------------------------------------------
# The df cap is part of the QUERY DEFINITION and mirrored in the oracle,
# so parity holds at any scale BY CONSTRUCTION: shingles appearing in
# more than Q39_MAX_DF docs are boilerplate, carry no discriminative
# signal, and would cost df²/2 pairs each. The synthetic corpus tops out
# at df=4 (sf0.1), so the cap is invisible locally — it exists for the
# degenerate 100 TB case.
Q39_MAX_DF = 64


def q39_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", k=SHINGLE_K, min_jaccard=0.0, max_df=Q39_MAX_DF
    )


Q39_SQL = f"""
WITH sh AS (
    SELECT doc_id, unnest(list_distinct({_shingle_sql()})) AS shingle
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
kept AS (
    SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {Q39_MAX_DF}
),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN kept k ON k.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# q49 — sliding-window NPMI co-occurrence (the distributed core of c_v
# topic coherence, SURVEY M3/§7.4.1: gensim's c_v segments token streams
# into sliding windows and scores word pairs by NPMI). Position-windowed
# pair counting over the top-20 vocabulary: posexplode → broadcast vocab
# semi-join → self-join bounded by |Δpos| ≤ 5 within a doc.
# Scale: the join is per-doc and the vocab filter cuts positions first,
# so pair volume is O(docs · window · vocab-hits), never O(len²).
# ---------------------------------------------------------------------------
NPMI_WINDOW = 5
NPMI_VOCAB = 20


def q49_npmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    vocab = (
        tok.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(NPMI_VOCAB)
    )
    tokv = tok.join(F.broadcast(vocab.select("word")), "word")
    # Window co-occurrence WITHOUT a positional self-join (which would
    # shuffle the vocab-hit stream twice and recompute the explode branch
    # per side): collect each doc's vocab hits sorted by position — the
    # array is bounded by |vocab hits|, not doc length — then generate
    # within-window pairs row-locally, exactly one emission per unordered
    # position pair with distinct words (≡ the |Δpos|<=W, w_a<w_b join).
    # per_doc feeds THREE consumers (pairs, marginals, total); the lazy
    # localCheckpoint materializes it once instead of re-running the
    # token explode + vocab top-k per branch (plan audit: 10→6 shuffles).
    per_doc = (
        tokv.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "word"))).alias("hs"))
        .localCheckpoint(eager=False)
    )
    pair_stream = per_doc.select(
        F.explode_outer(
            F.flatten(
                F.transform(
                    "hs",
                    lambda x, i: F.transform(
                        F.filter(
                            F.slice(F.col("hs"), i + F.lit(2), F.size("hs")),
                            lambda y: (y["pos"] - x["pos"] <= NPMI_WINDOW)
                            & (y["word"] != x["word"]),
                        ),
                        lambda y: F.struct(
                            F.least(x["word"], y["word"]).alias("w_a"),
                            F.greatest(x["word"], y["word"]).alias("w_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).filter(F.col("p").isNotNull())
    pair_counts = pair_stream.groupBy(
        F.col("p.w_a").alias("w_a"), F.col("p.w_b").alias("w_b")
    ).agg(F.count("*").alias("n_ab"))
    # Marginals and the corpus total come from the SAME per_doc arrays
    # (explode(hs) ≡ the vocab-hit stream), so the checkpoint is the only
    # upstream work any consumer repeats.
    marg = (
        per_doc.select(F.explode("hs").alias("h"))
        .groupBy(F.col("h.word").alias("word"))
        .agg(F.count("*").alias("n_w"))
    )
    total = per_doc.agg(F.sum(F.size("hs")).alias("n_total"))
    ma = marg.select(F.col("word").alias("w_a"), F.col("n_w").alias("n_a"))
    mb = marg.select(F.col("word").alias("w_b"), F.col("n_w").alias("n_b"))
    pmi = F.log(
        (F.col("n_ab").cast("double") * F.col("n_total"))
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    denom = -F.log(F.col("n_ab").cast("double") / F.col("n_total"))
    return (
        pair_counts.join(F.broadcast(ma), "w_a")
        .join(F.broadcast(mb), "w_b")
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_ab") >= 5)  # sparse pairs carry no stable signal
        .select("w_a", "w_b", "n_ab", (F.round(pmi / denom, 4) + F.lit(0.0)).alias("npmi"))
        .orderBy("w_a", "w_b")
    )


Q49_SQL = f"""
WITH base AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
tok0 AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS pos, l FROM base),
tok AS (SELECT doc_id, pos, l[pos] AS word FROM tok0),
vocab AS (
    SELECT word FROM (
        SELECT word, count(*) AS n FROM tok GROUP BY word
        ORDER BY n DESC, word LIMIT {NPMI_VOCAB}
    )
),
tokv AS (SELECT t.* FROM tok t JOIN vocab v USING (word)),
pair_counts AS (
    SELECT a.word AS w_a, b.word AS w_b, count(*) AS n_ab
    FROM tokv a JOIN tokv b
      ON a.doc_id = b.doc_id
     AND abs(a.pos - b.pos) <= {NPMI_WINDOW}
     AND a.word < b.word
    GROUP BY 1, 2
),
marg AS (SELECT word, count(*) AS n_w FROM tokv GROUP BY word),
total AS (SELECT count(*) AS n_total FROM tokv)
SELECT w_a, w_b, n_ab,
       round(
           ln((CAST(n_ab AS DOUBLE) * n_total) / (CAST(ma.n_w AS DOUBLE) * mb.n_w))
           / (-ln(CAST(n_ab AS DOUBLE) / n_total)),
       4) + 0.0 AS npmi
FROM pair_counts
JOIN marg ma ON ma.word = w_a
JOIN marg mb ON mb.word = w_b
CROSS JOIN total
WHERE n_ab >= 5
ORDER BY w_a, w_b
"""


# ---------------------------------------------------------------------------
# q92 — BPE-ish token counting (LLM-pipeline ext): a GPT-style
# pre-tokenizer regex (contraction suffixes, space-prefixed letter runs,
# digit runs, punctuation runs, whitespace runs) WITHOUT lookahead so Java
# regex (Spark) and RE2 (DuckDB) agree exactly — verified 0 mismatches at
# sf0.01. The bpe/whitespace ratio is the budget multiplier an LLM data
# pipeline uses to convert word counts into token-budget estimates.
# Row-local end to end; the per-lang rollup is the only shuffle.
# ---------------------------------------------------------------------------
BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def q92_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_ws"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PAT), 0)).cast("long").alias("n_bpe"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_ws").alias("ws_tokens"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.round(F.sum("n_bpe") / F.sum("n_ws"), 4).alias("bpe_per_ws"),
        )
        .orderBy("lang")
    )


_BPE_SQL_PAT = BPE_PAT.replace("'", "''")

Q92_SQL = f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '{_BPE_SQL_PAT}'))) AS BIGINT) AS bpe_tokens,
       round(sum(len(regexp_extract_all(text, '{_BPE_SQL_PAT}')))
             / sum(len(str_split(text, ' '))), 4) AS bpe_per_ws
FROM documents
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# q95 — character-n-gram language ID (the n-gram-profile heuristic that
# complements q36's stopword-ratio classifier). Per-language trigram
# profiles are authored constants living IN the plan (broadcast-free
# literals, like the LSH planes); a doc's score per language is the
# total occurrence count of that language's trigrams, computed with the
# substring-erasure identity count = (len(s) - len(replace(s, t))) / 3 —
# pure string algebra both engines evaluate identically, no UDF.
# Prediction = argmax with ties to the lexicographically smallest
# language via min over (-score, lang) structs. Row-local end-to-end:
# the only plan nodes are scan → project → sort. At real scale the
# profiles grow to a few hundred hashed n-grams per language; the shape
# (constant profiles × one pass over text) is unchanged.
# ---------------------------------------------------------------------------
# Mixed-length character n-gram profiles (mostly trigrams; es includes the
# 4-gram "ción") — _tri_count divides by each n-gram's own length, so
# counts stay exact for any length.
LANG_NGRAMS: dict[str, list[str]] = {
    "en": ["the", " th", "he ", "ing", "and", " an", "ion", " of", "of ", "ed "],
    "es": [" de", "de ", "os ", " la", "la ", "ción", "ar ", " el", "es ", "ado"],
    "de": ["der", " de", "ein", "ich", "sch", "und", " un", "en ", "cht", "ung"],
    "fr": [" le", "le ", " de", "es ", "ent", "que", " qu", "ion", "eur", "ais"],
}


def _tri_count(text: F.Column, tri: str) -> F.Column:
    """Occurrence count of ``tri`` in ``text`` via the substring-erasure
    identity. Built from the PASSED column (ADVICE r3: the previous form
    hard-coded `_lc` inside an F.expr, silently ignoring the argument)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(tri), F.lit("")))) / F.lit(
        len(tri)
    )


def q95_charngram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn("_lc", F.lower("text"))
    scores = {
        lang: sum(
            (_tri_count(F.col("_lc"), t) for t in tris), F.lit(0.0)
        ).cast("bigint")
        for lang, tris in LANG_NGRAMS.items()
    }
    best = F.least(
        *[
            F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_NGRAMS)
        ]
    )
    return (
        docs.select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            best["lang"].alias("pred_lang"),
            (-best["neg"]).alias("pred_hits"),
        )
        .filter(F.col("doc_id") < 200)
        .orderBy("doc_id")
    )


def _tri_count_sql(tri: str) -> str:
    esc = tri.replace("'", "''")
    return f"(len(lc) - len(replace(lc, '{esc}', ''))) / {len(tri)}"


def _lang_score_sql(lang: str) -> str:
    return "CAST(" + " + ".join(_tri_count_sql(t) for t in LANG_NGRAMS[lang]) + " AS BIGINT)"


Q95_SQL = f"""
WITH lc AS (SELECT doc_id, lang, lower(text) AS lc FROM documents WHERE doc_id < 200),
scored AS (
    SELECT doc_id, lang,
           (list_sort([{", ".join(
               "{'neg': -" + _lang_score_sql(lang) + ", 'lang': '" + lang + "'}"
               for lang in sorted(LANG_NGRAMS)
           )}]))[1] AS best
    FROM lc
)
SELECT doc_id, lang AS labeled_lang, best.lang AS pred_lang, -best.neg AS pred_hits
FROM scored
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q98 — BPE tokenizer-TRAINING pair-count step (LLM-pipeline ext,
# Sennrich et al. 2016): the inner loop of byte-pair-encoding training is
# "count every adjacent symbol pair across the corpus, weighted by word
# frequency; merge the argmax". The scale design IS the semantics here:
# pair counting runs over the DISTINCT-WORD table weighted by word count
# (|vocab| rows, Zipf-bounded — sublinear in corpus size), never over raw
# tokens — counting pairs on the exploded token stream would shuffle
# O(corpus) rows per merge iteration where this shape shuffles O(|vocab|).
# Two hash shuffles (word rollup, pair rollup) + TakeOrderedAndProject
# for the top-k; the first rollup is map-side combinable so the exploded
# token stream never crosses the wire either. Repeated pairs within one
# word each count (BPE occurrence semantics), mirrored by the oracle's
# per-position generate_series.
# ---------------------------------------------------------------------------
_Q98_TOPK = 20


def q98_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(_Q98_TOPK)
    )


Q98_SQL = f"""
WITH vocab AS (
    SELECT w, count(*) AS wc
    FROM (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents) t
    WHERE length(w) >= 2
    GROUP BY w
),
pairs AS (
    SELECT substring(w, i, 2) AS pair, wc
    FROM vocab, unnest(generate_series(1, length(w) - 1)) AS t(i)
)
SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT {_Q98_TOPK}
"""


# ---------------------------------------------------------------------------
# q102 — unigram-LM log-probability quality score (LLM-pipeline ext): the
# CCNet-style "perplexity bucket" filter (Wenzek et al. 2020,
# arXiv:1911.00359) with the corpus's own unigram model standing in for
# the external KenLM 5-gram (no model download in this container; the
# pipeline SHAPE — train counts on the corpus, score every doc, filter by
# bucket — is identical). bits_per_token = mean over tokens of
# -log2 P(w), P(w) = count(w)/total; low = stereotyped/boilerplate text,
# high = noise — both tails get dropped in a real curation pass.
#
# Scale shape: tokens roll up to (doc, word) BEFORE the vocab join
# (map-side combinable, same trick as q98's vocab rollup), so the join
# input is per-doc DISTINCT words, not the raw token stream; the vocab
# itself is Zipf-bounded. The corpus total is a 1-row scalar, broadcast.
# Float caveat (registry header): per-doc sum of c·ln(wc) accumulates in
# engine-specific order; round(,4) absorbs the last-ulp drift.
# ---------------------------------------------------------------------------
def q102_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
    dw = toks.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    vocab = dw.groupBy("w").agg(F.sum("c").alias("wc"))
    tot = vocab.agg(F.sum("wc").alias("t"))
    per_doc = (
        dw.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.log("wc")).alias("s_ln"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                (F.log("t") - F.col("s_ln") / F.col("n_tokens")) / F.log(F.lit(2.0)), 4
            ).alias("bits_per_token"),
        )
        .orderBy("doc_id")
    )


Q102_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(str_split(lower(text), ' ')) AS w FROM documents
),
dw AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
vocab AS (SELECT w, sum(c) AS wc FROM dw GROUP BY w),
tot AS (SELECT sum(wc) AS t FROM vocab),
per_doc AS (
    SELECT dw.doc_id, CAST(sum(dw.c) AS BIGINT) AS n_tokens,
           sum(dw.c * ln(vocab.wc)) AS s_ln
    FROM dw JOIN vocab USING (w)
    GROUP BY dw.doc_id
)
SELECT doc_id, n_tokens,
       round((ln((SELECT t FROM tot)) - s_ln / n_tokens) / ln(2.0), 4)
           AS bits_per_token
FROM per_doc
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q118 — interpolated bigram-LM quality score (ext): the next rung of the
# CCNet perplexity-filter ladder above q102's unigram model (Wenzek et
# al. 2020 — the real pipeline uses a KenLM 5-gram; the bigram with
# unigram-interpolation smoothing captures the structure: conditional
# corpus statistics, backoff mass, per-doc bits-per-token). Model:
#   P(w2|w1) = λ·c(w1,w2)/c(w1·) + (1−λ)·c(w2)/T,   λ = 0.7
# where c(w1·) counts w1 as a PREDECESSOR (positions 1..n−1) so the
# conditional rows sum to exactly λ, and the unigram backoff uses the
# full token count T. Per doc: bits_per_bigram = −Σ c·ln P / (n·ln 2).
#
# Scale shape (q102's discipline, one level up): bigrams are built
# ROW-LOCALLY (zip of the token array with its own tail — no positional
# self-join, no explode-then-lag window), rolled up to (doc, w1, w2)
# counts map-side BEFORE any vocab join; the probability table is
# computed once per DISTINCT corpus bigram (Zipf-bounded, like the
# vocab), then equi-joined back to the per-doc rollup. Every shuffle key
# is a vocab key or doc_id — nothing scales with raw token count except
# the first map-side combine. Float caveat as q102: the per-doc Σ c·ln P
# accumulates in engine-specific order; round(,4) absorbs last-ulp
# drift (ln itself may differ by 1 ulp across libms).
# ---------------------------------------------------------------------------
_Q118_LAMBDA = 0.7


def q118_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.lower("text"), " ").alias("ts"))
    bg = (
        toks.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2),"
                    " i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
                )
            ).alias("u"),
        )
        .select("doc_id", "u.w1", "u.w2")
    )
    db = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c"))
    bv = db.groupBy("w1", "w2").agg(F.sum("c").alias("bc"))
    pred = bv.groupBy("w1").agg(F.sum("bc").alias("c1"))
    uni = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("uc"))
    )
    tot = uni.agg(F.sum("uc").alias("t"))
    lam = F.lit(_Q118_LAMBDA)
    p = (
        bv.join(pred, "w1")
        .join(uni.withColumnRenamed("w", "w2"), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.log(
                lam * F.col("bc") / F.col("c1")
                + F.lit(1.0 - _Q118_LAMBDA) * F.col("uc") / F.col("t")
            ).alias("lp"),
        )
    )
    per_doc = (
        db.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("lp")).alias("s"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        (
            F.round(-F.col("s") / F.col("n_bigrams") / F.log(F.lit(2.0)), 4)
            + F.lit(0.0)
        ).alias("bits_per_bigram"),
    )


Q118_SQL = f"""
WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS ts FROM documents),
bg AS (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
           i -> struct_pack(w1 := ts[i], w2 := ts[i + 1]))) AS u
    FROM toks WHERE len(ts) >= 2
),
db AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, count(*) AS c FROM bg GROUP BY ALL),
bv AS (SELECT w1, w2, sum(c) AS bc FROM db GROUP BY ALL),
pred AS (SELECT w1, sum(bc) AS c1 FROM bv GROUP BY w1),
uni AS (
    SELECT w, count(*) AS uc
    FROM (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents)
    GROUP BY w
),
tot AS (SELECT sum(uc) AS t FROM uni),
p AS (
    SELECT bv.w1, bv.w2,
           ln({_Q118_LAMBDA!r} * bv.bc / pred.c1
              + {1.0 - _Q118_LAMBDA!r} * uni.uc / (SELECT t FROM tot)) AS lp
    FROM bv JOIN pred USING (w1) JOIN uni ON uni.w = bv.w2
),
per_doc AS (
    SELECT db.doc_id, CAST(sum(db.c) AS BIGINT) AS n_bigrams,
           sum(db.c * p.lp) AS s
    FROM db JOIN p USING (w1, w2)
    GROUP BY db.doc_id
)
SELECT doc_id, n_bigrams,
       round(-s / n_bigrams / ln(2.0), 4) + 0.0 AS bits_per_bigram
FROM per_doc
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q273 — Kneser–Ney smoothed bigram LM (ext): the top rung of the
# perplexity-filter ladder (q102 unigram → q118 interpolated bigram →
# KN here) — the smoothing KenLM actually ships (Kneser & Ney 1995;
# Chen & Goodman 1999 interpolated form):
#   P_KN(w2|w1) = max(c(w1,w2) − d, 0)/c(w1·)
#               + d·N1+(w1,·)/c(w1·) · N1+(·,w2)/N1+(··),   d = 0.75
# The CONTINUATION distribution N1+(·,w2)/N1+(··) — "in how many
# distinct contexts does w2 appear" — is what distinguishes KN from
# q118's frequency interpolation: a token frequent only inside one
# collocation ("Francisco") gets low continuation mass even though its
# raw unigram count is high. All model ingredients are exact integer
# counts (bigram counts, predecessor totals, distinct-successor /
# distinct-predecessor type counts, total bigram types), assembled
# into one probability expression per DISTINCT corpus bigram; per-doc
# bits ride q118's rollup shape and float caveat (per-doc Σ c·ln P,
# round 4dp). Scale: identical to q118 — row-local bigram zip,
# map-side (doc,w1,w2) combine, vocab-keyed joins only; the two
# count-distinct rollups are plain partial-agg groupBys on vocab keys.
# ---------------------------------------------------------------------------
_Q273_D = 0.75


def q273_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.lower("text"), " ").alias("ts"))
    bg = (
        toks.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2),"
                    " i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
                )
            ).alias("u"),
        )
        .select("doc_id", "u.w1", "u.w2")
    )
    db = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c"))
    bv = db.groupBy("w1", "w2").agg(F.sum("c").alias("bc")).localCheckpoint(
        eager=False
    )  # feeds predecessor totals + both type rollups + the prob table
    pred = bv.groupBy("w1").agg(
        F.sum("bc").alias("c1"),
        F.count("*").cast("long").alias("n1_fwd"),  # N1+(w1,·)
    )
    cont = bv.groupBy("w2").agg(F.count("*").cast("long").alias("n1_bwd"))
    ntypes = bv.agg(F.count("*").cast("long").alias("nt"))
    d = F.lit(_Q273_D)
    p = (
        bv.join(pred, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(ntypes))
        .select(
            "w1",
            "w2",
            F.log(
                F.greatest(F.col("bc") - d, F.lit(0.0)) / F.col("c1")
                + d
                * F.col("n1_fwd")
                / F.col("c1")
                * (F.col("n1_bwd") / F.col("nt"))
            ).alias("lp"),
        )
    )
    per_doc = (
        db.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("lp")).alias("s"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        (
            F.round(-F.col("s") / F.col("n_bigrams") / F.log(F.lit(2.0)), 4)
            + F.lit(0.0)
        ).alias("kn_bits_per_bigram"),
    ).orderBy("doc_id")


Q273_SQL = f"""
WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS ts FROM documents),
bg AS (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
           i -> struct_pack(w1 := ts[i], w2 := ts[i + 1]))) AS u
    FROM toks WHERE len(ts) >= 2
),
db AS (
    SELECT doc_id, u.w1 AS w1, u.w2 AS w2, count(*) AS c
    FROM bg GROUP BY doc_id, u.w1, u.w2
),
bv AS MATERIALIZED (
    SELECT w1, w2, CAST(sum(c) AS BIGINT) AS bc FROM db GROUP BY w1, w2
),
pred AS (
    SELECT w1, CAST(sum(bc) AS BIGINT) AS c1,
           CAST(count(*) AS BIGINT) AS n1_fwd
    FROM bv GROUP BY w1
),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_bwd FROM bv GROUP BY w2),
ntypes AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM bv),
p AS (
    SELECT bv.w1, bv.w2,
           ln(greatest(bv.bc - {_Q273_D}, 0.0) / pr.c1
              + {_Q273_D} * pr.n1_fwd / pr.c1 * (co.n1_bwd / CAST(nt.nt AS DOUBLE)))
               AS lp
    FROM bv
    JOIN pred pr USING (w1)
    JOIN cont co USING (w2)
    CROSS JOIN ntypes nt
),
per_doc AS (
    SELECT db.doc_id,
           CAST(sum(db.c) AS BIGINT) AS n_bigrams,
           sum(db.c * p.lp) AS s
    FROM db JOIN p ON p.w1 = db.w1 AND p.w2 = db.w2
    GROUP BY db.doc_id
)
SELECT doc_id, n_bigrams,
       round(-s / n_bigrams / ln(2.0), 4) + 0.0 AS kn_bits_per_bigram
FROM per_doc
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q106 — BPE tokenizer APPLY step (the encode-side twin of q98's
# pair-count TRAINING step; Sennrich et al. 2016 §3): apply an ordered,
# externally-trained merge list to the corpus and report the resulting
# token budget per language. Each word is lifted to a sentinel-spaced
# symbol string (" w a t c h ") and each merge (a,b) is one literal
# " a b " -> " ab " replace — the surrounding spaces make the pattern
# match WHOLE symbols only (never the tail of a longer symbol), and
# later merges see earlier merges' output (the " th e " rule below only
# fires after " t h " has produced "th"). Merge application is
# left-to-right non-overlapping per pass — one replace pass per rule,
# identical in Spark's StringReplace and DuckDB's replace.
#
# Scale shape is q98's: the merge chain runs over the DISTINCT
# (lang, word) table weighted by word count — O(|vocab|) rows, never the
# raw token stream — and the chain itself is row-local codegen'd string
# algebra. The merge list is an authored constant (in a real pipeline it
# is the artifact q98's training loop produces); swapping in a learned
# list changes no plan shape.
# ---------------------------------------------------------------------------
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("r", "e"), ("o", "n"), ("a", "t"), ("th", "e"),
)


def q106_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("lang", "w")
        .agg(F.count("*").alias("wc"))
    )
    spaced = F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 "))
    for a, b in BPE_MERGES:
        spaced = F.replace(spaced, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    n_tok = (
        F.length(spaced) - F.length(F.replace(spaced, F.lit(" "), F.lit(""))) - 1
    ).cast("long")
    return (
        vocab.select("lang", "wc", n_tok.alias("nt"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("wc").cast("long").alias("ws_tokens"),
            F.sum(F.col("wc") * F.col("nt")).cast("long").alias("bpe_tokens"),
            F.round(F.sum(F.col("wc") * F.col("nt")) / F.sum("wc"), 4).alias(
                "tokens_per_word"
            ),
        )
        .orderBy("lang")
    )


def _q106_chain_sql() -> str:
    expr = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"
    for a, b in BPE_MERGES:
        expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return expr


Q106_SQL = f"""
WITH vocab AS (
    SELECT lang, w, count(*) AS wc
    FROM (SELECT lang, unnest(str_split(lower(text), ' ')) AS w FROM documents) t
    WHERE length(w) >= 1
    GROUP BY lang, w
),
tok AS (
    SELECT lang, wc,
           length({_q106_chain_sql()})
             - length(replace({_q106_chain_sql()}, ' ', '')) - 1 AS nt
    FROM vocab
)
SELECT lang,
       count(*) AS n_words,
       CAST(sum(wc) AS BIGINT) AS ws_tokens,
       CAST(sum(wc * nt) AS BIGINT) AS bpe_tokens,
       round(sum(wc * nt) / sum(wc), 4) AS tokens_per_word
FROM tok
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# q163 — BPE training, K=3 CHAINED merge iterations (closing the
# iterate-to-convergence contract for the tokenizer family, the q127/
# q139 pattern): each step counts adjacent symbol pairs over the
# CURRENT spaced vocabulary (q98's step), merges the argmax (count
# desc, pair asc — total order), and the NEXT step's counts run over
# the merged strings — so a green row proves state genuinely flows
# between iterations, not three independent counts. Emits per step the
# merged pair, its count, and the corpus token budget after the merge
# (monotone decreasing — each merge saves exactly pair_count symbols
# under single-pass replace semantics, asserted in tests).
#
# Scale shape is q98's, held ACROSS iterations: every step runs over
# the distinct-word table (Zipf-bounded), the argmax is a 1-row
# TakeOrdered broadcast, the merge itself is row-local codegen'd string
# replace (left-to-right non-overlapping, identical in Spark and
# DuckDB — the q106 quirk), and the vocab is lineage-pinned per step so
# iteration k+1 never recomputes k. The oracle unrolls the three steps
# as CTEs.
# ---------------------------------------------------------------------------
_Q163_K = 3


def q163_bpe_chained_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        .select(
            F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("s"),
            "wc",
        )
        .localCheckpoint(eager=False)
    )

    def pair_counts(df: DataFrame) -> DataFrame:
        syms = F.split(F.trim(F.col("s")), " ")
        prs = F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
            ),
        )
        return (
            df.filter(F.size(syms) >= 2)
            .select(F.explode(prs).alias("pr"), "wc")
            .groupBy("pr")
            .agg(F.sum("wc").alias("pc"))
        )

    cur = vocab
    steps = []
    for k in range(1, _Q163_K + 1):
        best = (
            pair_counts(cur).orderBy(F.desc("pc"), F.asc("pr")).limit(1)
        )
        cur = (
            cur.crossJoin(F.broadcast(best))
            .withColumn(
                "s",
                F.replace(
                    F.col("s"),
                    F.concat(F.lit(" "), F.col("pr"), F.lit(" ")),
                    F.concat(
                        F.lit(" "),
                        F.replace(F.col("pr"), F.lit(" "), F.lit("")),
                        F.lit(" "),
                    ),
                ),
            )
            .select("s", "wc")
            .localCheckpoint(eager=False)  # feeds step k+1 AND this step's budget
        )
        n_sym = F.size(F.split(F.trim(F.col("s")), " "))
        budget = cur.agg(
            F.sum(F.col("wc") * n_sym).cast("long").alias("corpus_tokens_after")
        )
        steps.append(
            best.crossJoin(F.broadcast(budget)).select(
                F.lit(k).cast("int").alias("step"),
                F.col("pr").alias("merged_pair"),
                F.col("pc").cast("long").alias("pair_count"),
                "corpus_tokens_after",
            )
        )
    out = steps[0]
    for s_df in steps[1:]:
        out = out.unionByName(s_df)
    return out.orderBy("step")


def _q163_sql() -> str:
    spaced = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"
    pieces = [
        f"v0 AS (SELECT {spaced} AS s, wc FROM vocab)",
    ]
    for k in range(1, _Q163_K + 1):
        prev = f"v{k - 1}"
        pieces.append(
            f"""p{k} AS (
    SELECT pr, SUM(wc) AS pc FROM (
        SELECT unnest(list_transform(
                   generate_series(1, len(str_split(trim(s), ' ')) - 1),
                   i -> str_split(trim(s), ' ')[i] || ' '
                        || str_split(trim(s), ' ')[i + 1])) AS pr, wc
        FROM {prev} WHERE len(str_split(trim(s), ' ')) >= 2
    ) GROUP BY pr
)"""
        )
        pieces.append(
            f"b{k} AS (SELECT pr, pc FROM p{k} ORDER BY pc DESC, pr LIMIT 1)"
        )
        pieces.append(
            f"""v{k} AS (
    SELECT replace(s, ' ' || b.pr || ' ',
                   ' ' || replace(b.pr, ' ', '') || ' ') AS s, wc
    FROM {prev} CROSS JOIN b{k} b
)"""
        )
        pieces.append(
            f"""t{k} AS (
    SELECT CAST(SUM(wc * len(str_split(trim(s), ' '))) AS BIGINT)
               AS corpus_tokens_after
    FROM v{k}
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS step, b{k}.pr AS merged_pair, "
        f"CAST(b{k}.pc AS BIGINT) AS pair_count, t{k}.corpus_tokens_after "
        f"FROM b{k} CROSS JOIN t{k}"
        for k in range(1, _Q163_K + 1)
    )
    return (
        "WITH vocab AS (\n"
        "    SELECT w, count(*) AS wc\n"
        "    FROM (SELECT unnest(str_split(lower(text), ' ')) AS w"
        " FROM documents) t\n"
        "    WHERE length(w) >= 2 GROUP BY w\n"
        "),\n"
        + ",\n".join(pieces)
        + f"\nSELECT * FROM ({selects}) ORDER BY step"
    )


Q163_SQL = _q163_sql()


# ---------------------------------------------------------------------------
# q236 — Jensen–Shannon token-distribution drift (ext): the
# mixture-shift detector a 100 TB corpus build runs per ingest source —
# "does src_k's vocabulary distribution diverge from the rest of the
# corpus?" JS (symmetric, bounded [0,1] in bits) is the standard
# corpus-drift metric where PSI (q73) needs binning and KS (q196) needs
# an ordered domain. Per source s over word w: p = c_sw/N_s vs the
# complement q = (c_w − c_sw)/(N − N_s);
# JS = ½Σ p·ln(2p/(p+q)) + ½Σ q·ln(2q/(p+q)), in bits.
#
# Determinism at corpus scale: a straight float Σ over a corpus-sized
# vocab accumulates in engine/shuffle order — NOT reproducible. So each
# WORD's contribution is computed as a double from EXACT integer counts
# (identical expression tree both engines), floor-scaled to an integer
# at 1e12, and summed as integers — order-free, retry-safe, the q226
# floor-scaled-objective pattern. Ratios go through doubles BEFORE
# multiplication (a·N_rest overflows int64 at 100 TB token counts).
# Scale: one (source, word) rollup joined to the word rollup — the
# corpus never collapses to a driver; output is |sources| rows.
# ---------------------------------------------------------------------------
_Q236_SCALE = 1_000_000_000_000  # 1e12: contribution grid


def q236_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") >= 1)
    sw = toks.groupBy("source", "w").agg(F.count("*").alias("a"))
    wtot = sw.groupBy("w").agg(F.sum("a").alias("cw"))
    stot = sw.groupBy("source").agg(F.sum("a").alias("ns"))
    gtot = wtot.agg(F.sum("cw").alias("n"))
    cells = (
        sw.join(wtot, "w")
        .join(stot, "source")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            "ns",
            F.col("a").cast("double").alias("ad"),
            (F.col("cw") - F.col("a")).cast("double").alias("bd"),
            F.col("ns").cast("double").alias("nsd"),
            (F.col("n") - F.col("ns")).cast("double").alias("nrd"),
        )
    )
    p = F.col("ad") / F.col("nsd")
    q = F.col("bd") / F.col("nrd")
    # 0·ln0 := 0 on both branches; a>0 always holds here (cells exist
    # only where the source saw the word), b can be 0
    term = (
        F.lit(0.5) * p * F.log(F.lit(2.0) * p / (p + q))
        + F.when(
            F.col("bd") > 0,
            F.lit(0.5) * q * F.log(F.lit(2.0) * q / (p + q)),
        ).otherwise(F.lit(0.0))
    )
    scaled = cells.select(
        "source",
        "ns",
        F.floor(term * F.lit(float(_Q236_SCALE))).cast("long").alias("ts"),
    )
    # words the source NEVER saw contribute ½·q·ln2 each; their total is
    # ½·ln2·(missing mass) = ½·ln2·(N−Ns−Σ_seen b)/(N−Ns) — closed form,
    # no dense grid needed
    seen_b = (
        cells.groupBy("source", "ns", "nrd")
        .agg(F.sum("bd").alias("sb"))
        .select(
            "source",
            F.floor(
                F.lit(0.5)
                * ((F.col("nrd") - F.col("sb")) / F.col("nrd"))
                * F.log(F.lit(2.0))
                * F.lit(float(_Q236_SCALE))
            )
            .cast("long")
            .alias("miss_ts"),
        )
    )
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    return (
        scaled.groupBy("source", "ns")
        .agg(F.sum("ts").alias("sum_ts"), F.count("*").alias("n_types"))
        .join(seen_b, "source")
        .select(
            "source",
            F.col("ns").cast("long").alias("n_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
            r6(
                (F.col("sum_ts") + F.col("miss_ts")).cast("double")
                / F.lit(float(_Q236_SCALE))
                / F.log(F.lit(2.0))
            ).alias("js_bits"),
        )
        .orderBy("source")
    )


Q236_SQL = f"""
WITH toks AS (
    SELECT source, unnest(str_split(lower(text), ' ')) AS w FROM documents
),
sw AS (
    SELECT source, w, count(*) AS a FROM toks WHERE length(w) >= 1
    GROUP BY 1, 2
),
wtot AS (SELECT w, sum(a) AS cw FROM sw GROUP BY 1),
stot AS (SELECT source, sum(a) AS ns FROM sw GROUP BY 1),
gtot AS (SELECT sum(cw) AS n FROM wtot),
cells AS (
    SELECT sw.source, stot.ns,
           CAST(sw.a AS DOUBLE) AS ad,
           CAST(wtot.cw - sw.a AS DOUBLE) AS bd,
           CAST(stot.ns AS DOUBLE) AS nsd,
           CAST(gtot.n - stot.ns AS DOUBLE) AS nrd
    FROM sw
    JOIN wtot USING (w)
    JOIN stot USING (source)
    CROSS JOIN gtot
),
scaled AS (
    SELECT source, ns,
           CAST(floor((0.5 * (ad / nsd)
                       * ln(2.0 * (ad / nsd) / (ad / nsd + bd / nrd))
                       + CASE WHEN bd > 0
                              THEN 0.5 * (bd / nrd)
                                   * ln(2.0 * (bd / nrd)
                                        / (ad / nsd + bd / nrd))
                              ELSE 0.0 END) * {_Q236_SCALE}) AS BIGINT)
               AS ts,
           bd, nrd
    FROM cells
),
miss AS (
    SELECT source,
           CAST(floor(0.5 * ((any_value(nrd) - sum(bd)) / any_value(nrd))
                      * ln(2.0) * {_Q236_SCALE}) AS BIGINT) AS miss_ts
    FROM scaled GROUP BY source
)
SELECT s.source,
       CAST(any_value(s.ns) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       floor(CAST(sum(s.ts) + any_value(m.miss_ts) AS DOUBLE)
             / {_Q236_SCALE} / ln(2.0) * 1000000 + 0.5) / 1000000.0
           AS js_bits
FROM scaled s JOIN miss m USING (source)
GROUP BY s.source
ORDER BY s.source
"""


# ---------------------------------------------------------------------------
# q251 — greedy weighted set cover for source selection (ext): the
# data-ACQUISITION planner — "which K ingest sources buy the most
# vocabulary coverage?" Classic greedy max-cover (1−1/e approximation,
# the best any polynomial algorithm achieves): each round picks the
# source with the largest MARGINAL distinct-word gain over everything
# covered so far. Distributed rounds: gain = (source, word) rollup
# anti-joined against the covered-word set (both corpus-scale frames,
# shuffled on the word key — the covered set is never broadcast by
# hint and never collected); the pick is a 1-row argmax flowing as a
# frame; K is fixed and unrolled. Coverage fractions are exact
# integer ratios.
# ---------------------------------------------------------------------------
_Q251_K = 4


def q251_greedy_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_from_tokens

    docs = load(spark, sf_dir, "documents")
    # cover 3-gram shingles, not words: the synthetic zipfian WORD vocab
    # saturates from one source (31 words at sf0.001) — shingle space is
    # the realistic acquisition unit and keeps marginal gains non-trivial
    toked = docs.select("source", F.split("text", " ").alias("_toks")).filter(
        F.size("_toks") >= 3
    )
    sw = (
        toked.select(
            "source", F.explode(shingles_from_tokens("_toks", 3)).alias("w")
        )
        .distinct()
        .localCheckpoint(eager=False)  # K gain scans reference this
    )
    vtot = sw.select("w").distinct().agg(F.count("*").alias("v_total"))
    covered = None
    picked = None
    rows = []
    for k in range(1, _Q251_K + 1):
        remaining = sw if covered is None else sw.join(covered, "w", "left_anti")
        if picked is not None:
            remaining = remaining.join(picked, "source", "left_anti")
        gains = remaining.groupBy("source").agg(F.count("*").alias("gain"))
        # argmax with smallest-source tiebreak: restrict to the max-gain
        # tie set (1-row join key), then min(source) — string "max then
        # min" has no single struct-extremum, so two tiny aggs
        pick = (
            gains.join(
                gains.agg(F.max("gain").alias("gain")), "gain"
            )
            .groupBy("gain")
            .agg(F.min("source").alias("source"))
            .select("source", "gain")
            .localCheckpoint(eager=False)  # joins below + next round
        )
        newly = sw.join(pick.select("source"), "source").select("w").distinct()
        covered = (
            newly
            if covered is None
            else covered.union(newly).distinct()
        )
        covered = covered.localCheckpoint(eager=False)
        picked = (
            pick.select("source")
            if picked is None
            else picked.union(pick.select("source")).localCheckpoint(eager=False)
        )
        ccnt = covered.agg(F.count("*").alias("n_covered"))
        rows.append(
            pick.crossJoin(ccnt)
            .crossJoin(F.broadcast(vtot))
            .select(
                F.lit(k).alias("round"),
                "source",
                F.col("gain").cast("long").alias("gain_words"),
                F.col("n_covered").cast("long").alias("cum_covered"),
                (
                    F.floor(
                        F.col("n_covered").cast("double")
                        / F.col("v_total").cast("double")
                        * 1000000
                        + F.lit(0.5)
                    )
                    / F.lit(1000000.0)
                ).alias("coverage_frac"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out.orderBy("round")


def _q251_sql() -> str:
    parts = [
        f"""sw AS (
    SELECT DISTINCT source, w FROM (
        SELECT source, unnest({_shingle_sql(3)}) AS w
        FROM documents
        WHERE len(str_split(text, ' ')) >= 3
    ) t
)""",
        "vtot AS (SELECT count(DISTINCT w) AS v_total FROM sw)",
    ]
    prev_cov = None
    prev_picked: list[str] = []
    selects = []
    for k in range(1, _Q251_K + 1):
        cov_filter = (
            f" AND w NOT IN (SELECT w FROM cov{k - 1})" if prev_cov else ""
        )
        picked_filter = "".join(
            f" AND source <> (SELECT source FROM p{i})" for i in prev_picked
        )
        parts.append(
            f"""g{k} AS (
    SELECT source, count(*) AS gain FROM sw
    WHERE 1 = 1{cov_filter}{picked_filter}
    GROUP BY source
)"""
        )
        parts.append(
            f"p{k} AS (SELECT source, gain FROM g{k}"
            " ORDER BY gain DESC, source ASC LIMIT 1)"
        )
        union_prev = (
            f"SELECT w FROM cov{k - 1} UNION " if prev_cov else ""
        )
        parts.append(
            f"""cov{k} AS (
    {union_prev}SELECT DISTINCT w FROM sw
    WHERE source = (SELECT source FROM p{k})
)"""
        )
        selects.append(
            f"""SELECT {k} AS round, p{k}.source, CAST(p{k}.gain AS BIGINT) AS gain_words,
       (SELECT CAST(count(*) AS BIGINT) FROM cov{k}) AS cum_covered,
       floor((SELECT count(*) FROM cov{k}) * 1.0
             / (SELECT v_total FROM vtot) * 1000000 + 0.5) / 1000000.0
           AS coverage_frac
FROM p{k}"""
        )
        prev_cov = f"cov{k}"
        prev_picked.append(str(k))
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY round"
    )


Q251_SQL = _q251_sql()


# ---------------------------------------------------------------------------
# q254 — Zipf power-law head fit (ext): the corpus-shape diagnostic —
# a natural-language shingle/token frequency spectrum follows
# f(r) ∝ r^s with s ≈ −1; synthetic, templated, or mode-collapsed
# corpora bend that line, so the fitted slope + R² is a cheap corpus
# fingerprint (the distribution-side complement of q246's value-tail
# Hill index). Fit: OLS on (ln r, ln f) over the TOP-K frequency
# ranks (the standard head fit; ranks assigned by a bounded
# TakeOrdered with (freq desc, shingle asc) tiebreak — never a global
# window). Per-row logs are floor-scaled to exact integers before the
# sums (q236 pattern); one division + √ at the end.
# ---------------------------------------------------------------------------
_Q254_K = 200
_Q254_SCALE = 1_000_000_000


def q254_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_from_tokens

    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.split("text", " ").alias("_toks"))
        .filter(F.size("_toks") >= 3)
        .select(F.explode(shingles_from_tokens("_toks", 3)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    top = (
        freq.orderBy(F.desc("f"), F.asc("w"))
        .limit(_Q254_K)
        .select("f")
        .localCheckpoint(eager=False)  # rank assignment + the fit
    )
    # rank over ≤K rows (bounded by the LIMIT above — pinned in
    # tests/test_plan_budget.py); ties carry identical f, so any tied
    # permutation yields the same (r, f) multiset
    ranked = top.select(
        F.row_number().over(W.orderBy(F.desc("f"))).alias("r"), "f"
    )
    terms = ranked.select(
        F.floor(F.log(F.col("r").cast("double")) * F.lit(float(_Q254_SCALE)))
        .cast("long")
        .alias("lx"),
        F.floor(F.log(F.col("f").cast("double")) * F.lit(float(_Q254_SCALE)))
        .cast("long")
        .alias("ly"),
    )
    agg = terms.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(38,0)) * ly")).alias("sxy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(38,0)) * lx")).alias("sxx"),
        F.sum(F.expr("CAST(ly AS DECIMAL(38,0)) * ly")).alias("syy"),
    )
    kd = F.col("k").cast("double")
    sc = F.lit(float(_Q254_SCALE))
    sx = F.col("sx").cast("double") / sc
    sy = F.col("sy").cast("double") / sc
    sxy = F.col("sxy").cast("double") / (sc * sc)
    sxx = F.col("sxx").cast("double") / (sc * sc)
    syy = F.col("syy").cast("double") / (sc * sc)
    slope = (kd * sxy - sx * sy) / (kd * sxx - sx * sx)
    r2n = (kd * sxy - sx * sy) * (kd * sxy - sx * sy)
    r2d = (kd * sxx - sx * sx) * (kd * syy - sy * sy)
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    return agg.select(
        F.col("k"),
        r4(slope).alias("zipf_slope"),
        r4((sy - slope * sx) / kd).alias("intercept"),
        r4(r2n / r2d).alias("r_squared"),
    )


def _q254_shingle_sql() -> str:
    toks = "str_split(text, ' ')"
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(3))
    return f"list_transform(generate_series(1, len({toks}) - 2), i -> {parts})"


# ---------------------------------------------------------------------------
# q260 — Heaps-law vocabulary growth (ext): q254 fingerprints the
# frequency SPECTRUM; Heaps' V(D) ∝ D^β fingerprints vocabulary
# GROWTH — the curve that budgets tokenizer/dictionary size as a
# corpus scales (β ≈ 0.5 for natural text; β → 1 flags synthetic
# or id-riddled feeds where the dictionary never saturates). Exact
# growth curve without any sequential pass: each shingle's
# first_seen = min(doc_id) (one rollup), checkpoints at deciles of
# the doc-id range (data-anchored), V_k = Σ shingles with
# first_seen ≤ c_k via ONE bounded checkpoint⋈rollup join. The β fit
# is the q254 floor-scaled log-log OLS over the 10 (D_k, V_k) points,
# replicated per row (q227 convention).
# ---------------------------------------------------------------------------
_Q260_STEPS = 10
_Q260_SCALE = 1_000_000_000


def q260_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_from_tokens

    docs = load(spark, sf_dir, "documents")
    first = (
        docs.select("doc_id", F.split("text", " ").alias("_toks"))
        .filter(F.size("_toks") >= 3)
        .select("doc_id", F.explode(shingles_from_tokens("_toks", 3)).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("fs"))
        .localCheckpoint(eager=False)  # joined at |STEPS| checkpoints
    )
    span = docs.agg(F.max("doc_id").alias("dmax"))
    # ONE pass each: bucket b(x) = ceil(10x/dmax) satisfies b(x) ≤ k ⟺
    # x ≤ c_k = (dmax·k) div 10 exactly (10x ≤ k·dmax on integers), so
    # the decile membership never fans the corpus out 10×; the
    # cumulative over ≤10 bucket rows is a bounded self-join
    def deciled(df, col):
        return (
            df.crossJoin(F.broadcast(span))
            .select(
                F.expr(
                    f"CAST(({col} * {_Q260_STEPS} + dmax - 1) div dmax AS INT)"
                ).alias("b")
            )
            .groupBy("b")
            .agg(F.count("*").cast("long").alias("c"))
        )
    ks = spark.range(1, _Q260_STEPS + 1).select(F.col("id").cast("int").alias("k"))
    dcnt = (
        ks.join(deciled(docs.select("doc_id"), "doc_id"), F.col("b") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("c").cast("long").alias("d_k"))
    )
    vcnt = (
        ks.join(deciled(first.select("fs"), "fs"), F.col("b") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("c").cast("long").alias("v_k"))
    )
    pts = dcnt.join(vcnt, "k").localCheckpoint(eager=False)  # rows + fit
    terms = pts.select(
        F.floor(F.log(F.col("d_k").cast("double")) * F.lit(float(_Q260_SCALE)))
        .cast("long")
        .alias("lx"),
        F.floor(F.log(F.col("v_k").cast("double")) * F.lit(float(_Q260_SCALE)))
        .cast("long")
        .alias("ly"),
    )
    agg = terms.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(38,0)) * ly")).alias("sxy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(38,0)) * lx")).alias("sxx"),
    )
    sc = F.lit(float(_Q260_SCALE))
    md = F.col("m").cast("double")
    sx = F.col("sx").cast("double") / sc
    sy = F.col("sy").cast("double") / sc
    sxy = F.col("sxy").cast("double") / (sc * sc)
    sxx = F.col("sxx").cast("double") / (sc * sc)
    beta = (md * sxy - sx * sy) / (md * sxx - sx * sx)
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    fit = agg.select(r4(beta).alias("heaps_beta"))
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("k").cast("int").alias("decile"),
            "d_k",
            "v_k",
            "heaps_beta",
        )
        .orderBy("decile")
    )


def _q260_sql() -> str:
    sc2 = repr(float(_Q260_SCALE) * _Q260_SCALE)
    return f"""
WITH first_seen AS (
    SELECT w, min(doc_id) AS fs FROM (
        SELECT doc_id, unnest({_q254_shingle_sql()}) AS w FROM documents
        WHERE len(str_split(text, ' ')) >= 3
    ) t GROUP BY w
),
span AS (SELECT max(doc_id) AS dmax FROM documents),
ks AS (SELECT unnest(generate_series(1, {_Q260_STEPS})) AS k),
db AS (
    SELECT CAST((d.doc_id * {_Q260_STEPS} + s.dmax - 1) // s.dmax AS INTEGER)
               AS b, count(*) AS c
    FROM documents d CROSS JOIN span s GROUP BY 1
),
vb AS (
    SELECT CAST((f.fs * {_Q260_STEPS} + s.dmax - 1) // s.dmax AS INTEGER)
               AS b, count(*) AS c
    FROM first_seen f CROSS JOIN span s GROUP BY 1
),
dcnt AS (
    SELECT ks.k, CAST(sum(db.c) AS BIGINT) AS d_k
    FROM ks JOIN db ON db.b <= ks.k GROUP BY 1
),
vcnt AS (
    SELECT ks.k, CAST(sum(vb.c) AS BIGINT) AS v_k
    FROM ks JOIN vb ON vb.b <= ks.k GROUP BY 1
),
pts AS (SELECT d.k, d.d_k, v.v_k FROM dcnt d JOIN vcnt v ON v.k = d.k),
terms AS (
    SELECT CAST(floor(ln(CAST(d_k AS DOUBLE)) * {_Q260_SCALE}) AS BIGINT)
               AS lx,
           CAST(floor(ln(CAST(v_k AS DOUBLE)) * {_Q260_SCALE}) AS BIGINT)
               AS ly
    FROM pts
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
           sum(CAST(lx AS HUGEINT) * ly) AS sxy,
           sum(CAST(lx AS HUGEINT) * lx) AS sxx
    FROM terms
),
fit AS (
    SELECT floor((CAST(m AS DOUBLE) * (CAST(sxy AS DOUBLE) / {sc2})
                  - (CAST(sx AS DOUBLE) / {_Q260_SCALE})
                    * (CAST(sy AS DOUBLE) / {_Q260_SCALE}))
                 / (CAST(m AS DOUBLE) * (CAST(sxx AS DOUBLE) / {sc2})
                    - (CAST(sx AS DOUBLE) / {_Q260_SCALE})
                      * (CAST(sx AS DOUBLE) / {_Q260_SCALE}))
                 * 10000 + 0.5) / 10000.0 AS heaps_beta
    FROM agg
)
SELECT CAST(p.k AS INTEGER) AS decile, p.d_k, p.v_k, f.heaps_beta
FROM pts p CROSS JOIN fit f
ORDER BY decile
"""


Q260_SQL = _q260_sql()


# ---------------------------------------------------------------------------
# q263 — precision–recall curve + best-F1 threshold (ext): the
# model-eval member still missing after AUC (q233), ECE (q159),
# isotonic (q237) and conformal (q204) — the THRESHOLD-PICKING
# readout. Classifier: the q36 stopword-share language-ID score
# (real monotone signal for lang='en'); the score domain is the
# integer percent bucket (st·100) div nt ∈ [0,100], so the curve is
# a DOMAIN-bounded rollup. Descending cumulative TP/N per threshold
# via a ≤101-row self-join (no window at all); precision, recall and
# F1 = 2·ctp/(cn+P) are exact integer ratios; the best-F1 pick is a
# (double, bucket) selection — identical on both engines.
# ---------------------------------------------------------------------------
def q263_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tokens = "split(lower(text), ' ')"
    staged = docs.select(
        (stop_token_count_expr(tokens) * 100).alias("st100"),
        F.expr(f"CAST(size({tokens}) AS BIGINT)").alias("nt"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    scored = staged.select(
        F.expr("st100 div nt").cast("long").alias("b"), "y"
    )
    cells = scored.groupBy("b").agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    ).localCheckpoint(eager=False)  # self-join + totals reference this
    tot = cells.agg(F.sum("pos").cast("long").alias("p_tot"))
    hi = cells.select(F.col("b").alias("bj"), F.col("n").alias("nj"),
                      F.col("pos").alias("posj"))
    cum = (
        cells.join(hi, F.col("bj") >= F.col("b"))
        .groupBy("b", "n", "pos")
        .agg(
            F.sum("nj").cast("long").alias("cn"),
            F.sum("posj").cast("long").alias("ctp"),
        )
        .crossJoin(F.broadcast(tot))
        .localCheckpoint(eager=False)  # rows + the best-F1 fold
    )
    f1 = (F.lit(2.0) * F.col("ctp").cast("double")) / (
        F.col("cn") + F.col("p_tot")
    ).cast("double")
    best = cum.agg(
        F.max(F.struct(f1.alias("f1"), (-F.col("b")).alias("nb"))).alias("s")
    ).select(
        (-F.col("s.nb")).cast("long").alias("best_bucket"),
        F.col("s.f1").alias("best_f1"),
    )
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    return (
        cum.crossJoin(F.broadcast(best))
        .select(
            F.col("b").cast("long").alias("threshold_pct"),
            F.col("n").cast("long").alias("n_at"),
            F.col("ctp"),
            F.col("cn"),
            r6(F.col("ctp").cast("double") / F.col("cn").cast("double")).alias(
                "precision"
            ),
            r6(
                F.col("ctp").cast("double") / F.col("p_tot").cast("double")
            ).alias("recall"),
            r6(f1).alias("f1"),
            "best_bucket",
            r6(F.col("best_f1")).alias("best_f1"),
        )
        .orderBy("threshold_pct")
    )


Q263_SQL = f"""
WITH scored AS (
    SELECT CAST(CAST(len(list_filter(str_split(lower(text), ' '),
                         t -> t IN ({_STOPLIST_SQL}))) AS BIGINT) * 100
                // CAST(len(str_split(lower(text), ' ')) AS BIGINT)
                AS BIGINT) AS b,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
    FROM documents
),
cells AS (SELECT b, count(*) AS n, sum(y) AS pos FROM scored GROUP BY 1),
tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p_tot FROM cells),
cum AS (
    SELECT c.b, c.n, c.pos,
           CAST(sum(h.n) AS BIGINT) AS cn,
           CAST(sum(h.pos) AS BIGINT) AS ctp
    FROM cells c JOIN cells h ON h.b >= c.b
    GROUP BY 1, 2, 3
),
best AS (
    SELECT b AS best_bucket,
           2.0 * CAST(ctp AS DOUBLE) / (CAST(cn AS DOUBLE)
               + (SELECT p_tot FROM tot)) AS best_f1
    FROM cum
    ORDER BY 2.0 * CAST(ctp AS DOUBLE)
             / (CAST(cn AS DOUBLE) + (SELECT p_tot FROM tot)) DESC,
             b ASC
    LIMIT 1
)
SELECT CAST(c.b AS BIGINT) AS threshold_pct,
       CAST(c.n AS BIGINT) AS n_at,
       c.ctp, c.cn,
       floor(CAST(c.ctp AS DOUBLE) / CAST(c.cn AS DOUBLE) * 1000000 + 0.5)
           / 1000000.0 AS precision,
       floor(CAST(c.ctp AS DOUBLE) / CAST(t.p_tot AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS recall,
       floor(2.0 * CAST(c.ctp AS DOUBLE)
             / (CAST(c.cn AS DOUBLE) + t.p_tot) * 1000000 + 0.5)
           / 1000000.0 AS f1,
       CAST(bs.best_bucket AS BIGINT) AS best_bucket,
       floor(bs.best_f1 * 1000000 + 0.5) / 1000000.0 AS best_f1
FROM cum c CROSS JOIN tot t CROSS JOIN best bs
ORDER BY threshold_pct
"""


Q254_SQL = f"""
WITH freq AS (
    SELECT w, count(*) AS f FROM (
        SELECT unnest({_q254_shingle_sql()}) AS w FROM documents
        WHERE len(str_split(text, ' ')) >= 3
    ) t GROUP BY w
),
top AS (SELECT f FROM freq ORDER BY f DESC, w ASC LIMIT {_Q254_K}),
ranked AS (SELECT row_number() OVER (ORDER BY f DESC) AS r, f FROM top),
terms AS (
    SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * {_Q254_SCALE}) AS BIGINT) AS lx,
           CAST(floor(ln(CAST(f AS DOUBLE)) * {_Q254_SCALE}) AS BIGINT) AS ly
    FROM ranked
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
           sum(CAST(lx AS HUGEINT) * ly) AS sxy,
           sum(CAST(lx AS HUGEINT) * lx) AS sxx,
           sum(CAST(ly AS HUGEINT) * ly) AS syy
    FROM terms
)
SELECT k,
       floor((CAST(k AS DOUBLE) * (CAST(sxy AS DOUBLE)
                                   / ({float(_Q254_SCALE) * _Q254_SCALE!r}))
              - (CAST(sx AS DOUBLE) / {_Q254_SCALE})
                * (CAST(sy AS DOUBLE) / {_Q254_SCALE}))
             / (CAST(k AS DOUBLE) * (CAST(sxx AS DOUBLE)
                                     / ({float(_Q254_SCALE) * _Q254_SCALE!r}))
                - (CAST(sx AS DOUBLE) / {_Q254_SCALE})
                  * (CAST(sx AS DOUBLE) / {_Q254_SCALE}))
             * 10000 + 0.5) / 10000.0 AS zipf_slope,
       floor(((CAST(sy AS DOUBLE) / {_Q254_SCALE})
              - (CAST(k AS DOUBLE) * (CAST(sxy AS DOUBLE)
                                      / ({float(_Q254_SCALE) * _Q254_SCALE!r}))
                 - (CAST(sx AS DOUBLE) / {_Q254_SCALE})
                   * (CAST(sy AS DOUBLE) / {_Q254_SCALE}))
                / (CAST(k AS DOUBLE) * (CAST(sxx AS DOUBLE)
                                        / ({float(_Q254_SCALE) * _Q254_SCALE!r}))
                   - (CAST(sx AS DOUBLE) / {_Q254_SCALE})
                     * (CAST(sx AS DOUBLE) / {_Q254_SCALE}))
                * (CAST(sx AS DOUBLE) / {_Q254_SCALE}))
             / CAST(k AS DOUBLE) * 10000 + 0.5) / 10000.0 AS intercept,
       floor((CAST(k AS DOUBLE) * (CAST(sxy AS DOUBLE)
                                   / ({float(_Q254_SCALE) * _Q254_SCALE!r}))
              - (CAST(sx AS DOUBLE) / {_Q254_SCALE})
                * (CAST(sy AS DOUBLE) / {_Q254_SCALE}))
             * (CAST(k AS DOUBLE) * (CAST(sxy AS DOUBLE)
                                     / ({float(_Q254_SCALE) * _Q254_SCALE!r}))
                - (CAST(sx AS DOUBLE) / {_Q254_SCALE})
                  * (CAST(sy AS DOUBLE) / {_Q254_SCALE}))
             / ((CAST(k AS DOUBLE) * (CAST(sxx AS DOUBLE)
                                      / ({float(_Q254_SCALE) * _Q254_SCALE!r}))
                 - (CAST(sx AS DOUBLE) / {_Q254_SCALE})
                   * (CAST(sx AS DOUBLE) / {_Q254_SCALE}))
                * (CAST(k AS DOUBLE) * (CAST(syy AS DOUBLE)
                                        / ({float(_Q254_SCALE) * _Q254_SCALE!r}))
                   - (CAST(sy AS DOUBLE) / {_Q254_SCALE})
                     * (CAST(sy AS DOUBLE) / {_Q254_SCALE})))
             * 10000 + 0.5) / 10000.0 AS r_squared
FROM agg
"""


QUERIES = [
    Query("q236_js_divergence", q236_js_divergence, Q236_SQL,
          survey="ext:js-divergence,ext:drift-psi,ext:data-profiling,A11",
          tags=("bench",)),
    Query("q251_greedy_set_cover", q251_greedy_set_cover, Q251_SQL,
          survey="ext:set-cover,ext:dataset-mixing,ext:data-acquisition,"
                 "ext:dataset-lineage",
          tags=("bench",)),
    Query("q254_zipf_fit", q254_zipf_fit, Q254_SQL,
          survey="ext:zipf-fit,ext:data-profiling,ext:hill-tail-index"),
    Query("q260_heaps_law", q260_heaps_law, Q260_SQL,
          survey="ext:heaps-law,ext:zipf-fit,ext:data-profiling,"
                 "ext:dict-encoding"),
    Query("q263_pr_curve", q263_pr_curve, Q263_SQL,
          survey="ext:pr-curve,ext:model-eval,ext:langid,"
                 "ext:calibration-ece"),
    Query("q30_doc_stats", q30_doc_stats, Q30_SQL, survey="P3,U5 + token-count ext"),
    Query("q31_clean_text_chain", q31_clean_text_chain, Q31_SQL, survey="F1-F8,U1", tags=("bench",)),
    Query("q32_word_freq_top20", q32_word_freq_top20, Q32_SQL, survey="A11,F10", tags=("bench",)),
    Query("q33_vocab_doc_frequency", q33_vocab_doc_frequency, Q33_SQL, survey="A8"),
    Query("q34_tfidf_top15", q34_tfidf_top15, Q34_SQL, survey="A10,M9", tags=("bench",)),
    Query("q35_quality_scores", q35_quality_scores, Q35_SQL, survey="ext:quality"),
    Query("q36_lang_confusion", q36_lang_confusion, Q36_SQL, survey="ext:lang-id"),
    Query("q37_fingerprint_dup_stats", q37_fingerprint_dup_stats, Q37_SQL, survey="A1,ext:dedup"),
    Query("q38_minhash_signatures", q38_minhash_signatures, Q38_SQL, survey="ext:minhash", tags=("bench",)),
    Query("q39_neardup_pairs", q39_neardup_pairs, Q39_SQL, survey="ext:jaccard-neardup",
          tags=("bench",)),
    Query("q49_npmi_cooccurrence", q49_npmi_cooccurrence, Q49_SQL, survey="M3,ext:npmi-coherence"),
    Query("q92_bpe_token_stats", q92_bpe_token_stats, Q92_SQL, survey="ext:bpe-token-count",
          tags=("bench",)),
    Query("q95_charngram_langid", q95_charngram_langid, Q95_SQL,
          survey="ext:lang-id-ngram", tags=("bench",)),
    Query("q98_bpe_pair_counts", q98_bpe_pair_counts, Q98_SQL,
          survey="ext:bpe-train-step,A11", tags=("bench",)),
    Query("q102_unigram_logprob", q102_unigram_logprob, Q102_SQL,
          survey="ext:lm-quality-score", tags=("bench",)),
    Query("q106_bpe_apply", q106_bpe_apply, Q106_SQL,
          survey="ext:bpe-apply,ext:bpe-train-step"),
    Query("q118_bigram_logprob", q118_bigram_logprob, Q118_SQL,
          survey="ext:lm-quality-score,A11", tags=("bench",)),
    Query("q273_kneser_ney_bigram", q273_kneser_ney_bigram, Q273_SQL,
          survey="ext:lm-quality-score,ext:kneser-ney,A11",
          tags=("bench",)),
    Query("q163_bpe_chained_merges", q163_bpe_chained_merges, Q163_SQL,
          survey="ext:bpe-training,ext:iterate-to-convergence,A12",
          tags=("bench",)),
]
