"""Text-analysis column expressions for the LLM-data-pipeline surface.

Language-ID heuristic, quality scoring, token counting — all as native
Catalyst expressions (higher-order array functions), so they vectorize
JVM-side and scale linearly with no Python in the loop. Each helper has a
DuckDB-SQL twin builder so the driver's oracle runs the *same* logic.

Reference anchors: word counting `data_preparation.py:139,153`; stopword
set filtering `data_preparation.py:91-94` / `topic_modeling.py:130-133`
(SURVEY E1/E2/F10/F11/P3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import sql_str

# Compact core of an English stopword list (public-domain word list, the
# high-frequency head every list shares). Used for the lang-ID ratio and
# quality scoring; the full 170-word list lives in nlp/stopwords.py.
EN_STOPWORDS_CORE: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that", "are", "be",
)

# A BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
# symbol. Same pattern compiles identically under Java regex and RE2.
TOKEN_REGEX = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _quoted_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def stop_token_count_expr(tokens_sql: str, words: tuple[str, ...] = EN_STOPWORDS_CORE) -> Column:
    """COUNT of tokens that are stopwords (not set-distinct — ratio needs
    multiplicity, unlike the reference's set-difference filter E2), over a
    tokens column name or SQL text such as ``"split(lower(text), ' ')"``."""
    stop = ", ".join(map(sql_str, words))
    return F.expr(f"CAST(size(filter({tokens_sql}, t -> t IN ({stop}))) AS BIGINT)")


def stop_token_count_sql(tokens_sql: str, words: tuple[str, ...] = EN_STOPWORDS_CORE) -> str:
    return (
        f"CAST(len(list_filter({tokens_sql}, t -> t IN ({_quoted_list(words)}))) AS BIGINT)"
    )


def token_count_regex_expr(text_col: str) -> Column:
    """Regex-token count (BPE-ish) — `regexp_count`, JVM-side."""
    return F.regexp_count(F.col(text_col), F.lit(TOKEN_REGEX)).cast("long")


def token_count_regex_sql(text_sql: str) -> str:
    return f"CAST(len(regexp_extract_all({text_sql}, '{TOKEN_REGEX}')) AS BIGINT)"


def quality_score_cols(text_col: str = "text") -> dict[str, Column]:
    """Quality-scoring feature set over a raw text column.

    score = min(n_words/100, 1) * (1 - stop_ratio): favors long documents
    with substantive (non-stopword) vocabulary. Deterministic, pure
    column algebra.
    """
    tokens = f"split({text_col}, ' ')"
    n_words = F.expr(f"CAST(size({tokens}) AS BIGINT)")
    n_chars = F.expr(f"CAST(length({text_col}) AS BIGINT)")
    n_stop = stop_token_count_expr(tokens)
    return {
        "n_words": n_words,
        "n_chars": n_chars,
        "avg_word_len": F.round((n_chars - n_words + 1) / n_words, 4),
        "stop_ratio": F.round(n_stop / n_words, 4),
        "quality": F.round(
            F.least(n_words / F.lit(100.0), F.lit(1.0)) * (1.0 - n_stop / n_words), 4
        ),
    }


def max_run_count_expr(arr: str) -> Column:
    """COUNT of the most frequent element of an array (a column name or
    SQL text), computed row-locally: sort the array, then one aggregate()
    pass tracking the longest run of equal neighbors. No explode, no
    shuffle — the scale path for per-doc "top n-gram mass" repetition
    metrics (the explode → groupBy(doc, gram) alternative multiplies rows
    by array length before its exchange).

    JVM-side but interpreted (higher-order fns skip codegen): O(n log n)
    per row, linear across the corpus.
    """
    run = "IF(x <=> acc.prev, acc.run + 1, 1)"
    return F.expr(
        f"CAST(aggregate(array_sort({arr}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run}, 'best', greatest(acc.best, {run})), "
        "acc -> acc.best) AS BIGINT)"
    )


QUALITY_SQL = """
SELECT doc_id,
       CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(length(text) AS BIGINT) AS n_chars,
       round((length(text) - len(str_split(text, ' ')) + 1)
             / len(str_split(text, ' ')), 4) AS avg_word_len,
       round({nstop} / len(str_split(text, ' ')), 4) AS stop_ratio,
       round(least(len(str_split(text, ' ')) / 100.0, 1.0)
             * (1.0 - {nstop} / len(str_split(text, ' '))), 4) AS quality
FROM documents
ORDER BY doc_id
"""


def quality_sql() -> str:
    nstop = stop_token_count_sql("str_split(text, ' ')")
    return QUALITY_SQL.format(nstop=nstop)
