"""Corpus-curation plans (q54–q59, q63, q67, q68) — the training-data-pipeline
surface built on operators/curation.py: PII redaction, reproducible
sampling, weighted dataset mixing, duplicate clustering (connected
components over LSH candidate pairs), Gopher-style repetition quality,
an as-of join, the composite curation pipeline (q63, bench flagship),
stratified per-group sampling (q67), and token-budget shard packing (q68).

Cross-engine determinism: all sampling/clustering keys are md5-derived
integers; all regexes compile identically under Java regex and RE2 (no
lookaround/backreferences); ratios are round()-ed to 4dp on both sides.
The synthetic corpus has no real PII, so q54 derives a deterministic
augmented text (doc_id-keyed contact lines) identically on both sides —
the redaction logic itself is what is under test.

The q57 oracle is notable: DuckDB re-derives duplicate clusters from
first principles with a RECURSIVE CTE (transitive closure over the
banding pairs), independently of our label-propagation implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.curation import (
    EMAIL_RE,
    IPV4_RE,
    LANG_RATES,
    PHONE_RE,
    asof_join,
    cc_two_phase,
    connected_components,
    pii_counts,
    redact_pii,
    sample_key_expr,
    sample_threshold,
)
from ..operators.curation import temperature_rates as _temperature_rates
from ..operators.dedup import minhash_candidates
from ..sources.tables import load
from .dedup_plans import (
    SHINGLE_K,
    _BANDS,
    _CAPPED_PAIRS_CTES,
    _MAX_GROUP,
    _SIGS,
    _hex2int_sql,
    _shingle_sql,
)
from .registry import Query


# ---------------------------------------------------------------------------
# q54 — PII redaction (ext). Deterministic doc_id-keyed contact fragments
# are prepended (identically in the oracle), then counted and redacted with
# the native regexp chain. Row-local — zero shuffle at any scale.
# ---------------------------------------------------------------------------
def _augmented_text() -> F.Column:
    did = F.col("doc_id")
    id_str = did.cast("string")
    email_piece = F.when(
        did % 3 == 0, F.concat(F.lit("mail u"), id_str, F.lit("@example.com "))
    ).otherwise(F.lit(""))
    phone_piece = F.when(
        did % 4 == 0,
        F.concat(
            F.lit("call +1 555 01"),
            F.lpad((did % 100).cast("string"), 2, "0"),
            F.lit(" "),
        ),
    ).otherwise(F.lit(""))
    ip_piece = F.concat(F.lit("host 10.0."), (did % 256).cast("string"), F.lit(".7 "))
    return F.concat(email_piece, phone_piece, ip_piece, F.col("text"))


def q54_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    aug = docs.select("doc_id", _augmented_text().alias("_aug"))
    counts = pii_counts("_aug")
    return aug.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        counts["n_phones"].alias("n_phones"),
        redact_pii("_aug").alias("redacted"),
    )


_AUG_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN 'mail u' || CAST(doc_id AS VARCHAR) || '@example.com ' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN 'call +1 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' ' ELSE '' END"
    " || 'host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 ' || text"
)

Q54_SQL = f"""
WITH aug AS (SELECT doc_id, {_AUG_SQL} AS a FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(a, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(a, '{IPV4_RE}')) AS BIGINT)  AS n_ips,
       CAST(len(regexp_extract_all(a, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       regexp_replace(
           regexp_replace(
               regexp_replace(a, '{EMAIL_RE}', '[EMAIL]', 'g'),
               '{IPV4_RE}', '[IP]', 'g'),
           '{PHONE_RE}', '[PHONE]', 'g') AS redacted
FROM aug
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q55 — deterministic hash sampling (ext). Keep-if-key-below-threshold over
# a stable md5-derived 32-bit integer key: reproducible across engines,
# runs, and cluster layouts — the property `df.sample()` cannot give.
# ---------------------------------------------------------------------------
_Q55_RATE = 0.3


def q55_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("sample_key", sample_key_expr("doc_id"))
        .filter(F.col("sample_key") < F.lit(sample_threshold(_Q55_RATE)))
        .select("doc_id", "lang", "source", "sample_key")
    )


def _sample_key_sql(salt: str) -> str:
    md5 = f"md5('{salt}:' || CAST(doc_id AS VARCHAR))"
    return _hex2int_sql(md5, 1, 8)


Q55_SQL = f"""
SELECT doc_id, lang, source,
       -- DuckDB's list_sum yields HUGEINT (int128); project as int64 so the
       -- driver's value hash agrees with Spark's LongType sample_key.
       CAST({_sample_key_sql("smpl")} AS BIGINT) AS sample_key
FROM documents
WHERE {_sample_key_sql("smpl")} < {sample_threshold(_Q55_RATE)}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q56 — weighted dataset mixing (ext). Per-language sampling rates (the
# dataset-mixing knob of an LLM data pipeline, operators.curation.LANG_RATES)
# via the same hash key under an independent salt; power-of-two rates make
# thresholds exact integers.
# ---------------------------------------------------------------------------
def q56_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    thr = F.lit(None).cast("long")
    for lang, rate in LANG_RATES:
        thr = F.when(F.col("lang") == lang, F.lit(sample_threshold(rate))).otherwise(thr)
    return (
        docs.withColumn("_thr", thr)
        .filter(sample_key_expr("doc_id", salt="mix") < F.col("_thr"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
        .orderBy("lang")
    )


_THR_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {sample_threshold(rate)}" for lang, rate in LANG_RATES
) + " ELSE NULL END"

Q56_SQL = f"""
SELECT lang, count(*) AS n_kept
FROM documents
WHERE {_sample_key_sql("mix")} < {_THR_CASE}
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# q57 — duplicate clusters (ext): connected components over the MinHash/LSH
# candidate pairs of q46, via min-label propagation (one shuffle per round,
# rounds = component diameter). The oracle computes the transitive closure
# with a RECURSIVE CTE — a fully independent derivation of the clusters.
# ---------------------------------------------------------------------------
def q57_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_candidates(docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K)
    return connected_components(pairs).select(
        F.col("v").alias("doc_id"), F.col("cluster_id")
    )


Q57_SQL = f"""
WITH RECURSIVE sh AS (
    SELECT doc_id, {_shingle_sql()} AS shingles
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
),
sig AS (
    SELECT doc_id,
       {_SIGS}
    FROM sh
),
banded AS (
    SELECT DISTINCT doc_id, band_key FROM (
        SELECT doc_id, unnest([
        {_BANDS}
        ]) AS band_key FROM sig
    ) t
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a
    JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach(v, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
)
SELECT v AS doc_id, min(r) AS cluster_id
FROM reach
GROUP BY v
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q58 — Gopher-style repetition quality (ext): duplicate-word ratio + top-
# bigram mass fraction, ALL row-local (sort-and-longest-run instead of the
# explode → groupBy shuffle; the explode variant multiplies rows ×n_tokens
# before its exchange — see functions/textstats.py:max_run_count_expr).
# The oracle still derives top-bigram mass via unnest/groupBy: independent.
# ---------------------------------------------------------------------------
_DUP_T, _BIGRAM_T = 0.5, 0.1


def q58_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textstats import max_run_count_expr
    from ..operators.dedup import shingles_from_tokens

    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", F.split("text", " ").alias("_toks")).filter(
        F.size("_toks") >= 2
    )
    base = toked.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("_toks")) / F.size("_toks"), 4
        ).alias("dup_word_ratio"),
        shingles_from_tokens("_toks", 2).alias("_bi"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "dup_word_ratio",
        F.round(max_run_count_expr(F.col("_bi")) / F.size("_bi"), 4).alias(
            "top_bigram_ratio"
        ),
    ).withColumn(
        "flagged",
        (F.col("dup_word_ratio") > _DUP_T) | (F.col("top_bigram_ratio") > _BIGRAM_T),
    )


Q58_SQL = f"""
WITH toked AS (
    SELECT doc_id, str_split(text, ' ') AS toks
    FROM documents
    WHERE len(str_split(text, ' ')) >= 2
),
base AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4)
               AS dup_word_ratio,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1]) AS bi
    FROM toked
),
cnt AS (
    SELECT doc_id, gram, count(*) AS c
    FROM (SELECT doc_id, unnest(bi) AS gram FROM base) g
    GROUP BY doc_id, gram
),
top AS (
    SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_ratio
    FROM cnt GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.dup_word_ratio, t.top_bigram_ratio,
       (b.dup_word_ratio > {_DUP_T} OR t.top_bigram_ratio > {_BIGRAM_T}) AS flagged
FROM base b JOIN top t USING (doc_id)
ORDER BY b.doc_id
"""


# ---------------------------------------------------------------------------
# q59 — as-of join (ext): each error event picks up the user's most recent
# STRICTLY-prior click. Spark lacks ASOF JOIN; our operator composes it
# from union + ignoreNulls-last window (single shuffle). DuckDB has a
# native ASOF LEFT JOIN — the oracle uses it, so the two derivations are
# fully independent.
# ---------------------------------------------------------------------------
def q59_asof_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        errors,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_id", "click_ts"],
        strict=True,
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "click_id",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


Q59_SQL = """
WITH clk AS (
    SELECT user_id, ts AS click_ts, event_id AS click_id
    FROM events WHERE event_type = 'click'
),
err AS (
    SELECT event_id, user_id, ts
    FROM events WHERE event_type = 'error'
)
SELECT e.event_id, e.user_id, e.ts, c.click_id,
       epoch_us(e.ts) - epoch_us(c.click_ts) AS gap_us
FROM err e
ASOF LEFT JOIN clk c ON e.user_id = c.user_id AND e.ts > c.click_ts
ORDER BY e.event_id
"""


# ---------------------------------------------------------------------------
# q63 — the composite corpus-curation pipeline (ext flagship): exact dedup →
# repetition-quality gate → weighted per-language mixing → per-language
# corpus stats. One DataFrame DAG with exactly TWO wide stages — the dedup
# shuffle (fingerprint) and the final stats shuffle (lang); the quality
# gate and mixing are fully row-local (max_run_count_expr replaces the
# explode → groupBy bigram shuffle). The shape a 100 TB pretraining-data
# job takes.
# ---------------------------------------------------------------------------
_Q63_DUP_T, _Q63_BIGRAM_T = 0.6, 0.1


def _mix_threshold_col() -> F.Column:
    thr = F.lit(None).cast("long")
    for lang, rate in LANG_RATES:
        thr = F.when(F.col("lang") == lang, F.lit(sample_threshold(rate))).otherwise(thr)
    return thr


def q63_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textstats import max_run_count_expr
    from ..operators.dedup import exact_dedup, shingles_from_tokens

    docs = load(spark, sf_dir, "documents")
    surv = exact_dedup(docs, "text", "doc_id")
    toked = surv.select(
        "doc_id", "lang", F.split("text", " ").alias("_toks")
    ).filter(F.size("_toks") >= 2)
    base = toked.select(
        "doc_id",
        "lang",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("_toks")) / F.size("_toks"), 4
        ).alias("dup_word_ratio"),
        shingles_from_tokens("_toks", 2).alias("_bi"),
    )
    staged = base.withColumn(
        "top_bigram_ratio",
        F.round(max_run_count_expr(F.col("_bi")) / F.size("_bi"), 4),
    )
    # Gate via CONDITIONAL AGGREGATES, not a .filter(): a Filter over the
    # aliased ratios would be pushed below the projection, re-inlining the
    # interpreted HOF chain (array_distinct/shingles over split) into a
    # per-row Filter on raw text — the same pushdown pathology as the
    # explode case in SCALE.md. when() over already-projected columns
    # evaluates each ratio exactly once; the map-side partial aggregate
    # still collapses to one row per lang before the only shuffle.
    keep = (
        (F.col("dup_word_ratio") <= _Q63_DUP_T)
        & (F.col("top_bigram_ratio") <= _Q63_BIGRAM_T)
        & (sample_key_expr("doc_id", salt="mix") < _mix_threshold_col())
    )
    return (
        staged.groupBy("lang")
        .agg(
            F.count(F.when(keep, 1)).alias("n_docs"),
            F.sum(F.when(keep, F.col("n_tokens"))).alias("n_tokens"),
            F.round(F.avg(F.when(keep, F.col("dup_word_ratio"))), 4).alias("avg_dup_ratio"),
        )
        .filter(F.col("n_docs") > 0)  # langs fully gated out, as the oracle's WHERE
        .orderBy("lang")
    )


Q63_SQL = f"""
WITH surv AS (
    SELECT * FROM documents
    WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(lower(trim(text))))
),
toked AS (
    SELECT doc_id, lang, str_split(text, ' ') AS toks
    FROM surv WHERE len(str_split(text, ' ')) >= 2
),
base AS (
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4)
               AS dup_word_ratio,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1]) AS bi
    FROM toked
),
cnt AS (
    SELECT doc_id, gram, count(*) AS c
    FROM (SELECT doc_id, unnest(bi) AS gram FROM base) g
    GROUP BY doc_id, gram
),
top AS (
    SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_ratio
    FROM cnt GROUP BY doc_id
),
kept AS (
    SELECT b.doc_id, b.lang, b.n_tokens, b.dup_word_ratio
    FROM base b JOIN top t USING (doc_id)
    WHERE b.dup_word_ratio <= {_Q63_DUP_T} AND t.top_bigram_ratio <= {_Q63_BIGRAM_T}
),
mixed AS (
    SELECT * FROM kept WHERE {{mix_key}} < {{thr_case}}
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(avg(dup_word_ratio), 4) AS avg_dup_ratio
FROM mixed
GROUP BY lang
ORDER BY lang
""".format(mix_key=_sample_key_sql("mix"), thr_case=_THR_CASE)


# ---------------------------------------------------------------------------
# q67 — stratified fixed-n sample (ext): 20 docs per language, ranked by
# the deterministic sampling key — the balanced eval-set construction
# pattern. One shuffle (stratum window); reproducible across engines.
# ---------------------------------------------------------------------------
_Q67_N = 20


def q67_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import stratified_sample

    docs = load(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", _Q67_N).select(
        "doc_id", "lang", "sample_rank"
    )


Q67_SQL = f"""
SELECT doc_id, lang, sample_rank
FROM (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY {_sample_key_sql("strat")}, doc_id
           ) AS sample_rank
    FROM documents
) t
WHERE sample_rank <= {_Q67_N}
ORDER BY lang, sample_rank
"""


# ---------------------------------------------------------------------------
# q68 — token-budget shard packing (ext): assign documents to contiguous
# training shards of ~200 tokens each, per language — the sequence-packing
# / output-sharding step of a pretraining pipeline. Round 5: the prefix
# sum is the two-phase PARALLEL form (operators/skew.py:
# exclusive_prefix_sum) — a naive per-lang running-sum window serializes
# a hot language (most of a real corpus is one language!) into a single
# task's sort; blocking by doc_id range bounds both window levels, the
# same treatment as q21 sessionization and q77 pair extraction. Identical
# semantics; the oracle keeps the naive window as the independent check.
# ---------------------------------------------------------------------------
_Q68_BUDGET = 200


def q68_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import exclusive_prefix_sum

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    prefixed = exclusive_prefix_sum(toks, "lang", "doc_id", "n_tokens")
    return prefixed.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(F.col("_prefix") / _Q68_BUDGET).cast("long").alias("shard_id"),
    )


Q68_SQL = f"""
SELECT doc_id, lang, n_tokens,
       CAST(floor((cum - n_tokens) / {_Q68_BUDGET}) AS BIGINT) AS shard_id
FROM (
    SELECT doc_id, lang,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
           sum(CAST(len(str_split(text, ' ')) AS BIGINT)) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM documents
) t
ORDER BY lang, doc_id
"""


# ---------------------------------------------------------------------------
# q116 — sequence packing with exact token offsets (ext): the
# concat-and-chunk step that turns a curated corpus into fixed-length
# training sequences (GPT-style packing; see e.g. Brown et al. 2020 §2.1
# — documents are concatenated in a deterministic global order and split
# into context-window-sized sequences, a document may SPAN a sequence
# boundary). q68 assigns whole documents to per-language shards; this
# operator answers the finer question a dataloader needs: for every
# document, which training sequence does its first token land in
# (first_seq), which its last (last_seq), at what offset within the
# first sequence (seq_offset), and across how many sequences it is split
# (n_seqs).
#
# All four outputs are pure integer arithmetic over ONE number per doc:
# the exclusive prefix sum of token counts in the global doc_id order.
# Scale shape: a single global running sum is the textbook hot-partition
# scale-killer (one task sorts the whole corpus), so the prefix comes
# from operators/skew.exclusive_prefix_sum — the multi-level parallel
# prefix sum already used by q68 — here with a CONSTANT partition key,
# i.e. the degenerate everything-is-one-group case that machinery was
# built to bound: uniform block shuffles + one top-level window over
# ≤ n/block^(levels−1) rows (raise `levels` for larger corpora).
# Catalyst constant-folds the literal partition key away, so that top
# window logs Spark's "No Partition Defined" warning — expected here:
# its INPUT is the per-block totals table, already reduced by block²,
# not the corpus. Composing with q99's shuffle_key instead of doc_id
# gives packed-after-shuffle order with no plan change.
# ---------------------------------------------------------------------------
_Q116_SEQLEN = 128


def q116_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import exclusive_prefix_sum

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    ).withColumn("_g", F.lit(0))
    prefixed = exclusive_prefix_sum(toks, "_g", "doc_id", "n_tokens")
    L = F.lit(_Q116_SEQLEN)
    first = F.floor(F.col("_prefix") / L).cast("long")
    last = F.floor((F.col("_prefix") + F.col("n_tokens") - 1) / L).cast("long")
    return prefixed.select(
        "doc_id",
        "n_tokens",
        first.alias("first_seq"),
        last.alias("last_seq"),
        (F.col("_prefix") % L).cast("long").alias("seq_offset"),
        (last - first + 1).alias("n_seqs"),
    )


Q116_SQL = f"""
SELECT doc_id, n_tokens,
       CAST(floor(pre / {_Q116_SEQLEN}) AS BIGINT) AS first_seq,
       CAST(floor((pre + n_tokens - 1) / {_Q116_SEQLEN}) AS BIGINT) AS last_seq,
       CAST(pre % {_Q116_SEQLEN} AS BIGINT) AS seq_offset,
       CAST(floor((pre + n_tokens - 1) / {_Q116_SEQLEN})
            - floor(pre / {_Q116_SEQLEN}) + 1 AS BIGINT) AS n_seqs
FROM (
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
           COALESCE(sum(CAST(len(str_split(text, ' ')) AS BIGINT)) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS pre
    FROM documents
) t
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q120 — contrastive training-pair generation (ext): the (anchor,
# positive, negative) triples an embedding-model trainer consumes
# (DPR, Karpukhin et al. 2020 §3.2 uses in-batch + sampled negatives;
# retrieval fine-tunes mine positives from near-duplicate / co-click
# pairs). Positives come from the SAME capped MinHash-LSH candidate
# graph as q46/q57/q111 (caps mirrored in the oracle, so parity holds at
# any scale); negatives are drawn deterministically — each document
# hashes into one of B buckets (md5 key, salt "neg"), each bucket elects
# a min-doc_id representative, and an anchor's negative is the
# representative of the next OCCUPIED bucket on the ring (lead over the
# ≤B-row rep table, wrapping to the first — an empty successor bucket
# must fall through to the next occupied one, not silently drop the
# anchor's triples). Triples where the negative collides with the
# anchor or positive are dropped (mirrored).
#
# The bucket-representative scheme is the scale point: sampling "a
# random other document" naively needs a global index (zipWithIndex = a
# full sort) or a nondeterministic rand(); the ring gives a uniform,
# reproducible, join-free-at-scale negative — the rep table is B rows,
# broadcast, and the only wide ops are the LSH band join (shared with
# q46) plus one equi-join to fetch the anchor's bucket. More negatives
# per anchor = more ring offsets, same plan shape.
# ---------------------------------------------------------------------------
_Q120_B = 64


def q120_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = (
        minhash_candidates(
            docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K,
            max_group=_MAX_GROUP,
        )
        .select("id_a", "id_b")
        .distinct()
    )
    bucketed = docs.select(
        "doc_id", (sample_key_expr("doc_id", "neg") % _Q120_B).alias("b")
    )
    reps = bucketed.groupBy("b").agg(F.min("doc_id").alias("neg_id"))
    # successor on the OCCUPIED-bucket ring: lead over the ≤B-row rep
    # table (unpartitioned window over metadata — bounded by B forever),
    # wrapping the last occupied bucket to the first
    wlead = Window.orderBy("b")
    wall = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    succ = reps.select(
        "b",
        F.coalesce(
            F.lead("neg_id").over(wlead), F.first("neg_id").over(wall)
        ).alias("neg_id"),
    )
    out = (
        pairs.join(bucketed.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(F.broadcast(succ), "b")
        .filter(
            (F.col("neg_id") != F.col("id_a")) & (F.col("neg_id") != F.col("id_b"))
        )
    )
    return out.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("positive_id"),
        "neg_id",
    )


_Q120_NEG_KEY = _sample_key_sql("neg")

Q120_SQL = f"""
WITH {_CAPPED_PAIRS_CTES},
cand AS (SELECT DISTINCT id_a, id_b FROM pairs),
bucketed AS (
    SELECT doc_id, {_Q120_NEG_KEY} % {_Q120_B} AS b FROM documents
),
reps AS (SELECT b, min(doc_id) AS neg_id FROM bucketed GROUP BY b),
succ AS (
    SELECT b,
           COALESCE(lead(neg_id) OVER (ORDER BY b),
                    first_value(neg_id) OVER (
                        ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND UNBOUNDED FOLLOWING)) AS neg_id
    FROM reps
)
SELECT c.id_a AS anchor_id, c.id_b AS positive_id, r.neg_id
FROM cand c
JOIN bucketed ba ON ba.doc_id = c.id_a
JOIN succ r ON r.b = ba.b
WHERE r.neg_id <> c.id_a AND r.neg_id <> c.id_b
ORDER BY anchor_id, positive_id
"""


# ---------------------------------------------------------------------------
# q99 — global deterministic training-order shuffle + hash-range sharding
# (ext): the "randomize the corpus before training" step. The assignment
# is a row-local map over a uniform 32-bit md5 key — NO global sort, no
# quantile pass, shard boundaries are fixed key ranges — so at 100 TB it
# costs one projection; ordering inside each shard happens at write time
# via sortWithinPartitions (operators/curation.py:write_shuffle_shards).
# The ORDER BY here exists for the oracle comparison, not the operator.
# ---------------------------------------------------------------------------
_Q99_SHARDS = 16


def q99_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import shuffle_shards

    docs = load(spark, sf_dir, "documents")
    return shuffle_shards(docs, "doc_id", _Q99_SHARDS, salt="shuf").select(
        "doc_id", "shuffle_key", "shard_id"
    ).orderBy("shard_id", "shuffle_key", "doc_id")


Q99_SQL = f"""
SELECT doc_id,
       CAST({_sample_key_sql("shuf")} AS BIGINT) AS shuffle_key,
       CAST(floor(({_sample_key_sql("shuf")} * {_Q99_SHARDS}) / 4294967296.0)
            AS BIGINT) AS shard_id
FROM documents
ORDER BY shard_id, shuffle_key, doc_id
"""


# ---------------------------------------------------------------------------
# q103 — TEMPERATURE-scaled dataset mixing (mT5 / mC4, Xue et al. 2021,
# arXiv:2010.11934 §3.2): where q56's mixing rates are operator-CHOSEN
# literals, here the rates are DERIVED from corpus statistics — each
# language's sampling weight is n^α / Σ n^α (α < 1 upsamples rare
# languages relative to their natural share), realized deterministically
# by hash-thresholding each stratum at rate = budget·total·q_s / n_s.
# α = 0.5 on purpose: sqrt is IEEE-correctly-rounded, so the only
# engine-varying float is the Σ√n accumulation order, absorbed by the
# round(,6) on the rate BEFORE thresholding (both engines then floor the
# same double → identical integer threshold → identical kept set).
#
# Scale shape: exactly TWO corpus passes — a per-stratum count (map-side
# combinable, lang column only) to derive the O(#strata) broadcast rate
# table, then one keyed pass that computes n_docs / rate / sampled_n in a
# SINGLE groupBy (conditional count against the broadcast threshold), so
# the rate subtree never re-enters the plan and nothing scans the corpus
# twice for the same column. No global sort, row-local key derivation.
# ---------------------------------------------------------------------------
_Q103_BUDGET = 0.5  # target sample size as a fraction of the corpus
# The rates come from operators.curation.temperature_rates (imported as
# _temperature_rates), shared with q167 and the corpus builds.


def q103_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import SAMPLE_KEY_MOD

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    rates = _temperature_rates(counts, _Q103_BUDGET)
    keyed = docs.select("lang", sample_key_expr("doc_id", salt="tmix").alias("k"))
    thr = F.floor(F.col("rate") * F.lit(float(SAMPLE_KEY_MOD))).cast("long")
    return (
        keyed.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("rate").alias("rate"),
            F.sum(F.when(F.col("k") < thr, 1).otherwise(0))
            .cast("long")
            .alias("sampled_n"),
        )
        .select("lang", "n_docs", "rate", "sampled_n")
        .orderBy("lang")
    )


Q103_SQL = f"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
den AS (SELECT sum(sqrt(n)) AS d, sum(n) AS tot FROM counts),
rates AS (
    SELECT lang, n,
           least(1.0, round(({_Q103_BUDGET} * tot) * (sqrt(n) / d) / n, 6)) AS rate
    FROM counts, den
),
keyed AS (SELECT lang, {_sample_key_sql("tmix")} AS k FROM documents),
kept AS (
    SELECT k.lang, count(*) AS kept
    FROM keyed k JOIN rates r USING (lang)
    WHERE k.k < CAST(floor(r.rate * 4294967296) AS BIGINT)
    GROUP BY k.lang
),
out AS (
    SELECT r.lang, r.n AS n_docs, r.rate,
           CAST(coalesce(kept.kept, 0) AS BIGINT) AS sampled_n
    FROM rates r LEFT JOIN kept USING (lang)
)
SELECT * FROM out ORDER BY lang
"""


# ---------------------------------------------------------------------------
# q108 — the composite GOPHER quality-rule verdict (Rae et al. 2021,
# arXiv:2112.11446 App. A1.1, adapted to this corpus's tokenization):
# where q58 reports two repetition ratios, this emits the full rule-set
# decision a curation pass actually filters on — one flag column PER
# RULE plus the conjunction — so downstream consumers can both filter
# (passed=1) and audit WHICH rule killed a document. Every rule is
# row-local column algebra over one tokenize (flags are exact-rational
# comparisons — no rounding needed for parity); zero shuffles before
# the final sort. Rules: word count in [20, 100000]; mean word length
# in [2, 12]; >= 2 distinct common stopwords present (the Gopher
# "stop word" heuristic); >= 80% of words contain an alphabetic char;
# duplicate-word ratio <= 0.5 (q58's threshold).
# ---------------------------------------------------------------------------
_G_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def q108_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    n = F.size("toks")
    sum_chars = F.length(F.array_join(F.col("toks"), ""))
    mean_len = sum_chars / n
    stop_hits = sum(
        (F.array_contains("toks", s).cast("int") for s in _G_STOPS), F.lit(0)
    )
    alpha_ratio = F.size(F.filter("toks", lambda w: w.rlike("[a-z]"))) / n
    dup_ratio = F.lit(1.0) - F.size(F.array_distinct("toks")) / n
    flags = toked.select(
        "doc_id",
        ((n >= 20) & (n <= 100000)).cast("int").alias("r_nwords"),
        ((mean_len >= 2.0) & (mean_len <= 12.0)).cast("int").alias("r_wordlen"),
        (stop_hits >= 2).cast("int").alias("r_stopwords"),
        (alpha_ratio >= 0.8).cast("int").alias("r_alpha"),
        (dup_ratio <= 0.5).cast("int").alias("r_rep"),
    )
    return flags.withColumn(
        "passed",
        (
            F.col("r_nwords")
            * F.col("r_wordlen")
            * F.col("r_stopwords")
            * F.col("r_alpha")
            * F.col("r_rep")
        ).cast("int"),
    ).orderBy("doc_id")


_G_STOP_SQL = " + ".join(
    f"CAST(list_contains(toks, '{s}') AS INTEGER)" for s in _G_STOPS
)

Q108_SQL = f"""
WITH toked AS (
    SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents
),
flags AS (
    SELECT doc_id,
        CAST(len(toks) >= 20 AND len(toks) <= 100000 AS INTEGER) AS r_nwords,
        CAST(length(array_to_string(toks, '')) / CAST(len(toks) AS DOUBLE) >= 2.0
             AND length(array_to_string(toks, '')) / CAST(len(toks) AS DOUBLE) <= 12.0
             AS INTEGER) AS r_wordlen,
        CAST(({_G_STOP_SQL}) >= 2 AS INTEGER) AS r_stopwords,
        CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
             / CAST(len(toks) AS DOUBLE) >= 0.8 AS INTEGER) AS r_alpha,
        CAST(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) <= 0.5
             AS INTEGER) AS r_rep
    FROM toked
)
SELECT doc_id, r_nwords, r_wordlen, r_stopwords, r_alpha, r_rep,
       CAST(r_nwords * r_wordlen * r_stopwords * r_alpha * r_rep AS INTEGER)
           AS passed
FROM flags
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q109 — DSIR-style importance-resampling weights (Xie et al. 2023,
# arXiv:2302.03169): score every corpus document by how much more likely
# its unigrams are under a TARGET-domain distribution than under the
# corpus distribution — log w_d = Σ_w c_dw·(ln p_t(w) − ln p_c(w)) with
# add-1 smoothing over the corpus vocabulary — then take the top-k as
# the resampled, target-shaped training subset. The target here is an
# in-corpus slice (doc_id < 100) standing in for the external target
# set; swapping in real target counts changes no plan shape.
#
# Scale shape: per-word log-ratios live on the O(|vocab|) table (two
# map-side-combinable rollups + one broadcast-scalar crossJoin); the
# per-doc contraction joins the (doc, word) rollup — distinct words,
# never the raw token stream (q102's trick) — and top-k compiles to
# TakeOrderedAndProject. Float caveat as q102: ln() + per-doc sum
# drift absorbed by round(,4); ties broken by doc_id.
# ---------------------------------------------------------------------------
_Q109_TARGET_SPLIT = 100
_Q109_TOPK = 50


def q109_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
    dw = toks.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    vc = dw.groupBy("w").agg(F.sum("c").alias("cc"))
    vt = (
        dw.filter(F.col("doc_id") < _Q109_TARGET_SPLIT)
        .groupBy("w")
        .agg(F.sum("c").alias("ct"))
    )
    vocab = vc.join(vt, "w", "left").select(
        "w", "cc", F.coalesce("ct", F.lit(0)).alias("ct")
    )
    scal = vocab.agg(
        F.sum("cc").alias("nc"), F.sum("ct").alias("nt"), F.count("*").alias("v")
    )
    delta = vocab.crossJoin(F.broadcast(scal)).select(
        "w",
        (
            F.log(F.col("ct") + 1)
            - F.log(F.col("nt") + F.col("v"))
            - F.log(F.col("cc") + 1)
            + F.log(F.col("nc") + F.col("v"))
        ).alias("d"),
    )
    return (
        dw.join(delta, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            (F.round(F.sum(F.col("c") * F.col("d")), 4) + F.lit(0.0)).alias("log_w"),
        )
        .orderBy(F.desc("log_w"), F.asc("doc_id"))
        .limit(_Q109_TOPK)
    )


Q109_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest(str_split(lower(text), ' ')) AS w FROM documents
),
dw AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
vc AS (SELECT w, sum(c) AS cc FROM dw GROUP BY w),
vt AS (
    SELECT w, sum(c) AS ct FROM dw
    WHERE doc_id < {_Q109_TARGET_SPLIT} GROUP BY w
),
vocab AS (
    SELECT vc.w, vc.cc, coalesce(vt.ct, 0) AS ct
    FROM vc LEFT JOIN vt ON vc.w = vt.w
),
scal AS (SELECT sum(cc) AS nc, sum(ct) AS nt, count(*) AS v FROM vocab),
delta AS (
    SELECT w,
           ln(ct + 1) - ln(nt + v) - ln(cc + 1) + ln(nc + v) AS d
    FROM vocab, scal
)
SELECT dw.doc_id,
       CAST(sum(dw.c) AS BIGINT) AS n_tokens,
       round(sum(dw.c * delta.d), 4) + 0.0 AS log_w
FROM dw JOIN delta ON dw.w = delta.w
GROUP BY dw.doc_id
ORDER BY log_w DESC, dw.doc_id ASC
LIMIT {_Q109_TOPK}
"""


# ---------------------------------------------------------------------------
# q112 — dataset-lineage SOURCE-OVERLAP matrix (the "how much does
# subcorpus A near-duplicate subcorpus B" audit run before mixing
# datasets — the cross-dataset generalization of q94's batch-vs-corpus
# check, reported as a full pairwise matrix): for every unordered source
# pair, the number of LSH band keys present in BOTH sources and the
# Jaccard overlap of their key sets. Zero rows are kept — a complete
# matrix is the deliverable, absence of overlap is a finding too.
#
# Shape at scale: (source, band_key) DISTINCT rollup is map-side
# combinable; the self-join on band_key fans out at most
# (#sources choose 2) rows per key AFTER the distinct — bounded by the
# source count, not the corpus — and the final pair rollup is tiny.
# Exact-rational Jaccard (int/int) rounded identically on both sides.
# ---------------------------------------------------------------------------
def q112_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import band_keys

    docs = load(spark, sf_dir, "documents")
    keys = (
        band_keys(docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "band_key")
        .distinct()
    )
    sizes = keys.groupBy("source").agg(F.count("*").alias("n_keys"))
    shared = (
        keys.alias("a")
        .join(keys.alias("b"), "band_key")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    grid = (
        sizes.alias("x")
        .crossJoin(sizes.alias("y"))
        .filter(F.col("x.source") < F.col("y.source"))
        .select(
            F.col("x.source").alias("src_a"),
            F.col("y.source").alias("src_b"),
            F.col("x.n_keys").alias("keys_a"),
            F.col("y.n_keys").alias("keys_b"),
        )
    )
    return (
        grid.join(shared, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / (F.col("keys_a") + F.col("keys_b") - F.coalesce("n_shared", F.lit(0))),
                4,
            ).alias("key_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


Q112_SQL = f"""
WITH sh AS (
    SELECT doc_id, {_shingle_sql()} AS shingles
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
),
sig AS (
    SELECT doc_id,
       {_SIGS}
    FROM sh
),
keys AS (
    SELECT DISTINCT d.source, t.band_key
    FROM (
        SELECT doc_id, unnest([
        {_BANDS}
        ]) AS band_key FROM sig
    ) t
    JOIN documents d ON d.doc_id = t.doc_id
),
sizes AS (SELECT source, count(*) AS n_keys FROM keys GROUP BY source),
shared AS (
    SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
    FROM keys a JOIN keys b ON a.band_key = b.band_key AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT x.source AS src_a, y.source AS src_b,
       CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
       round(coalesce(s.n_shared, 0)
             / CAST(x.n_keys + y.n_keys - coalesce(s.n_shared, 0) AS DOUBLE), 4)
           AS key_jaccard
FROM sizes x
JOIN sizes y ON x.source < y.source
LEFT JOIN shared s ON s.src_a = x.source AND s.src_b = y.source
ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# q143 — rendezvous (highest-random-weight) sharding and the re-shard
# migration contract (Thaler & Ravishankar 1998): assign every doc to the
# shard whose md5-weight for (doc, shard) is highest, under S=16 and
# S=17, and measure how many keys MOVE — versus naive `hash mod S`
# placement. HRW moves ~1/(S+1) of keys when a shard is added (only keys
# whose new shard wins the argmax); mod-hash moves ~S/(S+1). At 100 TB
# that is the difference between rewriting ~6% and ~94% of a bucketed
# corpus on re-shard — the reason consistent placement is a first-class
# operator, not an ops afterthought.
#
# Shape at scale: the argmax over shards is computed ROW-LOCALLY as
# array_max over a sequence literal (no explode, no shuffle) — O(S) work
# per key with zero data movement; the only exchange is the final 1-row
# aggregate. For S in the thousands, replace the flat argmax with
# skeleton-tree HRW (argmax over √S groups, then within the winner) —
# same placement contract, O(√S) per lookup. Ties in the 32-bit weight are broken by shard id via the
# exact integer encoding weight*32 + s (weight < 2^32, s < 32: the
# encoding is injective and preserves weight order), identically in the
# oracle's unnest+max derivation.
# ---------------------------------------------------------------------------
_Q143_S0, _Q143_S1 = 16, 17


def _hrw_shard_col(n_shards: int):
    """Row-local HRW shard id for doc_id over ``n_shards`` shards."""

    def weight(s):
        h = F.md5(
            F.concat(
                F.lit("hrw:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                s.cast("string"),
            )
        )
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") * 32 + s.cast(
            "long"
        )

    vals = F.transform(F.sequence(F.lit(0), F.lit(n_shards - 1)), weight)
    return F.array_max(vals) % 32


def q143_hrw_reshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    hv0 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    flags = docs.select(
        (_hrw_shard_col(_Q143_S0) != _hrw_shard_col(_Q143_S1))
        .cast("long")
        .alias("hrw_moved"),
        ((hv0 % _Q143_S0) != (hv0 % _Q143_S1)).cast("long").alias("mod_moved"),
    )
    agg = flags.agg(
        F.count("*").alias("n_keys"),
        F.sum("hrw_moved").alias("hrw"),
        F.sum("mod_moved").alias("mod"),
    )
    return (
        agg.selectExpr(
            "stack(2, 'hrw', hrw, 'mod', mod) as (method, n_moved)", "n_keys"
        )
        .select(
            "method",
            "n_keys",
            "n_moved",
            F.round(F.col("n_moved") / F.col("n_keys") * F.lit(100.0), 2).alias(
                "moved_pct"
            ),
        )
        .orderBy("method")
    )


def _q143_hrw_sql(n_shards: int) -> str:
    hexpr = _hex2int_sql(
        "md5('hrw:' || CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR))", 1, 8
    )
    return (
        f"SELECT doc_id, max(({hexpr}) * 32 + s) % 32 AS shard "
        f"FROM documents, generate_series(0, {n_shards - 1}) AS t(s) "
        f"GROUP BY doc_id"
    )


_Q143_HV0 = _hex2int_sql("md5('shard:' || CAST(doc_id AS VARCHAR))", 1, 8)

Q143_SQL = f"""
WITH h16 AS ({_q143_hrw_sql(_Q143_S0)}),
h17 AS ({_q143_hrw_sql(_Q143_S1)}),
flags AS (
    SELECT CASE WHEN a.shard <> b.shard THEN 1 ELSE 0 END AS hrw_moved,
           CASE WHEN ({_Q143_HV0}) % {_Q143_S0} <> ({_Q143_HV0}) % {_Q143_S1}
                THEN 1 ELSE 0 END AS mod_moved
    FROM h16 a JOIN h17 b USING (doc_id) JOIN documents d USING (doc_id)
),
agg AS (
    SELECT count(*) AS n_keys,
           sum(hrw_moved) AS n_hrw, sum(mod_moved) AS n_mod
    FROM flags
),
stacked AS (
    SELECT 'hrw' AS method, n_keys, CAST(n_hrw AS BIGINT) AS n_moved FROM agg
    UNION ALL
    SELECT 'mod', n_keys, CAST(n_mod AS BIGINT) FROM agg
)
SELECT method, n_keys, n_moved,
       round(n_moved / CAST(n_keys AS DOUBLE) * 100.0, 2) AS moved_pct
FROM stacked
ORDER BY method
"""


# ---------------------------------------------------------------------------
# q144 — triangle census over the near-dup graph with degree-ordered
# orientation (Cohen 2009 / Suri & Vassilvitskii WWW'11): q57 clusters the
# MinHash/LSH candidate graph and q111/q139 rank it; the triangle count +
# global clustering coefficient measure how CLIQUE-LIKE the duplicate
# neighborhoods are (template families triangulate heavily, chain-like
# boilerplate does not). The algorithmic contract is the orientation
# trick: orient every edge from the lower (degree, id) endpoint to the
# higher, so each triangle is counted exactly once at its lowest-rank
# apex and every vertex's OUT-degree is O(√m) — the wedge self-join that
# explodes d² on a hot vertex in the naive formulation becomes bounded,
# which is the difference between feasible and not at 100 TB graph scale.
#
# Determinism: ranks are the injective integer deg·2³² + id (graph ids
# are < 2³²; degree dominates, id breaks ties) — identical orientation on
# both engines, no float anywhere. The oracle re-derives the same census
# from the raw table through the q57 banding CTEs.
# ---------------------------------------------------------------------------
def q144_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # pairs feeds deg, the orientation join, and the edge count; e feeds
    # both wedge sides and the closing semi-join — lineage-pinned lazily
    # (q57/q139 policy) so the LSH banding runs once, not six times.
    pairs = (
        minhash_candidates(docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    deg = (
        pairs.select(F.col("id_a").alias("v"))
        .unionAll(pairs.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    rk = deg.select("v", (F.col("d") * F.lit(2**32) + F.col("v")).alias("rk"))
    e = (
        pairs.join(rk.select(F.col("v").alias("id_a"), F.col("rk").alias("rk_a")), "id_a")
        .join(rk.select(F.col("v").alias("id_b"), F.col("rk").alias("rk_b")), "id_b")
        .select(
            F.when(F.col("rk_a") < F.col("rk_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("src"),
            F.when(F.col("rk_a") < F.col("rk_b"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("dst"),
            F.greatest("rk_a", "rk_b").alias("rk_dst"),
        )
        .localCheckpoint(eager=False)
    )
    e1, e2 = e.alias("e1"), e.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (F.col("e1.rk_dst") < F.col("e2.rk_dst")),
    ).select(F.col("e1.dst").alias("wv"), F.col("e2.dst").alias("ww"))
    tri = wedges.join(
        e.select(F.col("src").alias("wv"), F.col("dst").alias("ww")),
        ["wv", "ww"],
        "left_semi",
    )
    counts = (
        deg.agg(
            F.count("*").alias("n_vertices"),
            (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2))
            .cast("long")
            .alias("n_wedges"),
        )
        .crossJoin(pairs.agg(F.count("*").alias("n_edges")))
        .crossJoin(tri.agg(F.count("*").alias("n_triangles")))
    )
    return counts.select(
        "n_vertices",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("n_triangles") * F.lit(3.0) / F.col("n_wedges"), 4
            )
        )
        .alias("clustering"),
    )


Q144_SQL = f"""
WITH sh AS (
    SELECT doc_id, {_shingle_sql()} AS shingles
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
),
sig AS (
    SELECT doc_id,
       {_SIGS}
    FROM sh
),
banded AS (
    SELECT DISTINCT doc_id, band_key FROM (
        SELECT doc_id, unnest([
        {_BANDS}
        ]) AS band_key FROM sig
    ) t
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a
    JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
deg AS (
    SELECT v, count(*) AS d FROM (
        SELECT id_a AS v FROM pairs UNION ALL SELECT id_b FROM pairs
    ) u GROUP BY v
),
rk AS (SELECT v, d * 4294967296 + v AS rk FROM deg),
ore AS (
    SELECT CASE WHEN ra.rk < rb.rk THEN p.id_a ELSE p.id_b END AS src,
           CASE WHEN ra.rk < rb.rk THEN p.id_b ELSE p.id_a END AS dst,
           greatest(ra.rk, rb.rk) AS rk_dst
    FROM pairs p
    JOIN rk ra ON ra.v = p.id_a
    JOIN rk rb ON rb.v = p.id_b
),
wedge AS (
    SELECT e1.dst AS wv, e2.dst AS ww
    FROM ore e1 JOIN ore e2
      ON e1.src = e2.src AND e1.rk_dst < e2.rk_dst
),
tri AS (
    SELECT count(*) AS n_triangles
    FROM wedge w
    WHERE EXISTS (
        SELECT 1 FROM ore e3 WHERE e3.src = w.wv AND e3.dst = w.ww
    )
)
SELECT (SELECT count(*) FROM deg) AS n_vertices,
       (SELECT count(*) FROM pairs) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       CASE WHEN (SELECT sum(d * (d - 1) / 2) FROM deg) = 0 THEN 0.0
            ELSE round(n_triangles * 3.0
                       / (SELECT sum(d * (d - 1) / 2) FROM deg), 4)
       END AS clustering
FROM tri
"""


# ---------------------------------------------------------------------------
# q145 — leakage-safe train/val/test split (ext): the hold-out assignment a
# training-data pipeline actually needs. Hashing doc_id into folds leaks:
# near-duplicate documents land on opposite sides of the split and the
# eval set scores memorization. The fix composes two operators this
# engine already certifies — duplicate clusters (q57's connected
# components over MinHash/LSH pairs) and deterministic hash-fold
# assignment (q55) — by hashing the CLUSTER CANONICAL (min doc_id of the
# component; singletons are their own canonical), so every near-dup
# family lands in one fold by construction. The query computes BOTH
# assignments and counts split-crossing candidate edges under each:
# a green row proves leak_edges = 0 for the cluster method from the data
# (not by assertion) next to the naive method's non-zero leak.
#
# Shape at scale: components are the q57 propagation (bounded rounds ×
# one shuffle); fold assignment is row-local md5; the leak audit joins
# the capped candidate-pair list against the ≤(docs) label table twice on
# its key — broadcast-able labels at dim scale, sort-merge otherwise.
# ---------------------------------------------------------------------------
def q145_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = (
        minhash_candidates(docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)  # feeds CC + the two leak-audit joins
    )
    comp = connected_components(pairs).select(
        F.col("v").alias("doc_id"), "cluster_id"
    )

    def fold(col):
        h = F.md5(F.concat(F.lit("fold:"), col.cast("string")))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 10

    def split_of(fold_col):
        return (
            F.when(fold_col <= 7, F.lit("train"))
            .when(fold_col == 8, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    lab = (
        docs.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("canon"),
        )
        .select(
            "doc_id",
            split_of(fold(F.col("canon"))).alias("split_c"),
            split_of(fold(F.col("doc_id"))).alias("split_n"),
        )
        .localCheckpoint(eager=False)  # two split counts + two label joins
    )
    counts = (
        lab.groupBy(F.col("split_c").alias("split"))
        .agg(F.count("*").alias("n_docs"))
        .select(F.lit("cluster").alias("method"), "split", "n_docs")
        .unionByName(
            lab.groupBy(F.col("split_n").alias("split"))
            .agg(F.count("*").alias("n_docs"))
            .select(F.lit("naive").alias("method"), "split", "n_docs")
        )
    )
    la = lab.select(
        F.col("doc_id").alias("id_a"),
        F.col("split_c").alias("ca"),
        F.col("split_n").alias("na"),
    )
    lb = lab.select(
        F.col("doc_id").alias("id_b"),
        F.col("split_c").alias("cb"),
        F.col("split_n").alias("nb"),
    )
    leaks = (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .agg(
            F.sum((F.col("ca") != F.col("cb")).cast("long")).alias("leak_cluster"),
            F.sum((F.col("na") != F.col("nb")).cast("long")).alias("leak_naive"),
        )
        .select(
            F.coalesce("leak_cluster", F.lit(0)).alias("leak_cluster"),
            F.coalesce("leak_naive", F.lit(0)).alias("leak_naive"),
        )
    )
    return (
        counts.crossJoin(F.broadcast(leaks))
        .select(
            "method",
            "split",
            "n_docs",
            F.when(F.col("method") == "cluster", F.col("leak_cluster"))
            .otherwise(F.col("leak_naive"))
            .alias("leak_edges"),
        )
        .orderBy("method", "split")
    )


_Q145_FOLD_C = _hex2int_sql("md5('fold:' || CAST(canon AS VARCHAR))", 1, 8)
_Q145_FOLD_N = _hex2int_sql("md5('fold:' || CAST(doc_id AS VARCHAR))", 1, 8)

Q145_SQL = f"""
WITH RECURSIVE sh AS (
    SELECT doc_id, {{shingle}} AS shingles
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
),
sig AS (
    SELECT doc_id,
       {{sigs}}
    FROM sh
),
banded AS (
    SELECT DISTINCT doc_id, band_key FROM (
        SELECT doc_id, unnest([
        {{bands}}
        ]) AS band_key FROM sig
    ) t
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a
    JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach(v, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
),
comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
base AS (
    SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS canon
    FROM documents d LEFT JOIN comp c USING (doc_id)
),
lab AS (
    SELECT doc_id,
           CASE WHEN ({_Q145_FOLD_C}) % 10 <= 7 THEN 'train'
                WHEN ({_Q145_FOLD_C}) % 10 = 8 THEN 'val'
                ELSE 'test' END AS split_c,
           CASE WHEN ({_Q145_FOLD_N}) % 10 <= 7 THEN 'train'
                WHEN ({_Q145_FOLD_N}) % 10 = 8 THEN 'val'
                ELSE 'test' END AS split_n
    FROM base
),
counts AS (
    SELECT 'cluster' AS method, split_c AS split, count(*) AS n_docs
    FROM lab GROUP BY split_c
    UNION ALL
    SELECT 'naive', split_n, count(*) FROM lab GROUP BY split_n
),
leaks AS (
    SELECT
        coalesce(sum(CASE WHEN a.split_c <> b.split_c THEN 1 ELSE 0 END), 0)
            AS leak_cluster,
        coalesce(sum(CASE WHEN a.split_n <> b.split_n THEN 1 ELSE 0 END), 0)
            AS leak_naive
    FROM pairs p
    JOIN lab a ON a.doc_id = p.id_a
    JOIN lab b ON b.doc_id = p.id_b
)
SELECT c.method, c.split, c.n_docs,
       CAST(CASE WHEN c.method = 'cluster' THEN l.leak_cluster
                 ELSE l.leak_naive END AS BIGINT) AS leak_edges
FROM counts c, leaks l
ORDER BY c.method, c.split
""".replace("{shingle}", _shingle_sql()).replace("{sigs}", _SIGS).replace(
    "{bands}", _BANDS
)


# ---------------------------------------------------------------------------
# q151 — bounded k-core peeling (Seidman 1983; Batagelj–Zaveršnik made
# iterative): strip vertices of degree < k from the near-dup graph,
# recompute degrees, repeat — K=3 unrolled rounds with per-round removal
# counts and a `stable` flag (round removed nothing ⇒ the 2-core is
# final). Completes the graph-operator family over the shared capped LSH
# pair graph: q57 components (what's connected), q139 PageRank (what's
# central), q144 triangles (what's clique-like), q151 k-core (what
# SURVIVES pruning — the dense boilerplate families worth human review).
# The iterate-to-convergence contract matches q139/q127: each round is a
# pure integer recompute (degree counts, anti-joins), so K rounds drift
# nothing cross-engine, and the oracle unrolls the same K rounds as
# CTEs — an independent derivation at every step.
#
# Shape at scale: each round is one degree aggregation + two semi-joins
# on the (capped, candidate-pair-sized) edge list; rounds are bounded by
# K, not by data. Production runs rounds until the removal count hits 0
# (the flag this query emits); each round's edge list only shrinks.
# ---------------------------------------------------------------------------
_Q151_K = 2
_Q151_ROUNDS = 3


def q151_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    edges = (
        minhash_candidates(docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    rounds = []
    cur = edges
    for rnd in range(1, _Q151_ROUNDS + 1):
        deg = (
            cur.select(F.col("id_a").alias("v"))
            .unionAll(cur.select(F.col("id_b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
            .localCheckpoint(eager=False)  # feeds keep-set + both stats
        )
        keep = deg.filter(F.col("d") >= _Q151_K).select("v")
        stats = deg.agg(
            F.sum((F.col("d") < _Q151_K).cast("long")).alias("n_removed"),
            F.sum((F.col("d") >= _Q151_K).cast("long")).alias("n_left"),
        ).select(F.lit(rnd).alias("round"), "n_removed", "n_left")
        rounds.append(stats)
        cur = (
            cur.join(keep.withColumnRenamed("v", "id_a"), "id_a", "left_semi")
            .join(keep.withColumnRenamed("v", "id_b"), "id_b", "left_semi")
            .select("id_a", "id_b")
            .localCheckpoint(eager=False)  # next round's deg + semi-joins
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.select(
        "round",
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        F.coalesce("n_left", F.lit(0)).alias("n_left"),
        (F.coalesce("n_removed", F.lit(0)) == 0).alias("stable"),
    ).orderBy("round")


def _q151_round_sql(i: int) -> str:
    """CTEs for round i: deg{i} over e{i-1}, stats, e{i} restricted."""
    return f"""
deg{i} AS (
    SELECT v, count(*) AS d FROM (
        SELECT id_a AS v FROM e{i - 1} UNION ALL SELECT id_b FROM e{i - 1}
    ) u GROUP BY v
),
st{i} AS (
    SELECT {i} AS round,
           coalesce(sum(CASE WHEN d < {_Q151_K} THEN 1 ELSE 0 END), 0)
               AS n_removed,
           coalesce(sum(CASE WHEN d >= {_Q151_K} THEN 1 ELSE 0 END), 0)
               AS n_left
    FROM deg{i}
),
e{i} AS (
    SELECT e.id_a, e.id_b FROM e{i - 1} e
    WHERE EXISTS (SELECT 1 FROM deg{i} a
                  WHERE a.v = e.id_a AND a.d >= {_Q151_K})
      AND EXISTS (SELECT 1 FROM deg{i} b
                  WHERE b.v = e.id_b AND b.d >= {_Q151_K})
)"""


Q151_SQL = (
    f"""
WITH sh AS (
    SELECT doc_id, {_shingle_sql()} AS shingles
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
),
sig AS (
    SELECT doc_id,
       {_SIGS}
    FROM sh
),
banded AS (
    SELECT DISTINCT doc_id, band_key FROM (
        SELECT doc_id, unnest([
        {_BANDS}
        ]) AS band_key FROM sig
    ) t
),
e0 AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a
    JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),"""
    + ",".join(_q151_round_sql(i) for i in range(1, _Q151_ROUNDS + 1))
    + f"""
SELECT round, CAST(n_removed AS BIGINT) AS n_removed,
       CAST(n_left AS BIGINT) AS n_left,
       (n_removed = 0) AS stable
FROM (SELECT * FROM st1 UNION ALL SELECT * FROM st2 UNION ALL SELECT * FROM st3) s
ORDER BY round
"""
)


# ---------------------------------------------------------------------------
# q165 — deterministic random-walk graph sampling (the DeepWalk/node2vec
# corpus generator, Perozzi et al. KDD'14, made reproducible): K=3-step
# walks from the S=16 highest-degree nodes of the shared LSH similarity
# graph (the same capped edge derivation as q57/q144/q151 — the fifth
# graph view rides the one banding pass). Each step moves to the
# neighbor with the minimum md5("walk:<step>:<v>:<u>") key (tiebreak u)
# — a deterministic stand-in for the uniform transition that hash-
# matches across engines, runs, and cluster layouts, exactly like the
# md5 sampling keys everywhere else in this repo. The oracle unrolls
# the three steps as argmin CTEs over the same hash.
#
# Scale shape: the walk frontier is S rows — each step is one join of
# the (pinned) adjacency list against a BROADCAST frontier plus a
# per-start min(struct) — so a K-step walk costs K broadcast joins,
# never a shuffle of the graph; degree/top-S is one rollup +
# TakeOrdered.
# ---------------------------------------------------------------------------
_Q165_STARTS = 16
_Q165_STEPS = 3


def q165_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_candidates(
        docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K
    ).select("id_a", "id_b")
    adj = (
        pairs.select(F.col("id_a").alias("v"), F.col("id_b").alias("u"))
        .unionAll(pairs.select(F.col("id_b").alias("v"), F.col("id_a").alias("u")))
        .distinct()
        .localCheckpoint(eager=False)  # scanned once per walk step + degree
    )
    starts = (
        adj.groupBy("v")
        .agg(F.count("*").alias("d"))
        .orderBy(F.desc("d"), F.asc("v"))
        .limit(_Q165_STARTS)
        .select(F.col("v").alias("start"), F.col("v").alias("node"))
    )
    rows = [
        starts.select(
            "start", F.lit(0).cast("int").alias("step"), F.col("node")
        )
    ]
    cur = starts
    for t in range(1, _Q165_STEPS + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"walk:{t}:"),
                        F.col("v").cast("string"),
                        F.lit(":"),
                        F.col("u").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        nxt = (
            adj.join(
                F.broadcast(cur.select("start", F.col("node").alias("v"))), "v"
            )
            .select("start", h.alias("h"), "u")
            .groupBy("start")
            .agg(F.min(F.struct("h", "u")).alias("m"))
            .select("start", F.col("m.u").alias("node"))
        )
        cur = nxt
        rows.append(
            cur.select("start", F.lit(t).cast("int").alias("step"), "node")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("start", "step")


def _q165_step_sql(t: int) -> str:
    h = _hex2int_sql(
        "md5('walk:" + str(t) + ":' || CAST(adj.v AS VARCHAR) || ':' "
        "|| CAST(adj.u AS VARCHAR))",
        1,
        8,
    )
    return f"""w{t} AS (
    SELECT start, node FROM (
        SELECT w{t - 1}.start, adj.u AS node,
               row_number() OVER (PARTITION BY w{t - 1}.start
                                  ORDER BY {h}, adj.u) AS rn
        FROM w{t - 1} JOIN adj ON adj.v = w{t - 1}.node
    ) x WHERE rn = 1
)"""


Q165_SQL = (
    f"""
WITH sh AS (
    SELECT doc_id, {_shingle_sql()} AS shingles
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
),
sig AS (
    SELECT doc_id,
       {_SIGS}
    FROM sh
),
banded AS (
    SELECT DISTINCT doc_id, band_key FROM (
        SELECT doc_id, unnest([
        {_BANDS}
        ]) AS band_key FROM sig
    ) t
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a
    JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
adj AS (
    SELECT id_a AS v, id_b AS u FROM pairs
    UNION
    SELECT id_b AS v, id_a AS u FROM pairs
),
deg AS (SELECT v, count(*) AS d FROM adj GROUP BY v),
w0 AS (
    SELECT v AS start, v AS node FROM deg
    ORDER BY d DESC, v LIMIT {_Q165_STARTS}
),
"""
    + ",\n".join(_q165_step_sql(t) for t in range(1, _Q165_STEPS + 1))
    + "\n"
    + " UNION ALL ".join(
        f"SELECT start, CAST({t} AS INTEGER) AS step, node FROM w{t}"
        for t in range(0, _Q165_STEPS + 1)
    )
    + "\nORDER BY start, step"
)


# ---------------------------------------------------------------------------
# q166 — O(log n) connected components on a HIGH-DIAMETER graph (ext):
# large-star/small-star contraction (Kiveris et al. 2014, operators/
# curation.cc_two_phase). q57's min-label propagation needs O(diameter)
# shuffles — fine on near-clique LSH dup clusters, fatal on chain graphs
# (CDC-chunk overlap, citation chains) where diameter ~ n. This query
# builds the adversarial case on purpose: per-source PATH graphs over
# sorted doc_ids (diameter = docs/source - 1; ~250 at sf0.1, where
# propagation would need ~250 rounds vs ~9 for star contraction), plus
# deterministic md5-selected skip edges so the graph is not a pure path.
# Components are provably the sources; the oracle re-derives them from the
# same edge list with a RECURSIVE-CTE transitive closure (q57 pattern) —
# fully independent of the contraction algebra.
# Scale: edge construction is one partitioned window (lead x2, no self
# join); each star round is groupBy(min)+join hash-partitioned on the
# node id; rounds grow as log(diameter), the property that makes CC
# feasible on 100 TB chain-shaped graphs.
# ---------------------------------------------------------------------------
_Q166_SKIP_MOD = 4


def q166_logstar_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy("doc_id")
    d = docs.select(
        "doc_id",
        F.lead("doc_id", 1).over(w).alias("n1"),
        F.lead("doc_id", 2).over(w).alias("n2"),
    ).localCheckpoint(eager=False)  # feeds both edge sets
    path_e = d.filter(F.col("n1").isNotNull()).select(
        F.col("doc_id").alias("a"), F.col("n1").alias("b")
    )
    skip_e = d.filter(
        F.col("n2").isNotNull()
        & (sample_key_expr("doc_id", salt="ccskip") % _Q166_SKIP_MOD == 0)
    ).select(F.col("doc_id").alias("a"), F.col("n2").alias("b"))
    labels, _rounds = cc_two_phase(path_e.unionByName(skip_e), "a", "b")
    return (
        labels.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("v").cast("long").alias("sum_ids"),
        )
        .orderBy("cluster_id")
    )


_Q166_SKIP_KEY = _hex2int_sql("md5('ccskip:' || CAST(doc_id AS VARCHAR))", 1, 8)

Q166_SQL = f"""
WITH RECURSIVE d AS (
    SELECT doc_id,
           lead(doc_id, 1) OVER (PARTITION BY source ORDER BY doc_id) AS n1,
           lead(doc_id, 2) OVER (PARTITION BY source ORDER BY doc_id) AS n2
    FROM documents
),
edges0 AS (
    SELECT doc_id AS a, n1 AS b FROM d WHERE n1 IS NOT NULL
    UNION ALL
    SELECT doc_id AS a, n2 AS b FROM d
    WHERE n2 IS NOT NULL AND ({_Q166_SKIP_KEY}) % {_Q166_SKIP_MOD} = 0
),
edges AS (
    SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0
),
reach(v, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
),
lbl AS (
    SELECT v, min(r) AS cluster_id FROM reach GROUP BY v
)
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(v) AS BIGINT) AS sum_ids
FROM lbl
GROUP BY cluster_id
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# q167 — the FULL nightly corpus build, end to end (ext flagship v2): q63
# stops at corpus stats; this runs the training-side tail a real 100 TB
# build ships every night and emits the per-shard MANIFEST a trainer
# consumes: exact dedup → Gopher-lite quality gate (q63 thresholds) →
# n^0.5-temperature mixing with rates derived from the POST-GATE counts
# (q103 core, shared helper) → deterministic hash shuffle-shard assignment
# (q99 core) → per-shard sequence packing in training order (q116's
# parallel prefix sum, blocked so a hot shard never serializes into one
# window task) → one manifest row per shard: doc/token counts, packed
# sequence count, boundary-spanning docs, and an md5-fold checksum (the
# reproducibility receipt — any upstream nondeterminism changes it).
# Composition is the point: every stage is individually oracle-green
# (q37/q63/q103/q99/q116); this proves the CHAIN, where stage coupling
# (mix rates over gated counts, packing over mixed order) is the part no
# per-stage test exercises.
# Plan shape: dedup shuffle → row-local gate (lineage-pinned so the
# filter cannot re-inline the HOF chain) → O(#langs) broadcast rate table
# → row-local shard keys → blocked prefix-sum (bounded windows) → 1
# manifest row per shard. No global sort, no unbounded window, no
# corpus-scale broadcast.
# ---------------------------------------------------------------------------
_Q167_SHARDS = 8
_Q167_SEQLEN = 128
_Q167_BUDGET = 0.5


def q167_corpus_build_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textstats import max_run_count_expr
    from ..operators.curation import SAMPLE_KEY_MOD, shuffle_shards
    from ..operators.dedup import exact_dedup, shingles_from_tokens
    from ..operators.skew import exclusive_prefix_sum

    docs = load(spark, sf_dir, "documents")
    surv = exact_dedup(docs, "text", "doc_id")
    toked = surv.select(
        "doc_id", "lang", F.split("text", " ").alias("_toks")
    ).filter(F.size("_toks") >= 2)
    base = toked.select(
        "doc_id",
        "lang",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("_toks")) / F.size("_toks"), 4
        ).alias("dup_word_ratio"),
        shingles_from_tokens("_toks", 2).alias("_bi"),
    )
    staged = base.withColumn(
        "top_bigram_ratio",
        F.round(max_run_count_expr(F.col("_bi")) / F.size("_bi"), 4),
    ).drop("_bi")
    # lineage pin BEFORE the gate: (a) the filter cannot be pushed below
    # the projection (which would re-inline the HOF chain per q63's note),
    # (b) the gated frame feeds TWO consumers (rate counts + keyed pass)
    # without recomputing the dedup+gate subtree (q146 pattern).
    gated = (
        staged.filter(
            (F.col("dup_word_ratio") <= _Q63_DUP_T)
            & (F.col("top_bigram_ratio") <= _Q63_BIGRAM_T)
        )
        .select("doc_id", "lang", "n_tokens")
        .localCheckpoint(eager=False)
    )
    rates = _temperature_rates(
        gated.groupBy("lang").agg(F.count("*").alias("n")), _Q167_BUDGET
    )
    thr = F.floor(F.col("rate") * F.lit(float(SAMPLE_KEY_MOD))).cast("long")
    mixed = (
        gated.join(F.broadcast(rates), "lang")
        .filter(sample_key_expr("doc_id", salt="cbmix") < thr)
        .select("doc_id", "n_tokens")
    )
    sharded = shuffle_shards(mixed, "doc_id", _Q167_SHARDS, salt="cbshuf")
    # training order within a shard = (shuffle_key, doc_id); composed into
    # one unique numeric order key for the blocked prefix sum (doc ids are
    # < 2^31 in this data model; production would widen the key layout).
    # block_size 2^47 = the top 16 bits of the uniform shuffle_key, so
    # both prefix-sum levels stay bounded even though keys are sparse.
    ordered = sharded.withColumn(
        "_ord", F.col("shuffle_key") * F.lit(2**31) + F.col("doc_id")
    )
    packed = exclusive_prefix_sum(
        ordered, "shard_id", "_ord", "n_tokens", block_size=2**47
    )
    L = _Q167_SEQLEN
    first = F.expr(f"_prefix div {L}")
    last = F.expr(f"(_prefix + n_tokens - 1) div {L}")
    return (
        packed.select(
            "shard_id",
            "n_tokens",
            first.alias("_first"),
            last.alias("_last"),
            sample_key_expr("doc_id", salt="cbsum").alias("_ck"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            (F.max("_last") + 1).cast("long").alias("n_seqs"),
            F.sum(F.when(F.col("_last") > F.col("_first"), 1).otherwise(0))
            .cast("long")
            .alias("n_spanning"),
            F.sum("_ck").cast("long").alias("checksum"),
        )
        .orderBy("shard_id")
    )


_Q167_MIX_KEY = _sample_key_sql("cbmix")
_Q167_SHUF_KEY = _sample_key_sql("cbshuf")
_Q167_CK_KEY = _sample_key_sql("cbsum")

Q167_SQL = f"""
WITH surv AS (
    SELECT * FROM documents
    WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(lower(trim(text))))
),
toked AS (
    SELECT doc_id, lang, str_split(text, ' ') AS toks
    FROM surv WHERE len(str_split(text, ' ')) >= 2
),
base AS (
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4)
               AS dup_word_ratio,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1]) AS bi
    FROM toked
),
cnt AS (
    SELECT doc_id, gram, count(*) AS c
    FROM (SELECT doc_id, unnest(bi) AS gram FROM base) g
    GROUP BY doc_id, gram
),
top AS (
    SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_ratio
    FROM cnt GROUP BY doc_id
),
gated AS (
    SELECT b.doc_id, b.lang, b.n_tokens
    FROM base b JOIN top t USING (doc_id)
    WHERE b.dup_word_ratio <= {_Q63_DUP_T} AND t.top_bigram_ratio <= {_Q63_BIGRAM_T}
),
counts AS (SELECT lang, count(*) AS n FROM gated GROUP BY lang),
den AS (SELECT sum(sqrt(n)) AS d, sum(n) AS tot FROM counts),
rates AS (
    SELECT lang, least(1.0, round(({_Q167_BUDGET} * tot) * (sqrt(n) / d) / n, 6)) AS rate
    FROM counts, den
),
mixed AS (
    SELECT g.doc_id, g.n_tokens
    FROM gated g JOIN rates r USING (lang)
    WHERE {_Q167_MIX_KEY} < CAST(floor(r.rate * 4294967296) AS BIGINT)
),
sharded AS (
    SELECT doc_id, n_tokens,
           CAST({_Q167_SHUF_KEY} AS BIGINT) AS shuffle_key,
           CAST(floor(({_Q167_SHUF_KEY} * {_Q167_SHARDS}) / 4294967296.0)
                AS BIGINT) AS shard_id
    FROM mixed
),
packed AS (
    SELECT shard_id, doc_id, n_tokens,
           COALESCE(sum(n_tokens) OVER (
               PARTITION BY shard_id ORDER BY shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS pre
    FROM sharded
),
perdoc AS (
    SELECT shard_id, n_tokens,
           pre // {_Q167_SEQLEN} AS first_seq,
           (pre + n_tokens - 1) // {_Q167_SEQLEN} AS last_seq,
           CAST({_Q167_CK_KEY} AS BIGINT) AS ck
    FROM packed
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
       CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT)
           AS n_spanning,
       CAST(sum(ck) AS BIGINT) AS checksum
FROM perdoc
GROUP BY shard_id
ORDER BY shard_id
"""


# ---------------------------------------------------------------------------
# q170 — INCREMENTAL sequence-packing maintenance (ext): the append leg of
# q167, the way q160 is the append leg of a join view and q94 of the dedup
# index. A nightly batch of new documents must extend the packed corpus
# WITHOUT re-packing history: per shard, new docs pack starting at the
# STORED token total (sequences continue across the append boundary), and
# the manifest updates additively (docs/tokens/spanning/checksum sum;
# sequence count recomputed from the combined total). Training order is
# (arrival_batch, shuffle_key, doc_id) within a shard — the order an
# appending corpus actually has — which is exactly why incremental ≡ full:
# every base row precedes every batch row, so the batch's offsets are
# base_total + its own prefix sums.
# ORACLE: one full repack over base ∪ batch in that order (naive per-shard
# window) — green proves the incremental update equals the recompute (the
# ST6/IVM contract). Scale shape: the batch side touches only batch rows
# plus the O(#shards) manifest; the base packing here stands in for the
# STORED manifest a production run reads from disk.
# ---------------------------------------------------------------------------
_Q170_SHARDS = 8
_Q170_SEQLEN = 128


def q170_incremental_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import shuffle_shards
    from ..operators.skew import exclusive_prefix_sum

    L = _Q170_SEQLEN
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    tagged = docs.withColumn(
        "b", (sample_key_expr("doc_id", salt="incsplit") % 4 == 0).cast("int")
    )
    sharded = (
        shuffle_shards(tagged, "doc_id", _Q170_SHARDS, salt="incshuf")
        .withColumn("_ord", F.col("shuffle_key") * F.lit(2**31) + F.col("doc_id"))
        .withColumn("_ck", sample_key_expr("doc_id", salt="incsum"))
        .localCheckpoint(eager=False)  # feeds the base and batch branches
    )

    def _man(packed, off):
        first = F.expr(f"({off} + _prefix) div {L}")
        last = F.expr(f"({off} + _prefix + n_tokens - 1) div {L}")
        return packed.groupBy("shard_id").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(F.when(last > first, 1).otherwise(0)).cast("long")
            .alias("n_spanning"),
            F.sum("_ck").cast("long").alias("checksum"),
        )

    base_man = _man(
        exclusive_prefix_sum(
            sharded.filter(F.col("b") == 0), "shard_id", "_ord", "n_tokens",
            block_size=2**47,
        ),
        "0",
    )
    batch_p = exclusive_prefix_sum(
        sharded.filter(F.col("b") == 1), "shard_id", "_ord", "n_tokens",
        block_size=2**47,
    ).join(
        base_man.select("shard_id", F.col("n_tokens").alias("_base_tok")),
        "shard_id",
        "left",
    ).withColumn("_base_tok", F.coalesce("_base_tok", F.lit(0)))
    batch_man = _man(batch_p, "_base_tok")

    b = base_man.select(
        "shard_id", F.col("n_docs").alias("d0"), F.col("n_tokens").alias("t0"),
        F.col("n_spanning").alias("s0"), F.col("checksum").alias("c0"),
    )
    n = batch_man.select(
        "shard_id", F.col("n_docs").alias("d1"), F.col("n_tokens").alias("t1"),
        F.col("n_spanning").alias("s1"), F.col("checksum").alias("c1"),
    )
    z = F.lit(0).cast("long")
    comb = b.join(n, "shard_id", "full").select(
        "shard_id",
        (F.coalesce("d0", z) + F.coalesce("d1", z)).alias("n_docs"),
        (F.coalesce("t0", z) + F.coalesce("t1", z)).alias("n_tokens"),
        (F.coalesce("s0", z) + F.coalesce("s1", z)).alias("n_spanning"),
        (F.coalesce("c0", z) + F.coalesce("c1", z)).alias("checksum"),
    )
    return comb.select(
        "shard_id",
        "n_docs",
        "n_tokens",
        # sequence count from the combined total: ceil(T/L) as exact
        # integer algebra — equals max(last_seq)+1 of the full repack
        F.expr(f"((n_tokens - 1) div {L}) + 1").cast("long").alias("n_seqs"),
        "n_spanning",
        "checksum",
    ).orderBy("shard_id")


_Q170_SHUF_KEY = _sample_key_sql("incshuf")
_Q170_SPLIT_KEY = _sample_key_sql("incsplit")
_Q170_CK_KEY = _sample_key_sql("incsum")

Q170_SQL = f"""
WITH docs AS (
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
           CASE WHEN ({_Q170_SPLIT_KEY}) % 4 = 0 THEN 1 ELSE 0 END AS b,
           CAST({_Q170_CK_KEY} AS BIGINT) AS ck
    FROM documents
),
sharded AS (
    SELECT *,
           CAST({_Q170_SHUF_KEY} AS BIGINT) AS shuffle_key,
           CAST(floor(({_Q170_SHUF_KEY} * {_Q170_SHARDS}) / 4294967296.0)
                AS BIGINT) AS shard_id
    FROM docs
),
packed AS (
    SELECT shard_id, doc_id, n_tokens, ck,
           COALESCE(sum(n_tokens) OVER (
               PARTITION BY shard_id ORDER BY b, shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS pre
    FROM sharded
),
perdoc AS (
    SELECT shard_id, n_tokens, ck,
           pre // {_Q170_SEQLEN} AS first_seq,
           (pre + n_tokens - 1) // {_Q170_SEQLEN} AS last_seq
    FROM packed
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
       CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT)
           AS n_spanning,
       CAST(sum(ck) AS BIGINT) AS checksum
FROM perdoc
GROUP BY shard_id
ORDER BY shard_id
"""


# ---------------------------------------------------------------------------
# q189 — WATER-FILLING quota allocation (ext): the corpus-budgeting
# decision dataset mixing actually starts from — given a total document
# budget B, cap the hot sources and redistribute to the small ones:
# quota_j = min(n_j, T) with the water level T chosen so Σ quota = B
# (the classic water-filling solution to max-min fair allocation; same
# problem shape as §5.3 of the mT5 mixing discussion, solved exactly
# instead of by temperature heuristic — q103's complement). Exact
# integer algebra: sources sorted ascending by size, prefix sums locate
# the threshold segment (first i with P_{i-1} + n_i·R_i ≥ B), integer
# division splits the remaining budget, and the first `rem` capped
# sources get the +1 — no floats anywhere, Σ quota ≡ B emitted in the
# output as the certificate. All windows run over the SOURCE-domain
# aggregate (≤ #sources rows — metadata-scale), never the corpus; the
# corpus is touched by exactly one groupBy.
# ---------------------------------------------------------------------------
_Q189_BUD_NUM, _Q189_BUD_DEN = 2, 5  # budget = 40% of the corpus


def q189_waterfill_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sizes = docs.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    w = Window.orderBy("n", "source")
    ranked = sizes.withColumn("i", F.row_number().over(w)).withColumn(
        "p", F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    tot = sizes.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_sources"),
    ).select(
        "n_total",
        "n_sources",
        F.least(
            F.expr(f"(n_total * {_Q189_BUD_NUM} + {_Q189_BUD_DEN} - 1) "
                   f"div {_Q189_BUD_DEN}"),
            F.col("n_total"),
        ).alias("budget"),
    )
    j = ranked.crossJoin(F.broadcast(tot))
    seg = (
        j.filter(
            (F.col("p") - F.col("n"))
            + F.col("n") * (F.col("n_sources") - F.col("i") + 1)
            >= F.col("budget")
        )
        .agg(
            F.min(
                F.struct(
                    F.col("i").alias("istar"),
                    (F.col("p") - F.col("n")).alias("pstar"),
                    (F.col("n_sources") - F.col("i") + 1).alias("rstar"),
                )
            ).alias("s")
        )
        .select("s.istar", "s.pstar", "s.rstar")
    )
    out = (
        j.crossJoin(F.broadcast(seg))
        .withColumn("_base", F.expr("(budget - pstar) div rstar"))
        .withColumn("_rem", F.expr("(budget - pstar) % rstar"))
        .withColumn(
            "quota",
            F.when(F.col("i") < F.col("istar"), F.col("n")).otherwise(
                F.col("_base")
                + F.when(F.col("i") - F.col("istar") < F.col("_rem"), 1)
                .otherwise(0)
            ).cast("long"),
        )
        .withColumn("capped", F.col("quota") < F.col("n"))
    )
    alloc = out.agg(F.sum("quota").cast("long").alias("total_allocated"))
    return (
        out.crossJoin(F.broadcast(alloc))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            "quota",
            "capped",
            "budget",
            "total_allocated",
        )
        .orderBy("source")
    )


Q189_SQL = f"""
WITH sizes AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
),
ranked AS (
    SELECT source, n,
           row_number() OVER (ORDER BY n, source) AS i,
           sum(n) OVER (ORDER BY n, source) AS p
    FROM sizes
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_sources,
           least((sum(n) * {_Q189_BUD_NUM} + {_Q189_BUD_DEN} - 1)
                 // {_Q189_BUD_DEN}, sum(n)) AS budget
    FROM sizes
),
seg AS (
    SELECT min(i) AS istar,
           min_by(p - n, i) AS pstar,
           min_by(n_sources - i + 1, i) AS rstar
    FROM ranked CROSS JOIN tot
    WHERE (p - n) + n * (n_sources - i + 1) >= budget
),
out AS (
    SELECT r.source, r.n,
           CASE WHEN r.i < s.istar THEN r.n
                ELSE (t.budget - s.pstar) // s.rstar
                     + CASE WHEN r.i - s.istar
                                 < (t.budget - s.pstar) % s.rstar
                            THEN 1 ELSE 0 END
           END AS quota,
           t.budget
    FROM ranked r CROSS JOIN seg s CROSS JOIN tot t
)
SELECT source,
       n AS n_docs,
       CAST(quota AS BIGINT) AS quota,
       quota < n AS capped,
       CAST(budget AS BIGINT) AS budget,
       CAST(sum(quota) OVER () AS BIGINT) AS total_allocated
FROM out
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q180 — INCREMENTAL connected components (ext): merge a BATCH of new
# edges into a stored component labeling without re-touching the base
# edge set — the every-ingest graph operation (new dup pairs, new link
# discoveries) where full CC recompute over 100 TB of accumulated edges
# per batch is quadratic over time. Correctness rests on star
# equivalence: the stored labeling L, re-expressed as star edges
# (v → label(v)), is connectivity-EQUIVALENT to the base edge set, so
# CC(star(L) ∪ E_batch) = CC(E_base ∪ E_batch) — and star(L) is one
# edge per base node with depth-1 structure, so the incremental
# contraction converges in O(1)-ish rounds regardless of how deep the
# base graph was (the q166 path graphs need ~9 contraction rounds from
# scratch; their stars need ~2).
# The oracle never sees the base/batch seam at all: it recomputes the
# transitive closure over the FULL edge set with a recursive CTE —
# parity IS the incremental-equals-recompute proof.
# Graph: q166's adversarial per-source path+skip shape under an
# independent salt; the batch = edges whose source endpoint hash-selects
# at 1/5 (deterministic, mirrored only in the CONSTRUCTION, not the
# oracle's clustering).
# Scale: incremental cost is O(|nodes| + |batch|) edges into
# cc_two_phase, not O(|E_base|); the labeling is exactly the state a
# 100 TB pipeline persists between ingests.
# ---------------------------------------------------------------------------
_Q180_SKIP_MOD = 5
_Q180_BATCH_MOD = 5


def q180_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy("doc_id")
    d = docs.select(
        "doc_id",
        F.lead("doc_id", 1).over(w).alias("n1"),
        F.lead("doc_id", 2).over(w).alias("n2"),
    ).localCheckpoint(eager=False)  # feeds both edge sets
    path_e = d.filter(F.col("n1").isNotNull()).select(
        F.col("doc_id").alias("a"), F.col("n1").alias("b")
    )
    skip_e = d.filter(
        F.col("n2").isNotNull()
        & (sample_key_expr("doc_id", salt="ccinc") % _Q180_SKIP_MOD == 0)
    ).select(F.col("doc_id").alias("a"), F.col("n2").alias("b"))
    edges = path_e.unionByName(skip_e).localCheckpoint(eager=False)
    is_batch = sample_key_expr("a", salt="ccbatch") % _Q180_BATCH_MOD == 0
    base_e = edges.filter(~is_batch)
    batch_e = edges.filter(is_batch).localCheckpoint(eager=False)
    base_labels, _ = cc_two_phase(base_e, "a", "b")
    star = base_labels.filter(F.col("v") != F.col("cluster_id")).select(
        F.col("v").alias("a"), F.col("cluster_id").alias("b")
    )
    labels, _rounds = cc_two_phase(star.unionByName(batch_e), "a", "b")
    return (
        labels.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("v").cast("long").alias("sum_ids"),
        )
        .orderBy("cluster_id")
    )


_Q180_SKIP_KEY = _hex2int_sql("md5('ccinc:' || CAST(doc_id AS VARCHAR))", 1, 8)

Q180_SQL = f"""
WITH RECURSIVE d AS (
    SELECT doc_id,
           lead(doc_id, 1) OVER (PARTITION BY source ORDER BY doc_id) AS n1,
           lead(doc_id, 2) OVER (PARTITION BY source ORDER BY doc_id) AS n2
    FROM documents
),
edges0 AS (
    SELECT doc_id AS a, n1 AS b FROM d WHERE n1 IS NOT NULL
    UNION ALL
    SELECT doc_id AS a, n2 AS b FROM d
    WHERE n2 IS NOT NULL AND ({_Q180_SKIP_KEY}) % {_Q180_SKIP_MOD} = 0
),
edges AS (
    SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0
),
reach(v, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
),
lbl AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v)
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(v) AS BIGINT) AS sum_ids
FROM lbl
GROUP BY cluster_id
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# q173 — entity resolution with GOLDEN-RECORD survivorship (ext): the
# master-data-management composition a 100 TB corpus runs to collapse
# near-identical records into one canonical entity (Fellegi–Sunter-style
# block → verify → cluster, then attribute survivorship). Chain:
# (1) BLOCKING: capped MinHash/LSH banding (q46's operator, max_group
#     star expansion — never all-pairs);
# (2) VERIFY: exact shingle-set Jaccard on candidates only, as the
#     integer cross-multiplication n_inter·DEN ≥ n_union·NUM (no float
#     threshold, both engines compare identical integers);
# (3) CLUSTER: connected components over verified edges (min-label
#     propagation — LSH dup clusters are near-cliques, diameter ≤ ~3;
#     chain-shaped graphs would use q166's cc_two_phase instead);
# (4) SURVIVORSHIP: one golden record per entity — representative = the
#     LONGEST member (max n_chars, min doc_id tiebreak, via a single
#     struct-max argmax: no per-cluster sort), merged source/lang sets,
#     member count and total bytes.
# Each stage is individually oracle-green elsewhere (q46/q39/q57); the
# new surface is the survivorship algebra and the stage coupling. The
# oracle re-derives everything independently: recursive-CTE transitive
# closure for the clusters and a row_number window for the
# representative.
# Scale: banding is one groupBy; verify joins shingle ARRAYS to the
# capped candidate set only (pair volume bounded by banding, arrays by
# doc length); survivorship is one groupBy on cluster_id. No collect,
# no corpus-scale broadcast, no unpartitioned window.
# ---------------------------------------------------------------------------
_Q173_T_NUM, _Q173_T_DEN = 1, 2  # exact Jaccard threshold 1/2


def q173_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import with_shingles

    docs = load(spark, sf_dir, "documents").localCheckpoint(
        eager=False
    )  # feeds blocking, verify, and survivorship
    cands = minhash_candidates(
        docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K,
        max_group=_MAX_GROUP,
    )
    sh = with_shingles(docs, "doc_id", "text", SHINGLE_K).select(
        "doc_id", F.array_distinct("shingles").alias("_sh")
    ).localCheckpoint(eager=False)  # joined twice (both pair sides)
    verified = (
        cands.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sa")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("_sb")),
            "id_b",
        )
        .withColumn("_ni", F.size(F.array_intersect("_sa", "_sb")).cast("long"))
        .withColumn(
            "_nu", (F.size("_sa") + F.size("_sb")).cast("long") - F.col("_ni")
        )
        .filter(
            F.col("_ni") * _Q173_T_DEN >= F.col("_nu") * _Q173_T_NUM
        )
        .select("id_a", "id_b")
    )
    labels = connected_components(verified)
    members = labels.join(docs, labels["v"] == docs["doc_id"])
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.min("doc_id").cast("long").alias("entity_id"),
            F.max(
                F.struct(
                    F.col("n_chars").alias("nc"), (-F.col("doc_id")).alias("ni")
                )
            ).alias("_best"),
            F.concat_ws(",", F.array_sort(F.collect_set("source"))).alias(
                "sources"
            ),
            F.concat_ws(",", F.array_sort(F.collect_set("lang"))).alias("langs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            "entity_id",
            "n_members",
            (-F.col("_best.ni")).cast("long").alias("rep_doc_id"),
            F.col("_best.nc").cast("long").alias("rep_n_chars"),
            "sources",
            "langs",
            "total_chars",
        )
        .orderBy("entity_id")
    )


Q173_SQL = f"""
WITH RECURSIVE {_CAPPED_PAIRS_CTES},
cand AS (SELECT DISTINCT id_a, id_b FROM pairs),
shd AS (
    SELECT doc_id, unnest(list_distinct({_shingle_sql()})) AS shingle
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
),
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shd GROUP BY doc_id
),
inter AS (
    SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
    FROM cand c
    JOIN shd a ON a.doc_id = c.id_a
    JOIN shd b ON b.doc_id = c.id_b AND b.shingle = a.shingle
    GROUP BY 1, 2
),
verified AS (
    SELECT i.id_a, i.id_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter * {_Q173_T_DEN}
          >= (sa.n_sh + sb.n_sh - i.n_inter) * {_Q173_T_NUM}
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM verified
    UNION
    SELECT id_b, id_a FROM verified
),
reach(v, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
),
lbl AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v),
mem AS (
    SELECT l.cluster_id, d.doc_id, d.source, d.lang, d.n_chars
    FROM lbl l JOIN documents d ON d.doc_id = l.v
),
rep AS (
    SELECT cluster_id, doc_id AS rep_doc_id, n_chars AS rep_n_chars
    FROM (
        SELECT cluster_id, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM mem
    ) t WHERE rn = 1
)
SELECT CAST(min(m.doc_id) AS BIGINT) AS entity_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(r.rep_doc_id AS BIGINT) AS rep_doc_id,
       CAST(r.rep_n_chars AS BIGINT) AS rep_n_chars,
       array_to_string(list_sort(list(DISTINCT m.source)), ',') AS sources,
       array_to_string(list_sort(list(DISTINCT m.lang)), ',') AS langs,
       CAST(sum(m.n_chars) AS BIGINT) AS total_chars
FROM mem m JOIN rep r USING (cluster_id)
GROUP BY m.cluster_id, r.rep_doc_id, r.rep_n_chars
ORDER BY entity_id
"""


# ---------------------------------------------------------------------------
# q224 — raking / iterative proportional fitting, K=2 unrolled rounds
# (ext): the survey-statistics weight calibration a corpus-balancing
# pipeline runs when TWO marginals must hold at once (q103 temperature
# mixing is the 1-D case) — start every (source, lang) cell at weight 1,
# scale cells so SOURCE marginals hit uniform 1/S, then so LANG
# marginals hit uniform 1/L (which disturbs the source fit — that
# residual is the readout), with the full trajectory exact: weights are
# 10⁶-scaled integers, each multiplicative update is one floor division
# of DECIMAL(38,0)/HUGEINT products (w·M / (S·M_s)), and the
# after-round marginal errors ship as columns so convergence is data,
# not prose.
# Scale: ONE corpus groupBy to the (source, lang) cell table — every
# iteration is arithmetic over |S|·|L| rows; nothing rescans the corpus.
# ---------------------------------------------------------------------------
_Q224_SCALE = 1_000_000


def q224_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cells = (
        docs.groupBy("source", "lang")
        .agg(F.count("*").alias("n"))
        .withColumn("w", F.lit(_Q224_SCALE).cast("decimal(38,0)"))
        .localCheckpoint(eager=False)
    )

    def rake(df: DataFrame, dim: str) -> DataFrame:
        """One IPF round: scale each dim-group's mass to the uniform share."""
        mass = df.groupBy(dim).agg(
            F.sum(F.col("w") * F.col("n")).alias("m_d")
        )
        tot = mass.agg(
            F.sum("m_d").cast("decimal(38,0)").alias("m"),
            F.count("*").alias("k"),
        )
        return (
            df.join(mass, dim)
            .crossJoin(F.broadcast(tot))
            .withColumn(
                "w",
                F.expr("CAST((w * m) div (k * m_d) AS DECIMAL(38,0))"),
            )
            .drop("m_d", "m", "k")
        )

    raked = rake(rake(cells, "source"), "lang").localCheckpoint(
        eager=False
    )  # feeds output + both marginal audits

    def max_err(df: DataFrame, dim: str):
        mass = df.groupBy(dim).agg(F.sum(F.col("w") * F.col("n")).alias("m_d"))
        return (
            mass.agg(
                F.sum("m_d").cast("double").alias("m"),
                F.count("*").cast("double").alias("k"),
                F.max("m_d").cast("double").alias("mx"),
                F.min("m_d").cast("double").alias("mn"),
            )
            .select(
                F.greatest(
                    F.col("mx") / F.col("m") - 1.0 / F.col("k"),
                    1.0 / F.col("k") - F.col("mn") / F.col("m"),
                ).alias(f"max_{dim}_err")
            )
        )

    errs = max_err(raked, "source").crossJoin(F.broadcast(max_err(raked, "lang")))
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    return (
        raked.crossJoin(F.broadcast(errs))
        .select(
            "source",
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            (F.col("w").cast("double") / F.lit(float(_Q224_SCALE))).alias(
                "weight"
            ),
            r6(F.col("max_source_err")).alias("max_source_err"),
            r6(F.col("max_lang_err")).alias("max_lang_err"),
        )
        .orderBy("source", "lang")
    )


Q224_SQL = f"""
WITH cells AS (
    SELECT source, lang, count(*) AS n,
           CAST({_Q224_SCALE} AS HUGEINT) AS w
    FROM documents GROUP BY 1, 2
),
m1 AS (SELECT source, sum(w * n) AS m_d FROM cells GROUP BY 1),
t1 AS (SELECT sum(m_d) AS m, count(*) AS k FROM m1),
r1 AS (
    SELECT c.source, c.lang, c.n,
           (c.w * t1.m) // (t1.k * m1.m_d) AS w
    FROM cells c JOIN m1 USING (source) CROSS JOIN t1
),
m2 AS (SELECT lang, sum(w * n) AS m_d FROM r1 GROUP BY 1),
t2 AS (SELECT sum(m_d) AS m, count(*) AS k FROM m2),
r2 AS (
    SELECT r1.source, r1.lang, r1.n,
           (r1.w * t2.m) // (t2.k * m2.m_d) AS w
    FROM r1 JOIN m2 USING (lang) CROSS JOIN t2
),
ms AS (SELECT source, sum(w * n) AS m_d FROM r2 GROUP BY 1),
ml AS (SELECT lang, sum(w * n) AS m_d FROM r2 GROUP BY 1),
es2 AS (
    SELECT greatest(CAST(max(m_d) AS DOUBLE) / (SELECT sum(m_d) FROM ms)
                        - 1.0 / count(*),
                    1.0 / count(*)
                        - CAST(min(m_d) AS DOUBLE) / (SELECT sum(m_d) FROM ms))
               AS max_source_err
    FROM ms
),
el AS (
    SELECT greatest(CAST(max(m_d) AS DOUBLE) / (SELECT sum(m_d) FROM ml)
                        - 1.0 / count(*),
                    1.0 / count(*)
                        - CAST(min(m_d) AS DOUBLE) / (SELECT sum(m_d) FROM ml))
               AS max_lang_err
    FROM ml
)
SELECT r2.source, r2.lang,
       CAST(r2.n AS BIGINT) AS n_docs,
       CAST(r2.w AS DOUBLE) / {_Q224_SCALE} AS weight,
       floor(es2.max_source_err * 1000000 + 0.5) / 1000000.0
           AS max_source_err,
       floor(el.max_lang_err * 1000000 + 0.5) / 1000000.0 AS max_lang_err
FROM r2 CROSS JOIN es2 CROSS JOIN el
ORDER BY r2.source, r2.lang
"""


# ---------------------------------------------------------------------------
# q200 — synchronous label-propagation communities, K=3 rounds (ext):
# the cheap community-detection pass (Raghavan et al. 2007) a curation
# pipeline runs over the near-dup candidate graph to find topical/dup
# neighborhoods BELOW the connected-component grain (CC merges through
# weak bridges; LPA's per-round neighbor-majority vote does not). Same
# shared capped LSH banding graph as q57/q139/q144/q151; labels start as
# node ids and each round every node adopts its neighbors' MAJORITY
# label (count desc, tie → smallest label — fully deterministic, no
# random tie-break). The full label trajectory (lbl1..lbl3) ships per
# node, q139-style, so convergence is auditable; final community sizes
# join from the round-3 rollup.
# Scale: one banding pass feeds everything (lineage-pinned lazily); each
# round is one edges⋈labels shuffle + two bounded groupBys (per-node
# neighbor-label counts collapse map-side). K is fixed — for
# diameter-unbounded convergence the q166 large/small-star machinery is
# the tool; LPA at K rounds is the documented curation trade.
# ---------------------------------------------------------------------------
_Q200_K = 3


def q200_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = (
        minhash_candidates(
            docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K,
            max_group=_MAX_GROUP,
        )
        .select("id_a", "id_b")
        .distinct()
    )
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .localCheckpoint(eager=False)  # K round-joins reference this
    )
    lab = edges.select(F.col("u").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    rounds: list[DataFrame] = []
    for _ in range(_Q200_K):
        nb = edges.join(
            lab.select(F.col("v").alias("u"), "lbl"), "u"
        ).select("v", "lbl")
        cnt = nb.groupBy("v", "lbl").agg(F.count("*").alias("c"))
        lab = (
            cnt.select(
                "v",
                F.struct(F.col("c"), (-F.col("lbl")).alias("nl")).alias("s"),
            )
            .groupBy("v")
            .agg(F.max("s").alias("b"))
            .select("v", (-F.col("b.nl")).alias("lbl"))
            .localCheckpoint(eager=False)  # feeds next round + output
        )
        rounds.append(lab)
    l1, l2, l3 = rounds
    comm = l3.groupBy("lbl").agg(F.count("*").alias("comm_size"))
    return (
        l1.select("v", F.col("lbl").alias("lbl1"))
        .join(l2.select("v", F.col("lbl").alias("lbl2")), "v")
        .join(l3.select("v", F.col("lbl").alias("lbl3")), "v")
        .join(comm.select(F.col("lbl").alias("lbl3"), "comm_size"), "lbl3")
        .select(
            F.col("v").alias("doc_id"),
            F.col("lbl1").cast("long").alias("lbl1"),
            F.col("lbl2").cast("long").alias("lbl2"),
            F.col("lbl3").cast("long").alias("lbl3"),
            F.col("comm_size").cast("long").alias("comm_size"),
        )
        .orderBy("doc_id")
    )


def _q200_round_sql(i: int) -> str:
    return f"""nb{i} AS (
    SELECT e.v, l.lbl, count(*) AS c
    FROM edges e JOIN lab{i - 1} l ON l.v = e.u
    GROUP BY 1, 2
),
lab{i} AS (
    SELECT v, lbl FROM (
        SELECT v, lbl,
               row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
        FROM nb{i}
    ) t WHERE rn = 1
)"""


Q200_SQL = (
    f"""
WITH {_CAPPED_PAIRS_CTES},
dp AS (SELECT DISTINCT id_a, id_b FROM pairs),
edges AS (
    SELECT id_a AS u, id_b AS v FROM dp
    UNION ALL
    SELECT id_b AS u, id_a AS v FROM dp
),
lab0 AS (SELECT DISTINCT u AS v, u AS lbl FROM edges),
"""
    + ",\n".join(_q200_round_sql(i) for i in range(1, _Q200_K + 1))
    + f""",
comm AS (SELECT lbl, count(*) AS comm_size FROM lab{_Q200_K} GROUP BY 1)
SELECT l1.v AS doc_id,
       CAST(l1.lbl AS BIGINT) AS lbl1,
       CAST(l2.lbl AS BIGINT) AS lbl2,
       CAST(l3.lbl AS BIGINT) AS lbl3,
       CAST(c.comm_size AS BIGINT) AS comm_size
FROM lab1 l1
JOIN lab2 l2 ON l2.v = l1.v
JOIN lab3 l3 ON l3.v = l1.v
JOIN comm c ON c.lbl = l3.lbl
ORDER BY doc_id
"""
)


# ---------------------------------------------------------------------------
# q198 — leakage-safe K-fold target encoding (ext): the categorical
# feature-engineering workhorse — encode p_brand by the mean
# l_extendedprice of OTHER folds' rows only (out-of-fold), so the
# encoding a model trains on never saw the row's own target (the q145
# leakage discipline applied to features). Ships the ENCODING TABLE
# (brand × fold, the model artifact), not corpus-sized encoded rows.
# Includes the m-smoothed variant (shrink small brands toward the
# out-of-fold GLOBAL mean) computed as one exact rational:
# (s_oof·n_gof + m·s_gof) / ((n_oof+m)·n_gof) in 128-bit integers.
# Determinism: folds are md5-derived (never hash()); the target is
# quantized to cents and summed in DECIMAL(38,0)/HUGEINT (order-free);
# doubles appear only in the final divisions of identical integers, 4dp.
# Scale: one corpus-wide join (lineitem⋈part on partkey — hint-free, AQE
# sizes it) and ONE groupBy to the (brand, fold) grid; everything after
# is |brands|×K rows. The dense grid keeps brands that miss a fold
# (their encoding falls back to the out-of-fold global mean).
# ---------------------------------------------------------------------------
_Q198_K = 4       # folds
_Q198_M = 20      # smoothing pseudo-count (rows of global prior)


def q198_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rows = (
        li.join(part.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            F.pmod(
                sample_key_expr(
                    F.concat_ws("#", "l_orderkey", "l_linenumber"), salt="tenc"
                ),
                F.lit(_Q198_K),
            ).alias("fold"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    cells = (
        rows.groupBy("brand", "fold")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        )
        .localCheckpoint(eager=False)  # feeds dense grid + 3 rollups
    )
    dense = (
        cells.select("brand").distinct()
        .crossJoin(cells.select("fold").distinct())
        .join(cells, ["brand", "fold"], "left")
        .fillna(0, subset=["n"])
        .withColumn("s", F.coalesce("s", F.lit(0).cast("decimal(38,0)")))
    )
    per_brand = cells.groupBy("brand").agg(
        F.sum("n").alias("nb"), F.sum("s").cast("decimal(38,0)").alias("sb")
    )
    per_fold = cells.groupBy("fold").agg(
        F.sum("n").alias("nf"), F.sum("s").cast("decimal(38,0)").alias("sf")
    )
    tot = cells.agg(
        F.sum("n").alias("nt"), F.sum("s").cast("decimal(38,0)").alias("st")
    )
    oof = (
        dense.join(per_brand, "brand")
        .join(per_fold, "fold")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand",
            "fold",
            F.col("n").cast("long").alias("n_in_fold"),
            (F.col("nb") - F.col("n")).cast("long").alias("n_oof"),
            (F.col("sb") - F.col("s")).alias("s_oof"),
            (F.col("nt") - F.col("nf")).cast("long").alias("n_gof"),
            (F.col("st") - F.col("sf")).alias("s_gof"),
        )
    )
    # 4dp half-up rounding in EXACT integer arithmetic — r4(num/den) =
    # (num·20000 + den) div (2·den) — so no engine ever rounds a double
    # at a tie (the q183 exactness discipline extended through rounding).
    withnd = oof.select(
        "brand",
        "fold",
        "n_in_fold",
        "n_oof",
        F.when(F.col("n_oof") == 0, F.col("s_gof"))
        .otherwise(F.col("s_oof"))
        .cast("decimal(38,0)")
        .alias("e_num"),
        (
            F.when(F.col("n_oof") == 0, F.col("n_gof")).otherwise(F.col("n_oof"))
            * F.lit(100)
        )
        .cast("decimal(38,0)")
        .alias("e_den"),
        (F.col("s_oof") * F.col("n_gof") + F.lit(_Q198_M) * F.col("s_gof"))
        .cast("decimal(38,0)")
        .alias("s_num"),
        (
            (F.col("n_oof") + F.lit(_Q198_M)).cast("decimal(38,0)")
            * F.col("n_gof")
            * F.lit(100)
        )
        .cast("decimal(38,0)")
        .alias("s_den"),
    )
    return withnd.select(
        "brand",
        "fold",
        "n_in_fold",
        "n_oof",
        (
            F.expr(
                "CAST((e_num * 20000 + e_den) div (2 * e_den) AS BIGINT)"
            ).cast("double")
            / F.lit(10000.0)
        ).alias("enc_oof"),
        (
            F.expr(
                "CAST((s_num * 20000 + s_den) div (2 * s_den) AS BIGINT)"
            ).cast("double")
            / F.lit(10000.0)
        ).alias("enc_smooth"),
    ).orderBy("brand", "fold")


def _q198_fold_sql() -> str:
    md5 = (
        "md5('tenc:' || CAST(l_orderkey AS VARCHAR) || '#'"
        " || CAST(l_linenumber AS VARCHAR))"
    )
    return f"(({_hex2int_sql(md5, 1, 8)}) % {_Q198_K})"


Q198_SQL = f"""
WITH rows_ AS (
    SELECT p.p_brand AS brand,
           {_q198_fold_sql()} AS fold,
           CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
cells AS (
    SELECT brand, fold, count(*) AS n, sum(CAST(cents AS HUGEINT)) AS s
    FROM rows_ GROUP BY 1, 2
),
dense AS (
    SELECT b.brand, f.fold,
           coalesce(c.n, 0) AS n,
           coalesce(c.s, CAST(0 AS HUGEINT)) AS s
    FROM (SELECT DISTINCT brand FROM cells) b
    CROSS JOIN (SELECT DISTINCT fold FROM cells) f
    LEFT JOIN cells c ON c.brand = b.brand AND c.fold = f.fold
),
per_brand AS (SELECT brand, sum(n) AS nb, sum(s) AS sb FROM cells GROUP BY 1),
per_fold AS (SELECT fold, sum(n) AS nf, sum(s) AS sf FROM cells GROUP BY 1),
tot AS (SELECT sum(n) AS nt, sum(s) AS st FROM cells),
oof AS (
    SELECT d.brand, d.fold,
           CAST(d.n AS BIGINT) AS n_in_fold,
           CAST(pb.nb - d.n AS BIGINT) AS n_oof,
           pb.sb - d.s AS s_oof,
           CAST(t.nt - pf.nf AS BIGINT) AS n_gof,
           t.st - pf.sf AS s_gof
    FROM dense d
    JOIN per_brand pb ON pb.brand = d.brand
    JOIN per_fold pf ON pf.fold = d.fold
    CROSS JOIN tot t
),
nd AS (
    SELECT brand, fold, n_in_fold, n_oof,
           CAST(CASE WHEN n_oof = 0 THEN s_gof ELSE s_oof END AS HUGEINT)
               AS e_num,
           CAST(CASE WHEN n_oof = 0 THEN n_gof ELSE n_oof END AS HUGEINT)
               * 100 AS e_den,
           s_oof * n_gof + {_Q198_M} * s_gof AS s_num,
           CAST(n_oof + {_Q198_M} AS HUGEINT) * n_gof * 100 AS s_den
    FROM oof
)
SELECT brand, CAST(fold AS BIGINT) AS fold, n_in_fold, n_oof,
       CAST(CAST((e_num * 20000 + e_den) // (2 * e_den) AS BIGINT) AS DOUBLE)
           / 10000.0 AS enc_oof,
       CAST(CAST((s_num * 20000 + s_den) // (2 * s_den) AS BIGINT) AS DOUBLE)
           / 10000.0 AS enc_smooth
FROM nd
ORDER BY brand, fold
"""


# ---------------------------------------------------------------------------
# q250 — Newman modularity of the LPA communities (ext): q200 FINDS
# communities; modularity answers "are they real structure or noise?"
# — the standard partition-quality score Q = Σ_c [ m_c/m − (d_c/2m)² ]
# over the same capped LSH graph and the same K=3 LPA labels. Exact
# integer algebra: each community's contribution numerator is
# 4·m·m_c − d_c² in DECIMAL(38)/HUGEINT (4·m·m_c overflows int64 at
# corpus edge counts), divided ONCE by 4m² at the end. Per-community
# rows carry the table-level Q replicated (q227 convention), so the
# output certifies both the rollup and the total.
# Scale: the banding pass, the LPA rounds, one edges⋈labels join for
# degrees, one pairs⋈labels⋈labels join for intra-edges — every
# shuffle keyed on node/label, nothing corpus-wide collects.
# ---------------------------------------------------------------------------
def q250_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = (
        minhash_candidates(
            docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K,
            max_group=_MAX_GROUP,
        )
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=False)  # feeds edges + intra join + m
    )
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .localCheckpoint(eager=False)  # LPA rounds + degrees reference this
    )
    lab = edges.select(F.col("u").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    for _ in range(_Q200_K):
        nb = edges.join(
            lab.select(F.col("v").alias("u"), "lbl"), "u"
        ).select("v", "lbl")
        cnt = nb.groupBy("v", "lbl").agg(F.count("*").alias("c"))
        lab = (
            cnt.select(
                "v",
                F.struct(F.col("c"), (-F.col("lbl")).alias("nl")).alias("s"),
            )
            .groupBy("v")
            .agg(F.max("s").alias("b"))
            .select("v", (-F.col("b.nl")).alias("lbl"))
            .localCheckpoint(eager=False)  # next round + joins below
        )
    deg = edges.groupBy(F.col("u").alias("v")).agg(F.count("*").alias("deg"))
    dsum = (
        lab.join(deg, "v")
        .groupBy("lbl")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("d_c"),
        )
    )
    intra = (
        pairs.join(lab.select(F.col("v").alias("id_a"), F.col("lbl").alias("la")), "id_a")
        .join(lab.select(F.col("v").alias("id_b"), F.col("lbl").alias("lb")), "id_b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count("*").cast("long").alias("m_c"))
    )
    m = pairs.agg(F.count("*").cast("long").alias("m"))
    cells = (
        dsum.join(intra, "lbl", "left")
        .fillna(0, subset=["m_c"])
        .crossJoin(F.broadcast(m))
        .withColumn(
            "contrib_num",
            F.expr(
                "4 * CAST(m AS DECIMAL(38,0)) * m_c"
                " - CAST(d_c AS DECIMAL(38,0)) * d_c"
            ),
        )
        .localCheckpoint(eager=False)  # feeds rows + the Q total
    )
    tot = cells.agg(
        F.sum("contrib_num").alias("q_num"), F.max("m").alias("m_")
    )
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    qd = F.col("q_num").cast("double") / (
        F.lit(4.0) * F.col("m_").cast("double") * F.col("m_").cast("double")
    )
    return (
        cells.crossJoin(F.broadcast(tot.select("q_num", "m_")))
        .select(
            F.col("lbl").cast("long").alias("community"),
            "n_nodes",
            "m_c",
            "d_c",
            F.col("contrib_num").cast("double").alias("contrib_num"),
            r6(qd).alias("modularity_q"),
        )
        .orderBy("community")
    )


Q250_SQL = (
    f"""
WITH {_CAPPED_PAIRS_CTES},
dp AS (SELECT DISTINCT id_a, id_b FROM pairs),
edges AS (
    SELECT id_a AS u, id_b AS v FROM dp
    UNION ALL
    SELECT id_b AS u, id_a AS v FROM dp
),
lab0 AS (SELECT DISTINCT u AS v, u AS lbl FROM edges),
"""
    + ",\n".join(_q200_round_sql(i) for i in range(1, _Q200_K + 1))
    + f""",
deg AS (SELECT u AS v, count(*) AS deg FROM edges GROUP BY 1),
dsum AS (
    SELECT l.lbl, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(d.deg) AS BIGINT) AS d_c
    FROM lab{_Q200_K} l JOIN deg d ON d.v = l.v
    GROUP BY 1
),
intra AS (
    SELECT la.lbl, CAST(count(*) AS BIGINT) AS m_c
    FROM dp
    JOIN lab{_Q200_K} la ON la.v = dp.id_a
    JOIN lab{_Q200_K} lb ON lb.v = dp.id_b
    WHERE la.lbl = lb.lbl
    GROUP BY 1
),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM dp),
cells AS (
    SELECT ds.lbl, ds.n_nodes, coalesce(i.m_c, 0) AS m_c, ds.d_c, mm.m,
           4 * CAST(mm.m AS HUGEINT) * coalesce(i.m_c, 0)
           - CAST(ds.d_c AS HUGEINT) * ds.d_c AS contrib_num
    FROM dsum ds LEFT JOIN intra i ON i.lbl = ds.lbl CROSS JOIN mm
),
tot AS (SELECT sum(contrib_num) AS q_num, max(m) AS m_ FROM cells)
SELECT CAST(c.lbl AS BIGINT) AS community,
       c.n_nodes,
       CAST(c.m_c AS BIGINT) AS m_c,
       c.d_c,
       CAST(c.contrib_num AS DOUBLE) AS contrib_num,
       floor(CAST(t.q_num AS DOUBLE)
             / (4.0 * CAST(t.m_ AS DOUBLE) * CAST(t.m_ AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0 AS modularity_q
FROM cells c CROSS JOIN tot t
ORDER BY community
"""
)


# ---------------------------------------------------------------------------
# q253 — dense surrogate-key assignment / dictionary encoding (ext):
# the id-compaction primitive every columnar pipeline runs — map a
# corpus-scale string domain (here the vocabulary) to CONTIGUOUS
# dense int ids [0, n) with NO global window sort. Shape: md5-bucket
# the keys (uniform by construction), per-bucket counts →
# exclusive_prefix_sum over the bucket axis gives each bucket's id
# offset, a window PARTITIONED by bucket (≤ ~n/B rows each) ranks
# within, id = offset + rank − 1. The output certifies the bijection
# arithmetically — n ids, min 0, max n−1, Σid = n(n−1)/2 — and ships
# the per-word mapping so the oracle (a plain global row_number over
# the same (bucket, word) total order) checks every id exactly.
# ---------------------------------------------------------------------------
_Q253_BUCKETS = 64


def q253_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import exclusive_prefix_sum

    from ..operators.dedup import shingles_from_tokens

    docs = load(spark, sf_dir, "documents")
    # the key domain is 3-gram shingles (the word vocab is 31 strings at
    # sf0.001 — shingles give a genuinely corpus-scale dictionary)
    words = (
        docs.select(F.split("text", " ").alias("_toks"))
        .filter(F.size("_toks") >= 3)
        .select(F.explode(shingles_from_tokens("_toks", 3)).alias("w"))
        .distinct()
        .withColumn(
            "b",
            (
                F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long")
                % _Q253_BUCKETS
            ).cast("long"),
        )
        .localCheckpoint(eager=False)  # feeds counts + within-bucket rank
    )
    counts = words.groupBy("b").agg(F.count("*").alias("n"))
    offsets = exclusive_prefix_sum(
        counts.withColumn("_g", F.lit(0)), "_g", "b", "n", out_col="off"
    ).select("b", "off")
    wb = Window.partitionBy("b").orderBy("w")
    ids = (
        words.withColumn("rk", F.row_number().over(wb))
        .join(offsets, "b")
        .select("w", (F.col("off") + F.col("rk") - 1).cast("long").alias("id"))
    )
    return ids.select("w", "id").orderBy("id")


def _q253_shingle_sql() -> str:
    toks = "str_split(text, ' ')"
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(3))
    return (
        f"list_transform(generate_series(1, len({toks}) - 2), i -> {parts})"
    )


Q253_SQL = f"""
WITH words AS (
    SELECT DISTINCT w FROM (
        SELECT unnest({_q253_shingle_sql()}) AS w FROM documents
        WHERE len(str_split(text, ' ')) >= 3
    ) t
),
keyed AS (
    SELECT w,
           CAST(CAST('0x' || substring(md5(w), 1, 8) AS BIGINT)
                % {_Q253_BUCKETS} AS BIGINT) AS b
    FROM words
)
SELECT w,
       CAST(row_number() OVER (ORDER BY b, w) - 1 AS BIGINT) AS id
FROM keyed
ORDER BY id
"""


# ---------------------------------------------------------------------------
# q261 — multiplicative-weights domain reweighting, DoReMi-style (ext):
# q103/q56 MIX domains by fixed heuristics; this one OPTIMIZES the
# mixture — K exponentiated-gradient steps upweight domains whose
# unigram-LM loss EXCEEDS the current mixture-average loss (the
# excess-loss signal of DoReMi, arXiv:2305.10429, with the corpus
# unigram LM standing in for the proxy model — q102's documented
# substitution). Per round: avg = Σ w·L (a 20-term float sum —
# floor-scaled to integers so the fold is order-free), u = w·exp(η·
# (L−avg)), renormalize by the same scaled-integer fold. K=3 unrolled
# rounds on a |domains|-bounded frame; the full weight trajectory
# ships per source (q139 convention). Loss terms are per-(source,
# word) doubles from exact counts, floor-scaled before the corpus-
# scale sum (q236 pattern).
# ---------------------------------------------------------------------------
_Q261_K = 3
_Q261_ETA = 0.5
_Q261_SCALE = 1_000_000_000_000


def q261_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") >= 1)
    sw = toks.groupBy("source", "w").agg(F.count("*").alias("c"))
    vocab = sw.groupBy("w").agg(F.sum("c").alias("cw"))
    gtot = vocab.agg(F.sum("cw").cast("long").alias("t"))
    per_src = (
        sw.join(vocab, "w")
        .select(
            "source",
            "c",
            F.floor(
                F.col("c").cast("double") * F.log(F.col("cw").cast("double"))
                * F.lit(float(_Q261_SCALE) / 1_000_000.0)
            ).cast("long").alias("ls"),
        )
        .groupBy("source")
        .agg(F.sum("c").cast("long").alias("nd"), F.sum("ls").alias("s_ln"))
    )
    nsrc = per_src.agg(F.count("*").cast("long").alias("d"))
    sc = F.lit(float(_Q261_SCALE))
    base = (
        per_src.crossJoin(F.broadcast(gtot))
        .crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            "d",
            (
                (
                    F.log(F.col("t").cast("double"))
                    - F.col("s_ln").cast("double")
                    / F.lit(float(_Q261_SCALE) / 1_000_000.0)
                    / F.col("nd").cast("double")
                )
                / F.log(F.lit(2.0))
            ).alias("bits"),
            (F.lit(1.0) / F.col("d").cast("double")).alias("w"),
        )
        .localCheckpoint(eager=False)  # K rounds fold over this
    )
    cur = base
    traj = []
    for k in range(1, _Q261_K + 1):
        avg = cur.agg(
            F.sum(F.floor(F.col("w") * F.col("bits") * sc).cast("long")).alias(
                "avg_s"
            )
        )
        stepped = cur.crossJoin(F.broadcast(avg)).withColumn(
            "u",
            F.col("w")
            * F.exp(
                F.lit(_Q261_ETA)
                * (F.col("bits") - F.col("avg_s").cast("double") / sc)
            ),
        )
        z = stepped.agg(
            F.sum(F.floor(F.col("u") * sc).cast("long")).alias("z_s")
        )
        cur = (
            stepped.crossJoin(F.broadcast(z))
            .select(
                "source",
                "d",
                "bits",
                (F.col("u") / (F.col("z_s").cast("double") / sc)).alias("w"),
            )
            .localCheckpoint(eager=False)  # next round + trajectory
        )
        traj.append(cur.select("source", F.col("w").alias(f"w{k}")))
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    out = base.select("source", r6(F.col("bits")).alias("loss_bits"))
    for k, t in enumerate(traj, start=1):
        out = out.join(t.select("source", r6(F.col(f"w{k}")).alias(f"w{k}")), "source")
    return out.orderBy("source")


def _q261_sql() -> str:
    sc = _Q261_SCALE
    ls_scale = repr(float(sc) / 1_000_000.0)
    parts = [
        """toks AS (
    SELECT source, w FROM (
        SELECT source, unnest(str_split(lower(text), ' ')) AS w
        FROM documents
    ) t WHERE length(w) >= 1
)""",
        "sw AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2)",
        "vocab AS (SELECT w, sum(c) AS cw FROM sw GROUP BY 1)",
        "gtot AS (SELECT CAST(sum(cw) AS BIGINT) AS t FROM vocab)",
        f"""per_src AS (
    SELECT sw.source, CAST(sum(sw.c) AS BIGINT) AS nd,
           CAST(sum(CAST(floor(CAST(sw.c AS DOUBLE)
                                * ln(CAST(vocab.cw AS DOUBLE))
                                * {ls_scale}) AS BIGINT)) AS BIGINT) AS s_ln
    FROM sw JOIN vocab USING (w)
    GROUP BY 1
)""",
        "nsrc AS (SELECT CAST(count(*) AS BIGINT) AS d FROM per_src)",
        f"""r0 AS (
    SELECT p.source, n.d,
           (ln(CAST(g.t AS DOUBLE))
            - CAST(p.s_ln AS DOUBLE) / {ls_scale} / CAST(p.nd AS DOUBLE))
           / ln(2.0) AS bits,
           1.0 / CAST(n.d AS DOUBLE) AS w
    FROM per_src p CROSS JOIN gtot g CROSS JOIN nsrc n
)""",
    ]
    for k in range(1, _Q261_K + 1):
        prev = f"r{k - 1}"
        parts.append(
            f"a{k} AS (SELECT CAST(sum(CAST(floor(w * bits * {sc}) AS"
            f" BIGINT)) AS BIGINT) AS avg_s FROM {prev})"
        )
        parts.append(
            f"""s{k} AS (
    SELECT p.source, p.d, p.bits,
           p.w * exp({_Q261_ETA} * (p.bits
                     - CAST(a.avg_s AS DOUBLE) / {sc})) AS u
    FROM {prev} p CROSS JOIN a{k} a
)"""
        )
        parts.append(
            f"z{k} AS (SELECT CAST(sum(CAST(floor(u * {sc}) AS BIGINT))"
            f" AS BIGINT) AS z_s FROM s{k})"
        )
        parts.append(
            f"""r{k} AS (
    SELECT s.source, s.d, s.bits,
           s.u / (CAST(z.z_s AS DOUBLE) / {sc}) AS w
    FROM s{k} s CROSS JOIN z{k} z
)"""
        )
    w_cols = ",\n       ".join(
        f"floor(r{k}.w * 1000000 + 0.5) / 1000000.0 AS w{k}"
        for k in range(1, _Q261_K + 1)
    )
    joins = "\n".join(
        f"JOIN r{k} ON r{k}.source = r0.source"
        for k in range(1, _Q261_K + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT r0.source,
       floor(r0.bits * 1000000 + 0.5) / 1000000.0 AS loss_bits,
       {w_cols}
FROM r0
{joins}
ORDER BY r0.source
"""
    )


Q261_SQL = _q261_sql()


# ---------------------------------------------------------------------------
# q267 — INCREMENTAL nightly corpus build (ext): q167's delta twin, the
# r7 verdict task #3. q167 proves the FULL rebuild chain (dedup → gate →
# temperature mix → shard → pack → manifest); the operation a real
# 100 TB pipeline runs nightly is the DELTA apply: new docs dedup
# against the STORED fingerprint index (first-epoch-wins — the stored
# corpus beats any batch doc with the same text, then min-id within the
# batch), gate row-locally, sample at rates recomputed from the UPDATED
# post-gate counts while base docs keep their stored epoch's frozen
# rates (sticky-rate semantics: re-sampling history on every delta
# would churn shards), pack per shard from the STORED token totals
# (q170's offset algebra), and merge the manifest additively — a shard
# no batch doc landed in keeps a BIT-IDENTICAL row (exact integer
# checksums; pinned by tests/test_curation.py). ORACLE: one full
# rebuild over the union with the same epoch stamps — incremental must
# equal recompute, the ST6/IVM contract. The composition lives in
# operators/curation.delta_corpus_build so tests can drive authored
# base/batch frames; this query feeds it the deterministic hash split.
# ---------------------------------------------------------------------------
_Q267_SHARDS = 8
_Q267_SEQLEN = 128
_Q267_BUDGET = 0.5


def q267_delta_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import delta_corpus_build

    docs = load(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        "lang",
        "text",
        (sample_key_expr("doc_id", salt="dcsplit") % 4 == 0).cast("int").alias("e"),
    )
    return delta_corpus_build(
        tagged,
        n_shards=_Q267_SHARDS,
        seqlen=_Q267_SEQLEN,
        budget=_Q267_BUDGET,
        dup_t=_Q63_DUP_T,
        bigram_t=_Q63_BIGRAM_T,
    )


_Q267_SPLIT_KEY = _sample_key_sql("dcsplit")
_Q267_MIX_KEY = _sample_key_sql("dcmix")
_Q267_SHUF_KEY = _sample_key_sql("dcshuf")
_Q267_CK_KEY = _sample_key_sql("dcsum")

Q267_SQL = f"""
WITH tagged AS (
    SELECT doc_id, lang, text,
           CASE WHEN ({_Q267_SPLIT_KEY}) % 4 = 0 THEN 1 ELSE 0 END AS e
    FROM documents
),
surv AS (
    SELECT doc_id, lang, e, text FROM (
        SELECT *, row_number() OVER (
            PARTITION BY md5(lower(trim(text))) ORDER BY e, doc_id) AS rn
        FROM tagged) s
    WHERE rn = 1
),
toked AS (
    SELECT doc_id, lang, e, str_split(text, ' ') AS toks
    FROM surv WHERE len(str_split(text, ' ')) >= 2
),
base AS (
    SELECT doc_id, lang, e,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4)
               AS dup_word_ratio,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1]) AS bi
    FROM toked
),
cnt AS (
    SELECT doc_id, gram, count(*) AS c
    FROM (SELECT doc_id, unnest(bi) AS gram FROM base) g
    GROUP BY doc_id, gram
),
top AS (
    SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_ratio
    FROM cnt GROUP BY doc_id
),
gated AS (
    SELECT b.doc_id, b.lang, b.e, b.n_tokens
    FROM base b JOIN top t USING (doc_id)
    WHERE b.dup_word_ratio <= {_Q63_DUP_T} AND t.top_bigram_ratio <= {_Q63_BIGRAM_T}
),
counts0 AS (SELECT lang, count(*) AS n FROM gated WHERE e = 0 GROUP BY lang),
den0 AS (SELECT sum(sqrt(n)) AS d, sum(n) AS tot FROM counts0),
rates0 AS (
    SELECT lang, least(1.0, round(({_Q267_BUDGET} * tot) * (sqrt(n) / d) / n, 6))
               AS r0
    FROM counts0, den0
),
countsu AS (SELECT lang, count(*) AS n FROM gated GROUP BY lang),
denu AS (SELECT sum(sqrt(n)) AS d, sum(n) AS tot FROM countsu),
ratesu AS (
    SELECT lang, least(1.0, round(({_Q267_BUDGET} * tot) * (sqrt(n) / d) / n, 6))
               AS r1
    FROM countsu, denu
),
mixed AS (
    SELECT g.doc_id, g.e, g.n_tokens
    FROM gated g
    LEFT JOIN rates0 r0 USING (lang)
    JOIN ratesu r1 USING (lang)
    WHERE (g.e = 0 AND {_Q267_MIX_KEY} < CAST(floor(r0.r0 * 4294967296) AS BIGINT))
       OR (g.e = 1 AND {_Q267_MIX_KEY} < CAST(floor(r1.r1 * 4294967296) AS BIGINT))
),
sharded AS (
    SELECT doc_id, e, n_tokens,
           CAST({_Q267_SHUF_KEY} AS BIGINT) AS shuffle_key,
           CAST(floor(({_Q267_SHUF_KEY} * {_Q267_SHARDS}) / 4294967296.0)
                AS BIGINT) AS shard_id
    FROM mixed
),
packed AS (
    SELECT shard_id, e, n_tokens,
           CAST({_Q267_CK_KEY} AS BIGINT) AS ck,
           COALESCE(sum(n_tokens) OVER (
               PARTITION BY shard_id ORDER BY e, shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS pre
    FROM sharded
),
perdoc AS (
    SELECT shard_id, e, n_tokens, ck,
           pre // {_Q267_SEQLEN} AS first_seq,
           (pre + n_tokens - 1) // {_Q267_SEQLEN} AS last_seq
    FROM packed
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
       CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT)
           AS n_spanning,
       CAST(sum(ck) AS BIGINT) AS checksum,
       CAST(sum(e) AS BIGINT) AS delta_docs,
       CAST(CASE WHEN sum(e) > 0 THEN 1 ELSE 0 END AS INTEGER) AS changed
FROM perdoc
GROUP BY shard_id
ORDER BY shard_id
"""


# ---------------------------------------------------------------------------
# q277 — STREAMING nightly corpus build (ST-ext): q267's ST6 twin and
# the round-8 capstone — the delta corpus build running as a real
# Structured Streaming maintenance job (streaming/corpusbuild.py).
# Three deterministic document micro-batches (epoch = hash split,
# maxFilesPerTrigger=1, mtime-pinned file order) fold into three STORED
# state tables: an append-only fingerprint index (incremental dedup),
# cumulative post-gate per-lang counts (the temperature denominators),
# and the per-shard manifest whose token totals double as the next
# batch's packing offsets. History is never re-deduplicated, re-mixed
# or repacked. ORACLE: one full rebuild over the union with epoch
# stamps — dedup window ordered (e, doc_id), per-epoch rates from
# cumulative gated counts <= e, packing ordered (e, shuffle_key,
# doc_id) — which must reproduce the drained manifest exactly,
# checksums included (incremental ≡ recompute, the ST6/IVM contract,
# now for the whole flagship chain rather than q170's packing leg).
# Scale: per batch, ONE anti-join against the stored index (the index
# never shuffles beyond the probe), row-local gate, metadata-sized
# counts/manifest merges — the 100 TB nightly shape.
# ---------------------------------------------------------------------------
_Q277_EPOCHS = 3
_Q277_SHARDS = 8
_Q277_SEQLEN = 128
_Q277_BUDGET = 0.5


def q277_stream_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob
    import os
    import shutil
    import tempfile
    import time

    from ..streaming.corpusbuild import run_stream_corpus_build

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        (sample_key_expr("doc_id", salt="scb") % _Q277_EPOCHS).alias("e"),
    )
    tmp = tempfile.mkdtemp(prefix="q277_")
    src, ckpt, state = f"{tmp}/src", f"{tmp}/ckpt", f"{tmp}/state"
    os.makedirs(src)
    try:
        base_t = time.time()
        for ep in range(_Q277_EPOCHS):
            staged = f"{tmp}/stage_{ep}"
            docs.filter(F.col("e") == ep).select(
                "doc_id", "lang", "text"
            ).coalesce(1).write.mode("overwrite").parquet(staged)
            part = _glob.glob(f"{staged}/part-*.parquet")[0]
            dst = f"{src}/epoch_{ep}.parquet"
            shutil.copy(part, dst)
            # FileStreamSource orders by modification time: pin strictly
            # increasing mtimes so the epochs form ordered micro-batches.
            os.utime(dst, (base_t + ep, base_t + ep))
        stream = (
            spark.readStream.schema("doc_id long, lang string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_stream_corpus_build(
            stream, state, ckpt,
            n_shards=_Q277_SHARDS, seqlen=_Q277_SEQLEN, budget=_Q277_BUDGET,
            dup_t=_Q63_DUP_T, bigram_t=_Q63_BIGRAM_T,
        )
        man = spark.read.parquet(f"{state}/manifest")
        return (
            man.select(
                "shard_id",
                "n_docs",
                "n_tokens",
                F.expr(f"((n_tokens - 1) div {_Q277_SEQLEN}) + 1")
                .cast("long")
                .alias("n_seqs"),
                "n_spanning",
                "checksum",
            )
            .orderBy("shard_id")
            .localCheckpoint(eager=True)  # detach from tmp before cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_Q277_SPLIT_KEY = _sample_key_sql("scb")
_Q277_MIX_KEY = _sample_key_sql("scbmix")
_Q277_SHUF_KEY = _sample_key_sql("scbshuf")
_Q277_CK_KEY = _sample_key_sql("scbsum")

_Q277_RATE_BLOCKS = "".join(
    f""",
c{ep} AS (SELECT lang, count(*) AS n FROM gated WHERE e <= {ep} GROUP BY lang),
d{ep} AS (SELECT sum(sqrt(n)) AS d, sum(n) AS tot FROM c{ep}),
r{ep} AS (
    SELECT CAST({ep} AS BIGINT) AS e, lang,
           least(1.0, round(({_Q277_BUDGET} * tot) * (sqrt(n) / d) / n, 6))
               AS rate
    FROM c{ep}, d{ep}
)"""
    for ep in range(_Q277_EPOCHS)
)
_Q277_RATE_UNION = "\n    UNION ALL\n    ".join(
    f"SELECT e, lang, rate FROM r{ep}" for ep in range(_Q277_EPOCHS)
)

Q277_SQL = f"""
WITH tagged AS (
    SELECT doc_id, lang, text, ({_Q277_SPLIT_KEY}) % {_Q277_EPOCHS} AS e
    FROM documents
),
surv AS (
    SELECT doc_id, lang, e, text FROM (
        SELECT *, row_number() OVER (
            PARTITION BY md5(lower(trim(text))) ORDER BY e, doc_id) AS rn
        FROM tagged) s
    WHERE rn = 1
),
toked AS (
    SELECT doc_id, lang, e, str_split(text, ' ') AS toks
    FROM surv WHERE len(str_split(text, ' ')) >= 2
),
base AS (
    SELECT doc_id, lang, e,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4)
               AS dup_word_ratio,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1]) AS bi
    FROM toked
),
cnt AS (
    SELECT doc_id, gram, count(*) AS c
    FROM (SELECT doc_id, unnest(bi) AS gram FROM base) g
    GROUP BY doc_id, gram
),
top AS (
    SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_bigram_ratio
    FROM cnt GROUP BY doc_id
),
gated AS MATERIALIZED (
    SELECT b.doc_id, b.lang, b.e, b.n_tokens
    FROM base b JOIN top t USING (doc_id)
    WHERE b.dup_word_ratio <= {_Q63_DUP_T} AND t.top_bigram_ratio <= {_Q63_BIGRAM_T}
){_Q277_RATE_BLOCKS},
rates AS (
    {_Q277_RATE_UNION}
),
mixed AS (
    SELECT g.doc_id, g.e, g.n_tokens
    FROM gated g JOIN rates r ON r.lang = g.lang AND r.e = g.e
    WHERE {_Q277_MIX_KEY} < CAST(floor(r.rate * 4294967296) AS BIGINT)
),
sharded AS (
    SELECT doc_id, e, n_tokens,
           CAST({_Q277_SHUF_KEY} AS BIGINT) AS shuffle_key,
           CAST(floor(({_Q277_SHUF_KEY} * {_Q277_SHARDS}) / 4294967296.0)
                AS BIGINT) AS shard_id
    FROM mixed
),
packed AS (
    SELECT shard_id, n_tokens,
           CAST({_Q277_CK_KEY} AS BIGINT) AS ck,
           COALESCE(sum(n_tokens) OVER (
               PARTITION BY shard_id ORDER BY e, shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS pre
    FROM sharded
),
perdoc AS (
    SELECT shard_id, n_tokens, ck,
           pre // {_Q277_SEQLEN} AS first_seq,
           (pre + n_tokens - 1) // {_Q277_SEQLEN} AS last_seq
    FROM packed
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
       CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT)
           AS n_spanning,
       CAST(sum(ck) AS BIGINT) AS checksum
FROM perdoc
GROUP BY shard_id
ORDER BY shard_id
"""


# ---------------------------------------------------------------------------
# q283 — LEAKAGE-SAFE train/val/test split (ext): the split step every
# training-data pipeline runs between curation and training, done at the
# unit that actually prevents eval contamination — the NEAR-DUP CLUSTER,
# not the document. A doc-level hash split scatters members of a
# duplicate cluster across train and val, so the model is evaluated on
# near-copies of its training data (the classic benchmark-leakage bug;
# cf. the q79/q128 decontamination family, which guards against a KNOWN
# eval set — this guards train against val/test within the corpus
# itself). Unit of assignment: q57's connected components over the
# MinHash/LSH candidate pairs (capped star expansion preserves
# connectivity, so clusters are exact); singleton docs are their own
# cluster (cluster_id = doc_id), making the cluster split and the
# doc split IDENTICAL outside dup clusters — the emitted counterfactual
# isolates exactly the leakage the cluster unit repairs. Assignment is
# the stable integer sample key over cluster_id (80/10/10), so adding
# documents never reassigns an existing cluster. Output: per-split doc/
# cluster/char tallies + TWO audit certificates computed from the data
# (q162's convention): candidate pairs crossing splits under the
# cluster assignment (0 BY CONSTRUCTION — both endpoints share a
# cluster, clusters never straddle splits) and under the doc-level
# counterfactual (> 0 whenever clusters exist — the bug made visible).
# Scale: CC is q57's min-label propagation (diameter-bounded rounds);
# the audit joins the bounded candidate-pair set to the assignment
# twice on doc_id — no new wide ops beyond the banding join itself.
# ---------------------------------------------------------------------------
_Q283_SALT = "dsplit"
_Q283_TRAIN = sample_threshold(0.8)
_Q283_VAL = sample_threshold(0.9)


def q283_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_candidates(
        docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K
    ).localCheckpoint(eager=False)  # CC + both audit joins read it
    cc = connected_components(pairs).select(
        F.col("v").alias("doc_id"), "cluster_id"
    )

    def split_of(key):
        return (
            F.when(key < _Q283_TRAIN, F.lit("train"))
            .when(key < _Q283_VAL, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    asg = (
        docs.select("doc_id", "n_chars")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .select(
            "doc_id",
            "n_chars",
            "cluster_id",
            split_of(sample_key_expr("cluster_id", salt=_Q283_SALT)).alias("split"),
            split_of(sample_key_expr("doc_id", salt=_Q283_SALT)).alias("dsplit"),
        )
        .localCheckpoint(eager=False)  # per-split agg + two audits read it
    )

    def leak(col):
        return (
            pairs.join(
                asg.select(F.col("doc_id").alias("id_a"), F.col(col).alias("sa")),
                "id_a",
            )
            .join(
                asg.select(F.col("doc_id").alias("id_b"), F.col(col).alias("sb")),
                "id_b",
            )
            .agg(
                # coalesce: an empty candidate-pair set must certify 0,
                # not NULL (review finding r9)
                F.coalesce(
                    F.sum((F.col("sa") != F.col("sb")).cast("long")), F.lit(0)
                )
                .cast("long")
                .alias(f"leak_{col}")
            )
        )

    tot = asg.agg(F.count("*").cast("long").alias("nd"))
    return (
        asg.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leak("split")))
        .crossJoin(F.broadcast(leak("dsplit")))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "n_chars_total",
            (
                F.floor(
                    F.col("n_docs").cast("double") / F.col("nd").cast("double")
                    * 10000
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("doc_share"),
            F.col("leak_split").alias("leaked_pairs_cluster_split"),
            F.col("leak_dsplit").alias("leaked_pairs_doc_split"),
        )
        .orderBy("split")
    )


_Q283_CKEY = _hex2int_sql(
    f"md5('{_Q283_SALT}:' || CAST(cluster_id AS VARCHAR))", 1, 8
)
_Q283_DKEY = _hex2int_sql(f"md5('{_Q283_SALT}:' || CAST(doc_id AS VARCHAR))", 1, 8)
_Q283_CASE = (
    f"CASE WHEN {{k}} < {_Q283_TRAIN} THEN 'train' "
    f"WHEN {{k}} < {_Q283_VAL} THEN 'val' ELSE 'test' END"
)

Q283_SQL = f"""
WITH RECURSIVE {_CAPPED_PAIRS_CTES},
cand AS (SELECT DISTINCT id_a, id_b FROM pairs),
edges AS (
    SELECT id_a AS a, id_b AS b FROM cand
    UNION
    SELECT id_b AS a, id_a AS b FROM cand
),
reach(v, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
),
cc AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
mem AS (
    SELECT d0.doc_id, d0.n_chars,
           coalesce(c0.cluster_id, d0.doc_id) AS cluster_id
    FROM documents d0 LEFT JOIN cc c0 ON c0.doc_id = d0.doc_id
),
asg AS (
    SELECT doc_id, n_chars, cluster_id,
           {_Q283_CASE.format(k=_Q283_CKEY)} AS split,
           {_Q283_CASE.format(k=_Q283_DKEY)} AS dsplit
    FROM mem
),
leak_c AS (
    SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS leaked_pairs_cluster_split
    FROM cand p JOIN asg a ON a.doc_id = p.id_a JOIN asg b ON b.doc_id = p.id_b
),
leak_d AS (
    SELECT CAST(coalesce(sum(CASE WHEN a.dsplit <> b.dsplit THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS leaked_pairs_doc_split
    FROM cand p JOIN asg a ON a.doc_id = p.id_a JOIN asg b ON b.doc_id = p.id_b
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM asg)
SELECT asg.split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
       floor(CAST(count(*) AS DOUBLE) / CAST(any_value(tot.nd) AS DOUBLE)
             * 10000 + 0.5) / 10000.0 AS doc_share,
       any_value(leak_c.leaked_pairs_cluster_split)
           AS leaked_pairs_cluster_split,
       any_value(leak_d.leaked_pairs_doc_split) AS leaked_pairs_doc_split
FROM asg CROSS JOIN tot CROSS JOIN leak_c CROSS JOIN leak_d
GROUP BY asg.split
ORDER BY asg.split
"""


QUERIES = [
    Query("q283_leakage_safe_split", q283_leakage_safe_split, Q283_SQL,
          survey="ext:leakage-safe-split,ext:dedup-clusters,"
                 "ext:hash-split,ext:decontamination",
          tags=("bench",)),
    Query("q250_modularity", q250_modularity, Q250_SQL,
          survey="ext:modularity,ext:graph-components,ext:lsh-banding",
          tags=("bench",)),
    Query("q261_doremi_weights", q261_doremi_weights, Q261_SQL,
          survey="ext:doremi-reweighting,ext:dataset-mixing,"
                 "ext:quality-classifier,ext:raking-ipf",
          tags=("bench",)),
    Query("q253_surrogate_keys", q253_surrogate_keys, Q253_SQL,
          survey="ext:surrogate-keys,ext:dict-encoding,ext:prefix-scan,"
                 "ext:hash-sampling"),
    Query("q54_pii_redaction", q54_pii_redaction, Q54_SQL, survey="ext:pii-redaction"),
    Query("q55_hash_sample", q55_hash_sample, Q55_SQL, survey="ext:hash-sampling"),
    Query("q198_target_encoding", q198_target_encoding, Q198_SQL,
          survey="ext:target-encoding,ext:leakage-safe-split,ext:hash-sampling,A3"),
    Query("q224_raking_weights", q224_raking_weights, Q224_SQL,
          survey="ext:raking-ipf,ext:dataset-mixing,ext:stratified-sampling"),
    Query("q200_label_propagation", q200_label_propagation, Q200_SQL,
          survey="ext:label-propagation,ext:dup-clustering,ext:minhash-lsh",
          tags=("bench",)),
    Query("q56_dataset_mix", q56_dataset_mix, Q56_SQL, survey="ext:dataset-mixing"),
    Query("q57_dup_clusters", q57_dup_clusters, Q57_SQL, survey="ext:dup-clustering",
          tags=("bench",)),
    Query("q58_repetition_quality", q58_repetition_quality, Q58_SQL,
          survey="ext:gopher-quality"),
    Query("q59_asof_error_click", q59_asof_error_click, Q59_SQL, survey="ext:asof-join",
          tags=("bench",)),
    Query("q63_corpus_curation_pipeline", q63_corpus_curation_pipeline, Q63_SQL,
          survey="ext:curation-pipeline", tags=("bench",)),
    Query("q67_stratified_sample", q67_stratified_sample, Q67_SQL,
          survey="ext:stratified-sampling"),
    Query("q68_token_shards", q68_token_shards, Q68_SQL,
          survey="ext:shard-packing,W2", tags=("bench",)),
    Query("q99_shuffle_shards", q99_shuffle_shards, Q99_SQL,
          survey="ext:global-shuffle,ext:hash-sampling"),
    Query("q103_temperature_mix", q103_temperature_mix, Q103_SQL,
          survey="ext:temperature-mixing,ext:hash-sampling"),
    Query("q108_gopher_rules", q108_gopher_rules, Q108_SQL,
          survey="ext:gopher-quality,ext:curation-pipeline"),
    Query("q109_dsir_weights", q109_dsir_weights, Q109_SQL,
          survey="ext:importance-resampling,ext:lm-quality-score"),
    Query("q112_source_overlap", q112_source_overlap, Q112_SQL,
          survey="ext:dataset-lineage,ext:minhash-lsh", tags=("bench",)),
    Query("q116_sequence_packing", q116_sequence_packing, Q116_SQL,
          survey="ext:sequence-packing,ext:shard-packing", tags=("bench",)),
    Query("q120_contrastive_pairs", q120_contrastive_pairs, Q120_SQL,
          survey="ext:contrastive-pairs,ext:minhash-lsh,ext:hash-sampling", tags=("bench",)),
    Query("q143_hrw_reshard", q143_hrw_reshard, Q143_SQL,
          survey="ext:consistent-sharding,ext:shard-packing", tags=("bench",)),
    Query("q144_triangle_census", q144_triangle_census, Q144_SQL,
          survey="ext:triangle-count,ext:dup-clustering,ext:minhash-lsh",
          tags=("bench",)),
    Query("q145_leakage_safe_split", q145_leakage_safe_split, Q145_SQL,
          survey="ext:leakage-safe-split,ext:dup-clustering,ext:hash-sampling",
          tags=("bench",)),
    Query("q151_kcore_peeling", q151_kcore_peeling, Q151_SQL,
          survey="ext:kcore-peeling,ext:dup-clustering,ext:iterate-to-convergence",
          tags=("bench",)),
    Query("q165_random_walks", q165_random_walks, Q165_SQL,
          survey="ext:random-walk-sampling,ext:dup-clustering,ext:hash-sampling",
          tags=("bench",)),
    Query("q166_logstar_components", q166_logstar_components, Q166_SQL,
          survey="ext:dup-clustering,ext:iterate-to-convergence",
          tags=("bench",)),
    Query("q167_corpus_build_manifest", q167_corpus_build_manifest, Q167_SQL,
          survey="ext:dedup-exact,ext:quality-gates,ext:dataset-mixing,"
                 "ext:sequence-packing,ext:hash-sampling",
          tags=("bench",)),
    Query("q170_incremental_packing", q170_incremental_packing, Q170_SQL,
          survey="ext:sequence-packing,ext:incremental-stats,ext:hash-sampling",
          tags=("bench",)),
    Query("q277_stream_corpus_build", q277_stream_corpus_build, Q277_SQL,
          survey="ST-ext:stream-corpus-build,ext:incremental-corpus-build,"
                 "ext:incremental-dedup,ext:dataset-mixing,"
                 "ext:sequence-packing,ext:incremental-stats,ST5,ST6",
          tags=("bench",)),
    Query("q267_delta_corpus_build", q267_delta_corpus_build, Q267_SQL,
          survey="ext:incremental-corpus-build,ext:dedup-exact,"
                 "ext:incremental-dedup,ext:dataset-mixing,"
                 "ext:sequence-packing,ext:incremental-stats,"
                 "ext:quality-gates,ext:hash-sampling",
          tags=("bench",)),
    Query("q189_waterfill_quota", q189_waterfill_quota, Q189_SQL,
          survey="ext:waterfill-quota,ext:dataset-mixing,"
                 "ext:stratified-sampling",
          tags=("bench",)),
    Query("q180_incremental_components", q180_incremental_components,
          Q180_SQL,
          survey="ext:dup-clustering,ext:incremental-dedup,"
                 "ext:iterate-to-convergence",
          tags=("bench",)),
    Query("q173_golden_records", q173_golden_records, Q173_SQL,
          survey="ext:entity-resolution,ext:golden-record,ext:minhash-lsh,"
                 "ext:jaccard-neardup,ext:dup-clustering",
          tags=("bench",)),
]
