"""Retrieval / corpus-prep plans (q79–q81): benchmark decontamination
(n-gram hash intersection), BM25 keyword search, and sliding-window
document chunking — the text-retrieval side of a training-data pipeline.

The reference's only retrieval primitive is a Mongo find() by key
(``pipelines.py:33``); keyword relevance, eval-set decontamination, and
fixed-stride chunking for model input have no counterpart there and are
built Spark-first here.

Scale notes (100 TB):
  * q79 left-joins the corpus's exploded shingle stream against a
    BROADCAST distinct benchmark-shingle set and counts total +
    contaminated shingles in ONE aggregation — the big side is scanned
    once and never shuffled pre-agg; with a benchmark too large to
    broadcast it degrades gracefully to a shuffle hash join on the
    16-hex shingle hash (uniform keys, no skew).
  * q80 computes document frequency as a window over the aggregated
    postings (one corpus scan; a separately-derived df table would
    recompute the tf subtree in its plan branch) + a TakeOrdered
    top-k — no global sort; corpus constants are a single-row
    broadcast from one cheap second scan.
  * q81 is row-local (explode of per-row computed offsets — zero
    shuffle) and is exactly the chunk-materialization shape used to
    feed fixed-context training: deterministic chunk ids + md5
    checksums make the output order-insensitively verifiable.
Cross-engine determinism: md5-based hashes only, floats rounded at 4dp,
top-k always tie-broken on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import with_shingles
from ..operators.similarity import _round_sql
from ..sources.tables import load
from .dedup_plans import _hex2int_sql, _shingle_sql
from .embeddings_plans import _cos_sql
from .registry import Query


# ---------------------------------------------------------------------------
# q79 — eval-benchmark decontamination (ext). "Benchmark" = every doc with
# doc_id % 37 == 0 (a deterministic stand-in for a held-out eval set);
# a corpus doc is contaminated to the degree its distinct k-shingles
# appear in the benchmark's shingle set. Output: per-doc overlap counts
# and contamination fraction, contaminated docs only.
# ---------------------------------------------------------------------------
_BENCH_MOD = 37
# k=3 (not the dedup family's k=5): decontamination flags *any* n-gram
# leakage, so the standard practice is a shorter gram than near-dup
# detection uses — and on this corpus it exercises the join with ~300
# contaminated docs instead of 1.
_DECON_K = 3


def q79_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sh = with_shingles(docs, "doc_id", "text", k=_DECON_K)
    # explode_outer: shingles non-empty for kept docs; plain explode's
    # inferred size>0 filter would inline the shingling into a raw-text
    # Filter (interpreted re-eval per element — see SCALE.md).
    exploded = sh.select(
        "doc_id", F.explode_outer(F.array_distinct("shingles")).alias("s")
    ).withColumn("h", F.substring(F.md5("s"), 1, 16))
    bench = (
        exploded.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # ONE corpus pass: left-join the broadcast benchmark set as a hit flag,
    # then count total + contaminated shingles in the same aggregation
    # (the naive per_doc ⋈ hits formulation re-reads the corpus branch).
    return (
        exploded.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .filter(F.col("n_contaminated") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 4).alias(
                "contamination_frac"
            ),
        )
        .orderBy("doc_id")
    )


Q79_SQL = f"""
WITH sh AS (
    SELECT doc_id, list_distinct({_shingle_sql(_DECON_K)}) AS shingles
    FROM documents
    WHERE len(str_split(text, ' ')) >= {_DECON_K}
),
exploded AS (
    SELECT doc_id, substring(md5(unnest(shingles)), 1, 16) AS h FROM sh
),
bench AS (
    SELECT DISTINCT h FROM exploded WHERE doc_id % {_BENCH_MOD} = 0
),
corpus AS (SELECT * FROM exploded WHERE doc_id % {_BENCH_MOD} <> 0),
per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
hits AS (
    SELECT c.doc_id, count(*) AS n_contaminated
    FROM corpus c JOIN bench b ON c.h = b.h
    GROUP BY c.doc_id
)
SELECT p.doc_id, p.n_shingles, h.n_contaminated,
       round(h.n_contaminated / CAST(p.n_shingles AS DOUBLE), 4) AS contamination_frac
FROM per_doc p JOIN hits h ON p.doc_id = h.doc_id
ORDER BY p.doc_id
"""


# ---------------------------------------------------------------------------
# q80 — BM25 keyword search (ext): Okapi BM25 (k1=1.2, b=0.75) for a
# 3-term query over the documents table, top-15 by score. Term
# frequencies come from ONE explode+filter pass (only query terms
# survive the filter — predicate applied before the shuffle); document
# frequencies and the average length are tiny aggregates the planner
# broadcasts back. ln-based idf: ln((N - df + .5)/(df + .5) + 1).
# ---------------------------------------------------------------------------
_Q80_TERMS = ("join", "vector", "scan")
_K1, _B = 1.2, 0.75
_Q80_TOPK = 15


def _bm25_scores(docs: DataFrame) -> DataFrame:
    """Full BM25 scoring table (doc_id, score) for the fixed query terms —
    shared by q80 (top-k) and q84 (rank fusion)."""
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    ).select("doc_id", F.size("toks").alias("dl"), F.explode_outer("toks").alias("t"))
    hits = toks.filter(F.col("t").isin(*_Q80_TERMS))
    tf = hits.groupBy("doc_id", "dl", "t").agg(F.count("*").alias("tf"))
    # df via a window over the aggregated postings (each (doc,t) row is one
    # distinct doc for that term) — a join against a separately-derived
    # df_t table would recompute the whole tf subtree in its branch.
    df = F.count("*").over(Window.partitionBy("t"))
    # corpus constants stay in-plan (single-row broadcast, no driver collect)
    consts = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size(F.split(F.lower("text"), " "))).alias("avgdl"),
    )
    idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
    scored = (
        tf.crossJoin(F.broadcast(consts))
        .withColumn(
            "term_score",
            idf
            * (F.col("tf") * (_K1 + 1))
            / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
    )
    return scored


def q80_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        _bm25_scores(docs).orderBy(F.col("score").desc(), "doc_id").limit(_Q80_TOPK)
    )


_TERMS_SQL = ", ".join(f"'{t}'" for t in _Q80_TERMS)

Q80_SQL = f"""
WITH toks AS (
    SELECT doc_id, len(str_split(lower(text), ' ')) AS dl,
           unnest(str_split(lower(text), ' ')) AS t
    FROM documents
),
tf AS (
    SELECT doc_id, dl, t, count(*) AS tf
    FROM toks WHERE t IN ({_TERMS_SQL})
    GROUP BY doc_id, dl, t
),
consts AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(len(str_split(lower(text), ' '))) FROM documents) AS avgdl
),
df_t AS (SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t),
scored AS (
    SELECT tf.doc_id,
           round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_K1} + 1))
               / (tf + {_K1} * (1 - {_B} + {_B} * dl / avgdl))
           ), 4) AS score
    FROM tf JOIN df_t ON tf.t = df_t.t CROSS JOIN consts
    GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored
ORDER BY score DESC, doc_id
LIMIT {_Q80_TOPK}
"""


# ---------------------------------------------------------------------------
# q81 — sliding-window chunking (ext): fixed-stride token windows
# (W=32, S=24 → 8-token overlap) per document — the materialization step
# that turns variable-length documents into fixed-context model inputs.
# Chunk starts are a per-row generated sequence (0, S, 2S, … < len);
# each chunk carries its token span and an md5 checksum of the joined
# token text so content (not just shape) is verified. Entirely
# row-local: explode of computed offsets, zero shuffle at any scale.
# ---------------------------------------------------------------------------
_W, _S = 32, 24


def q81_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    ).withColumn("len", F.size("toks"))
    starts = F.sequence(F.lit(0), F.col("len") - 1, F.lit(_S))
    chunks = toked.select(
        "doc_id", "toks", "len", F.explode_outer(starts).alias("start")
    ).select(
        "doc_id",
        (F.col("start") / _S).cast("int").alias("chunk_idx"),
        "start",
        F.least(F.lit(_W), F.col("len") - F.col("start")).alias("n_tok"),
        F.md5(F.concat_ws(" ", F.slice("toks", F.col("start") + 1, F.lit(_W)))).alias(
            "checksum"
        ),
    )
    return chunks.orderBy("doc_id", "chunk_idx")


Q81_SQL = f"""
WITH toked AS (
    SELECT doc_id, str_split(lower(text), ' ') AS toks,
           len(str_split(lower(text), ' ')) AS length
    FROM documents
),
chunks AS (
    SELECT doc_id, toks, length,
           unnest(generate_series(0, length - 1, {_S})) AS start
    FROM toked
)
SELECT doc_id,
       CAST(start // {_S} AS INTEGER) AS chunk_idx,
       start,
       least({_W}, length - start) AS n_tok,
       md5(array_to_string(list_slice(toks, start + 1, start + {_W}), ' ')) AS checksum
FROM chunks
ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------------
# q129 — CONTENT-DEFINED chunking (ext): the FastCDC-family counterpart
# to q81's fixed stride (Muthitacharoen et al. 2001 LBFS; Xia et al.
# 2016 FastCDC). A chunk boundary falls after token p wherever the
# rolling k-gram hash ending at p ≡ 0 (mod D) — a pure CONTENT
# predicate, so an edit early in a document shifts only the chunks
# that overlap it; later boundaries re-align and their checksums are
# unchanged (the property that makes chunk-level dedup and incremental
# sync work — q104's block dedup composes on chunk_md5 directly, with
# edit-resistant blocks instead of offset-locked ones). A forced
# boundary every M=256 tokens bounds the worst case (a document whose
# grams never hit the divisor would otherwise be ONE chunk) at the
# documented cost of shift-invariance across a forced cut.
#
# Shape at scale: 100% row-local — gram hashing, boundary selection,
# span construction, and checksums are higher-order array functions
# inside one projection; ZERO shuffles at any corpus size, embarrassing
# parallelism by document. Determinism: md5-derived gram hashes and
# integer positions only — no floats anywhere.
# ---------------------------------------------------------------------------
_CDC_K = 3  # rolling gram width (tokens)
_CDC_D = 16  # divisor: expected chunk ~D tokens
_CDC_M = 256  # forced-boundary safety bound


def cdc_chunk_frame(docs: DataFrame) -> DataFrame:
    """The row-local CDC core over any (doc_id, text) frame — separated
    from q129 so tests can drive it with authored edits (the
    shift-invariance property needs a controlled insertion)."""
    toked = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    ).withColumn("n", F.size("toks"))

    def gram_hash(p):  # k-gram ending at 1-based token position p
        gram = F.concat_ws(" ", F.slice("toks", p - F.lit(_CDC_K - 1), F.lit(_CDC_K)))
        return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")

    cut = F.filter(
        F.sequence(F.lit(_CDC_K), F.col("n") - 1),
        lambda p: (gram_hash(p) % _CDC_D == 0) | (p % _CDC_M == 0),
    )
    bs = F.concat(F.array(F.lit(0)), cut, F.array(F.col("n")))
    spans = F.expr(
        "transform(sequence(1, size(bs) - 1), i -> struct(bs[i-1] AS s, bs[i] AS e))"
    )
    short = F.col("n") < F.lit(_CDC_K + 1)  # too short for any interior cut
    chunked = toked.withColumn(
        "bs", F.when(short, F.array(F.lit(0), F.col("n"))).otherwise(bs)
    ).select("doc_id", "toks", F.posexplode(spans).alias("chunk_idx", "u"))
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.col("u.s").cast("long").alias("start_tok"),
        F.col("u.e").cast("long").alias("end_tok"),
        (F.col("u.e") - F.col("u.s")).cast("long").alias("n_tokens"),
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("u.s") + 1, F.col("u.e") - F.col("u.s")))
        ).alias("chunk_md5"),
    )


def q129_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_chunk_frame(load(spark, sf_dir, "documents"))


_CDC_GRAM = (
    "array_to_string(list_slice(toks, p - " + str(_CDC_K - 1) + ", p), ' ')"
)
_CDC_HASH = _hex2int_sql(f"md5({_CDC_GRAM})", 1, 8)

Q129_SQL = f"""
WITH toked AS (
    SELECT doc_id, str_split(lower(text), ' ') AS toks,
           len(str_split(lower(text), ' ')) AS n
    FROM documents
),
bounds AS (
    SELECT doc_id, toks, n,
           list_concat(list_concat(
               [0::BIGINT],
               CASE WHEN n < {_CDC_K + 1} THEN []
                    ELSE list_filter(generate_series({_CDC_K}::BIGINT, n - 1),
                                     p -> {_CDC_HASH} % {_CDC_D} = 0
                                          OR p % {_CDC_M} = 0)
               END),
               [n::BIGINT]) AS bs
    FROM toked
),
spans AS (
    SELECT doc_id, toks,
           unnest(list_transform(generate_series(1, len(bs) - 1),
                  i -> struct_pack(ci := i - 1, s := bs[i], e := bs[i + 1]))) AS u
    FROM bounds
)
SELECT doc_id,
       CAST(u.ci AS INTEGER) AS chunk_idx,
       CAST(u.s AS BIGINT) AS start_tok,
       CAST(u.e AS BIGINT) AS end_tok,
       CAST(u.e - u.s AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(toks, u.s + 1, u.e), ' ')) AS chunk_md5
FROM spans
ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------------
# q84 — hybrid search with reciprocal-rank fusion (ext): fuse the BM25
# keyword ranking (q80's scorer) with a dense cosine ranking against a
# query vector (doc_id ↔ vec_id), RRF(k=60): Σ 1/(k + rank), missing
# from a ranking → that term is 0. The standard lexical+dense fusion —
# ranks, not raw scores, so the two scales need no calibration. Each
# ranking is first bounded to a top-100 pool with a distributed
# TakeOrdered (docs outside a pool contribute 0, the standard RRF
# practice) so the global rank window only ever sorts 100 rows — never
# a single-partition pass over the full corpus. Rankings are
# rounded-score + id tie-broken (cross-engine stable); the fusion is
# integer-rank arithmetic (exact), a full-outer join of two ≤100-row
# tables, top-20.
# ---------------------------------------------------------------------------
_RRF_K = 60
_Q84_TOPK = 20
_Q84_POOL = 100
_Q84_QUERY_VEC = 0


def q84_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine, qround

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    text_pool = (
        _bm25_scores(docs)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(_Q84_POOL)
    )
    text_rank = text_pool.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .alias("tr"),
    )
    qv = emb.filter(F.col("vec_id") == _Q84_QUERY_VEC).select(
        F.col("embedding").alias("qv")
    )
    vec_pool = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("id"),
            qround(cosine("embedding", "qv"), 4).alias("cs"),
        )
        .orderBy(F.col("cs").desc(), F.col("id"))
        .limit(_Q84_POOL)
    )
    vec_rank = vec_pool.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("cs").desc(), F.col("id")))
        .alias("vr"),
    )
    # qround, not F.round: the fused score is compared/ordered cross-engine
    rrf = qround(
        F.coalesce(1.0 / (_RRF_K + F.col("tr")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("vr")), F.lit(0.0)),
        6,
    )
    return (
        text_rank.join(vec_rank, "id", "full_outer")
        .select("id", "tr", "vr", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), "id")
        .limit(_Q84_TOPK)
    )


Q84_SQL = f"""
WITH toks AS (
    SELECT doc_id, len(str_split(lower(text), ' ')) AS dl,
           unnest(str_split(lower(text), ' ')) AS t
    FROM documents
),
tf AS (
    SELECT doc_id, dl, t, count(*) AS tf
    FROM toks WHERE t IN ({_TERMS_SQL})
    GROUP BY doc_id, dl, t
),
consts AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(len(str_split(lower(text), ' '))) FROM documents) AS avgdl
),
df_t AS (SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t),
scored AS (
    SELECT tf.doc_id,
           round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_K1} + 1))
               / (tf + {_K1} * (1 - {_B} + {_B} * dl / avgdl))
           ), 4) AS score
    FROM tf JOIN df_t ON tf.t = df_t.t CROSS JOIN consts
    GROUP BY tf.doc_id
),
text_rank AS (
    SELECT id, tr FROM (
        SELECT doc_id AS id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS tr
        FROM scored
    ) WHERE tr <= {_Q84_POOL}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_Q84_QUERY_VEC}),
cs AS (
    -- quantized-exact cosine, the same macro family as embeddings_plans
    -- (operators/similarity.py round-5 determinism note)
    SELECT vec_id AS id,
           {_round_sql(_cos_sql('embedding', 'qv'), 4)} AS cs
    FROM embeddings CROSS JOIN q
),
vec_rank AS (
    SELECT id, vr FROM (
        SELECT id, CAST(row_number() OVER (ORDER BY cs DESC, id) AS INTEGER) AS vr
        FROM cs
    ) WHERE vr <= {_Q84_POOL}
)
SELECT coalesce(t.id, v.id) AS id, t.tr, v.vr,
       {_round_sql(
           f"coalesce(1.0 / ({_RRF_K} + t.tr), 0)"
           f" + coalesce(1.0 / ({_RRF_K} + v.vr), 0)", 6)} AS rrf
FROM text_rank t FULL OUTER JOIN vec_rank v ON t.id = v.id
ORDER BY rrf DESC, id
LIMIT {_Q84_TOPK}
"""


# ---------------------------------------------------------------------------
# q100 — SEMANTIC decontamination (ext): q79 catches eval-set leakage by
# exact n-gram overlap; this catches paraphrased/translated leakage by
# embedding cosine against the eval set — both belong in a modern
# pretraining pipeline. "Eval set" = vec_id % 97 = 0 (the deterministic
# stand-in; production eval sets are SMALL BY CONSTRUCTION, which is the
# scale contract here: the eval side — staged quantized vectors + norms —
# broadcasts, the corpus never shuffles for scoring, and the only
# exchange is the final slim (id, hits, max) rollup). Quantized-exact
# arithmetic + qround as everywhere in the similarity family.
# ---------------------------------------------------------------------------
_Q100_EVAL_MOD = 97
_Q100_COS = 0.3


def q100_semantic_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _qint, dot_q, norm_q, qround

    emb = load(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % _Q100_EVAL_MOD == 0).select(
        _qint("embedding").alias("_eqv")
    )
    ev = ev.withColumn("_enrm", norm_q("_eqv"))
    corpus = (
        emb.filter(F.col("vec_id") % _Q100_EVAL_MOD != 0)
        .select("vec_id", _qint("embedding").alias("_qv"))
        .withColumn("_nrm", norm_q("_qv"))
    )
    scored = corpus.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        qround(
            dot_q("_qv", "_eqv") / (F.col("_nrm") * F.col("_enrm")), 4
        ).alias("cos"),
    )
    return (
        scored.filter(F.col("cos") >= _Q100_COS)
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.max("cos").alias("max_cos"),
        )
        .orderBy("vec_id")
    )


Q100_SQL = f"""
SELECT c.vec_id,
       count(*) AS n_eval_hits,
       max({_round_sql(_cos_sql('c.embedding', 'e.embedding'), 4)}) AS max_cos
FROM embeddings c, embeddings e
WHERE e.vec_id % {_Q100_EVAL_MOD} = 0
  AND c.vec_id % {_Q100_EVAL_MOD} <> 0
  AND {_round_sql(_cos_sql('c.embedding', 'e.embedding'), 4)} >= {_Q100_COS}
GROUP BY c.vec_id
ORDER BY c.vec_id
"""


# ---------------------------------------------------------------------------
# q128 — STREAMING decontamination gate (ext): q79's eval-set n-gram
# check moved to where a production pipeline actually runs it — the
# ingest stream, before a contaminated document ever lands in the
# corpus. The eval set's shingle hashes are compiled into a relational
# Bloom filter (operators/dedup.py:bloom_build — the q105 machinery),
# densified, and embedded in the stream plan as ONE folded array
# literal; the per-document gate is then a pure row-local expression
# (md5 + O(1) array probes inside a higher-order transform) — no state,
# no watermark, no shuffle, legal in append mode at any stream rate.
#
# Bloom semantics are the point and are mirrored EXACTLY in the oracle
# (which rebuilds the same bits): no false negatives — every truly
# contaminated document is flagged — while n_bloom_hits may exceed true
# contamination by the filter's FP rate; the flagged stream feeds q79's
# exact check as the second pass, touching only flagged docs. Run as a
# real availableNow drain vs the batch oracle (the ST6 pattern).
# ---------------------------------------------------------------------------
_Q128_WORDS = 2048  # 65,536 bits
_Q128_K = 4


def q128_stream_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        bloom_build,
        bloom_collected,
        bloom_dense_masks,
        bloom_hits_count_dense,
    )
    from .streaming_plans import _drain_to_memory

    docs = load(spark, sf_dir, "documents")
    eval_keys = (
        with_shingles(
            docs.filter(F.col("doc_id") % _BENCH_MOD == 0),
            "doc_id", "text", k=_DECON_K,
        )
        .select(F.explode(F.array_distinct("shingles")).alias("s"))
        .select(F.md5("s").alias("hk"))
        .distinct()
    )
    masks = bloom_dense_masks(
        bloom_collected(bloom_build(eval_keys, "hk", words=_Q128_WORDS, k=_Q128_K)),
        _Q128_WORDS,
    )
    corpus = docs.filter(F.col("doc_id") % _BENCH_MOD != 0).select("doc_id", "text")

    def gate(st):
        sh = with_shingles(st, "doc_id", "text", k=_DECON_K)
        dsh = F.array_distinct(F.col("shingles"))
        # hash each shingle ONCE, then probe — the per-element expr form
        # re-evaluated md5 k·2 times inside the (interpreted) lambda
        hits = bloom_hits_count_dense(
            F.transform(dsh, F.md5), masks, k=_Q128_K
        )
        return sh.select(
            "doc_id",
            F.size(dsh).cast("long").alias("n_shingles"),
            hits.alias("n_bloom_hits"),
        ).filter(F.col("n_bloom_hits") > 0)

    return _drain_to_memory(corpus, gate, "q128_decon")


_Q128_POS = ", ".join(
    f"({_hex2int_sql('hk', 1, 8)} + {j} * {_hex2int_sql('hk', 9, 8)}) "
    f"% {_Q128_WORDS * 32}"
    for j in range(_Q128_K)
)

Q128_SQL = f"""
WITH sh AS (
    SELECT doc_id, list_distinct({_shingle_sql(_DECON_K)}) AS shingles
    FROM documents
    WHERE len(str_split(text, ' ')) >= {_DECON_K}
),
ex AS (SELECT doc_id, md5(unnest(shingles)) AS hk FROM sh),
bloom AS (
    SELECT p // 32 AS word, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS mask
    FROM (
        SELECT unnest([{_Q128_POS}]) AS p
        FROM ex WHERE doc_id % {_BENCH_MOD} = 0
    )
    GROUP BY 1
),
probes AS (
    SELECT doc_id, hk, unnest([{_Q128_POS}]) AS p
    FROM ex WHERE doc_id % {_BENCH_MOD} <> 0
),
per_key AS (
    SELECT doc_id, hk,
           CAST(count(*) FILTER (
               WHERE (b.mask >> CAST(p % 32 AS INT)) % 2 = 1
           ) = {_Q128_K} AS INTEGER) AS hit
    FROM probes LEFT JOIN bloom b ON b.word = p // 32
    GROUP BY doc_id, hk
),
agg AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(hit) AS BIGINT) AS n_bloom_hits
    FROM per_key GROUP BY doc_id
)
SELECT doc_id, n_shingles, n_bloom_hits
FROM agg
WHERE n_bloom_hits > 0
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q175 — PHRASE search over a positional inverted index (ext): the
# retrieval primitive BM25 (q80) cannot answer — "these words ADJACENT,
# in this order" — via position-arithmetic postings intersection
# (the classic positional-index phrase algorithm, Manning/Raghavan/
# Schütze ch.2). Queries are derived from the data (top-3 corpus
# bigrams, tie-broken lexicographically) so the whole thing is
# deterministic. Two independent paths, cross-certified in-query:
# (1) INDEX path: postings are built ONLY for the query terms — the
#     token stream semi-joins a BROADCAST ≤2·|phrases| term table
#     before any shuffle — then adjacency is an EQUI-join on
#     (phrase, doc_id, pos+1) (Catalyst hash-joins arithmetic key
#     expressions; no inequality/range join anywhere);
# (2) TRUTH path: row-local bigram-array filter per doc, zero shuffle
#     before the final per-source aggregation.
# Output carries both counts + a `matches` flag, and the DuckDB oracle
# recomputes both paths from scratch.
# Scale: at 100 TB the positional index is a persisted table; this
# certifies the position algebra and the query-side shape — term-first
# filtering means posting volume is O(df(query terms)), never O(corpus),
# and the adjacency join shuffles only those postings, hash-partitioned
# on (phrase, doc_id).
# ---------------------------------------------------------------------------
_Q175_TOP = 3


def q175_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles_from_tokens

    docs = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", F.split(F.lower("text"), " ").alias("_toks")
        )
        .filter(F.size("_toks") >= 2)
        .localCheckpoint(eager=False)  # feeds bigrams AND postings
    )
    bi = docs.select(
        "doc_id", "source", shingles_from_tokens("_toks", 2).alias("_bi")
    ).localCheckpoint(eager=False)  # feeds phrase selection AND truth
    phrases = (
        bi.select(F.explode("_bi").alias("phrase"))
        .groupBy("phrase")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "phrase")
        .limit(_Q175_TOP)
        .select(
            "phrase",
            F.split("phrase", " ").getItem(0).alias("t1"),
            F.split("phrase", " ").getItem(1).alias("t2"),
        )
        .localCheckpoint(eager=False)  # tiny; broadcast into both postings
    )
    tok = docs.select(
        "doc_id", "source", F.posexplode("_toks").alias("pos", "word")
    )
    p1 = tok.join(
        F.broadcast(phrases.select("phrase", F.col("t1").alias("word"))), "word"
    ).select("phrase", "doc_id", "source", "pos")
    p2 = tok.join(
        F.broadcast(phrases.select("phrase", F.col("t2").alias("word"))), "word"
    ).select(
        F.col("phrase").alias("phrase2"),
        F.col("doc_id").alias("doc2"),
        F.col("pos").alias("pos2"),
    )
    occ = p1.join(
        p2,
        (F.col("phrase2") == F.col("phrase"))
        & (F.col("doc2") == F.col("doc_id"))
        & (F.col("pos2") == F.col("pos") + 1),
    )
    idx = occ.groupBy("phrase", "source").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    truth = (
        bi.crossJoin(F.broadcast(phrases.select("phrase")))
        .select(
            "source",
            "phrase",
            F.size(F.filter("_bi", lambda b: b == F.col("phrase"))).alias("_c"),
        )
        .groupBy("phrase", "source")
        .agg(
            F.sum("_c").cast("long").alias("truth_occurrences"),
            F.sum(F.when(F.col("_c") > 0, 1).otherwise(0))
            .cast("long")
            .alias("truth_docs"),
        )
        .filter(F.col("truth_occurrences") > 0)
    )
    return (
        idx.join(truth, ["phrase", "source"])
        .withColumn(
            "matches",
            (F.col("n_occurrences") == F.col("truth_occurrences"))
            & (F.col("n_docs") == F.col("truth_docs")),
        )
        .select(
            "phrase", "source", "n_occurrences", "n_docs",
            "truth_occurrences", "truth_docs", "matches",
        )
        .orderBy("phrase", "source")
    )


Q175_SQL = f"""
WITH base AS (
    SELECT doc_id, source, str_split(lower(text), ' ') AS l
    FROM documents
    WHERE len(str_split(lower(text), ' ')) >= 2
),
bi AS (
    SELECT doc_id, source,
           list_transform(generate_series(1, len(l) - 1),
                          i -> l[i] || ' ' || l[i + 1]) AS bg
    FROM base
),
phr AS (
    SELECT phrase FROM (
        SELECT unnest(bg) AS phrase FROM bi
    ) g GROUP BY phrase ORDER BY count(*) DESC, phrase LIMIT {_Q175_TOP}
),
tok0 AS (
    SELECT doc_id, source, unnest(generate_series(1, len(l))) AS pos, l
    FROM base
),
tok AS (SELECT doc_id, source, pos, l[pos] AS word FROM tok0),
p1 AS (
    SELECT p.phrase, t.doc_id, t.source, t.pos
    FROM tok t JOIN phr p ON t.word = str_split(p.phrase, ' ')[1]
),
p2 AS (
    SELECT p.phrase, t.doc_id, t.pos
    FROM tok t JOIN phr p ON t.word = str_split(p.phrase, ' ')[2]
),
occ AS (
    SELECT a.phrase, a.source, a.doc_id
    FROM p1 a JOIN p2 b
      ON b.phrase = a.phrase AND b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
idx AS (
    SELECT phrase, source,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM occ GROUP BY 1, 2
),
tr0 AS (
    SELECT b.source, p.phrase,
           len(list_filter(b.bg, x -> x = p.phrase)) AS c
    FROM bi b CROSS JOIN phr p
),
truth AS (
    SELECT phrase, source,
           CAST(sum(c) AS BIGINT) AS truth_occurrences,
           CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS truth_docs
    FROM tr0 GROUP BY 1, 2 HAVING sum(c) > 0
)
SELECT i.phrase, i.source, i.n_occurrences, i.n_docs,
       t.truth_occurrences, t.truth_docs,
       (i.n_occurrences = t.truth_occurrences
        AND i.n_docs = t.truth_docs) AS matches
FROM idx i JOIN truth t ON t.phrase = i.phrase AND t.source = i.source
ORDER BY i.phrase, i.source
"""


QUERIES = [
    Query("q79_decontamination", q79_decontamination, Q79_SQL,
          survey="ext:decontamination,J1,E2", tags=("bench",)),
    Query("q128_stream_decon", q128_stream_decon, Q128_SQL,
          survey="ext:decontamination,ST3,ST6", tags=("bench",)),
    Query("q129_cdc_chunks", q129_cdc_chunks, Q129_SQL,
          survey="ext:chunking,ext:exact-dedup", tags=("bench",)),
    Query("q80_bm25_search", q80_bm25_search, Q80_SQL,
          survey="ext:bm25-search,A10,T1", tags=("bench",)),
    Query("q81_chunk_documents", q81_chunk_documents, Q81_SQL,
          survey="ext:chunking,U5"),
    Query("q84_hybrid_rrf", q84_hybrid_rrf, Q84_SQL,
          survey="ext:hybrid-search-rrf,T1"),
    Query("q100_semantic_decon", q100_semantic_decon, Q100_SQL,
          survey="ext:semantic-decontamination,ext:decontamination"),
    Query("q175_phrase_search", q175_phrase_search, Q175_SQL,
          survey="ext:phrase-search,ext:bm25-search,T1",
          tags=("bench",)),
]
