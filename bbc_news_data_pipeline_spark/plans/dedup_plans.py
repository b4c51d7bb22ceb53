"""Dedup-family plans over the `documents` table — the LLM-data-pipeline
extension surface (BASELINE.json north star) built on operators/dedup.py.

Together with q37 (exact fingerprint stats), q38 (minhash signatures) and
q39 (n-gram Jaccard pairs) these certify the full dedup inventory:
exact → q42, SimHash → q43, MinHash+LSH banding → q46.

Every operator here is pure column algebra over md5 (stable across
engines), so each has a full DuckDB oracle — including the 60-bit SimHash
pack and the banding join, which the oracle rebuilds from first
principles (hex→int positional sums) rather than trusting our operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    SIMHASH_BITS,
    exact_dedup,
    minhash_candidates,
    simhash_candidates,
)
from ..sources.tables import load
from .registry import Query

SHINGLE_K = 5  # word-shingle width for MinHash / Jaccard (tuned so the
# inverted-index join stays sub-quadratic on the synthetic zipfian corpus)

# Hot-bucket star cap (operators/dedup.py:pairs_within_groups), explicit in
# the candidate-pair query definitions AND mirrored in their oracles: a
# band bucket over this size emits (bucket-min, member) star pairs instead
# of all pairs, so parity holds at ANY scale by construction — including
# corpora whose buckets overflow (sf0.1 simhash bands reach 269).
_MAX_GROUP = 64


def _hex2int_sql(expr: str, start: int, length: int) -> str:
    """DuckDB twin of Spark's ``conv(substring(x, start, length), 16, 10)``:
    positional strpos sum over lowercase hex chars."""
    return (
        f"list_sum(list_transform(generate_series(1, {length}), "
        f"i -> CAST(strpos('0123456789abcdef', substring({expr}, {start} - 1 + i, 1)) - 1 "
        f"AS BIGINT) * (1::BIGINT << (4 * ({length} - i)))))"
    )


# ---------------------------------------------------------------------------
# q42 — exact dedup, keep-min-id-per-fingerprint (SURVEY A1/W1/S9 semantics
# generalized). One shuffle on the 128-bit fingerprint; left_semi keeps the
# scan pruned to the join key + output columns.
# ---------------------------------------------------------------------------
def q42_exact_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "source")


Q42_SQL = """
SELECT doc_id, lang, source
FROM documents
WHERE doc_id IN (
    SELECT min(doc_id) FROM documents GROUP BY md5(lower(trim(text)))
)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q43 — SimHash near-dup candidate pairs with Hamming distance. The Spark
# side is row-local hashing (zero shuffle until the 15-bit band join); the
# oracle rebuilds the 60-bit pack bit-by-bit.
# ---------------------------------------------------------------------------
def q43_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return simhash_candidates(docs, "doc_id", "text", bands=4, max_group=_MAX_GROUP)


_BAND_W = SIMHASH_BITS // 4
Q43_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents
),
th AS (
    SELECT doc_id, {_hex2int_sql("md5(t)", 1, 15)} AS hv FROM tok
),
bits AS (
    SELECT doc_id, bs.b,
           sum(CASE WHEN (hv >> bs.b) % 2 = 1 THEN 1 ELSE -1 END) AS s
    FROM th CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b) bs
    GROUP BY doc_id, bs.b
),
sh AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
),
banded AS (
    SELECT doc_id, simhash, bv.b AS band_idx,
           (simhash >> (bv.b * {_BAND_W})) % {1 << _BAND_W} AS band_val
    FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bv
),
grp AS (
    SELECT band_idx, band_val, count(*) AS cnt, min(doc_id) AS min_id
    FROM banded GROUP BY band_idx, band_val
),
anchors AS (
    SELECT g.band_idx, g.band_val, g.cnt, g.min_id, x.simhash AS min_sh
    FROM grp g
    JOIN banded x ON x.band_idx = g.band_idx AND x.band_val = g.band_val
                 AND x.doc_id = g.min_id
),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sh_a, b.simhash AS sh_b
    FROM banded a
    JOIN banded b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
    JOIN grp g ON g.band_idx = a.band_idx AND g.band_val = a.band_val
              AND g.cnt <= {_MAX_GROUP}
    UNION ALL
    SELECT an.min_id, m.doc_id, an.min_sh, m.simhash
    FROM banded m
    JOIN anchors an ON an.band_idx = m.band_idx AND an.band_val = m.band_val
    WHERE an.cnt > {_MAX_GROUP} AND m.doc_id <> an.min_id
)
SELECT DISTINCT id_a, id_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM pairs
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# q46 — MinHash + LSH banding candidate pairs (the standard shingle →
# minhash → band → bucket-join pipeline). 8 lanes from TWO md5 calls per
# shingle, 4 bands × 2 rows — the only wide op is the band-key join.
# ---------------------------------------------------------------------------
def q46_minhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return minhash_candidates(
        docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K, max_group=_MAX_GROUP
    )


def _shingle_sql(k: int = SHINGLE_K) -> str:
    toks = "str_split(text, ' ')"
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(k))
    return f"list_transform(generate_series(1, len({toks}) - {k - 1}), i -> {parts})"


def _lane_sql(lane: int) -> str:
    group, sub = lane // 4, lane % 4
    return (
        f"list_aggregate(list_transform(shingles, "
        f"s -> substring(md5('{group}:' || s), {1 + sub * 8}, 8)), 'min')"
    )


_SIGS = ",\n       ".join(f"{_lane_sql(i)} AS sig_{i}" for i in range(8))
_BANDS = ",\n        ".join(
    f"md5('{b}' || '|' || sig_{2 * b} || '|' || sig_{2 * b + 1})" for b in range(4)
)
# The capped candidate-pair CTE chain, shared by Q46 (the pair parity
# proof) and Q111 (PageRank over the same graph) — identical to what
# minhash_candidates emits, star expansion included.
_CAPPED_PAIRS_CTES = f"""sh AS (
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
grp AS (
    SELECT band_key, count(*) AS cnt, min(doc_id) AS min_id
    FROM banded GROUP BY band_key
),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a
    JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    JOIN grp g ON g.band_key = a.band_key AND g.cnt <= {_MAX_GROUP}
    UNION ALL
    SELECT g.min_id, m.doc_id
    FROM banded m
    JOIN grp g ON g.band_key = m.band_key
    WHERE g.cnt > {_MAX_GROUP} AND m.doc_id <> g.min_id
)"""

Q46_SQL = f"""
WITH {_CAPPED_PAIRS_CTES}
SELECT DISTINCT id_a, id_b FROM pairs
ORDER BY id_a, id_b
"""


def _capped_pairs(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_CAPPED_PAIRS_CTES`` + ``SELECT DISTINCT id_a, id_b``:
    the distinct capped candidate pairs (id_a < id_b). Unpinned — each
    caller decides whether its consumers justify a checkpoint."""
    return (
        minhash_candidates(
            docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K,
            max_group=_MAX_GROUP,
        )
        .select("id_a", "id_b")
        .distinct()
    )


def _sym_edges(pairs: DataFrame) -> DataFrame:
    """Both orientations of each pair as directed ``(u, v)`` edges — the
    oracles' ``SELECT id_a AS u, id_b AS v … UNION ALL …`` edge list."""
    return pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).union(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )


# ---------------------------------------------------------------------------
# q91 — winnowing document fingerprints (ext: rolling-hash fingerprinting,
# Schleimer/Wilkerson/Aiken 2003). Rolling word-3-gram hashes, min of each
# 4-hash window, distinct per doc — the operator is row-local end-to-end;
# the query aggregates per doc (count / checksum / extrema) so the oracle
# compares the full fingerprint multiset without shipping every row.
# ---------------------------------------------------------------------------
_WINNOW_K = 3
_WINNOW_W = 4


def q91_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_fingerprints

    docs = load(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, "doc_id", "text", k=_WINNOW_K, window=_WINNOW_W)
    return (
        fp.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fp"),
            F.sum("fingerprint").alias("fp_sum"),
            F.min("fingerprint").alias("fp_min"),
            F.max("fingerprint").alias("fp_max"),
        )
        .orderBy("doc_id")
    )


# NOTE: the inner hex→int helper binds `i`; the outer lambdas use `gi`/`wi`.
_WINNOW_GRAM = "md5(l[gi] || ' ' || l[gi+1] || ' ' || l[gi+2])"

Q91_SQL = f"""
WITH base AS (
    SELECT doc_id, str_split(text, ' ') AS l
    FROM documents
    WHERE len(str_split(text, ' ')) >= {_WINNOW_K}
),
kg AS (
    SELECT doc_id,
           list_transform(generate_series(1, len(l) - {_WINNOW_K - 1}),
                          gi -> {_hex2int_sql(_WINNOW_GRAM, 1, 8)}) AS hs
    FROM base
),
fp AS (
    SELECT doc_id,
           unnest(list_distinct(
               list_transform(generate_series(1, greatest(1, len(hs) - {_WINNOW_W - 1})),
                              wi -> list_min(hs[wi:wi+{_WINNOW_W - 1}])))) AS f
    FROM kg
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_fp,
       CAST(sum(f) AS BIGINT) AS fp_sum,
       CAST(min(f) AS BIGINT) AS fp_min,
       CAST(max(f) AS BIGINT) AS fp_max
FROM fp
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q94 — INCREMENTAL near-dup: dedup a new batch against an existing
# corpus via the persisted band-key index (the every-ingest operation of
# a 100 TB pipeline — full-corpus re-banding per batch would be
# quadratic over time). A new doc is a duplicate iff it shares any LSH
# band key with an existing doc. Shape at scale: the corpus side is the
# stored (doc_id, band_key) table from operators/dedup.py:band_keys;
# the new batch's keys are small (batch docs × bands) and BROADCAST into
# an equi-join against the index — no shuffle of the corpus, no pair
# blow-up (we only need "matched at least once", not the pairs).
# ---------------------------------------------------------------------------
_Q94_SPLIT = 400  # doc_id < 400 = existing corpus, >= 400 = new batch


def q94_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import band_keys

    docs = load(spark, sf_dir, "documents")
    corpus_keys = band_keys(
        docs.filter(F.col("doc_id") < _Q94_SPLIT), "doc_id", "text",
        n_hashes=8, bands=4, k=SHINGLE_K,
    )
    batch = docs.filter(F.col("doc_id") >= _Q94_SPLIT)
    batch_keys = band_keys(batch, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K)
    matched = (
        corpus_keys.join(
            F.broadcast(batch_keys.select(F.col("doc_id").alias("new_id"), "band_key")),
            "band_key",
        )
        .select("new_id")
        .distinct()
    )
    return (
        batch.join(
            F.broadcast(matched.withColumnRenamed("new_id", "doc_id")).withColumn(
                "_hit", F.lit(1)
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", "lang", F.coalesce(F.col("_hit"), F.lit(0)).alias("is_dup")
        )
        .orderBy("doc_id")
    )


Q94_SQL = f"""
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
matched AS (
    SELECT DISTINCT n.doc_id
    FROM banded n
    JOIN banded o ON n.band_key = o.band_key AND o.doc_id < {_Q94_SPLIT}
    WHERE n.doc_id >= {_Q94_SPLIT}
)
SELECT d.doc_id, d.lang,
       CAST(d.doc_id IN (SELECT doc_id FROM matched) AS INTEGER) AS is_dup
FROM documents d
WHERE d.doc_id >= {_Q94_SPLIT}
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# q101 — EXACT-SUBSTRING duplicated spans (Lee et al. 2021,
# arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
# Better"): find, per document, the maximal token spans whose every
# K-token window occurs ≥2 times anywhere in the corpus (including twice
# in the same document — suffix-array repeat semantics). This is the
# span-level complement of the whole-doc dedup family (q37/q42) and the
# sketch family (q38–q46): those drop near-identical DOCUMENTS; this
# locates verbatim repeated PASSAGES (boilerplate, licenses, quoted wire
# copy) inside otherwise-distinct documents, which is what the
# suffix-array pass in the paper removes from training data.
#
# Shape: tokenize → one K-gram per position (row-local) → global
# occurrence count per gram (map-side-combinable groupBy: the ONE
# O(corpus-tokens) shuffle, inherent to exact-substring matching — a
# distributed suffix array does the same volume with worse constants) →
# semi-join duplicated grams back onto positions (second shuffle on the
# gram key) → per-doc gaps-and-islands merge of adjacent duplicated
# positions into maximal spans (WindowExec partitioned by doc_id —
# bounded by a single document's length) → per-doc summary. At 100 TB,
# swap the gram STRING for xxhash64(gram) as the shuffle key: ~10× fewer
# shuffle bytes, identical semantics modulo 2^-64 collisions; the string
# key is kept here so the DuckDB oracle needs no hash-function parity.
# Integer-only output → hash-exact across engines.
# ---------------------------------------------------------------------------
_SPAN_K = 5  # tokens per window; spans shorter than K are not reported


def q101_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dup_spans

    docs = load(spark, sf_dir, "documents")
    return dup_spans(docs, "doc_id", "text", k=_SPAN_K).orderBy("doc_id")


Q101_SQL = f"""
WITH words AS (
    SELECT doc_id, str_split(lower(text), ' ') AS ws FROM documents
),
grams AS (
    SELECT doc_id, i AS pos,
           array_to_string(list_slice(ws, i, i + {_SPAN_K} - 1), ' ') AS gram
    FROM words, unnest(generate_series(1, len(ws) - {_SPAN_K} + 1)) AS t(i)
    WHERE len(ws) >= {_SPAN_K}
),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
dg AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
isl AS (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM dg
),
spans AS (
    SELECT doc_id, min(pos) AS span_start,
           max(pos) - min(pos) + {_SPAN_K} AS span_tokens
    FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
       CAST(max(span_tokens) AS BIGINT) AS max_span
FROM spans
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q104 — BLOCK-level dedup-and-reconstruct (the RefinedWeb / FineWeb
# line-dedup shape, arXiv:2306.01116 §3.3, applied to deterministic
# 10-token blocks since this corpus has no newline structure): every
# block that occurs more than once ANYWHERE in the corpus survives only
# at its first occurrence (global (doc_id, block_idx) order); documents
# are REWRITTEN from their surviving blocks. Complements q101: q101
# reports repeated passages, q104 actually removes them and emits the
# cleaned corpus — the difference between an audit and a curation pass.
#
# Shape: blocking is row-local; first-wins is a map-side-combinable
# groupBy(block).min(struct) plus an equi-join back on the block value —
# deliberately NOT a window min: a window partitioned by block puts
# every copy of a hot block (boilerplate repeated millions of times) in
# ONE un-splittable task, while the agg partially combines hot keys
# before the wire and the join-back is AQE-skew-splittable. Reassembly
# is a per-doc groupBy whose collect_list is bounded by a single
# document's block count. At 100 TB the block-value shuffle key becomes
# xxhash64(block) (same note as q101) and reassembly cost stays
# per-doc-bounded — no global sort anywhere.
# ---------------------------------------------------------------------------
_BLOCK_W = 10  # tokens per block


def q104_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import block_dedup

    docs = load(spark, sf_dir, "documents")
    return block_dedup(docs, "doc_id", "text", block_w=_BLOCK_W).orderBy("doc_id")


Q104_SQL = f"""
WITH ws AS (SELECT doc_id, str_split(lower(text), ' ') AS w FROM documents),
blocks AS (
    SELECT doc_id, i AS bidx,
           array_to_string(
               list_slice(w, i * {_BLOCK_W} + 1, i * {_BLOCK_W} + {_BLOCK_W}), ' '
           ) AS block
    FROM ws,
         unnest(generate_series(0,
             CAST(ceil(len(w) / {_BLOCK_W}.0) AS INT) - 1)) AS t(i)
),
flagged AS (
    SELECT doc_id, bidx, block,
           CASE WHEN (doc_id, bidx) =
                     min((doc_id, bidx)) OVER (PARTITION BY block)
                THEN 1 ELSE 0 END AS keep
    FROM blocks
)
SELECT doc_id,
       count(*) AS n_blocks,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       coalesce(
           string_agg(block, ' ' ORDER BY bidx) FILTER (WHERE keep = 1), ''
       ) AS new_text
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q105 — BLOOM-accelerated incremental near-dup (q94's every-ingest
# operation with an O(1)-memory membership prefilter; Bloom 1970 +
# the "bloom-prefilter then exact-verify" pattern of every production
# ingest). The corpus's LSH band-key index is folded into a Bloom
# filter built RELATIONALLY — k=4 md5-derived bit positions per key,
# ``groupBy(word) . agg(bit_or(mask))`` over {_BLOOM_WORDS} 32-bit words
# — i.e. the filter itself is a 2048-row DataFrame, broadcastable at any
# corpus size (m is FIXED: 65536 bits here; a real deployment sizes m to
# the index cardinality, the shape is unchanged). A new doc's band keys
# probe the broadcast filter (no corpus access at all for bloom-negative
# keys — the no-false-negative guarantee makes skipping sound); only
# bloom-positive keys enter the exact verify, which broadcasts that
# (tiny) candidate set against the stored index exactly like q94 — the
# corpus index never shuffles. vs q94: the broadcast payload shrinks
# from ALL batch keys to bloom-hit keys, and at streaming rates the
# filter alone answers "definitely new" without touching the index.
#
# Everything — including the Bloom bit arithmetic — is md5-derived
# integer algebra, so the ORACLE reproduces the filter bit-for-bit and
# verifies both the exact is_dup AND the bloom_candidate flags
# (false positives included, if the fill ratio ever produces one).
# ---------------------------------------------------------------------------
_Q105_SPLIT = 400  # doc_id < 400 = indexed corpus, >= 400 = new batch
_BLOOM_WORDS = 2048  # 32-bit words -> m = 65536 bits
_BLOOM_K = 4  # probes per key


def q105_bloom_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import band_keys, bloom_build, bloom_probe

    docs = load(spark, sf_dir, "documents")
    # Width-pruned single banding pass (r10): both corpus-side consumers
    # (bloom build + exact-verify join) read ONLY band_key, so the
    # shingle→minhash→band md5 chain over the corpus runs once behind a
    # lazy checkpoint of the one 32-char key column — the stored footprint
    # is bands×16B/doc at any corpus size, vs re-hashing every shingle
    # twice.
    corpus_keys = (
        band_keys(
            docs.filter(F.col("doc_id") < _Q105_SPLIT), "doc_id", "text",
            n_hashes=8, bands=4, k=SHINGLE_K,
        )
        .select("band_key")
        .localCheckpoint(eager=False)
    )
    bloom = bloom_build(corpus_keys, "band_key", words=_BLOOM_WORDS, k=_BLOOM_K)
    batch = docs.filter(F.col("doc_id") >= _Q105_SPLIT)
    batch_keys = band_keys(batch, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K)
    per_key = bloom_probe(
        batch_keys, bloom, "doc_id", "band_key", words=_BLOOM_WORDS, k=_BLOOM_K
    ).withColumnRenamed("bloom_hit", "cand")
    cand_by_doc = per_key.groupBy("doc_id").agg(F.max("cand").alias("bloom_candidate"))
    cand_keys = per_key.filter(F.col("cand") == 1).select(
        F.col("doc_id").alias("new_id"), "band_key"
    )
    matched = (
        corpus_keys.join(F.broadcast(cand_keys), "band_key")
        .select("new_id")
        .distinct()
        .withColumnRenamed("new_id", "doc_id")
        .withColumn("_m", F.lit(1))
    )
    return (
        batch.join(cand_by_doc, "doc_id", "left")
        .join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("bloom_candidate", F.lit(0)).cast("int").alias("bloom_candidate"),
            F.coalesce("_m", F.lit(0)).cast("int").alias("is_dup"),
        )
        .orderBy("doc_id")
    )


_Q105_POS = ", ".join(
    f"({_hex2int_sql('band_key', 1, 8)} + {j} * {_hex2int_sql('band_key', 9, 8)}) "
    f"% {_BLOOM_WORDS * 32}"
    for j in range(_BLOOM_K)
)

Q105_SQL = f"""
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
bloom AS (
    SELECT p // 32 AS word, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS mask
    FROM (
        SELECT unnest([{_Q105_POS}]) AS p
        FROM banded WHERE doc_id < {_Q105_SPLIT}
    )
    GROUP BY 1
),
probes AS (
    SELECT doc_id, band_key, unnest([{_Q105_POS}]) AS p
    FROM banded WHERE doc_id >= {_Q105_SPLIT}
),
per_key AS (
    SELECT pr.doc_id, pr.band_key,
           CAST(count(*) FILTER (
               WHERE (b.mask >> CAST(pr.p % 32 AS INT)) % 2 = 1
           ) = {_BLOOM_K} AS INTEGER) AS cand
    FROM probes pr LEFT JOIN bloom b ON b.word = pr.p // 32
    GROUP BY pr.doc_id, pr.band_key
),
cand_by_doc AS (
    SELECT doc_id, max(cand) AS bloom_candidate FROM per_key GROUP BY doc_id
),
matched AS (
    SELECT DISTINCT ck.doc_id
    FROM per_key ck
    JOIN banded o ON ck.band_key = o.band_key AND o.doc_id < {_Q105_SPLIT}
    WHERE ck.cand = 1
)
SELECT d.doc_id, d.lang,
       CAST(coalesce(c.bloom_candidate, 0) AS INTEGER) AS bloom_candidate,
       CAST(d.doc_id IN (SELECT doc_id FROM matched) AS INTEGER) AS is_dup
FROM documents d
LEFT JOIN cand_by_doc c ON c.doc_id = d.doc_id
WHERE d.doc_id >= {_Q105_SPLIT}
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# q111 — one PAGERANK step over the near-dup similarity graph (Page et
# al. 1999; the data-curation use is canonical-representative scoring:
# within a duplicate cluster, the doc most connected to other
# high-connectivity docs is the best survivor — a smarter keep-rule
# than min-id). Joins the one-verifiable-step iterative family (q57 CC,
# q83 k-means, q107 power iteration): ONE step from the uniform
# distribution, normalized so N cancels —
# nrank(v) = (1−d) + d·Σ_{u~v} 1/deg(u) — over the SAME capped
# candidate-pair graph q46 certifies (oracle reuses its CTE chain
# verbatim, star expansion included).
#
# Shape: the pair graph is the banding output (≪ corpus); one
# map-side-combinable degree agg + one join + one contribution agg —
# every shuffle keyed on doc ids. Fixed-point rounding (floor(x·1e6+.5),
# the qround form) before the top-k so rank-on-rounded parity holds;
# ties break on doc_id. A driver loop feeding rank_k back in composes
# full PageRank; each step stays oracle-checkable.
# ---------------------------------------------------------------------------
_PR_D = 0.85  # damping
_PR_BASE = 0.15  # (1 - damping), written as its own literal so both
# engines parse the same decimal string (1.0-0.85 in float is NOT 0.15)
_PR_TOPK = 20


def q111_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    edges = _sym_edges(_capped_pairs(docs))
    deg = edges.groupBy("u").agg(F.count("*").alias("deg"))
    agg = (
        edges.join(deg, "u")
        .groupBy("v")
        .agg(
            F.count("*").alias("indeg"),
            F.sum(F.lit(1.0) / F.col("deg")).alias("sum_inv"),
        )
    )
    nrank = F.lit(_PR_BASE) + F.lit(_PR_D) * F.col("sum_inv")
    return (
        agg.select(
            F.col("v").alias("doc_id"),
            F.col("indeg").cast("long").alias("deg"),
            (F.floor(nrank * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("nrank"),
        )
        .orderBy(F.desc("nrank"), F.asc("doc_id"))
        .limit(_PR_TOPK)
    )


Q111_SQL = f"""
WITH {_CAPPED_PAIRS_CTES},
cand AS (SELECT DISTINCT id_a, id_b FROM pairs),
edges AS (
    SELECT id_a AS u, id_b AS v FROM cand
    UNION ALL
    SELECT id_b AS u, id_a AS v FROM cand
),
deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
agg AS (
    SELECT e.v AS doc_id, count(*) AS indeg, sum(1.0 / d.deg) AS sum_inv
    FROM edges e JOIN deg d ON d.u = e.u
    GROUP BY e.v
)
SELECT doc_id,
       CAST(indeg AS BIGINT) AS deg,
       floor(({_PR_BASE} + {_PR_D} * sum_inv) * 1e6 + 0.5) / 1e6 AS nrank
FROM agg
ORDER BY nrank DESC, doc_id ASC
LIMIT {_PR_TOPK}
"""


# ---------------------------------------------------------------------------
# q113 — per-document N-GRAM NOVELTY profile (the corpus-audit metric
# behind "how much of this document is new text vs recycled" — the
# document-level view of the duplication q101 locates and q104 removes;
# cf. the novel-n-gram analyses of Lee et al. 2021 §6 / RefinedWeb §4).
# A gram TYPE is novel to the document holding its globally-FIRST
# occurrence (min doc_id over the corpus); a document's novelty is the
# fraction of its distinct gram types that are novel to it. Low novelty
# at the corpus tail = boilerplate recycling; a clean corpus profiles
# flat.
#
# Shape: per-doc DISTINCT grams (row-local after one map-side-combinable
# rollup), global argmin per gram (second combinable rollup), one join
# back on the gram key — the same O(corpus-tokens)-shuffle family as
# q101, sharing its at-100-TB hash-the-key note. Novelty is an exact
# rational (int/int) rounded identically on both sides.
# ---------------------------------------------------------------------------
def q113_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    ).filter(F.size("ws") >= _SPAN_K)
    grams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, size(ws) - {_SPAN_K} + 1), "
                f"i -> array_join(slice(ws, i, {_SPAN_K}), ' ')))"
            )
        ).alias("gram"),
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_types"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "novel_types"
            ),
        )
        .select(
            "doc_id",
            "n_types",
            "novel_types",
            F.round(F.col("novel_types") / F.col("n_types"), 4).alias("novelty"),
        )
        .orderBy("doc_id")
    )


Q113_SQL = f"""
WITH words AS (
    SELECT doc_id, str_split(lower(text), ' ') AS ws FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(ws, i, i + {_SPAN_K} - 1), ' ') AS gram
    FROM words, unnest(generate_series(1, len(ws) - {_SPAN_K} + 1)) AS t(i)
    WHERE len(ws) >= {_SPAN_K}
),
first AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram)
SELECT g.doc_id,
       count(*) AS n_types,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS novel_types,
       round(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS novelty
FROM grams g JOIN first f ON f.gram = g.gram
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


# ---------------------------------------------------------------------------
# q114 — MinHash ESTIMATOR CALIBRATION (Broder 1997: P[sig lanes match]
# = Jaccard): for every capped candidate pair, the lane-match estimate
# (matching sig lanes / 8) side-by-side with the EXACT shingle-set
# Jaccard and the absolute error — the validation run that justifies the
# banding thresholds the whole dedup family (q38/q39/q46/q94/q96/q105)
# is tuned by. Both columns are exact rationals; the "estimator" being
# estimated is itself deterministic given the md5 lanes, so the oracle
# checks the calibration table value-for-value.
#
# Shape: the EXACT side is computed ONLY for candidate pairs — the
# banding output, ≪ corpus — via two joins against the per-doc distinct
# shingle sets (arrays ride along, bounded by document length). The
# estimate side joins the signature table twice (8 ints per doc). At
# 100 TB the candidate set is what this audit costs, not the corpus.
# ---------------------------------------------------------------------------
def q114_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import with_minhash, with_shingles

    docs = load(spark, sf_dir, "documents")
    pairs = _capped_pairs(docs)
    sigs = with_minhash(docs, "doc_id", "text", n_hashes=8, k=SHINGLE_K)
    sh = with_shingles(docs, "doc_id", "text", SHINGLE_K).select(
        "doc_id", F.array_distinct("shingles").alias("sset")
    )
    est = sum(
        (F.col(f"a.sig_{i}") == F.col(f"b.sig_{i}")).cast("int") for i in range(8)
    ) / F.lit(8.0)
    inter = F.size(F.array_intersect("sa.sset", "sb.sset"))
    union = F.size("sa.sset") + F.size("sb.sset") - inter
    return (
        pairs.join(sigs.alias("a"), pairs.id_a == F.col("a.doc_id"))
        .join(sigs.alias("b"), pairs.id_b == F.col("b.doc_id"))
        .withColumn("est", F.round(est, 4))
        .select("id_a", "id_b", "est")
        .join(sh.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            "est",
            F.round(inter / union, 4).alias("exact"),
            F.round(F.abs(F.col("est") - F.round(inter / union, 4)), 4).alias(
                "abs_err"
            ),
        )
        .orderBy("id_a", "id_b")
    )


_Q114_EST = "(" + " + ".join(
    f"CAST(sa.sig_{i} = sb.sig_{i} AS INTEGER)" for i in range(8)
) + ") / 8.0"

Q114_SQL = f"""
WITH {_CAPPED_PAIRS_CTES},
cand AS (SELECT DISTINCT id_a, id_b FROM pairs),
sets AS (
    SELECT doc_id, list_distinct(shingles) AS sset FROM sh
),
est AS (
    SELECT c.id_a, c.id_b, round({_Q114_EST}, 4) AS est
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
),
exact AS (
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(x.sset, y.sset))
                 / CAST(len(x.sset) + len(y.sset)
                        - len(list_intersect(x.sset, y.sset)) AS DOUBLE), 4)
               AS exact
    FROM cand c
    JOIN sets x ON x.doc_id = c.id_a
    JOIN sets y ON y.doc_id = c.id_b
)
SELECT e.id_a, e.id_b, e.est, x.exact,
       round(abs(e.est - x.exact), 4) AS abs_err
FROM est e JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
ORDER BY e.id_a, e.id_b
"""


# ---------------------------------------------------------------------------
# q139 — PageRank ITERATED TO K=3 with per-step fixed-point
# re-quantization and a convergence-delta column (round-6 judge task #5:
# generalize q127's two-chained-Lloyd-steps contract to the iterative
# graph case). This is the pattern every iterative graph/ML op at 100 TB
# needs: bounded drift per step, proven per step.
#
# The iteration is INTEGER arithmetic end-to-end — ranks live in
# micro-units (r0 = 1_000_000), each step is
#   r_{k+1}(v) = 150_000 + (85 · Σ_{u~v} (r_k(u) div deg(u))) div 100
# i.e. damping 0.85 and the 1/deg spread applied as exact integer
# floor-divisions. Stronger than q111's qround-after-float: there is NO
# float anywhere in the recurrence, so cross-engine (and cross-cluster-
# layout) drift is structurally impossible at ANY K — the re-quantization
# IS the arithmetic. The oracle unrolls the same three steps as CTEs over
# the identical capped candidate-pair graph (q46's CTE chain). Output:
# top-20 nodes by final rank with the full rank trajectory and
# delta_micro = |r3 − r2| in micro-units — the per-node convergence
# readout (mass conservation makes it shrink step over step).
#
# Shape at scale: each step is ONE shuffle keyed on node id (join rank →
# spread → combinable sum); the graph (edges, deg) is computed once and
# lineage-pinned with a lazy localCheckpoint so K references don't
# re-derive the banding. A production K-to-convergence loop checkpoints
# each r_k the same way and stops on Σ delta — every step of which stays
# exactly this oracle-checkable.
# ---------------------------------------------------------------------------
_Q139_K = 3
_Q139_SCALE = 1_000_000


def q139_pagerank_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # K step-joins + deg reference this
    edges = _sym_edges(_capped_pairs(docs)).localCheckpoint(eager=False)
    deg = edges.groupBy("u").agg(F.count("*").alias("deg")).localCheckpoint(
        eager=False
    )
    rank = deg.select(F.col("u").alias("v"), F.lit(_Q139_SCALE).cast("long").alias("r"))
    trajectory: list[DataFrame] = []
    for _ in range(_Q139_K):
        spread = (
            edges.join(deg, "u")
            .join(rank.select(F.col("v").alias("u"), "r"), "u")
            .select("v", F.expr("r div deg").alias("c"))
        )
        rank = spread.groupBy("v").agg(
            (F.lit(150_000) + F.expr("(85 * sum(c)) div 100")).alias("r")
        )
        trajectory.append(rank)
    r1, r2, r3 = trajectory
    scale_d = F.lit(float(_Q139_SCALE))
    return (
        r3.select("v", F.col("r").alias("r3"))
        .join(r2.select("v", F.col("r").alias("r2")), "v")
        .join(r1.select("v", F.col("r").alias("r1")), "v")
        .join(deg.select(F.col("u").alias("v"), "deg"), "v")
        .select(
            F.col("v").alias("doc_id"),
            F.col("deg").cast("long").alias("deg"),
            (F.col("r1") / scale_d).alias("rank1"),
            (F.col("r2") / scale_d).alias("rank2"),
            (F.col("r3") / scale_d).alias("rank3"),
            F.abs(F.col("r3") - F.col("r2")).cast("long").alias("delta_micro"),
        )
        .orderBy(F.desc("rank3"), F.asc("doc_id"))
        .limit(_PR_TOPK)
    )


def _q139_step_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
    SELECT e.v, 150000 + (85 * sum({prev}.r // d.deg)) // 100 AS r
    FROM edges e
    JOIN deg d ON d.u = e.u
    JOIN {prev} ON {prev}.v = e.u
    GROUP BY e.v
)"""


Q139_SQL = f"""
WITH {_CAPPED_PAIRS_CTES},
cand AS (SELECT DISTINCT id_a, id_b FROM pairs),
edges AS (
    SELECT id_a AS u, id_b AS v FROM cand
    UNION ALL
    SELECT id_b AS u, id_a AS v FROM cand
),
deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
r0 AS (SELECT u AS v, CAST({_Q139_SCALE} AS BIGINT) AS r FROM deg),
{_q139_step_sql("r0", "r1")},
{_q139_step_sql("r1", "r2")},
{_q139_step_sql("r2", "r3")}
SELECT r3.v AS doc_id,
       CAST(d2.deg AS BIGINT) AS deg,
       r1.r / CAST({_Q139_SCALE} AS DOUBLE) AS rank1,
       r2.r / CAST({_Q139_SCALE} AS DOUBLE) AS rank2,
       r3.r / CAST({_Q139_SCALE} AS DOUBLE) AS rank3,
       CAST(abs(r3.r - r2.r) AS BIGINT) AS delta_micro
FROM r3
JOIN r2 ON r2.v = r3.v
JOIN r1 ON r1.v = r3.v
JOIN deg d2 ON d2.u = r3.v
ORDER BY rank3 DESC, doc_id ASC
LIMIT {_PR_TOPK}
"""


# ---------------------------------------------------------------------------
# q146 — prefix-filtered set-similarity self-join (AllPairs/PPJoin family:
# Bayardo, Ma & Srikant WWW'07; Xiao et al. WWW'08): the EXACT-recall
# complement of the probabilistic LSH candidates (q46). Set elements are
# distinct k-word shingles (k=SHINGLE_K, as across the dedup family).
# Order the shingle vocabulary by ascending document frequency (rarest
# first); a doc with n distinct shingles only needs its first
# p = n − ⌈t·n⌉ + 1 shingles in that order as join keys, because two sets
# with Jaccard ≥ t MUST share at
# least one element inside either's prefix — so the candidate join touches
# the RARE end of every posting list instead of all of it, and candidate
# volume collapses from Σ df² over the whole vocabulary to Σ df² over
# prefix tokens. A length prune (t·max(n_a,n_b) ≤ min — in exact integer
# cross-multiplication) rides the same join. Exact Jaccard then verifies
# candidates in one array_intersect per pair.
#
# Caps at scale (mirrored bit-identically in the oracle, q39 pattern): a
# prefix token with df > _Q146_MAXDF is excluded from the join — with
# rare-first ordering this only triggers on near-degenerate corpora, and
# it bounds the hottest join key at the cost of documented recall, never
# d² on a stop-word. No global rank is materialized: (df, token) is
# itself the rare-first total order, so the only window partitions by
# doc_id (per-doc position) — nothing in the plan sorts the vocabulary
# in one partition.
# ---------------------------------------------------------------------------
_Q146_T_NUM, _Q146_T_DEN = 7, 10  # Jaccard threshold 0.7 as an exact ratio
_Q146_MAXDF = 1024


def q146_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import with_shingles

    docs = load(spark, sf_dir, "documents")
    # Set elements are k-word shingles (k=SHINGLE_K, as everywhere in the
    # dedup family), NOT unigram tokens: on a templated corpus unigram
    # SETS are near-identical across unrelated docs (54k "pairs" at
    # sf0.001), while shingle sets are order-sensitive and discriminative.
    toked = (
        with_shingles(docs, "doc_id", "text", SHINGLE_K, out="_sh")
        .select("doc_id", F.array_distinct("_sh").alias("toks"))
        .withColumn("n", F.size("toks").cast("long"))
        # Shingling + array_distinct is the dominant cost and this frame
        # feeds THREE consumers (df/prefix via explode, and both sides of
        # the verify join) — pin it so the work runs once (q144 pattern).
        .localCheckpoint(eager=False)
    )
    tok = toked.select("doc_id", "n", F.explode("toks").alias("t"))
    df = tok.groupBy("t").agg(F.count("*").alias("df"))
    # (df, t) IS the rare-first total order — no dense global rank (and
    # therefore no single-partition window over the vocabulary) is needed.
    pos = F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "t"))
    p_len = F.col("n") - F.floor(
        (F.lit(_Q146_T_NUM) * F.col("n") + F.lit(_Q146_T_DEN - 1))
        / F.lit(_Q146_T_DEN)
    ) + F.lit(1)
    prefix = (
        tok.join(df, "t")
        .withColumn("pos", pos)
        .filter((F.col("pos") <= p_len) & (F.col("df") <= _Q146_MAXDF))
        .select("doc_id", "n", "t")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.col("b.n") * _Q146_T_DEN >= F.col("a.n") * _Q146_T_NUM
            )
            & (
                F.col("a.n") * _Q146_T_DEN >= F.col("b.n") * _Q146_T_NUM
            ),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    ta = toked.select(
        F.col("doc_id").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("n_a"),
    )
    tb = toked.select(
        F.col("doc_id").alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("n").alias("n_b"),
    )
    verified = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("long"),
        )
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .filter(
            F.col("n_inter") * _Q146_T_DEN >= F.col("n_union") * _Q146_T_NUM
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        "n_inter",
        "n_union",
        F.round(F.col("n_inter") / F.col("n_union"), 4).alias("jaccard"),
    ).orderBy("id_a", "id_b")


Q146_SQL = f"""
WITH toked AS (
    SELECT doc_id, list_distinct({_shingle_sql()}) AS toks
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
),
sized AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM toked
),
tok AS (SELECT doc_id, n, unnest(toks) AS t FROM sized),
df AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
pref AS (
    SELECT doc_id, n, t FROM (
        SELECT tok.doc_id, tok.n, tok.t, df.df,
               row_number() OVER (
                   PARTITION BY tok.doc_id ORDER BY df.df, tok.t
               ) AS pos
        FROM tok JOIN df ON df.t = tok.t
    ) x
    WHERE pos <= n - ({_Q146_T_NUM} * n + {_Q146_T_DEN - 1})
                     // {_Q146_T_DEN} + 1
      AND df <= {_Q146_MAXDF}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM pref a
    JOIN pref b
      ON a.t = b.t AND a.doc_id < b.doc_id
     AND b.n * {_Q146_T_DEN} >= a.n * {_Q146_T_NUM}
     AND a.n * {_Q146_T_DEN} >= b.n * {_Q146_T_NUM}
),
verified AS (
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(x.toks, y.toks)) AS BIGINT) AS n_inter,
           x.n + y.n - len(list_intersect(x.toks, y.toks)) AS n_union
    FROM cand c
    JOIN sized x ON x.doc_id = c.id_a
    JOIN sized y ON y.doc_id = c.id_b
)
SELECT id_a, id_b, n_inter, CAST(n_union AS BIGINT) AS n_union,
       round(n_inter / CAST(n_union AS DOUBLE), 4) AS jaccard
FROM verified
WHERE n_inter * {_Q146_T_DEN} >= n_union * {_Q146_T_NUM}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# q153 — fuzzy record linkage: edit-distance self-join via PassJoin-style
# segment blocking (Li, Deng, Wang & Feng, VLDB'11). The 100 TB shape is
# a THREE-level collapse: (1) the corpus rolls up to DISTINCT strings +
# multiplicity (the only corpus-scale shuffle); (2) the distinct domain
# is blocked by the pigeonhole principle — an index string of length m
# splits into d+1 segments, and any probe within edit distance d must
# contain one segment VERBATIM at a start shifted by at most d, so the
# probe enumerates (d+1)·(2d+1)² bounded substring keys instead of
# joining n²; (3) levenshtein verifies candidates, and multiplicity
# algebra (mult_a·mult_b per name pair, C(mult,2) within a name) expands
# back to record-pair counts without ever materializing record pairs.
#
# EXACT RECALL is the point: the DuckDB oracle brute-forces the distinct
# name matrix directly (no blocking), so a green parity row is a proof
# that the segment blocking found EVERY pair — the deterministic
# complement of the probabilistic LSH recall (q46/q114) and the exact
# q146 prefix filter. Strings shorter than d+1 segments can't be
# indexed; they live in a bounded domain (alphabet^(d+2)) and take a
# broadcast short-path join against names of length <= n+d.
# ---------------------------------------------------------------------------
_Q153_D = 2
_Q153_K = _Q153_D + 1


def _q153_seg_len(m, i: int):
    lb = F.floor(m / _Q153_K).cast("int")
    r = (m % _Q153_K).cast("int")
    return lb + F.when(F.lit(i) >= F.lit(_Q153_K) - r, 1).otherwise(0)


def _q153_seg_start(m, i: int):
    lb = F.floor(m / _Q153_K).cast("int")
    r = (m % _Q153_K).cast("int")
    return (
        F.lit(i) * lb + F.greatest(F.lit(0), F.lit(i) - (F.lit(_Q153_K) - r)) + 1
    ).cast("int")


def q153_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count("*").alias("mult"))
        .withColumn("n", F.length("p_name").cast("int"))
        # Feeds index, probe, the short path, and the d=0 rollup — the
        # distinct rollup runs once (q144 pattern).
        .localCheckpoint(eager=False)
    )
    nn = F.col("n")
    idx = names.filter(nn >= _Q153_K).select(
        F.col("p_name").alias("name_i"),
        F.explode(
            F.array(*[
                F.struct(
                    nn.alias("m"),
                    F.lit(i).alias("slot"),
                    F.col("p_name")
                    .substr(_q153_seg_start(nn, i), _q153_seg_len(nn, i))
                    .alias("key"),
                )
                for i in range(_Q153_K)
            ])
        ).alias("s"),
    ).select("name_i", "s.m", "s.slot", "s.key")
    # Three chained narrow explodes (dm → slot → ds) instead of one
    # 75-struct array: the single-Generate form unrolled (2D+1)·K·(2D+1)
    # substring expressions into one codegen method, blowing the JVM's
    # 64 KB method limit — whole-stage codegen FAILED to compile and the
    # stage ran interpreted (the round-10 profiling found the
    # CodeGenerator error pinned to this query; 4.8 s at sf0.001 of pure
    # fixed cost). Chained, each Generate carries one 5- or 3-literal
    # array and row-local arithmetic on (m, slot, ds) COLUMNS — same
    # candidate rows, compilable methods. No extra shuffle: Generate is
    # narrow.
    _lb = F.floor(F.col("m") / _Q153_K).cast("int")
    _r = (F.col("m") % _Q153_K).cast("int")
    _slot = F.col("slot")
    _start = (
        _slot * _lb + F.greatest(F.lit(0), _slot - (F.lit(_Q153_K) - _r)) + 1
    ).cast("int")
    _len = _lb + F.when(_slot >= F.lit(_Q153_K) - _r, 1).otherwise(0)
    probe = (
        names.select(
            "p_name",
            "n",
            F.explode(
                F.array(*[F.lit(dm) for dm in range(-_Q153_D, _Q153_D + 1)])
            ).alias("dm"),
        )
        .select("p_name", "n", (nn + F.col("dm")).cast("int").alias("m"))
        .filter(F.col("m") >= _Q153_K)
        .select(
            "p_name",
            "n",
            "m",
            F.explode(
                F.array(*[F.lit(i) for i in range(_Q153_K)])
            ).alias("slot"),
        )
        .select(
            "p_name", "n", "m", "slot",
            _start.alias("st"), _len.cast("int").alias("l"),
            F.explode(
                F.array(*[F.lit(ds) for ds in range(-_Q153_D, _Q153_D + 1)])
            ).alias("ds"),
        )
        .select(
            "p_name", "n", "m", "slot", "l",
            (F.col("st") + F.col("ds")).cast("int").alias("s"),
        )
        .filter(
            (F.col("s") >= 1)
            & (F.col("l") >= 1)
            & (F.col("s") + F.col("l") - 1 <= F.col("n"))
        )
        .select(
            F.col("p_name").alias("name_p"),
            "m",
            "slot",
            F.col("p_name").substr(F.col("s"), F.col("l")).alias("key"),
        )
        .distinct()
    )
    blocked = (
        probe.join(idx, ["m", "slot", "key"])
        .filter(F.col("name_p") != F.col("name_i"))
        .select(
            F.least("name_p", "name_i").alias("a"),
            F.greatest("name_p", "name_i").alias("b"),
        )
    )
    # Short path: index strings with n < K have no K-segment split; their
    # whole DOMAIN is bounded (alphabet^(K-1)), so a broadcast join against
    # the length<=n+D band keeps recall unconditional without blowup.
    shorts = names.filter(nn < _Q153_K).select(F.col("p_name").alias("s_name"),
                                               nn.alias("s_n"))
    short_pairs = (
        names.filter(nn <= _Q153_K - 1 + _Q153_D)
        .join(
            F.broadcast(shorts),
            (F.col("s_name") != F.col("p_name"))
            & (F.abs(nn - F.col("s_n")) <= _Q153_D),
        )
        .select(
            F.least("p_name", "s_name").alias("a"),
            F.greatest("p_name", "s_name").alias("b"),
        )
    )
    pairs = (
        blocked.unionByName(short_pairs)
        .distinct()
        .withColumn("dist", F.levenshtein("a", "b"))
        .filter(F.col("dist") <= _Q153_D)
    )
    m_a = names.select(F.col("p_name").alias("a"), F.col("mult").alias("mult_a"))
    m_b = names.select(F.col("p_name").alias("b"), F.col("mult").alias("mult_b"))
    # No broadcast hint here: the multiplicity side is the CORPUS-SCALE
    # distinct-name rollup (a hint would override autoBroadcastJoinThreshold
    # and OOM at scale). The small side is `pairs` (verified near-dup pairs);
    # AQE picks broadcast-from-pairs at runtime when it fits.
    typo = (
        pairs.join(m_a, "a")
        .join(m_b, "b")
        .groupBy("dist")
        .agg(
            F.count("*").alias("n_name_pairs"),
            F.sum(F.col("mult_a") * F.col("mult_b")).cast("long")
            .alias("n_record_pairs"),
        )
    )
    exact0 = names.agg(
        F.sum(F.expr("(mult * (mult - 1)) div 2")).cast("long").alias("rp")
    ).select(
        F.lit(0).cast("int").alias("dist"),
        F.lit(0).cast("long").alias("n_name_pairs"),
        F.col("rp").alias("n_record_pairs"),
    )
    return (
        typo.select(
            F.col("dist").cast("int").alias("dist"), "n_name_pairs",
            "n_record_pairs",
        )
        .unionByName(exact0)
        .orderBy("dist")
    )


Q153_SQL = f"""
WITH names AS (
    SELECT p_name, CAST(count(*) AS BIGINT) AS mult
    FROM part GROUP BY p_name
),
pairs AS (
    SELECT levenshtein(a.p_name, b.p_name) AS dist,
           a.mult AS ma, b.mult AS mb
    FROM names a JOIN names b ON a.p_name < b.p_name
),
typo AS (
    SELECT CAST(dist AS INTEGER) AS dist,
           CAST(count(*) AS BIGINT) AS n_name_pairs,
           CAST(SUM(ma * mb) AS BIGINT) AS n_record_pairs
    FROM pairs WHERE dist <= {_Q153_D} GROUP BY dist
),
exact0 AS (
    SELECT CAST(0 AS INTEGER) AS dist, CAST(0 AS BIGINT) AS n_name_pairs,
           CAST(SUM((mult * (mult - 1)) // 2) AS BIGINT) AS n_record_pairs
    FROM names
)
SELECT * FROM typo UNION ALL SELECT * FROM exact0 ORDER BY dist
"""


# ---------------------------------------------------------------------------
# q211 — sorted-neighborhood dedup WITHOUT a global sort (ext): the
# classic SNM blocking (Hernández & Stolfo 1995) — sort on a key, pair
# every record with its ≤W nearest neighbors — rebuilt for a cluster:
# the total order is realized as q188's digest-driven RANGE PARTITIONING
# (prefix-code buckets → ceil-rank boundaries → row-local shard
# assignment) + per-shard local sorts, and the windows that straddle
# shard seams are recovered exactly from each shard's first/last W rows
# (i + j ≤ W rank algebra), so the pair set equals the single-machine
# sliding window's — provable, because the ORACLE builds it with one
# global row_number. Every candidate pair is verified in-row by exact
# word-3-gram Jaccard (distinct shingle strings, integer cross-mult
# threshold); cross-seam pairs carry a flag so the seam handling is
# visible in the output, not just in prose.
# Scale: one scan builds (key, prefix-code); the boundary digest is
# ≤ 2^16 bucket rows by construction (4-byte code div 2^16); local rank
# windows are partitioned by shard (the point); seam frames are ≤ W
# rows per shard. No corpus-wide window, no all-pairs join anywhere.
# ---------------------------------------------------------------------------
_Q211_SHARDS = 8
_Q211_WIN = 2          # pair with neighbors at global-rank distance ≤ 2
_Q211_KEYLEN = 24      # sort key: lowercased text prefix
_Q211_JK = 3           # word-shingle size for the verify
_Q211_TAU_NUM, _Q211_TAU_DEN = 1, 4  # verified ⇔ jaccard ≥ 0.25
_Q211_BW = 1 << 16     # boundary-digest bucket width over the 4-byte code


def q211_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    key = F.lower(F.substring("text", 1, _Q211_KEYLEN))
    pad4 = F.rpad(key, 4, " ")
    num = sum(
        (
            F.ascii(F.substring(pad4, i + 1, 1)).cast("long")
            * F.lit(256 ** (3 - i))
        )
        for i in range(4)
    )
    # stage tokens through a select BEFORE the higher-order functions —
    # an inlined split would re-tokenize per element_at (O(len²); see
    # operators/dedup.py:shingles_from_tokens)
    toked = docs.select(
        "doc_id", key.alias("k"), num.alias("num"),
        F.split(F.lower("text"), " ").alias("toks"),
    )
    gram = F.transform(
        F.sequence(
            F.lit(0),
            F.greatest(F.size("toks") - _Q211_JK, F.lit(0)),
        ),
        lambda i: F.concat_ws(
            " ",
            *[F.element_at(F.col("toks"), i + j + 1) for j in range(_Q211_JK)],
        ),
    )
    rows = toked.select(
        "doc_id",
        "k",
        "num",
        F.array_distinct(
            # keep only exactly-K-word grams (short docs yield stubs)
            F.filter(gram, lambda s: F.size(F.split(s, " ")) == _Q211_JK)
        ).alias("sh"),
    ).localCheckpoint(eager=False)  # feeds digest, ranks, seam frames
    dig = rows.groupBy(
        F.expr(f"num div {_Q211_BW}").alias("bucket")
    ).agg(F.count("*").alias("c"))
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = dig.withColumn("cum", F.sum("c").over(wc))
    tot = dig.agg(F.sum("c").alias("n"))
    bnd = (
        tot.select(
            "n",
            F.explode(
                F.array(*[F.lit(s) for s in range(1, _Q211_SHARDS)])
            ).alias("s"),
        )
        .withColumn("r", F.expr(f"(n * s + {_Q211_SHARDS} - 1) div {_Q211_SHARDS}"))
        .join(cum, F.col("cum") >= F.col("r"))
        .groupBy("s")
        .agg(F.min("bucket").alias("b"))
        .agg(
            F.array_sort(F.array_distinct(F.collect_list("b"))).alias("bs")
        )
    )
    sharded = rows.crossJoin(F.broadcast(bnd)).select(
        "doc_id",
        "k",
        "sh",
        F.size(
            F.filter(F.col("bs"), lambda t: F.expr(f"num div {_Q211_BW}") > t)
        ).alias("shard"),
    )
    wr = Window.partitionBy("shard").orderBy("k", "doc_id")
    ranked = sharded.withColumn("rn", F.row_number().over(wr)).localCheckpoint(
        eager=False
    )  # feeds local pairs + both seam frames
    nmax = ranked.groupBy("shard").agg(F.max("rn").alias("mx"))
    offs = F.explode(F.array(*[F.lit(o) for o in range(1, _Q211_WIN + 1)]))
    left = ranked.select(
        F.col("shard"),
        F.col("doc_id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("rn"),
        offs.alias("off"),
    ).withColumn("rn2", F.col("rn") + F.col("off"))
    local = left.join(
        ranked.select(
            F.col("shard"),
            F.col("rn").alias("rn2"),
            F.col("doc_id").alias("id_b"),
            F.col("sh").alias("sh_b"),
        ),
        ["shard", "rn2"],
    ).select("id_a", "id_b", "sh_a", "sh_b", F.lit(0).alias("cross_seam"))
    ends = (
        ranked.join(nmax, "shard")
        .filter(F.col("rn") > F.col("mx") - _Q211_WIN)
        .select(
            "shard",
            F.col("doc_id").alias("id_a"),
            F.col("sh").alias("sh_a"),
            (F.col("mx") - F.col("rn")).alias("i"),
        )
    )
    starts = ranked.filter(F.col("rn") <= _Q211_WIN).select(
        (F.col("shard") - 1).alias("shard"),
        F.col("doc_id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("rn").alias("j"),
    )
    seam = (
        ends.join(starts, "shard")
        .filter(F.col("i") + F.col("j") <= _Q211_WIN)
        .select("id_a", "id_b", "sh_a", "sh_b", F.lit(1).alias("cross_seam"))
    )
    pairs = local.unionByName(seam)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.select(
            F.least("id_a", "id_b").alias("id_lo"),
            F.greatest("id_a", "id_b").alias("id_hi"),
            "cross_seam",
            inter.alias("n_inter"),
            union.alias("n_union"),
        )
        .select(
            "id_lo",
            "id_hi",
            F.col("cross_seam").cast("int").alias("cross_seam"),
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_union").cast("long").alias("n_union"),
            (
                F.floor(
                    F.col("n_inter").cast("double") / F.col("n_union")
                    * 10000
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("jaccard"),
            (
                F.col("n_inter") * _Q211_TAU_DEN
                >= F.col("n_union") * _Q211_TAU_NUM
            )
            .cast("int")
            .alias("verified"),
        )
        .orderBy("id_lo", "id_hi")
    )


_Q211_SH_SQL = f"""list_distinct(list_filter(
    list_transform(
        generate_series(1, greatest(len(str_split(lower(text), ' ')) - {_Q211_JK - 1}, 1)),
        i -> array_to_string(str_split(lower(text), ' ')[i : i + {_Q211_JK - 1}], ' ')
    ), s -> len(str_split(s, ' ')) = {_Q211_JK}))"""

Q211_SQL = f"""
WITH rows_ AS (
    SELECT doc_id,
           lower(substring(text, 1, {_Q211_KEYLEN})) AS k,
           CAST(ascii(substring(rpad(lower(substring(text, 1, {_Q211_KEYLEN})), 4, ' '), 1, 1)) AS BIGINT) * 16777216
           + ascii(substring(rpad(lower(substring(text, 1, {_Q211_KEYLEN})), 4, ' '), 2, 1)) * 65536
           + ascii(substring(rpad(lower(substring(text, 1, {_Q211_KEYLEN})), 4, ' '), 3, 1)) * 256
           + ascii(substring(rpad(lower(substring(text, 1, {_Q211_KEYLEN})), 4, ' '), 4, 1)) AS num,
           {_Q211_SH_SQL} AS sh
    FROM documents
),
dig AS (SELECT num // {_Q211_BW} AS bucket, count(*) AS c FROM rows_ GROUP BY 1),
cum AS (
    SELECT bucket, sum(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum
    FROM dig
),
tot AS (SELECT sum(c) AS n FROM dig),
bnd AS (
    SELECT list_sort(list_distinct(list(b))) AS bs FROM (
        SELECT s.s, min(c.bucket) AS b
        FROM (SELECT n, u.s, (n * u.s + {_Q211_SHARDS} - 1) // {_Q211_SHARDS} AS r
              FROM tot, unnest(range(1, {_Q211_SHARDS})) AS u(s)) s
        JOIN cum c ON c.cum >= s.r
        GROUP BY s.s
    ) q
),
sharded AS (
    SELECT r.doc_id, r.k, r.sh,
           len(list_filter(b.bs, t -> r.num // {_Q211_BW} > t)) AS shard
    FROM rows_ r CROSS JOIN bnd b
),
ranked AS (
    SELECT doc_id, k, sh, shard,
           row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS rn
    FROM sharded
),
nmax AS (SELECT shard, max(rn) AS mx FROM ranked GROUP BY 1),
local_p AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b,
           0 AS cross_seam
    FROM ranked a
    JOIN ranked b ON b.shard = a.shard
                 AND b.rn BETWEEN a.rn + 1 AND a.rn + {_Q211_WIN}
),
seam_p AS (
    SELECT e.doc_id AS id_a, s.doc_id AS id_b, e.sh AS sh_a, s.sh AS sh_b,
           1 AS cross_seam
    FROM (SELECT r.*, m.mx - r.rn AS i FROM ranked r
          JOIN nmax m ON m.shard = r.shard
          WHERE r.rn > m.mx - {_Q211_WIN}) e
    JOIN (SELECT *, rn AS j FROM ranked WHERE rn <= {_Q211_WIN}) s
      ON s.shard = e.shard + 1
    WHERE e.i + s.j <= {_Q211_WIN}
),
pairs_ AS (SELECT * FROM local_p UNION ALL SELECT * FROM seam_p),
scored AS (
    SELECT least(id_a, id_b) AS id_lo, greatest(id_a, id_b) AS id_hi,
           cross_seam,
           CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT) AS n_inter,
           CAST(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))
                AS BIGINT) AS n_union
    FROM pairs_
)
SELECT id_lo, id_hi,
       CAST(cross_seam AS INTEGER) AS cross_seam,
       n_inter, n_union,
       floor(CAST(n_inter AS DOUBLE) / n_union * 10000 + 0.5) / 10000.0
           AS jaccard,
       CAST(CASE WHEN n_inter * {_Q211_TAU_DEN} >= n_union * {_Q211_TAU_NUM}
                 THEN 1 ELSE 0 END AS INTEGER) AS verified
FROM scored
ORDER BY id_lo, id_hi
"""


# ---------------------------------------------------------------------------
# q244 — multi-source BFS distances, K bounded rounds (ext): the graph
# primitive the family still lacked — PageRank (q139), components
# (q57/q166/q180), k-core (q151), triangles (q144), LPA (q200) and
# random walks (q165) all exist, but none answers "how FAR is every
# node from a seed set?" — the reachability/contamination-radius
# question (e.g. how many hops of near-dup edges separate the corpus
# from a flagged document set). Classic frontier expansion over the one
# shared capped LSH banding graph: K=3 rounds of
# frontier ⋈ edges → dedup → anti-join already-labeled; a node's
# distance is the round that first reached it (min-distance by
# construction, no min() needed). Unreached nodes report dist = −1.
# Scale: each round is one equi-join + one distinct + one anti-join —
# all hash-shuffles on the node key; the frontier is never broadcast
# by hint (it grows with the reach), and rounds are a FIXED unrolled K
# (the q139 discipline), not a driver loop over unbounded convergence.
# Seeds are the N smallest node ids — data-derived, deterministic.
# ---------------------------------------------------------------------------
_Q244_K = 3
_Q244_NSEEDS = 5


def q244_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # K frontier joins reference this
    edges = _sym_edges(_capped_pairs(docs)).localCheckpoint(eager=False)
    nodes = edges.select("v").distinct().localCheckpoint(eager=False)
    seeds = nodes.orderBy("v").limit(_Q244_NSEEDS)  # TakeOrdered: bounded
    labeled = seeds.select("v", F.lit(0).alias("dist")).localCheckpoint(
        eager=False
    )
    frontier = labeled.select("v")
    for k in range(1, _Q244_K + 1):
        reached = (
            edges.join(frontier.select(F.col("v").alias("u")), "u")
            .select("v")
            .distinct()
        )
        fresh = reached.join(labeled.select("v"), "v", "left_anti").select(
            "v", F.lit(k).alias("dist")
        )
        labeled = labeled.union(fresh).localCheckpoint(eager=False)
        frontier = fresh.select("v")
    return (
        nodes.join(labeled, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            F.coalesce("dist", F.lit(-1)).cast("int").alias("dist"),
        )
        .orderBy("doc_id")
    )


Q244_SQL = f"""
WITH {_CAPPED_PAIRS_CTES},
edges AS (
    SELECT id_a AS u, id_b AS v FROM (SELECT DISTINCT id_a, id_b FROM pairs)
    UNION ALL
    SELECT id_b AS u, id_a AS v FROM (SELECT DISTINCT id_a, id_b FROM pairs)
),
nodes AS (SELECT DISTINCT v FROM edges),
d0 AS (SELECT v FROM nodes ORDER BY v LIMIT {_Q244_NSEEDS}),
d1 AS (
    SELECT DISTINCT e.v FROM edges e JOIN d0 ON d0.v = e.u
    WHERE e.v NOT IN (SELECT v FROM d0)
),
d2 AS (
    SELECT DISTINCT e.v FROM edges e JOIN d1 ON d1.v = e.u
    WHERE e.v NOT IN (SELECT v FROM d0)
      AND e.v NOT IN (SELECT v FROM d1)
),
d3 AS (
    SELECT DISTINCT e.v FROM edges e JOIN d2 ON d2.v = e.u
    WHERE e.v NOT IN (SELECT v FROM d0)
      AND e.v NOT IN (SELECT v FROM d1)
      AND e.v NOT IN (SELECT v FROM d2)
)
SELECT n.v AS doc_id,
       CAST(CASE WHEN n.v IN (SELECT v FROM d0) THEN 0
                 WHEN n.v IN (SELECT v FROM d1) THEN 1
                 WHEN n.v IN (SELECT v FROM d2) THEN 2
                 WHEN n.v IN (SELECT v FROM d3) THEN 3
                 ELSE -1 END AS INTEGER) AS dist
FROM nodes n
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q284 — LSH BANDING PARAMETER AUTO-TUNE (ext): q114 validates that lane
# matches estimate Jaccard; THIS query picks the (bands, rows) split of
# the 8-lane budget before a 100 TB dedup run, from the data. Method
# (Leskovec–Rajaraman–Ullman ch.3): estimate the corpus's pairwise-
# Jaccard spectrum from a hash-sample of documents (all ~780 pairs of a
# ~40-doc sample, EXACT shingle-set Jaccard, 20 equal-width bins via
# exact integer floor(inter·20/union)), then for each (b, r) with
# b·r = 8 evaluate the collision S-curve P(s) = 1 − (1 − s^r)^b at bin
# midpoints and integrate expected false-positive mass (Σ_{s<t} cnt·P)
# and false-negative mass (Σ_{s≥t} cnt·(1−P)) against the target
# threshold t = 1/2; the chosen config minimizes total error (ties to
# smallest b). Determinism: powers are CASE-bound repeated squarings
# (never engine pow()); bin midpoints are single exact-int divisions;
# per-bin S-curve values are floor-quantized to a 1e-12 integer grid
# BEFORE the cross-bin sums (the q279/round-9 discipline — fp/fn masses
# are exact int64 sums); argmin runs on the integer error. Scale: the
# sample is rate-fixed (~k² pairs regardless of corpus size), shingle
# sets ride two bounded joins, everything after the histogram is an
# 80-row frame — the tune costs O(sample²), never O(corpus).
# ---------------------------------------------------------------------------
_Q284_RATE = 0.08
_Q284_BINS = 20
_Q284_T_NUM, _Q284_T_DEN = 1, 2  # target threshold t = 1/2
_Q284_CONFIGS = [(1, 8), (2, 4), (4, 2), (8, 1)]  # (bands, rows), b·r = 8
_Q284_PSCALE = 1_000_000_000_000


def q284_lsh_param_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr, sample_threshold
    from ..operators.dedup import with_shingles

    docs = load(spark, sf_dir, "documents")
    sampled = (
        with_shingles(
            docs.filter(
                sample_key_expr("doc_id", salt="lshtune")
                < sample_threshold(_Q284_RATE)
            ),
            "doc_id",
            "text",
            SHINGLE_K,
        )
        .select("doc_id", F.array_distinct("shingles").alias("ss"))
        .localCheckpoint(eager=False)  # self-joined a × b
    )
    pairs = (
        sampled.select(F.col("doc_id").alias("ia"), F.col("ss").alias("sa"))
        .join(
            sampled.select(F.col("doc_id").alias("ib"), F.col("ss").alias("sb")),
            F.col("ia") < F.col("ib"),
        )
        .select(
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("inter"),
            F.size(F.array_union("sa", "sb")).cast("long").alias("uni"),
        )
    )
    hist = (
        pairs.select(
            # exact integer floor: inter·BINS div uni (both operands ≥ 0,
            # so Spark div ≡ DuckDB // — the documented div-vs-// trap
            # only bites on negatives)
            F.least(
                F.expr(f"(inter * {_Q284_BINS}) div uni").cast("long"),
                F.lit(_Q284_BINS - 1).cast("long"),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    cfg = spark.createDataFrame(_Q284_CONFIGS, "b int, r int")
    sm = (F.lit(2.0) * F.col("bin") + F.lit(1.0)) / F.lit(2.0 * _Q284_BINS)
    staged = (
        hist.crossJoin(F.broadcast(cfg))
        .select("bin", "cnt", "b", "r", sm.alias("s"))
        .select("bin", "cnt", "b", "r", "s", (F.col("s") * F.col("s")).alias("s2"))
        .select("bin", "cnt", "b", "r", "s", "s2", (F.col("s2") * F.col("s2")).alias("s4"))
        .select(
            "bin", "cnt", "b", "r",
            (
                F.lit(1.0)
                - F.when(F.col("r") == 8, F.col("s4") * F.col("s4"))
                .when(F.col("r") == 4, F.col("s4"))
                .when(F.col("r") == 2, F.col("s2"))
                .otherwise(F.col("s"))
            ).alias("q"),
        )
        .select("bin", "cnt", "b", "r", "q", (F.col("q") * F.col("q")).alias("q2"))
        .select("bin", "cnt", "b", "r", "q", "q2", (F.col("q2") * F.col("q2")).alias("q4"))
        .select(
            "bin", "cnt", "b", "r",
            F.floor(
                (
                    F.lit(1.0)
                    - F.when(F.col("b") == 8, F.col("q4") * F.col("q4"))
                    .when(F.col("b") == 4, F.col("q4"))
                    .when(F.col("b") == 2, F.col("q2"))
                    .otherwise(F.col("q"))
                )
                * F.lit(float(_Q284_PSCALE))
            )
            .cast("long")
            .alias("pi"),
        )
    )
    below_t = F.col("bin") * _Q284_T_DEN < F.lit(_Q284_BINS * _Q284_T_NUM)
    # bin b is "below threshold" iff its midpoint (2b+1)/(2·BINS) < t —
    # with t = BINS·NUM/DEN on the bin grid this is 2b+1 < 2·BINS·t, and
    # since 2b+1 is odd and 2·BINS·t integral, equivalently b·DEN < BINS·NUM.
    agg = staged.groupBy("b", "r").agg(
        F.sum(F.when(below_t, F.col("cnt") * F.col("pi")).otherwise(F.lit(0)))
        .cast("long")
        .alias("fp_int"),
        F.sum(
            F.when(
                ~below_t,
                F.col("cnt") * (F.lit(_Q284_PSCALE) - F.col("pi")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("fn_int"),
        F.sum("cnt").cast("long").alias("n_pairs"),
    )
    best = agg.agg(
        F.min(
            F.struct((F.col("fp_int") + F.col("fn_int")).alias("e"), F.col("b"))
        ).alias("m")
    ).select(F.col("m.e").alias("best_e"), F.col("m.b").alias("best_b"))
    r6 = lambda num: (
        F.floor(
            num.cast("double")
            / F.col("n_pairs").cast("double")
            / F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return (
        agg.crossJoin(F.broadcast(best))
        .select(
            "b",
            "r",
            "n_pairs",
            r6(F.col("fp_int")).alias("fp_mass"),
            r6(F.col("fn_int")).alias("fn_mass"),
            r6(F.col("fp_int") + F.col("fn_int")).alias("total_err"),
            (
                (F.col("fp_int") + F.col("fn_int") == F.col("best_e"))
                & (F.col("b") == F.col("best_b"))
            ).alias("chosen"),
        )
        .orderBy("b")
    )


_Q284_KEY = _hex2int_sql("md5('lshtune:' || CAST(doc_id AS VARCHAR))", 1, 8)

Q284_SQL = f"""
WITH sampled AS (
    SELECT doc_id, list_distinct({_shingle_sql()}) AS ss
    FROM documents
    WHERE len(str_split(text, ' ')) >= {SHINGLE_K}
      AND {_Q284_KEY} < {int(_Q284_RATE * (1 << 32))}
),
pairs AS (
    SELECT CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS inter,
           CAST(len(list_distinct(a.ss || b.ss)) AS BIGINT) AS uni
    FROM sampled a JOIN sampled b ON a.doc_id < b.doc_id
),
hist AS (
    SELECT least(CAST((inter * {_Q284_BINS}) // uni AS BIGINT),
                 {_Q284_BINS - 1}) AS bin,
           CAST(count(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY 1
),
cfg AS (SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _Q284_CONFIGS)}) t(b, r)),
st0 AS (
    SELECT bin, cnt, b, r,
           (2.0 * bin + 1.0) / {2.0 * _Q284_BINS!r} AS s
    FROM hist CROSS JOIN cfg
),
st1 AS (SELECT *, s * s AS s2 FROM st0),
st2 AS (SELECT *, s2 * s2 AS s4 FROM st1),
st3 AS (
    SELECT bin, cnt, b, r,
           1.0 - (CASE WHEN r = 8 THEN s4 * s4 WHEN r = 4 THEN s4
                       WHEN r = 2 THEN s2 ELSE s END) AS q
    FROM st2
),
st4 AS (SELECT *, q * q AS q2 FROM st3),
st5 AS (SELECT *, q2 * q2 AS q4 FROM st4),
st6 AS (
    SELECT bin, cnt, b, r,
           CAST(floor((1.0 - (CASE WHEN b = 8 THEN q4 * q4 WHEN b = 4 THEN q4
                                   WHEN b = 2 THEN q2 ELSE q END))
                      * {float(_Q284_PSCALE)!r}) AS BIGINT) AS pi
    FROM st5
),
agg AS (
    SELECT b, r,
           CAST(sum(CASE WHEN bin * {_Q284_T_DEN} < {_Q284_BINS * _Q284_T_NUM}
                         THEN cnt * pi ELSE 0 END) AS BIGINT) AS fp_int,
           CAST(sum(CASE WHEN bin * {_Q284_T_DEN} >= {_Q284_BINS * _Q284_T_NUM}
                         THEN cnt * ({_Q284_PSCALE} - pi) ELSE 0 END)
               AS BIGINT) AS fn_int,
           CAST(sum(cnt) AS BIGINT) AS n_pairs
    FROM st6 GROUP BY b, r
),
best AS (
    SELECT fp_int + fn_int AS best_e, b AS best_b
    FROM agg ORDER BY fp_int + fn_int, b LIMIT 1
)
SELECT a.b, a.r, a.n_pairs,
       floor(CAST(a.fp_int AS DOUBLE) / CAST(a.n_pairs AS DOUBLE)
             / 1000000.0 + 0.5) / 1000000.0 AS fp_mass,
       floor(CAST(a.fn_int AS DOUBLE) / CAST(a.n_pairs AS DOUBLE)
             / 1000000.0 + 0.5) / 1000000.0 AS fn_mass,
       floor(CAST(a.fp_int + a.fn_int AS DOUBLE) / CAST(a.n_pairs AS DOUBLE)
             / 1000000.0 + 0.5) / 1000000.0 AS total_err,
       (a.fp_int + a.fn_int = bb.best_e AND a.b = bb.best_b) AS chosen
FROM agg a CROSS JOIN best bb
ORDER BY a.b
"""


QUERIES = [
    Query("q284_lsh_param_tune", q284_lsh_param_tune, Q284_SQL,
          survey="ext:minhash-calibration,ext:lsh-param-tune,"
                 "ext:jaccard-neardup,ext:hash-split",
          tags=("bench",)),
    Query("q244_bfs_distances", q244_bfs_distances, Q244_SQL,
          survey="ext:bfs-distances,ext:graph-components,ext:lsh-banding",
          tags=("bench",)),
    Query("q211_sorted_neighborhood", q211_sorted_neighborhood, Q211_SQL,
          survey="ext:sorted-neighborhood,ext:range-partitioner,"
                 "ext:jaccard-neardup,ext:quantile-digest",
          tags=("bench",)),
    Query("q42_exact_dedup_survivors", q42_exact_dedup_survivors, Q42_SQL,
          survey="A1,W1,S9,ext:exact-dedup"),
    Query("q43_simhash_pairs", q43_simhash_pairs, Q43_SQL, survey="ext:simhash", tags=("bench",)),
    Query("q46_minhash_band_candidates", q46_minhash_band_candidates, Q46_SQL,
          survey="ext:minhash-lsh", tags=("bench",)),
    Query("q91_winnow_fingerprints", q91_winnow_fingerprints, Q91_SQL,
          survey="ext:rolling-hash-fingerprint", tags=("bench",)),
    Query("q94_incremental_neardup", q94_incremental_neardup, Q94_SQL,
          survey="ext:incremental-dedup", tags=("bench",)),
    Query("q101_dup_spans", q101_dup_spans, Q101_SQL,
          survey="ext:exact-substring-dedup", tags=("bench",)),
    Query("q104_block_dedup", q104_block_dedup, Q104_SQL,
          survey="ext:block-dedup,ext:exact-dedup", tags=("bench",)),
    Query("q105_bloom_incremental_neardup", q105_bloom_incremental_neardup,
          Q105_SQL, survey="ext:bloom-prefilter,ext:incremental-dedup",
          tags=("bench",)),
    Query("q111_pagerank_step", q111_pagerank_step, Q111_SQL,
          survey="ext:pagerank-step,ext:dup-clustering", tags=("bench",)),
    Query("q139_pagerank_iterations", q139_pagerank_iterations, Q139_SQL,
          survey="ext:pagerank-step,ext:iterate-to-convergence",
          tags=("bench",)),
    Query("q113_ngram_novelty", q113_ngram_novelty, Q113_SQL,
          survey="ext:novelty-profile,ext:exact-substring-dedup", tags=("bench",)),
    Query("q114_minhash_calibration", q114_minhash_calibration, Q114_SQL,
          survey="ext:minhash-calibration,ext:jaccard-neardup", tags=("bench",)),
    Query("q146_prefix_filter_join", q146_prefix_filter_join, Q146_SQL,
          survey="ext:prefix-filter-join,ext:jaccard-neardup,ext:exact-dedup",
          tags=("bench",)),
    Query("q153_fuzzy_name_join", q153_fuzzy_name_join, Q153_SQL,
          survey="ext:edit-distance-join,ext:fuzzy-linkage,ext:exact-dedup",
          tags=("bench",)),
]
