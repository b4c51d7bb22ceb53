"""Sketch plans (q121–q122) — verifiable approximate structures over the
corpus, built on operators/sketches.py: a count–min frequency sketch and
a HyperLogLog cardinality estimate.

The verification trick is the q105-Bloom pattern: every hash in a sketch
is md5-derived, so the DuckDB oracle rebuilds the SAME sketch bit-for-bit
and the parity gate proves not "the estimate is close" but "the sketch
itself — every counter, every register — is reproduced exactly". The
accuracy claims (CMS never underestimates; HLL within a few % at this
register count) are asserted as invariants in tests, not left to prose.

Scale shape: both sketches reduce to map-side-combinable groupBys over
hash-derived cells. CMS builds from the DISTINCT-word rollup (Zipf-
bounded input) into a depth×width grid; HLL registers build straight
from the token stream (max absorbs duplicates — no distinct pass) into
≤ m rows per group. Both outputs are few-KB broadcastable tables,
mergeable across ingest shards (counters add, registers max) — the
sketch twin of q119's stats manifests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.sketches import (
    CM_DEPTH,
    CM_WIDTH,
    CS_DEPTH,
    CS_WIDTH,
    cs_build,
    HLL_AM2,
    HLL_M,
    cm_build,
    cm_estimate,
    hll_bucket_rho,
    hll_estimate_cols,
    hll_harmonic_agg,
    hll_registers,
)
from ..sources.tables import load
from .curation_plans import _chain_edges
from .dedup_plans import _hex2int_sql
from .registry import Query


# ---------------------------------------------------------------------------
# q121 — count–min frequency sketch + point queries (Cormode &
# Muthukrishnan 2005): build the depth×width counter grid over the full
# token stream, then point-query the 20 true-heaviest words and report
# estimate next to truth. The estimate ≥ truth invariant (one-sided
# error) is what makes CMS usable as a pre-filter for heavy-hitter
# detection at 100 TB: the grid is ~16 KB regardless of vocabulary size.
# ---------------------------------------------------------------------------
_Q121_TOPK = 20


def q121_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("true_count"))
    )
    counters = cm_build(vocab, "w", "true_count")
    top = vocab.orderBy(F.desc("true_count"), F.asc("w")).limit(_Q121_TOPK)
    return (
        cm_estimate(top, counters, "w")
        .select("w", F.col("true_count").cast("long").alias("true_count"), "cms_estimate")
        .orderBy(F.desc("true_count"), F.asc("w"))
    )


_CM_COL = (
    _hex2int_sql("md5('cm' || CAST(d AS VARCHAR) || ':' || w)", 1, 8)
    + f" % {CM_WIDTH}"
)

Q121_SQL = f"""
WITH tok AS (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents),
vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
lanes AS (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS d),
cells AS (
    SELECT d, {_CM_COL} AS col, c
    FROM vocab CROSS JOIN lanes
),
counters AS (SELECT d, col, sum(c) AS cnt FROM cells GROUP BY d, col),
top AS (SELECT w, c FROM vocab ORDER BY c DESC, w LIMIT {_Q121_TOPK}),
probe AS (
    SELECT t.w, t.c, d, {_CM_COL} AS col
    FROM top t CROSS JOIN lanes
),
est AS (
    SELECT p.w, p.c, min(counters.cnt) AS e
    FROM probe p JOIN counters USING (d, col)
    GROUP BY p.w, p.c
)
SELECT w, CAST(c AS BIGINT) AS true_count, CAST(e AS BIGINT) AS cms_estimate
FROM est
ORDER BY true_count DESC, w
"""


# ---------------------------------------------------------------------------
# q122 — HyperLogLog distinct-vocabulary estimate per language (Flajolet
# et al. 2007), next to the exact distinct count for audit. The exact
# count exists here FOR the comparison — at 100 TB it is precisely the
# aggregation one avoids (every distinct key shuffles); the register
# table is ≤ m rows per language and merges across shards by max. rho is
# integer/string algebra end-to-end (operators/sketches.py) and the
# harmonic denominator is a sum of exact dyadic doubles — the only
# rounding-sensitive op is the final α·m²/denom (and ln in the
# small-range branch), absorbed by round(,2).
# ---------------------------------------------------------------------------
def q122_hll_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("w"))
    regs = hll_registers(tok, "w", ["lang"])
    agg = hll_harmonic_agg(regs, ["lang"])
    raw, corrected = hll_estimate_cols()
    est = agg.select("lang", corrected.alias("_est"))
    exact = tok.groupBy("lang").agg(F.count_distinct("w").alias("exact_distinct"))
    return (
        exact.join(est, "lang")
        .select(
            "lang",
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            F.round("_est", 2).alias("hll_estimate"),
            (
                F.round(
                    (F.col("_est") - F.col("exact_distinct"))
                    / F.col("exact_distinct")
                    * 100,
                    2,
                )
                + F.lit(0.0)
            ).alias("rel_err_pct"),
        )
        .orderBy("lang")
    )


_HLL_BUCKET = _hex2int_sql("md5('hll:' || w)", 1, 2)


# Shared HLL SQL fragments — ONE definition of the rho algebra, the
# harmonic aggregation, and the correction branch, parameterized by the
# grouping prefix, so q122/q124/q126 cannot drift apart (the Spark twin
# of the same sharing is operators/sketches.py:hll_registers/
# hll_harmonic_agg/hll_estimate_cols). Every float literal is CAST to
# DOUBLE: DuckDB parses bare decimal literals as DECIMAL, whose
# division would NOT reproduce Spark's exact-dyadic double arithmetic.
def _hll_regs_ctes(group: str) -> str:
    """CTE chain h → rho → regs over a ``tok(…, w)`` CTE."""
    g = f"{group}, " if group else ""
    gb = f"{group}, bucket" if group else "bucket"
    return f"""h AS (
    SELECT {g}{_HLL_BUCKET} AS bucket,
           substring(md5('hll:' || w), 3, 8) AS hs
    FROM tok
),
rho AS (
    SELECT {g}bucket,
           CASE WHEN z = 8 THEN 33
                ELSE 4 * z + CASE WHEN dv >= 8 THEN 0
                                  WHEN dv >= 4 THEN 1
                                  WHEN dv >= 2 THEN 2
                                  ELSE 3 END + 1
           END AS rho
    FROM (
        SELECT {g}bucket, z,
               CAST(strpos('0123456789abcdef',
                           substring(hs, z + 1, 1)) - 1 AS BIGINT) AS dv
        FROM (SELECT {g}bucket, hs,
                     length(regexp_extract(hs, '^0*')) AS z FROM h) t0
    ) t1
),
regs AS (SELECT {gb}, max(rho) AS r FROM rho GROUP BY {gb})"""


def _hll_agg_sql(group: str, src: str = "regs") -> str:
    """agg CTE: (group…, occupied, sum_pow) over a register table."""
    g = f"{group}, " if group else ""
    gb = f" GROUP BY {group}" if group else ""
    return f"""agg AS (
    SELECT {g}count(*) AS occupied,
           sum(CAST(1.0 AS DOUBLE) / (1::BIGINT << r)) AS sum_pow
    FROM {src}{gb}
)"""


def _hll_est_sql(group: str, src: str = "agg") -> str:
    """est CTE: corrected estimate ``e`` from (occupied, sum_pow)."""
    g = f"{group}, " if group else ""
    return f"""est AS (
    SELECT {g}occupied,
           CASE WHEN raw <= CAST({2.5 * HLL_M!r} AS DOUBLE) AND zb > 0
                THEN CAST({float(HLL_M)!r} AS DOUBLE)
                     * ln(CAST({float(HLL_M)!r} AS DOUBLE) / zb)
                ELSE raw
           END AS e
    FROM (
        SELECT {g}occupied,
               CAST({HLL_AM2!r} AS DOUBLE)
                   / (sum_pow + ({HLL_M} - occupied)) AS raw,
               {HLL_M} - occupied AS zb
        FROM {src}
    ) t
)"""


Q122_SQL = f"""
WITH tok AS (
    SELECT lang, unnest(str_split(lower(text), ' ')) AS w FROM documents
),
{_hll_regs_ctes('lang')},
{_hll_agg_sql('lang')},
{_hll_est_sql('lang')},
exact AS (SELECT lang, count(DISTINCT w) AS x FROM tok GROUP BY lang)
SELECT exact.lang,
       CAST(x AS BIGINT) AS exact_distinct,
       round(e, 2) AS hll_estimate,
       round((e - x) / x * 100, 2) + 0.0 AS rel_err_pct
FROM exact JOIN est USING (lang)
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# q123 — approximate quantiles from a DETERMINISTIC sample, with the
# error quantified in-query (the AQP pattern: BlinkDB, Agarwal et al.
# 2013). Exact per-group quantiles at 100 TB sort every group's full
# value set; the md5-threshold sample (q55's machinery — reproducible
# across engines, runs, and cluster layouts, unlike rand() or a stateful
# reservoir) bounds that sort at rate·n while keeping the pipeline
# deterministic. The query computes BOTH the full-data and the sampled
# quantiles and reports |error| — so the accuracy claim is a verified
# column, not prose. Both sides use the proven exact-interpolation pair
# (Spark `percentile` ↔ DuckDB `quantile_cont`, the q61/q115 pattern);
# errors are differences of already-rounded values, hence engine-exact.
# ---------------------------------------------------------------------------
_Q123_RATE = 0.2
_Q123_PCTS = (0.5, 0.9)


def q123_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr, sample_threshold

    ev = load(spark, sf_dir, "events")

    def qaggs(tag: str):
        return [
            F.round(F.percentile("value", F.lit(p)), 4).alias(f"p{int(p*100)}_{tag}")
            for p in _Q123_PCTS
        ] + [F.count("*").alias(f"n_{tag}")]

    full = ev.groupBy("event_type").agg(*qaggs("full"))
    samp = (
        ev.filter(
            sample_key_expr("event_id", "aqp") < F.lit(sample_threshold(_Q123_RATE))
        )
        .groupBy("event_type")
        .agg(*qaggs("sample"))
    )
    out = full.join(samp, "event_type")
    errs = [
        F.round(
            F.abs(F.col(f"p{int(p*100)}_sample") - F.col(f"p{int(p*100)}_full")), 4
        ).alias(f"p{int(p*100)}_abs_err")
        for p in _Q123_PCTS
    ]
    return out.select("event_type", *[c for c in out.columns if c != "event_type"],
                      *errs).orderBy("event_type")


_Q123_KEY = _hex2int_sql("md5('aqp:' || CAST(event_id AS VARCHAR))", 1, 8)
_Q123_THR = int(_Q123_RATE * (1 << 32))

Q123_SQL = f"""
WITH fq AS (
    SELECT event_type,
           {", ".join(f"round(quantile_cont(value, {p}), 4) AS p{int(p*100)}_full" for p in _Q123_PCTS)},
           count(*) AS n_full
    FROM events GROUP BY event_type
),
samp AS (
    SELECT event_type,
           {", ".join(f"round(quantile_cont(value, {p}), 4) AS p{int(p*100)}_sample" for p in _Q123_PCTS)},
           count(*) AS n_sample
    FROM events
    WHERE {_Q123_KEY} < {_Q123_THR}
    GROUP BY event_type
)
SELECT fq.event_type,
       {", ".join(f"p{int(p*100)}_full" for p in _Q123_PCTS)}, n_full,
       {", ".join(f"p{int(p*100)}_sample" for p in _Q123_PCTS)}, n_sample,
       {", ".join(f"round(abs(p{int(p*100)}_sample - p{int(p*100)}_full), 4) AS p{int(p*100)}_abs_err" for p in _Q123_PCTS)}
FROM fq JOIN samp USING (event_type)
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q124 — HLL registers as STREAMING STATE: the same 256-register sketch
# as q122 built by a real Structured Streaming aggregation (availableNow
# drain, complete output mode). The register table IS the streaming
# state — groupBy(bucket).max(rho) is an algebraic streaming agg whose
# state is bounded at m rows FOREVER, the property that makes
# cardinality tracking over an unbounded ingest feed viable where exact
# streaming distinct-count state grows without bound. The drained
# registers feed the identical estimate derivation as q122; the oracle
# recomputes registers + estimate from the batch table — so the green
# row proves stream-built state ≡ batch sketch, the ST6 incremental ≡
# batch contract applied to a sketch.
# ---------------------------------------------------------------------------
def q124_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming_plans import _drain_to_memory

    docs = load(spark, sf_dir, "documents").select("text")

    def registers_stream(st):
        tok = st.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        bucket, rho = hll_bucket_rho(F.col("w"))
        return (
            tok.select(bucket.alias("bucket"), rho.alias("_rho"))
            .groupBy("bucket")
            .agg(F.max("_rho").alias("r"))
        )

    # state = the 256 HLL registers (m rows forever); 8 state partitions
    # cover the key domain at any corpus size (r10, see _drain_to_memory)
    regs = _drain_to_memory(docs, registers_stream, "q124_hll",
                            output_mode="complete", state_partitions=8)
    agg = hll_harmonic_agg(regs)
    raw, corrected = hll_estimate_cols()
    est = agg.select("occupied", corrected.alias("_est"))
    exact = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .agg(F.count_distinct("w").alias("exact_distinct"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.col("occupied").cast("long").alias("occupied"),
        F.round("_est", 2).alias("hll_estimate"),
    )


Q124_SQL = f"""
WITH tok AS (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents),
{_hll_regs_ctes('')},
{_hll_agg_sql('')},
{_hll_est_sql('')}
SELECT CAST((SELECT count(DISTINCT w) FROM tok) AS BIGINT) AS exact_distinct,
       CAST(occupied AS BIGINT) AS occupied,
       round(e, 2) AS hll_estimate
FROM est
"""


# ---------------------------------------------------------------------------
# q125 — two-pass heavy hitters: SKETCH shortlist, EXACT verify (the
# production use of a CMS — Cormode 2005 §4.1's "CM-based heavy
# hitters"). Pass 1 builds the counter grid; pass 2 shortlists words
# whose estimate clears φ·N (possible false positives, NEVER false
# negatives — the one-sided error guarantee) and verifies each
# candidate's exact count. The payoff at 100 TB: the exact count runs
# only over the shortlist (bounded by ~1/φ + collision noise), not the
# vocabulary; on an unbounded stream pass 1 is q124-style streaming
# state. Output marks which candidates survived exact verification, so
# the false-positive behavior is data, not prose.
# ---------------------------------------------------------------------------
_Q125_PHI = 0.01  # heavy = more than 1% of all tokens


def q125_cms_heavy_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    total = vocab.agg(F.sum("c").alias("n"))
    counters = cm_build(vocab, "w", "c")
    est = cm_estimate(vocab.select("w", "c"), counters, "w")
    out = (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("cms_estimate") * F.lit(100) >= F.col("n") * F.lit(int(_Q125_PHI * 100)))
        .select(
            "w",
            F.col("c").cast("long").alias("exact_count"),
            "cms_estimate",
            (F.col("c") * F.lit(100) >= F.col("n") * F.lit(int(_Q125_PHI * 100)))
            .cast("int")
            .alias("is_true_heavy"),
        )
    )
    return out.orderBy(F.desc("exact_count"), F.asc("w"))


Q125_SQL = f"""
WITH tok AS (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents),
vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
total AS (SELECT sum(c) AS n FROM vocab),
lanes AS (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS d),
cells AS (
    SELECT d, {_CM_COL} AS col, c
    FROM vocab CROSS JOIN lanes
),
counters AS (SELECT d, col, sum(c) AS cnt FROM cells GROUP BY d, col),
probe AS (
    SELECT w, c, d, {_CM_COL} AS col
    FROM vocab CROSS JOIN lanes
),
est AS (
    SELECT p.w, p.c, min(counters.cnt) AS e
    FROM probe p JOIN counters USING (d, col)
    GROUP BY p.w, p.c
)
SELECT w,
       CAST(c AS BIGINT) AS exact_count,
       CAST(e AS BIGINT) AS cms_estimate,
       CAST(c * 100 >= (SELECT n FROM total) * {int(_Q125_PHI * 100)} AS INTEGER)
           AS is_true_heavy
FROM est
WHERE e * 100 >= (SELECT n FROM total) * {int(_Q125_PHI * 100)}
ORDER BY exact_count DESC, w
"""


# ---------------------------------------------------------------------------
# q126 — cross-source cardinality overlap from MERGED HLL registers: the
# sketch-space answer to q112's band-key lineage matrix. Per-source
# register tables (built once, m rows each) combine by bucket-wise MAX
# into the union sketch — the HLL merge identity |A∪B| — and
# inclusion–exclusion gives the intersection and Jaccard estimates
# WITHOUT touching the raw data again: at 100 TB the pairwise audit of
# k sources costs k sketch builds + k² metadata-sized merges, versus k²
# corpus-scale distinct-joins. The merged sketch is an ordinary HLL, so
# the small-range (linear counting) correction applies to it unchanged.
# The exact Jaccard column is computed alongside for audit, which is
# the point: the estimation error is VISIBLE data. Integer register
# identities (merge ≡ bucket-wise max, one-sided buckets preserved) are
# what the parity gate proves; accuracy is reported, not asserted.
# ---------------------------------------------------------------------------
def q126_hll_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split(F.lower("text"), " ")).alias("w"))
    regs = hll_registers(tok, "w", ["source"])
    srcs = docs.select("source").distinct()
    src_pairs = (
        srcs.select(F.col("source").alias("src_a"))
        .join(srcs.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    # HLL union merge: replicate each source's registers into every pair
    # it belongs to, then bucket-wise MAX — a bucket occupied by either
    # source survives (a join keyed on bucket alone would drop one-sided
    # buckets). All of this is metadata-sized: k·m register rows
    # replicated (k−1)×.
    expand = (
        regs.join(F.broadcast(src_pairs), regs.source == src_pairs.src_a)
        .select("src_a", "src_b", "bucket", "r")
        .unionByName(
            regs.join(F.broadcast(src_pairs), regs.source == src_pairs.src_b)
            .select("src_a", "src_b", "bucket", "r")
        )
    )
    uregs = expand.groupBy("src_a", "src_b", "bucket").agg(F.max("r").alias("r"))
    merged = hll_harmonic_agg(uregs, ["src_a", "src_b"])
    _, corrected = hll_estimate_cols()
    union_est = merged.select("src_a", "src_b", corrected.alias("est_union"))
    # exact pairwise Jaccard for audit: distinct words per source pair.
    # The intersection join is LEFT from the estimate side: a pair with
    # ZERO common words has no `inter` row, and an inner join would drop
    # exactly the disjoint pair an overlap audit most needs to surface.
    per_src = tok.groupBy("source").agg(F.count_distinct("w").alias("nd"))
    inter = (
        tok.select("source", "w").distinct().alias("x")
        .join(tok.select("source", "w").distinct().alias("y"), "w")
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    pa = per_src.select(F.col("source").alias("src_a"), F.col("nd").alias("nd_a"))
    pb = per_src.select(F.col("source").alias("src_b"), F.col("nd").alias("nd_b"))
    n_inter = F.coalesce(F.col("n_inter"), F.lit(0))
    return (
        union_est.join(inter, ["src_a", "src_b"], "left")
        .join(F.broadcast(pa), "src_a")
        .join(F.broadcast(pb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.round("est_union", 2).alias("est_union"),
            n_inter.cast("long").alias("exact_inter"),
            F.round(
                n_inter / (F.col("nd_a") + F.col("nd_b") - n_inter),
                4,
            ).alias("exact_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


Q126_SQL = f"""
WITH tok AS (
    SELECT source, unnest(str_split(lower(text), ' ')) AS w FROM documents
),
{_hll_regs_ctes('source')},
srcs AS (SELECT DISTINCT source FROM documents),
src_pairs AS (
    SELECT a.source AS src_a, b.source AS src_b
    FROM srcs a JOIN srcs b ON a.source < b.source
),
expand AS (
    SELECT p.src_a, p.src_b, r.bucket, r.r
    FROM regs r JOIN src_pairs p ON r.source = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, r.bucket, r.r
    FROM regs r JOIN src_pairs p ON r.source = p.src_b
),
uregs AS (
    SELECT src_a, src_b, bucket, max(r) AS r FROM expand GROUP BY ALL
),
{_hll_agg_sql('src_a, src_b', 'uregs')},
{_hll_est_sql('src_a, src_b')},
dw AS (SELECT DISTINCT source, w FROM tok),
per_src AS (SELECT source, count(*) AS nd FROM dw GROUP BY source),
inter AS (
    SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_inter
    FROM dw x JOIN dw y USING (w)
    WHERE x.source < y.source
    GROUP BY x.source, y.source
)
SELECT u.src_a, u.src_b,
       round(u.e, 2) AS est_union,
       CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS exact_inter,
       round(COALESCE(i.n_inter, 0)
             / (pa.nd + pb.nd - COALESCE(i.n_inter, 0)), 4) AS exact_jaccard
FROM est u
LEFT JOIN inter i ON i.src_a = u.src_a AND i.src_b = u.src_b
JOIN per_src pa ON pa.source = u.src_a
JOIN per_src pb ON pb.source = u.src_b
ORDER BY u.src_a, u.src_b
"""


# ---------------------------------------------------------------------------
# q132 — KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002; Beyer
# et al. 2007): the third mergeable-sketch primitive next to CMS (q121,
# frequencies) and HLL (q122, cardinality-only). Keep the k smallest
# 60-bit md5 hash values of the distinct keys (word bigrams here); the
# k-th smallest U_(k) estimates cardinality as (k−1)·2^60 / h_(k), and —
# unlike HLL — the sketch doubles as a UNIFORM SAMPLE OVER DISTINCT keys
# (each manifest row is a real bigram), which is what distinct-aware AQP
# and join-size estimation want at 100 TB. Merge rule: union the
# per-source manifests, dedup on hash, re-take bottom-k — any globally
# k-smallest distinct hash is k-smallest within its source too, so
# merge-of-manifests ≡ direct. This query BUILDS per-source manifests and
# derives the corpus row only from their union; the oracle computes both
# grains DIRECTLY from the raw table — a green row proves the merge
# property, not just the estimate.
#
# Determinism: hashes are md5-derived 60-bit ints (engine-portable via
# conv/strpos algebra), the estimator divides an exactly-representable
# float numerator by an int64, and a manifest with fewer than k keys IS
# the exact distinct set (est = n_man, mirrored on both sides).
#
# Shape at scale: distinct → per-source row_number ≤ k (one shuffle each);
# the corpus merge runs over ≤ k·|sources| manifest rows and the global
# bottom-k is TakeOrdered (per-partition top-k, no global sort). In
# production the per-source pass runs once per ingest batch; the merge is
# metadata-sized.
# ---------------------------------------------------------------------------
_Q132_K = 64
_Q132_NUMER = float((_Q132_K - 1) * 2**60)  # exactly representable: 6 sig bits


def _kmv_bigrams(docs: DataFrame) -> DataFrame:
    """Row-local (source, b, hv) bigram stream — works on batch AND
    streaming frames (no distinct; KMV state dedups by set semantics)."""
    toks = docs.select("source", F.split("text", " ").alias("ts"))
    bg = toks.filter(F.size("ts") >= 2).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 2),"
                " i -> ts[i] || ' ' || ts[i + 1])"
            )
        ).alias("b"),
    )
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("b"))), 1, 15), 16, 10
    ).cast("long")
    return bg.select("source", "b", hv.alias("hv"))


def _kmv_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (source, bigram) keys with their 60-bit md5 hash — the
    shared input of the KMV sketches (q132 cardinality, q133 overlap)."""
    return _kmv_bigrams(load(spark, sf_dir, "documents")).distinct()


def _kmv_manifests(keyed: DataFrame) -> DataFrame:
    """Per-source bottom-k manifest (source, hv, rn, src_n). n_true rides
    the SAME source-partitioned exchange as the rank (keyed is already
    distinct on (source, b), so a plain window count is the distinct
    count) — no second aggregate, no join-back."""
    w = Window.partitionBy("source").orderBy("hv")
    wfull = Window.partitionBy("source")
    return keyed.select(
        "source",
        "hv",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wfull).alias("src_n"),
    ).filter(F.col("rn") <= _Q132_K)


def _kmv_finish(df: DataFrame) -> DataFrame:
    """(source, kth, n_man, n_true) → the KMV output contract: estimator
    when the manifest is full, exact count when it holds everything."""
    est_raw = F.when(
        F.col("n_man") >= F.lit(_Q132_K), F.lit(_Q132_NUMER) / F.col("kth")
    ).otherwise(F.col("n_man").cast("double"))
    return df.select(
        "source",
        F.col("n_true").cast("long").alias("n_true"),
        F.col("kth").cast("long").alias("kth_hash"),
        F.round(est_raw, 2).alias("est_distinct"),
        (
            F.round(
                (est_raw - F.col("n_true")) / F.col("n_true") * F.lit(100.0), 2
            )
            + F.lit(0.0)
        ).alias("err_pct"),
    ).orderBy("source")


def q132_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = _kmv_keyed(spark, sf_dir)
    man = _kmv_manifests(keyed)
    per_src = man.groupBy("source").agg(
        F.max("hv").alias("kth"),
        F.count("*").alias("n_man"),
        F.max("src_n").alias("n_true"),
    )
    # corpus grain: derived ONLY from the union of per-source manifests
    gman = (
        man.select("hv")
        .distinct()
        .orderBy("hv")
        .limit(_Q132_K)
        .agg(F.max("hv").alias("kth"), F.count("*").alias("n_man"))
    )
    gtruth = keyed.agg(F.countDistinct("b").alias("n_true"))
    allrow = gman.crossJoin(gtruth).select(
        F.lit("ALL").alias("source"), "kth", "n_man", "n_true"
    )
    unioned = per_src.select("source", "kth", "n_man", "n_true").unionByName(allrow)
    return _kmv_finish(unioned)


_Q132_HV = _hex2int_sql("md5('kmv:' || b)", 1, 15)

# per-source CTE chain shared by the batch (q132) and streaming (q135)
# oracles — both must rank the same keyed set the same way
_KMV_SRC_CTES = f"""WITH t AS (
    SELECT source, str_split(text, ' ') AS ws FROM documents
),
bg AS (
    SELECT DISTINCT source, ws[i] || ' ' || ws[i + 1] AS b
    FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
    WHERE len(ws) >= 2
),
keyed AS (
    SELECT source, b, {_Q132_HV} AS hv FROM bg
),
ranked AS (
    SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
    FROM keyed
),
src_man AS (
    SELECT source, max(hv) AS kth, count(*) AS n_man
    FROM ranked WHERE rn <= {_Q132_K} GROUP BY source
),
src_truth AS (
    SELECT source, count(*) AS n_true FROM keyed GROUP BY source
)"""

Q132_SQL = _KMV_SRC_CTES + f""",
g_keyed AS (SELECT DISTINCT hv FROM keyed),
g_ranked AS (
    SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM g_keyed
),
g_row AS (
    SELECT 'ALL' AS source, max(hv) AS kth, count(*) AS n_man,
           (SELECT count(DISTINCT b) FROM keyed) AS n_true
    FROM g_ranked WHERE rn <= {_Q132_K}
),
unioned AS (
    SELECT s.source, m.kth, m.n_man, s.n_true
    FROM src_truth s JOIN src_man m USING (source)
    UNION ALL
    SELECT source, kth, n_man, n_true FROM g_row
)
SELECT source,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(kth AS BIGINT) AS kth_hash,
       round(CASE WHEN n_man >= {_Q132_K} THEN {_Q132_NUMER!r} / kth
                  ELSE CAST(n_man AS DOUBLE) END, 2) AS est_distinct,
       round((CASE WHEN n_man >= {_Q132_K} THEN {_Q132_NUMER!r} / kth
                   ELSE CAST(n_man AS DOUBLE) END - n_true)
             / n_true * 100.0, 2) + 0.0 AS err_pct
FROM unioned
ORDER BY source
"""


# ---------------------------------------------------------------------------
# q133 — pairwise overlap from MERGED KMV manifests (Beyer et al. 2007's
# multiset-operations estimators; the bottom-k twin of q126's HLL union).
# For every source pair, union the two bottom-k manifests, dedup on hash,
# re-take bottom-k: that IS the KMV sketch of A∪B, so the k-th smallest
# gives est_union. The extra power over HLL: each union-sketch member is
# an identifiable KEY, and membership in the union sketch implies
# membership in each side's own manifest (h among the k smallest of A∪B
# and h ∈ A ⇒ h among the k smallest of A) — so flagging which union-
# sketch hashes appear in BOTH manifests yields an unbiased Jaccard
# estimate ρ = n_both / k_used and est_inter = ρ · est_union, computed
# ONLY from two k-row synopses. k² cross-source containment audits over
# a 100 TB corpus become metadata-sized merges. Exact intersection and
# Jaccard ride alongside (q126 convention) so estimation error is data.
#
# When the union has fewer than k distinct hashes the sketch IS the
# union: est_union = n_man and ρ is the exact Jaccard — the exact-path
# fallback mirrors on both engines. The oracle computes the same
# estimators DIRECTLY from the full per-source distinct sets (manifest
# membership ≡ full-set membership for union-sketch members), so a green
# row proves merge-of-manifests ≡ direct.
#
# Shape at scale: manifests (≤ k·|sources| rows) fan out to |pairs|
# copies — bounded by k·|sources|² ≈ metadata — then one (src_a, src_b)
# window; the exact columns reuse keyed's distinct shuffle. Pair
# expansion keeps one-sided hashes (union semantics), never an equi-join
# that would drop them.
# ---------------------------------------------------------------------------


def _kmv_pair_sketch(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared by q133 (overlap) and q141 (difference/containment): per
    source pair, the merged union KMV sketch — (kth, n_man, n_both,
    n_a_only, n_b_only) from two k-row manifests — plus the exact
    (n_inter, nd_a, nd_b) counterparts.

    keyed feeds 3 consumers (manifests + exact inter + per-source
    counts) and man feeds 3 (two expand branches + source list): lazy
    localCheckpoint materializes each once instead of re-running the
    distinct / window chains per consumer (q57/q69 policy; man is
    ≤ k·|sources| rows, metadata-sized).
    """
    keyed = _kmv_keyed(spark, sf_dir).localCheckpoint(eager=False)
    man = _kmv_manifests(keyed).localCheckpoint(eager=False)
    srcs = man.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .crossJoin(srcs.alias("b"))
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
    )
    e = (
        man.join(F.broadcast(pairs), man.source == pairs.src_a)
        .select("src_a", "src_b", "hv", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
        .unionByName(
            man.join(F.broadcast(pairs), man.source == pairs.src_b).select(
                "src_a", "src_b", "hv", F.lit(0).alias("ia"), F.lit(1).alias("ib")
            )
        )
    )
    u = e.groupBy("src_a", "src_b", "hv").agg(
        F.max("ia").alias("ia"), F.max("ib").alias("ib")
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy("hv")
    sk = (
        u.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _Q132_K)
        .groupBy("src_a", "src_b")
        .agg(
            F.max("hv").alias("kth"),
            F.count("*").alias("n_man"),
            F.sum(F.col("ia") * F.col("ib")).alias("n_both"),
            F.sum(F.col("ia") * (F.lit(1) - F.col("ib"))).alias("n_a_only"),
            F.sum((F.lit(1) - F.col("ia")) * F.col("ib")).alias("n_b_only"),
        )
    )
    # exact intersection / per-source distinct counts alongside
    dw = keyed.select("source", "b")
    inter = (
        dw.alias("x")
        .join(dw.alias("y"), "b")
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    per_src = keyed.groupBy("source").agg(F.count("*").alias("nd"))
    exact = (
        pairs.join(inter, ["src_a", "src_b"], "left")
        .join(per_src.withColumnRenamed("source", "src_a")
              .withColumnRenamed("nd", "nd_a"), "src_a")
        .join(per_src.withColumnRenamed("source", "src_b")
              .withColumnRenamed("nd", "nd_b"), "src_b")
        .select(
            "src_a",
            "src_b",
            F.coalesce(F.col("n_inter"), F.lit(0)).alias("n_inter"),
            "nd_a",
            "nd_b",
        )
    )
    return sk, exact


def _kmv_est_union() -> F.Column:
    return F.when(
        F.col("n_man") >= F.lit(_Q132_K), F.lit(_Q132_NUMER) / F.col("kth")
    ).otherwise(F.col("n_man").cast("double"))


def q133_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk, exact = _kmv_pair_sketch(spark, sf_dir)
    est_union = _kmv_est_union()
    est_j = F.col("n_both") / F.col("n_man")
    return (
        sk.join(exact, ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            F.round(est_union, 2).alias("est_union"),
            F.round(est_j, 4).alias("est_jaccard"),
            F.round(est_j * est_union, 2).alias("est_inter"),
            F.col("n_inter").cast("long").alias("exact_inter"),
            F.round(
                F.col("n_inter")
                / (F.col("nd_a") + F.col("nd_b") - F.col("n_inter")),
                4,
            ).alias("exact_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# The pair-sketch CTE chain shared by the q133 and q141 oracles — one
# text, two finishers, mirroring the shared _kmv_pair_sketch builder.
_KMV_PAIR_CTES = f"""WITH t AS (
    SELECT source, str_split(text, ' ') AS ws FROM documents
),
bg AS (
    SELECT DISTINCT source, ws[i] || ' ' || ws[i + 1] AS b
    FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
    WHERE len(ws) >= 2
),
keyed AS (
    SELECT source, b, {_Q132_HV} AS hv FROM bg
),
srcs AS (SELECT DISTINCT source FROM keyed),
pairs AS (
    SELECT a.source AS src_a, b.source AS src_b
    FROM srcs a JOIN srcs b ON a.source < b.source
),
expand AS (
    SELECT p.src_a, p.src_b, k.hv, 1 AS ia, 0 AS ib
    FROM keyed k JOIN pairs p ON k.source = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, k.hv, 0 AS ia, 1 AS ib
    FROM keyed k JOIN pairs p ON k.source = p.src_b
),
u AS (
    SELECT src_a, src_b, hv, max(ia) AS ia, max(ib) AS ib
    FROM expand GROUP BY ALL
),
ranked AS (
    SELECT src_a, src_b, hv, ia, ib,
           row_number() OVER (PARTITION BY src_a, src_b ORDER BY hv) AS rn
    FROM u
),
sk AS (
    SELECT src_a, src_b, max(hv) AS kth, count(*) AS n_man,
           sum(ia * ib) AS n_both,
           sum(ia * (1 - ib)) AS n_a_only,
           sum((1 - ia) * ib) AS n_b_only
    FROM ranked WHERE rn <= {_Q132_K} GROUP BY src_a, src_b
),
per_src AS (SELECT source, count(*) AS nd FROM keyed GROUP BY source),
inter AS (
    SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_inter
    FROM keyed x JOIN keyed y USING (b)
    WHERE x.source < y.source
    GROUP BY x.source, y.source
),
exact AS (
    SELECT p.src_a, p.src_b, COALESCE(i.n_inter, 0) AS n_inter,
           pa.nd AS nd_a, pb.nd AS nd_b
    FROM pairs p
    LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
    JOIN per_src pa ON pa.source = p.src_a
    JOIN per_src pb ON pb.source = p.src_b
)"""

Q133_SQL = _KMV_PAIR_CTES + f"""
SELECT s.src_a, s.src_b,
       round(CASE WHEN s.n_man >= {_Q132_K} THEN {_Q132_NUMER!r} / s.kth
                  ELSE CAST(s.n_man AS DOUBLE) END, 2) AS est_union,
       round(s.n_both / s.n_man, 4) AS est_jaccard,
       round(s.n_both / s.n_man
             * CASE WHEN s.n_man >= {_Q132_K} THEN {_Q132_NUMER!r} / s.kth
                    ELSE CAST(s.n_man AS DOUBLE) END, 2) AS est_inter,
       CAST(e.n_inter AS BIGINT) AS exact_inter,
       round(e.n_inter / (e.nd_a + e.nd_b - e.n_inter), 4) AS exact_jaccard
FROM sk s JOIN exact e ON e.src_a = s.src_a AND e.src_b = s.src_b
ORDER BY s.src_a, s.src_b
"""


# ---------------------------------------------------------------------------
# q141 — KMV set-DIFFERENCE and containment estimators (the remaining
# Beyer et al. 2007 multiset operations over the q133 pair sketch): for
# every source pair, est |A\B| = (n_a_only / n_man) · est_union (and
# symmetrically |B\A|), plus the containment of B in A — the fraction of
# B's union-sketch members that A also holds. These are THE incremental-
# ingest planning numbers at 100 TB: "how many genuinely new keys does
# source B add over what A already covers?" answered from two k-row
# synopses instead of an exact anti-join over the corpus. Exact
# counterparts (nd_a − n_inter etc.) ride alongside per the q126/q133
# convention, so estimation error is data. The sketch construction and
# the oracle CTE chain are SHARED with q133 (_kmv_pair_sketch /
# _KMV_PAIR_CTES) — one derivation, two finishers.
#
# The containment denominator (B's union-sketch members) can be zero in
# the adversarial case where all k smallest union hashes come from A;
# both engines emit NULL there via the same explicit guard.
# ---------------------------------------------------------------------------
def q141_kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk, exact = _kmv_pair_sketch(spark, sf_dir)
    est_union = _kmv_est_union()
    b_in_union = F.col("n_both") + F.col("n_b_only")
    cov = F.when(
        b_in_union > 0, F.col("n_both") / b_in_union
    ).otherwise(F.lit(None).cast("double"))
    return (
        sk.join(exact, ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            F.round(F.col("n_a_only") / F.col("n_man") * est_union, 2).alias(
                "est_a_only"
            ),
            F.round(F.col("n_b_only") / F.col("n_man") * est_union, 2).alias(
                "est_b_only"
            ),
            (F.col("nd_a") - F.col("n_inter")).cast("long").alias("exact_a_only"),
            (F.col("nd_b") - F.col("n_inter")).cast("long").alias("exact_b_only"),
            F.round(cov, 4).alias("est_cov_b_in_a"),
            F.round(F.col("n_inter") / F.col("nd_b"), 4).alias("exact_cov_b_in_a"),
        )
        .orderBy("src_a", "src_b")
    )


Q141_SQL = _KMV_PAIR_CTES + f"""
SELECT s.src_a, s.src_b,
       round(s.n_a_only / s.n_man
             * CASE WHEN s.n_man >= {_Q132_K} THEN {_Q132_NUMER!r} / s.kth
                    ELSE CAST(s.n_man AS DOUBLE) END, 2) AS est_a_only,
       round(s.n_b_only / s.n_man
             * CASE WHEN s.n_man >= {_Q132_K} THEN {_Q132_NUMER!r} / s.kth
                    ELSE CAST(s.n_man AS DOUBLE) END, 2) AS est_b_only,
       CAST(e.nd_a - e.n_inter AS BIGINT) AS exact_a_only,
       CAST(e.nd_b - e.n_inter AS BIGINT) AS exact_b_only,
       round(CASE WHEN (s.n_both + s.n_b_only) > 0
                  THEN s.n_both / (s.n_both + s.n_b_only)
                  ELSE NULL END, 4) AS est_cov_b_in_a,
       round(e.n_inter / e.nd_b, 4) AS exact_cov_b_in_a
FROM sk s JOIN exact e ON e.src_a = s.src_a AND e.src_b = s.src_b
ORDER BY s.src_a, s.src_b
"""


# ---------------------------------------------------------------------------
# q134 — count-sketch / AMS second frequency moment (Alon–Matias–Szegedy
# 1996; Charikar et al. 2002): the fourth mergeable sketch, and the one
# planners actually consult — F2 = Σf² IS the self-join size, the number
# a 100 TB engine wants BEFORE committing to a shuffle strategy on a
# skewed key. Each depth's cells hold Σ s_d(k)·f(k) with md5-derived ±1
# signs; cross terms cancel in expectation, so Σ cell² estimates F2 per
# depth and the median over (odd) depths is the robust estimate. The
# oracle rebuilds every signed counter bit-for-bit (q121 convention) and
# the exact F2 rides alongside, so estimator error is data, not prose.
#
# Determinism: the whole pipeline is integer arithmetic — signs, cells,
# signed sums, squares, the LIMIT-3 median with depth tie-break — all
# carried in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) END TO END,
# including the OUTPUT columns: cell squares hit ~1e28 at 100 TB token
# counts, far past int64, so a BIGINT cast anywhere (even at the output
# boundary) would null (Spark non-ANSI) or error (DuckDB) exactly when
# the sketch matters most. f2_est/f2_exact are emitted as DOUBLE — at
# test scale every value is < 2^53 so the conversion is exact; at 100 TB
# a correctly-rounded 15-digit double is the right contract for an
# ESTIMATOR readout (the median SELECTION still happens on the exact
# decimals, so rounding can never change which depth wins). err_pct is
# the same double expression tree on both engines.
#
# Shape at scale: the grid builds off the DISTINCT-word rollup
# (Zipf-bounded input, map-side combined), lands at depth×width ≈ 2,560
# rows, and merges across ingest shards by cell-wise ADD (signs are
# key-deterministic, so shard grids are compatible by construction —
# the same property that makes q119/q131 manifests mergeable).
# ---------------------------------------------------------------------------


def q134_countsketch_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # feeds the grid AND the exact F2
    )
    counters = cs_build(vocab, "w", "c")
    cc = F.col("cnt").cast("decimal(19,0)")
    # stay in decimal(38,0) through the median selection — only the
    # final readout converts to double (exact below 2^53; see header)
    per_depth = counters.groupBy("d").agg(F.sum(cc * cc).alias("f2_est"))
    xc = F.col("c").cast("decimal(19,0)")
    exact = vocab.agg(F.sum(xc * xc).alias("f2_exact"))
    med = (
        per_depth.orderBy("f2_est", "d")
        .limit((CS_DEPTH + 1) // 2)
        .agg(F.max("f2_est").alias("f2_est"))
        .select(F.lit(-1).alias("d"), "f2_est")
    )
    rows = per_depth.select(
        F.col("d").cast("int").alias("d"), "f2_est"
    ).unionByName(med)
    est_d = F.col("f2_est").cast("double")
    exact_d = F.col("f2_exact").cast("double")
    return (
        rows.crossJoin(F.broadcast(exact))
        .select(
            F.col("d").alias("depth"),
            est_d.alias("f2_est"),
            exact_d.alias("f2_exact"),
            (
                F.round((est_d - exact_d) / exact_d * F.lit(100.0), 2)
                + F.lit(0.0)
            ).alias("err_pct"),
        )
        .orderBy("depth")
    )


_CS_COL = (
    _hex2int_sql("md5('cs' || CAST(d AS VARCHAR) || ':' || w)", 1, 8)
    + f" % {CS_WIDTH}"
)
_CS_SGN = _hex2int_sql("md5('sg' || CAST(d AS VARCHAR) || ':' || w)", 9, 1)

Q134_SQL = f"""
WITH tok AS (SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents),
vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
lanes AS (SELECT unnest(generate_series(0, {CS_DEPTH - 1})) AS d),
cells AS (
    SELECT d, {_CS_COL} AS col, (1 - 2 * ({_CS_SGN} % 2)) * c AS sc
    FROM vocab CROSS JOIN lanes
),
counters AS (SELECT d, col, sum(sc) AS cnt FROM cells GROUP BY d, col),
per_depth AS (
    SELECT d, sum(cnt * cnt) AS f2_est FROM counters GROUP BY d
),
med AS (
    SELECT -1 AS d, max(f2_est) AS f2_est FROM (
        SELECT d, f2_est FROM per_depth ORDER BY f2_est, d LIMIT {(CS_DEPTH + 1) // 2}
    )
),
rows_ AS (
    SELECT CAST(d AS INTEGER) AS d, f2_est FROM per_depth
    UNION ALL SELECT d, f2_est FROM med
),
ex AS (SELECT sum(c * c) AS f2_exact FROM vocab)
SELECT r.d AS depth,
       CAST(r.f2_est AS DOUBLE) AS f2_est,
       CAST(e.f2_exact AS DOUBLE) AS f2_exact,
       round((CAST(r.f2_est AS DOUBLE) - CAST(e.f2_exact AS DOUBLE))
             / CAST(e.f2_exact AS DOUBLE) * 100.0, 2) + 0.0 AS err_pct
FROM rows_ r CROSS JOIN ex e
ORDER BY depth
"""


# ---------------------------------------------------------------------------
# q135 — KMV manifests as STREAMING STATE (the KMV twin of q124's stream
# HLL): per-source bottom-k held in ``applyInPandasWithState``, so a
# stream tracks per-source distinct cardinality with state bounded at k
# longs per source FOREVER — where exact streaming count-distinct state
# grows with the cardinality itself. Each micro-batch set-unions its
# hashes into the manifest and re-truncates to k; duplicate bigrams
# across batches collapse by set semantics (redelivery-idempotent), and
# the per-batch emissions reduce deterministically to the final state:
# n_man only grows, and AT the maximal n_man the kth is minimal — below
# k the manifest is the exact set (same n_man ⇒ same set ⇒ same kth;
# note kth GROWS while the manifest is filling, so a bare min(kth) would
# resurrect an early partial state), and at n_man = k the bottom-k only
# improves, so kth only decreases. max(struct(n_man, −kth)) over the
# append stream therefore IS the final manifest summary. The oracle
# computes the same per-source rows
# directly from the raw table (shared CTE chain with q132): a green row
# proves stream-accumulated state ≡ batch sketch.
#
# Shape at scale: bigram+hash is row-local pre-state; the only wide op
# is the groupBy(source) state shuffle. Unlike the batch path there is
# no distinct pass — the state set IS the dedup, bounded at k.
# ---------------------------------------------------------------------------
_KMV_OUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("kth", LongType()),
        StructField("n_man", LongType()),
    ]
)
_KMV_STATE_SCHEMA = StructType([StructField("hs", ArrayType(LongType()))])


def _kmv_state_group(
    key: tuple, pdfs: "Iterable[pd.DataFrame]", state: "GroupState"
) -> "Iterator[pd.DataFrame]":
    import pandas as pd

    (source,) = key
    new = {int(x) for pdf in pdfs for x in pdf["hv"].tolist()}
    cur = set(state.get[0]) if state.exists else set()
    cur |= new
    if not cur:
        return
    man = sorted(cur)[: _Q132_K]
    state.update((man,))
    yield pd.DataFrame(
        {"source": [source], "kth": [man[-1]], "n_man": [len(man)]}
    )


def q135_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .streaming_plans import _drain_to_memory

    docs = load(spark, sf_dir, "documents").select("source", "text")

    def transform(st):
        return (
            _kmv_bigrams(st)
            .select("source", "hv")
            .groupBy("source")
            .applyInPandasWithState(
                _kmv_state_group,
                outputStructType=_KMV_OUT_SCHEMA,
                stateStructType=_KMV_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    # state key = source (a handful of feeds at any scale); 8 partitions
    # bound the per-batch state-store I/O to the key domain (r10)
    drained = _drain_to_memory(docs, transform, "q135_kmv",
                               output_mode="append", state_partitions=8)
    final = (
        drained.groupBy("source")
        .agg(
            F.max(
                F.struct(
                    F.col("n_man"), (-F.col("kth")).alias("neg_kth")
                )
            ).alias("s")
        )
        .select(
            "source",
            F.col("s.n_man").alias("n_man"),
            (-F.col("s.neg_kth")).alias("kth"),
        )
    )
    truth = _kmv_keyed(spark, sf_dir).groupBy("source").agg(
        F.count("*").alias("n_true")
    )
    return _kmv_finish(final.join(truth, "source"))


Q135_SQL = _KMV_SRC_CTES + f"""
SELECT s.source,
       CAST(s.n_true AS BIGINT) AS n_true,
       CAST(m.kth AS BIGINT) AS kth_hash,
       round(CASE WHEN m.n_man >= {_Q132_K} THEN {_Q132_NUMER!r} / m.kth
                  ELSE CAST(m.n_man AS DOUBLE) END, 2) AS est_distinct,
       round((CASE WHEN m.n_man >= {_Q132_K} THEN {_Q132_NUMER!r} / m.kth
                   ELSE CAST(m.n_man AS DOUBLE) END - s.n_true)
             / s.n_true * 100.0, 2) AS err_pct
FROM src_truth s JOIN src_man m USING (source)
ORDER BY s.source
"""


# ---------------------------------------------------------------------------
# q138 — MERGEABLE fixed-grid quantile digest (round-6 judge task #4: the
# sketch-family gap — q123 samples, q130 selects, but neither is a
# mergeable quantile synopsis). The deterministic cousin of t-digest/KLL:
# a bucketing FIXED a priori (bucket = n_tokens div 16), so per-shard
# digests are compatible by construction — counts add cell-wise, exactly
# like q119's manifests and the CMS grid. The plan builds per-(shard)
# partials (doc_id % 8 standing in for ingest batches), merges ONLY the
# partials, takes the merged cumulative, and interpolates rank-r
# quantiles (r = ceil(pct·n/100), exact integer arithmetic). The oracle
# computes the same grid in ONE pass over the raw table — a green row
# proves merge-of-partials ≡ single-pass, the q119/q131/q132 contract
# applied to quantiles.
#
# Error is a verified COLUMN, not prose (the q123 discipline): the true
# rank-r value lives in the selected bucket (cum_prev < r ≤ cum), and the
# interpolated estimate lives in the same bucket, so |est − exact| <
# width; `exact` comes from the exact value-histogram cumulative and
# bound_ok lands in the output for the parity gate to check.
#
# Determinism: bucketing, ranks, and bucket selection are integer algebra
# end-to-end; the only floats are the final interpolation (identical
# IEEE expression tree both engines, 4dp round) and the abs-err of
# already-rounded values. The two ORDER BY-only window cumulative sums
# run over DOMAIN-BOUNDED frames (≤ max_tokens/16 grid rows; ≤ distinct
# token-counts rows — value-domain-bounded, NOT corpus-bounded), the
# same bounded-by-construction class as q73/q84/q120 (SCALE.md audit).
#
# Shape at scale: one map-side-combinable groupBy per shard batch (in
# production each ingest batch lands its digest rows in a manifest
# table), then metadata-sized merges; the exact-histogram side exists
# only FOR the audit column, exactly like q122's exact distinct count.
# ---------------------------------------------------------------------------
_Q138_W = 16
_Q138_SHARDS = 8
_Q138_PCTS = (50, 90, 99)


def _grid_quantile_finish(spark, merged: DataFrame, vals: DataFrame) -> DataFrame:
    """Shared quantile finisher over a (bucket, cnt) digest: merged
    cumulative → rank-r bucket selection (min-struct, deterministic) →
    within-bucket interpolation, next to the exact order statistic from
    ``vals``'s value histogram with the verified error-bound columns.
    Consumed by q138 (batch shard merge) and q140 (streaming state) so
    the two paths cannot drift arithmetically."""
    wcum = Window.orderBy("bucket")
    cum = merged.select(
        "bucket", "cnt", F.sum("cnt").over(wcum).cast("long").alias("cum")
    )
    total = merged.agg(F.sum("cnt").cast("long").alias("n"))
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _Q138_PCTS])).alias("pct")
    )
    tgt = pcts.crossJoin(F.broadcast(total)).select(
        "pct", "n", F.expr("(n * pct + 99) div 100").alias("r")
    )
    sel = (
        tgt.join(F.broadcast(cum), F.col("cum") >= F.col("r"))
        .groupBy("pct", "n", "r")
        .agg(F.min(F.struct("bucket", "cnt", "cum")).alias("s"))
        .select("pct", "n", "r", "s.bucket", "s.cnt", "s.cum")
    )
    hist = vals.groupBy("nt").agg(F.count("*").alias("c1"))
    hcum = hist.select("nt", F.sum("c1").over(Window.orderBy("nt")).alias("cum1"))
    exact = (
        tgt.join(F.broadcast(hcum), F.col("cum1") >= F.col("r"))
        .groupBy("pct")
        .agg(F.min("nt").alias("exact"))
    )
    frac = (F.col("r") - (F.col("cum") - F.col("cnt"))) / F.col("cnt").cast("double")
    est = F.round(F.lit(float(_Q138_W)) * (F.col("bucket") + frac), 4)
    joined = sel.join(exact, "pct").select(
        "pct", "n", "r", est.alias("est"), "exact"
    )
    abs_err = F.round(F.abs(F.col("est") - F.col("exact")), 4)
    return joined.select(
        "pct",
        "n",
        "r",
        "est",
        "exact",
        abs_err.alias("abs_err"),
        F.lit(_Q138_W).alias("err_bound"),
        (F.abs(F.col("est") - F.col("exact")) <= F.lit(float(_Q138_W)))
        .cast("int")
        .alias("bound_ok"),
    ).orderBy("pct")


def q138_grid_quantile_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import grid_digest, merge_grid_digests

    docs = load(spark, sf_dir, "documents")
    vals = docs.select(
        (F.col("doc_id") % _Q138_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("nt"),
    )
    partials = grid_digest(vals, "nt", _Q138_W, group_cols=["shard"])
    merged = merge_grid_digests(partials.drop("shard"))
    return _grid_quantile_finish(spark, merged, vals)


Q138_SQL = f"""
WITH vals AS (
    SELECT CAST(len(str_split(text, ' ')) AS BIGINT) AS nt FROM documents
),
grid AS (SELECT nt // {_Q138_W} AS bucket, count(*) AS cnt FROM vals GROUP BY 1),
cum AS (
    SELECT bucket, cnt, sum(cnt) OVER (ORDER BY bucket) AS cum FROM grid
),
tot AS (SELECT count(*) AS n FROM vals),
pcts AS (SELECT unnest([{", ".join(str(p) for p in _Q138_PCTS)}]) AS pct),
tgt AS (SELECT pct, n, (n * pct + 99) // 100 AS r FROM pcts CROSS JOIN tot),
sel AS (
    SELECT t.pct, t.n, t.r, min(c.bucket) AS bucket
    FROM tgt t JOIN cum c ON c.cum >= t.r
    GROUP BY 1, 2, 3
),
selc AS (
    SELECT s.pct, s.n, s.r, s.bucket, c.cnt, c.cum
    FROM sel s JOIN cum c USING (bucket)
),
hist AS (SELECT nt, count(*) AS c1 FROM vals GROUP BY nt),
hcum AS (SELECT nt, sum(c1) OVER (ORDER BY nt) AS cum1 FROM hist),
ex AS (
    SELECT t.pct, min(h.nt) AS exact
    FROM tgt t JOIN hcum h ON h.cum1 >= t.r
    GROUP BY 1
),
est_t AS (
    SELECT s.pct, s.n, s.r,
           round(CAST({_Q138_W} AS DOUBLE)
                 * (s.bucket + (s.r - (s.cum - s.cnt)) / CAST(s.cnt AS DOUBLE)),
                 4) AS est,
           e.exact
    FROM selc s JOIN ex e USING (pct)
)
SELECT CAST(pct AS INTEGER) AS pct, n, r, est, exact,
       round(abs(est - exact), 4) AS abs_err,
       {_Q138_W} AS err_bound,
       CAST(abs(est - exact) <= CAST({_Q138_W} AS DOUBLE) AS INTEGER) AS bound_ok
FROM est_t
ORDER BY pct
"""


# ---------------------------------------------------------------------------
# q140 — the grid quantile digest as REAL STREAMING STATE: completes the
# "every mergeable sketch is also proven as streaming state" family
# (HLL → q124, KMV → q135, digest → here). The digest build —
# groupBy(bucket).count() — is an algebraic streaming aggregation whose
# state is bounded at domain/width rows FOREVER, so quantile tracking
# over an unbounded ingest feed costs O(grid) state where an exact
# streaming quantile would buffer the whole value stream. The drained
# registers feed the IDENTICAL finisher as q138 (shared
# _grid_quantile_finish — the two paths cannot drift arithmetically),
# and the oracle IS q138's single-pass SQL: a green row proves
# stream-built state ≡ batch digest ≡ direct computation, the ST6
# contract applied to quantiles. Multi-micro-batch accumulation (the
# q135 lesson: single-batch drains hide state-reduction bugs) is
# exercised with maxFilesPerTrigger=1 in tests/test_sketches.py.
# ---------------------------------------------------------------------------
def q140_stream_grid_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import grid_digest
    from .streaming_plans import _drain_to_memory

    docs = load(spark, sf_dir, "documents").select("text")

    def digest_stream(st):
        nt = st.select(F.size(F.split("text", " ")).cast("long").alias("nt"))
        return grid_digest(nt, "nt", _Q138_W)

    merged = _drain_to_memory(
        # state = the fixed grid (domain/width buckets, bounded forever);
        # 8 state partitions cover it at any corpus size (r10)
        docs, digest_stream, "q140_digest", output_mode="complete",
        state_partitions=8,
    ).select("bucket", F.col("cnt").cast("long").alias("cnt"))
    vals = load(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).cast("long").alias("nt")
    )
    return _grid_quantile_finish(spark, merged, vals)


Q140_SQL = Q138_SQL  # identical output contract: stream state ≡ batch digest


# ---------------------------------------------------------------------------
# q142 — priority sampling with unbiased subset-sum estimation (Duffield,
# Lund & Thorup, JACM 2007): the weighted-sample sketch that completes the
# sampling family — q55 samples uniformly, q67 stratifies, q76 draws a
# per-stratum weighted sample (Efraimidis–Spirakis), but NONE of them
# supports unbiased SUM estimation over arbitrary posterior subsets from
# one fixed-size sample. Priority sampling does: draw u ~ U(0,1) per row,
# priority = w/u, keep the top-k priorities, let τ = the (k+1)-th; then
# Σ_{i ∈ sample ∩ A} max(w_i, τ) is an unbiased estimator of Σ_{i ∈ A} w_i
# for ANY subset A chosen after the fact — the contract a 100 TB corpus
# wants for "how many chars of German do we hold?" without a full scan.
#
# Determinism (cross-engine exact, no ulp risk): u = (hex8(md5)+0.5)/2^32
# is EXACT in double (int < 2^33, division by a power of two); priority
# w/u is ONE correctly-rounded IEEE division of identical operands →
# bit-identical on Spark and DuckDB; τ is then fixed-pointed ONCE
# (round(τ·1e4) as int64) and the estimator Σ max(w·1e4, τ_fp) runs in
# exact int64 arithmetic — accumulation order cannot matter.
#
# Shape at scale: orderBy(pri).limit(k+1) IS TakeOrderedAndProject —
# per-partition top-(k+1) heaps merged once, no shuffle, no global sort;
# the engine itself executes the sketch's merge rule (any global top-k
# element is top-k within its partition). Everything downstream of the
# limit is a ≤65-row broadcast. The full-table per-lang truth scan exists
# only to score the estimator in-query (err_pct column, the q123 pattern).
# ---------------------------------------------------------------------------
_Q142_K = 64
_Q142_U_DEN = float(2**32)


def q142_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("psmp:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (hv.cast("double") + F.lit(0.5)) / F.lit(_Q142_U_DEN)
    keyed = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("w"),
        (F.col("n_chars").cast("double") / u).alias("pri"),
    )
    top = keyed.orderBy(F.col("pri").desc(), "doc_id").limit(_Q142_K + 1)
    # τ row = lexicographic min(struct(pri, doc_id)) of the k+1 — the one
    # excluded row; its priority (fixed-pointed once) is the threshold.
    thr = top.agg(F.min(F.struct("pri", "doc_id")).alias("t")).select(
        F.col("t.pri").alias("t_pri"),
        F.col("t.doc_id").alias("t_doc"),
        F.round(F.col("t.pri") * F.lit(10000.0)).cast("long").alias("tau_fp"),
    )
    samp = top.crossJoin(F.broadcast(thr)).filter(
        (F.col("pri") > F.col("t_pri"))
        | ((F.col("pri") == F.col("t_pri")) & (F.col("doc_id") > F.col("t_doc")))
    )
    contrib = F.greatest(F.col("w") * F.lit(10000), F.col("tau_fp"))
    est = (
        samp.groupBy("lang")
        .agg(F.count("*").alias("n_sample"), F.sum(contrib).alias("c"))
        .unionByName(
            samp.agg(
                F.count("*").alias("n_sample"), F.sum(contrib).alias("c")
            ).select(F.lit("ALL").alias("lang"), "n_sample", "c")
        )
    )
    truth = (
        docs.groupBy("lang")
        .agg(F.sum("n_chars").cast("long").alias("true_chars"))
        .unionByName(
            docs.agg(F.sum("n_chars").cast("long").alias("true_chars")).select(
                F.lit("ALL").alias("lang"), "true_chars"
            )
        )
    )
    est_raw = F.coalesce(F.col("c"), F.lit(0)) / F.lit(10000.0)
    return (
        truth.join(F.broadcast(est), "lang", "left")
        .select(
            "lang",
            F.coalesce(F.col("n_sample"), F.lit(0)).cast("long").alias("n_sample"),
            F.round(est_raw, 2).alias("est_chars"),
            "true_chars",
            (
                F.round(
                    (est_raw - F.col("true_chars"))
                    / F.col("true_chars")
                    * F.lit(100.0),
                    2,
                )
                + F.lit(0.0)
            ).alias("err_pct"),
        )
        .orderBy("lang")
    )


_Q142_HEX = _hex2int_sql("md5('psmp:' || CAST(doc_id AS VARCHAR))", 1, 8)

Q142_SQL = f"""
WITH keyed AS (
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
           CAST(n_chars AS DOUBLE) / ((({_Q142_HEX}) + 0.5) / {_Q142_U_DEN!r})
               AS pri
    FROM documents
),
top AS (
    SELECT * FROM keyed ORDER BY pri DESC, doc_id LIMIT {_Q142_K + 1}
),
thr AS (
    SELECT pri AS t_pri, doc_id AS t_doc,
           CAST(round(pri * 10000.0) AS BIGINT) AS tau_fp
    FROM top ORDER BY pri ASC, doc_id ASC LIMIT 1
),
samp AS (
    SELECT t.lang, t.w, thr.tau_fp
    FROM top t, thr
    WHERE t.pri > thr.t_pri OR (t.pri = thr.t_pri AND t.doc_id > thr.t_doc)
),
est AS (
    SELECT lang, count(*) AS n_sample,
           sum(greatest(w * 10000, tau_fp)) AS c
    FROM samp GROUP BY lang
    UNION ALL
    SELECT 'ALL', count(*), sum(greatest(w * 10000, tau_fp)) FROM samp
),
truth AS (
    SELECT lang, CAST(sum(n_chars) AS BIGINT) AS true_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'ALL', CAST(sum(n_chars) AS BIGINT) FROM documents
)
SELECT tr.lang,
       CAST(coalesce(e.n_sample, 0) AS BIGINT) AS n_sample,
       round(coalesce(e.c, 0) / 10000.0, 2) AS est_chars,
       tr.true_chars,
       round((coalesce(e.c, 0) / 10000.0 - tr.true_chars)
             / tr.true_chars * 100.0, 2) + 0.0 AS err_pct
FROM truth tr LEFT JOIN est e USING (lang)
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# q147 — join-size estimation from per-table KMV synopses (Beyer et al.
# 2007 applied to the optimizer's oldest problem): estimate
# |σ(orders) ⋈ σ(customer)| WITHOUT touching either table beyond its
# synopsis. Per filtered side keep (n_rows, bottom-k KMV of distinct
# join keys); merge the two k-row manifests (q133 algebra: union sketch,
# ρ = n_both/k_used, est_inter = ρ·est_union) and scale by each side's
# average multiplicity n_rows/est_distinct — the uniform-frequency
# assumption every histogram-free planner makes. The exact intersection
# / exact join size ride alongside so the estimation error is DATA (the
# q123/q132 convention): a green row proves the synopsis algebra, not
# just "close enough".
#
# Shape at scale: each manifest is orderBy(hv).limit(k) —
# TakeOrderedAndProject, per-partition bottom-k heaps, no shuffle; the
# merge and every estimator term run on ≤2k rows. In production the
# synopses persist per table/partition at ingest (they merge by the same
# union-rededup-retake rule) and the planner never scans at all — the
# full-table truth columns here exist only to score err_pct in-query.
# ---------------------------------------------------------------------------
_Q147_K = 64
_Q147_NUMER = float((_Q147_K - 1) * 2**60)
_Q147_PRICE = 150000.0


def q147_joinsize_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > _Q147_PRICE)
        .select(F.col("o_custkey").alias("k"))
        .localCheckpoint(eager=False)  # feeds n_rows, distinct, truth mults
    )
    b = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0.0)
        .select(F.col("c_custkey").alias("k"))
        .localCheckpoint(eager=False)
    )
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("jsz:"), F.col("k").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    da = a.distinct().select("k", hv.alias("hv")).localCheckpoint(eager=False)
    db = b.distinct().select("k", hv.alias("hv")).localCheckpoint(eager=False)
    man_a = da.select("hv").orderBy("hv").limit(_Q147_K).localCheckpoint(eager=False)
    man_b = db.select("hv").orderBy("hv").limit(_Q147_K).localCheckpoint(eager=False)
    sk_a = man_a.agg(F.max("hv").alias("kth_a"), F.count("*").alias("n_man_a"))
    sk_b = man_b.agg(F.max("hv").alias("kth_b"), F.count("*").alias("n_man_b"))
    u = (
        man_a.select("hv", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
        .unionByName(man_b.select("hv", F.lit(0).alias("ia"), F.lit(1).alias("ib")))
        .groupBy("hv")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    sk = (
        u.orderBy("hv")
        .limit(_Q147_K)
        .agg(
            F.max("hv").alias("kth"),
            F.count("*").alias("n_man"),
            F.sum(F.col("ia") * F.col("ib")).alias("n_both"),
        )
    )
    n_a = a.agg(F.count("*").alias("n_rows_a"))
    n_b = b.agg(F.count("*").alias("n_rows_b"))
    ni = da.join(db, "k").agg(F.count("*").alias("n_inter_true"))
    tj = (
        a.groupBy("k")
        .agg(F.count("*").alias("ca"))
        .join(b.groupBy("k").agg(F.count("*").alias("cb")), "k")
        .agg(F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)).alias("n_join_true"))
    )

    def est_nd(n_man_col, kth_col):
        return F.when(
            F.col(n_man_col) >= F.lit(_Q147_K),
            F.lit(_Q147_NUMER) / F.col(kth_col),
        ).otherwise(F.col(n_man_col).cast("double"))

    est_inter = (F.col("n_both") / F.col("n_man")) * est_nd("n_man", "kth")
    est_join = (
        est_inter
        * (F.col("n_rows_a") / est_nd("n_man_a", "kth_a"))
        * (F.col("n_rows_b") / est_nd("n_man_b", "kth_b"))
    )
    return (
        sk.crossJoin(sk_a)
        .crossJoin(sk_b)
        .crossJoin(n_a)
        .crossJoin(n_b)
        .crossJoin(ni)
        .crossJoin(tj)
        .select(
            F.round(est_inter, 2).alias("est_inter_keys"),
            F.col("n_inter_true").cast("long").alias("n_inter_true"),
            F.round(est_join, 2).alias("est_join_rows"),
            F.col("n_join_true").cast("long").alias("n_join_true"),
            (
                F.round(
                    (est_join - F.col("n_join_true"))
                    / F.col("n_join_true")
                    * F.lit(100.0),
                    2,
                )
                + F.lit(0.0)
            ).alias("err_pct"),
        )
    )


_Q147_HV = _hex2int_sql("md5('jsz:' || CAST(k AS VARCHAR))", 1, 15)

Q147_SQL = f"""
WITH a AS (
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > {_Q147_PRICE!r}
),
b AS (
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0.0
),
da AS (SELECT k, {_Q147_HV} AS hv FROM (SELECT DISTINCT k FROM a) t),
db AS (SELECT k, {_Q147_HV} AS hv FROM (SELECT DISTINCT k FROM b) t),
man_a AS (SELECT hv FROM da ORDER BY hv LIMIT {_Q147_K}),
man_b AS (SELECT hv FROM db ORDER BY hv LIMIT {_Q147_K}),
sk_a AS (SELECT max(hv) AS kth_a, count(*) AS n_man_a FROM man_a),
sk_b AS (SELECT max(hv) AS kth_b, count(*) AS n_man_b FROM man_b),
u AS (
    SELECT hv, max(ia) AS ia, max(ib) AS ib FROM (
        SELECT hv, 1 AS ia, 0 AS ib FROM man_a
        UNION ALL
        SELECT hv, 0, 1 FROM man_b
    ) e GROUP BY hv
),
sk AS (
    SELECT max(hv) AS kth, count(*) AS n_man, sum(ia * ib) AS n_both
    FROM (SELECT * FROM u ORDER BY hv LIMIT {_Q147_K}) t
),
n_a AS (SELECT count(*) AS n_rows_a FROM a),
n_b AS (SELECT count(*) AS n_rows_b FROM b),
ni AS (SELECT count(*) AS n_inter_true FROM da JOIN db USING (k)),
tj AS (
    SELECT coalesce(sum(ca * cb), 0) AS n_join_true
    FROM (SELECT k, count(*) AS ca FROM a GROUP BY k) x
    JOIN (SELECT k, count(*) AS cb FROM b GROUP BY k) y USING (k)
),
est AS (
    SELECT
        (CAST(n_both AS DOUBLE) / n_man) *
        (CASE WHEN n_man >= {_Q147_K} THEN {_Q147_NUMER!r} / kth
              ELSE CAST(n_man AS DOUBLE) END) AS est_inter,
        (CASE WHEN n_man_a >= {_Q147_K} THEN {_Q147_NUMER!r} / kth_a
              ELSE CAST(n_man_a AS DOUBLE) END) AS est_nd_a,
        (CASE WHEN n_man_b >= {_Q147_K} THEN {_Q147_NUMER!r} / kth_b
              ELSE CAST(n_man_b AS DOUBLE) END) AS est_nd_b
    FROM sk, sk_a, sk_b
)
SELECT round(est.est_inter, 2) AS est_inter_keys,
       CAST(ni.n_inter_true AS BIGINT) AS n_inter_true,
       round(est.est_inter * (n_a.n_rows_a / est.est_nd_a)
             * (n_b.n_rows_b / est.est_nd_b), 2) AS est_join_rows,
       CAST(tj.n_join_true AS BIGINT) AS n_join_true,
       round((est.est_inter * (n_a.n_rows_a / est.est_nd_a)
              * (n_b.n_rows_b / est.est_nd_b) - tj.n_join_true)
             / tj.n_join_true * 100.0, 2) + 0.0 AS err_pct
FROM est, n_a, n_b, ni, tj
"""


# ---------------------------------------------------------------------------
# q150 — priority sample as STREAMING state (q142's streaming twin; the
# fourth member of the sketch-as-stream-state family: HLL → q124, KMV →
# q135, grid digest → q140). Per source the state is the top-(k+1) rows
# by (priority DESC, doc_id ASC) — a deterministic function of the SET
# of rows seen, so ANY micro-batch slicing converges to the batch
# sketch. Each batch emits (n_man, boundary priority, boundary doc,
# est_fp); the final reduce keeps max(struct(n_man, tau, −b_doc)):
# n_man is monotone nondecreasing, and once full the boundary KEY
# (tau, −b_doc) is monotone nondecreasing in the same lexicographic
# order the state sorts by — the q135 sub-k reduction lesson applied to
# priorities. The estimator sum is computed IN the state function in
# exact int64 (w·10⁴ vs the once-fixed-pointed τ, via decimal HALF_UP —
# bit-matching Spark/DuckDB round()), so the drained value equals the
# oracle's batch computation digit-for-digit.
#
# Shape at scale: the priority is computed JVM-side before the state
# shuffle (one IEEE division, same expression as q142/oracle); state is
# ≤(k+1)·3 longs per source forever; emission is one row per
# source-batch.
# ---------------------------------------------------------------------------
_Q150_OUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("n_man", LongType()),
        StructField("tau", DoubleType()),
        StructField("b_doc", LongType()),
        StructField("est_fp", LongType()),
    ]
)
_Q150_STATE_SCHEMA = StructType(
    [
        StructField("pri", ArrayType(DoubleType())),
        StructField("doc", ArrayType(LongType())),
        StructField("w", ArrayType(LongType())),
    ]
)


def _psmp_state_group(
    key: tuple, pdfs: "Iterable[pd.DataFrame]", state: "GroupState"
) -> "Iterator[pd.DataFrame]":
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    (source,) = key
    rows = [
        (float(p), int(d), int(w))
        for pdf in pdfs
        for p, d, w in zip(pdf["pri"], pdf["doc_id"], pdf["w"])
    ]
    if state.exists:
        sp, sd, sw = state.get
        rows.extend(zip(sp, sd, sw))
    if not rows:
        return
    # top-(k+1) by (pri DESC, doc_id ASC); dedup exact replays on doc id
    best: dict[int, tuple[float, int, int]] = {}
    for p, d, w in rows:
        best[d] = (p, d, w)
    top = sorted(best.values(), key=lambda r: (-r[0], r[1]))[: _Q142_K + 1]
    state.update(([r[0] for r in top], [r[1] for r in top], [r[2] for r in top]))
    if len(top) > _Q142_K:
        tau, b_doc = top[_Q142_K][0], top[_Q142_K][1]
        tau_fp = int(
            Decimal(tau * 10000.0).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )
    else:
        tau, b_doc, tau_fp = 0.0, 0, 0
    sample = top[: _Q142_K]
    est_fp = sum(max(w * 10000, tau_fp) for _, _, w in sample)
    yield pd.DataFrame(
        {
            "source": [source],
            "n_man": [len(top)],
            "tau": [tau],
            "b_doc": [b_doc],
            "est_fp": [est_fp],
        }
    )


def q150_stream_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .streaming_plans import _drain_to_memory

    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )

    def keyed(df):
        hv = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("psmp:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        u = (hv.cast("double") + F.lit(0.5)) / F.lit(_Q142_U_DEN)
        return df.select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("w"),
            (F.col("n_chars").cast("double") / u).alias("pri"),
        )

    def transform(st):
        return (
            keyed(st)
            .groupBy("source")
            .applyInPandasWithState(
                _psmp_state_group,
                outputStructType=_Q150_OUT_SCHEMA,
                stateStructType=_Q150_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    # state key = source (bounded feed set); 8 partitions per the
    # key-domain bound (r10, see _drain_to_memory)
    drained = _drain_to_memory(docs, transform, "q150_psmp",
                               output_mode="append", state_partitions=8)
    final = (
        drained.groupBy("source")
        .agg(
            F.max(
                F.struct(
                    "n_man", "tau", (-F.col("b_doc")).alias("nbd"), "est_fp"
                )
            ).alias("s")
        )
        .select("source", F.col("s.n_man").alias("n_man"), F.col("s.est_fp").alias("est_fp"))
    )
    truth = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("true_chars"))
    )
    est_raw = F.col("est_fp") / F.lit(10000.0)
    return (
        truth.join(final, "source")
        .select(
            "source",
            F.least(F.col("n_man"), F.lit(_Q142_K)).cast("long").alias("n_sample"),
            F.round(est_raw, 2).alias("est_chars"),
            "true_chars",
            (
                F.round(
                    (est_raw - F.col("true_chars"))
                    / F.col("true_chars")
                    * F.lit(100.0),
                    2,
                )
                + F.lit(0.0)
            ).alias("err_pct"),
        )
        .orderBy("source")
    )


Q150_SQL = f"""
WITH keyed AS (
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
           CAST(n_chars AS DOUBLE) / ((({_Q142_HEX}) + 0.5) / {_Q142_U_DEN!r})
               AS pri
    FROM documents
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY pri DESC, doc_id
    ) AS rn
    FROM keyed
),
top AS (SELECT * FROM ranked WHERE rn <= {_Q142_K + 1}),
agg AS (
    SELECT source, count(*) AS n_man,
           coalesce(max(CASE WHEN rn = {_Q142_K + 1}
                             THEN CAST(round(pri * 10000.0) AS BIGINT) END),
                    0) AS tau_fp
    FROM top GROUP BY source
),
est AS (
    SELECT t.source,
           sum(CASE WHEN t.rn <= {_Q142_K}
                    THEN greatest(t.w * 10000, a.tau_fp) ELSE 0 END) AS est_fp,
           min(a.n_man) AS n_man
    FROM top t JOIN agg a ON a.source = t.source
    GROUP BY t.source
),
truth AS (
    SELECT source, CAST(sum(n_chars) AS BIGINT) AS true_chars
    FROM documents GROUP BY source
)
SELECT tr.source,
       CAST(least(e.n_man, {_Q142_K}) AS BIGINT) AS n_sample,
       round(e.est_fp / 10000.0, 2) AS est_chars,
       tr.true_chars,
       round((e.est_fp / 10000.0 - tr.true_chars)
             / tr.true_chars * 100.0, 2) + 0.0 AS err_pct
FROM truth tr JOIN est e USING (source)
ORDER BY tr.source
"""


# ---------------------------------------------------------------------------
# q152 — Misra–Gries mergeable heavy hitters (Misra & Gries 1982; merge
# rule from Agarwal et al., "Mergeable Summaries", PODS'12): the
# deterministic counter-based complement of the hash-based CMS family
# (q121/q125). Each ingest shard reduces its exact token counts to a
# ≤K-counter summary ORDER-FREE: subtract the (K+1)-th largest per-shard
# count λ_s from every counter and drop non-positives (a valid MG summary
# — the top K+1 counts each absorb ≥ λ_s of the decrement mass, so the
# per-token deficit ≤ λ_s ≤ (n_s − m̂_s)/(K+1)). Merging sums counters by
# token, then applies the same reduction with the (K+1)-th largest merged
# counter λ'. Every value is an exact integer, so the DuckDB oracle
# reproduces the summary counter-for-counter, and the output carries the
# PROVABLE deficit bound Σ_s λ_s + λ' next to the true count — the
# one-sided-error twin of CMS (MG never OVERestimates; CMS never
# underestimates).
#
# Scale shape: per-shard reduction is a groupBy + a window partitioned by
# shard (S shards = the ingest parallelism unit; per-shard state is the
# shard's vocabulary, exactly the map-side-combine working set). The
# merged table is ≤ S·K rows, λ' comes from a TakeOrdered limit (no
# global window), and the final truth join broadcasts the ≤K survivors.
# ---------------------------------------------------------------------------
_Q152_K = 20
_Q152_SHARDS = 8


def q152_misra_gries_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr

    docs = load(spark, sf_dir, "documents")
    k1 = _Q152_K + 1
    cnts = (
        docs.select(
            F.pmod(sample_key_expr("doc_id", salt="mg"), F.lit(_Q152_SHARDS))
            .alias("shard"),
            F.explode(F.split(F.lower("text"), " ")).alias("w"),
        )
        .groupBy("shard", "w")
        .agg(F.count("*").alias("cnt"))
        # Feeds the per-shard reduction AND the exact-truth rollup — pin so
        # the corpus tokenization runs once (q144 pattern).
        .localCheckpoint(eager=False)
    )
    win = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("w"))
    ranked = cnts.withColumn("rn", F.row_number().over(win))
    lam = ranked.filter(F.col("rn") == k1).select(
        "shard", F.col("cnt").alias("lam")
    )
    surv = (
        ranked.join(F.broadcast(lam), "shard", "left")
        .withColumn("est", F.col("cnt") - F.coalesce("lam", F.lit(0)))
        .filter(F.col("est") > 0)
    )
    merged = surv.groupBy("w").agg(F.sum("est").alias("m"))
    lamp = (
        merged.orderBy(F.desc("m"), F.asc("w"))
        .limit(k1)
        .agg(
            F.when(F.count("*") == k1, F.min("m"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lamp")
        )
    )
    lam_sum = lam.agg(
        F.coalesce(F.sum("lam"), F.lit(0)).cast("long").alias("lam_sum")
    )
    truth = cnts.groupBy("w").agg(F.sum("cnt").cast("long").alias("true_count"))
    hitters = (
        merged.crossJoin(F.broadcast(lamp))
        .crossJoin(F.broadcast(lam_sum))
        .withColumn("mg_estimate", (F.col("m") - F.col("lamp")).cast("long"))
        .filter(F.col("mg_estimate") > 0)
        .withColumn("err_bound", (F.col("lam_sum") + F.col("lamp")).cast("long"))
        .select("w", "mg_estimate", "err_bound")
    )
    return (
        truth.join(F.broadcast(hitters), "w")
        .withColumn(
            "within_bound",
            (F.col("mg_estimate") <= F.col("true_count"))
            & (F.col("true_count") - F.col("mg_estimate") <= F.col("err_bound")),
        )
        .select("w", "mg_estimate", "true_count", "err_bound", "within_bound")
        .orderBy(F.desc("mg_estimate"), F.asc("w"))
    )


Q152_SQL = f"""
WITH cnts AS (
    SELECT CAST({_hex2int_sql("md5('mg:' || CAST(doc_id AS VARCHAR))", 1, 8)}
                % {_Q152_SHARDS} AS BIGINT) AS shard,
           w, count(*) AS cnt
    FROM (
        SELECT doc_id, unnest(str_split(lower(text), ' ')) AS w
        FROM documents
    )
    GROUP BY 1, 2
),
ranked AS (
    SELECT shard, w, cnt,
           row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, w) AS rn
    FROM cnts
),
lam AS (SELECT shard, cnt AS lam FROM ranked WHERE rn = {_Q152_K + 1}),
surv AS (
    SELECT r.w, r.cnt - COALESCE(l.lam, 0) AS est
    FROM ranked r LEFT JOIN lam l ON l.shard = r.shard
    WHERE r.cnt - COALESCE(l.lam, 0) > 0
),
merged AS (SELECT w, SUM(est) AS m FROM surv GROUP BY w),
lamp AS (
    SELECT CASE WHEN count(*) = {_Q152_K + 1}
                THEN CAST(MIN(m) AS BIGINT) ELSE 0 END AS lamp
    FROM (SELECT m FROM merged ORDER BY m DESC, w LIMIT {_Q152_K + 1})
),
lam_sum AS (SELECT CAST(COALESCE(SUM(lam), 0) AS BIGINT) AS lam_sum FROM lam),
truth AS (
    SELECT w, CAST(SUM(cnt) AS BIGINT) AS true_count FROM cnts GROUP BY w
),
hitters AS (
    SELECT m.w,
           CAST(m.m - lamp.lamp AS BIGINT) AS mg_estimate,
           CAST(lam_sum.lam_sum + lamp.lamp AS BIGINT) AS err_bound
    FROM merged m CROSS JOIN lamp CROSS JOIN lam_sum
    WHERE m.m - lamp.lamp > 0
)
SELECT t.w, h.mg_estimate, t.true_count, h.err_bound,
       h.mg_estimate <= t.true_count
       AND t.true_count - h.mg_estimate <= h.err_bound AS within_bound
FROM truth t JOIN hitters h ON h.w = t.w
ORDER BY mg_estimate DESC, t.w
"""


# ---------------------------------------------------------------------------
# q156 — Poisson bootstrap confidence intervals (Chamandy et al., "Estimating
# uncertainty for massive data streams", Google TR 2012; the one-pass
# bootstrap that replaces resample-with-replacement at scale): each row
# gets B independent Poisson(1) weights derived by inverse-CDF lookup on
# an md5 uniform, so "B resampled datasets" is a row-local column
# expansion — ONE scan, map-side partial aggs, and a shuffle of
# |groups|·B tiny rows, where a classical bootstrap would re-shuffle the
# corpus B times. The per-resample means are ratios of exact integer
# sums (weights 0..6, int64 n_chars), the CI is the exact-interpolation
# percentile over the B means (q61 machinery), and `covered` reports
# whether the true mean landed inside its own interval — accuracy as
# data, q123-style. CDF thresholds are Python-precomputed doubles
# embedded {t!r} on BOTH engines (SCALE.md float-constant rule).
# ---------------------------------------------------------------------------
_Q156_B = 64
_Q156_CDF: tuple = tuple()


def _q156_cdf() -> tuple:
    global _Q156_CDF
    if not _Q156_CDF:
        import math

        acc, term = 0.0, math.exp(-1.0)
        out = []
        for k in range(7):
            acc += term
            out.append(acc)
            term /= k + 1
        _Q156_CDF = tuple(out)
    return _Q156_CDF


def q156_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("x")
    )
    expl = docs.select(
        "doc_id",
        "source",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(_Q156_B - 1))).alias("b"),
    )
    hex8 = F.substring(
        F.md5(
            F.concat(
                F.lit("boot:"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
        1,
        8,
    )
    u = (F.conv(hex8, 16, 10).cast("long") + F.lit(0.5)) / F.lit(float(2**32))
    w = sum(
        (u >= F.lit(t)).cast("int") for t in _q156_cdf()
    )  # Poisson(1) inverse CDF, truncated at 7 (P[X>7] < 1e-5)
    per = (
        expl.withColumn("w", w)
        .groupBy("source", "b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("sx"),
            F.sum("w").alias("sw"),
        )
    )
    means = per.select(
        "source",
        F.when(F.col("sw") > 0, F.col("sx") / F.col("sw")).alias("m"),
    )
    ci = means.groupBy("source").agg(
        F.round(F.expr("percentile(m, 0.025D)"), 4).alias("boot_lo"),
        F.round(F.expr("percentile(m, 0.975D)"), 4).alias("boot_hi"),
    )
    truth = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("x"), 4).alias("mean_chars"),
    )
    return (
        truth.join(F.broadcast(ci), "source")
        .withColumn(
            "covered",
            (F.col("boot_lo") <= F.col("mean_chars"))
            & (F.col("mean_chars") <= F.col("boot_hi")),
        )
        .orderBy("source")
    )


def _q156_w_sql() -> str:
    return " + ".join(
        f"CASE WHEN u >= CAST({t!r} AS DOUBLE) THEN 1 ELSE 0 END"
        for t in _q156_cdf()
    )


Q156_SQL = f"""
WITH expl AS (
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x,
           unnest(generate_series(0, {_Q156_B - 1})) AS b
    FROM documents
),
uni AS (
    SELECT source, x, b,
           ({_hex2int_sql(
               "md5('boot:' || CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))",
               1, 8)} + 0.5) / CAST({float(2**32)!r} AS DOUBLE) AS u
    FROM expl
),
per AS (
    SELECT source, b,
           SUM(({_q156_w_sql()}) * x) AS sx,
           SUM({_q156_w_sql()}) AS sw
    FROM uni GROUP BY source, b
),
means AS (
    SELECT source, CASE WHEN sw > 0 THEN sx / CAST(sw AS DOUBLE) END AS m
    FROM per
),
ci AS (
    SELECT source,
           round(quantile_cont(m, 0.025), 4) AS boot_lo,
           round(quantile_cont(m, 0.975), 4) AS boot_hi
    FROM means GROUP BY source
),
truth AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(x), 4) AS mean_chars
    FROM (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents)
    GROUP BY source
)
SELECT t.source, t.n_docs, t.mean_chars, c.boot_lo, c.boot_hi,
       c.boot_lo <= t.mean_chars AND t.mean_chars <= c.boot_hi AS covered
FROM truth t JOIN ci c ON c.source = t.source
ORDER BY t.source
"""


# ---------------------------------------------------------------------------
# q164 — GROUPED mergeable quantile digest: per-source p50/p90/p99 of
# the token-count distribution off the q138 fixed-grid synopsis, with
# the exact per-group quantile alongside and the |est − exact| < width
# guarantee emitted as a column. Completes the digest family's three
# deployment modes — global (q138), streaming state (q140), and
# PER-GROUP (this): the shape a 100 TB pipeline actually runs ("p99
# doc length per source, daily") where an exact per-group quantile
# would sort every group. All windows partition by source; the digest
# is domain/width rows per group regardless of group size; rank
# selection and interpolation are the q138 arithmetic applied under a
# group key (same integer rank r = ⌈n·p/100⌉, same within-bucket
# linear interpolation).
# ---------------------------------------------------------------------------
_Q164_W = 16
_Q164_PCTS = (50, 90, 99)


def q164_grouped_quantile_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import grid_digest

    docs = load(spark, sf_dir, "documents")
    vals = docs.select(
        "source", F.size(F.split("text", " ")).cast("long").alias("nt")
    ).localCheckpoint(eager=False)  # feeds digest, totals, exact histogram
    dig = grid_digest(vals, "nt", _Q164_W, group_cols=["source"])
    wcum = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dig.withColumn("cum", F.sum("cnt").over(wcum))
    tgt = (
        vals.groupBy("source")
        .agg(F.count("*").alias("n"))
        .select(
            "source",
            "n",
            F.explode(F.array(*[F.lit(p) for p in _Q164_PCTS])).alias("pct"),
        )
        .withColumn("r", F.expr("(n * pct + 99) div 100"))
    )
    sel = (
        tgt.join(cum, "source")
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("source", "pct", "n", "r")
        .agg(F.min("bucket").alias("bucket"))
    )
    selc = sel.join(cum, ["source", "bucket"])
    est = F.round(
        F.lit(float(_Q164_W))
        * (
            F.col("bucket")
            + (F.col("r") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
        ),
        4,
    )
    hist = vals.groupBy("source", "nt").agg(F.count("*").alias("c1"))
    whist = (
        Window.partitionBy("source")
        .orderBy("nt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hcum = hist.withColumn("cum1", F.sum("c1").over(whist))
    ex = (
        tgt.join(hcum, "source")
        .filter(F.col("cum1") >= F.col("r"))
        .groupBy("source", "pct")
        .agg(F.min("nt").alias("exact"))
    )
    return (
        selc.withColumn("est", est)
        .join(ex, ["source", "pct"])
        .select(
            "source",
            F.col("pct").cast("int").alias("pct"),
            F.col("n").cast("long").alias("n"),
            "est",
            F.col("exact").cast("long").alias("exact"),
            (F.abs(F.col("est") - F.col("exact")) < _Q164_W).alias(
                "within_width"
            ),
        )
        .orderBy("source", "pct")
    )


Q164_SQL = f"""
WITH vals AS (
    SELECT source, CAST(len(str_split(text, ' ')) AS BIGINT) AS nt
    FROM documents
),
grid AS (
    SELECT source, nt // {_Q164_W} AS bucket, count(*) AS cnt
    FROM vals GROUP BY 1, 2
),
cum AS (
    SELECT source, bucket, cnt,
           sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum
    FROM grid
),
tot AS (SELECT source, count(*) AS n FROM vals GROUP BY source),
tgt AS (
    SELECT source, n, pct, (n * pct + 99) // 100 AS r
    FROM tot, unnest([{", ".join(str(p) for p in _Q164_PCTS)}]) AS t(pct)
),
sel AS (
    SELECT t.source, t.pct, t.n, t.r, min(c.bucket) AS bucket
    FROM tgt t JOIN cum c ON c.source = t.source AND c.cum >= t.r
    GROUP BY 1, 2, 3, 4
),
selc AS (
    SELECT s.*, c.cnt, c.cum
    FROM sel s JOIN cum c ON c.source = s.source AND c.bucket = s.bucket
),
hist AS (SELECT source, nt, count(*) AS c1 FROM vals GROUP BY 1, 2),
hcum AS (
    SELECT source, nt,
           sum(c1) OVER (PARTITION BY source ORDER BY nt) AS cum1
    FROM hist
),
ex AS (
    SELECT t.source, t.pct, min(h.nt) AS exact
    FROM tgt t JOIN hcum h ON h.source = t.source AND h.cum1 >= t.r
    GROUP BY 1, 2
)
SELECT s.source,
       CAST(s.pct AS INTEGER) AS pct,
       CAST(s.n AS BIGINT) AS n,
       round(CAST({_Q164_W} AS DOUBLE)
             * (s.bucket + (s.r - (s.cum - s.cnt)) / CAST(s.cnt AS DOUBLE)),
             4) AS est,
       CAST(e.exact AS BIGINT) AS exact,
       abs(round(CAST({_Q164_W} AS DOUBLE)
                 * (s.bucket + (s.r - (s.cum - s.cnt)) / CAST(s.cnt AS DOUBLE)),
                 4) - e.exact) < {_Q164_W} AS within_width
FROM selc s JOIN ex e ON e.source = s.source AND e.pct = s.pct
ORDER BY s.source, s.pct
"""


# ---------------------------------------------------------------------------
# q171 — sketch-driven JOIN-ORDER choice (ext): q147 estimates ONE join's
# size from KMV manifests; this is the decision a cost-based optimizer
# actually makes with that number — given the filtered 3-way chain
# σ(lineitem) ⋈ σ(orders) ⋈ σ(customer), estimate BOTH candidate first
# joins from per-side KMV sketches (distinct-key manifests + row counts;
# uniform-multiplicity join model, q147's algebra with independent salts
# per pair) and pick the smaller estimated intermediate. Output: one row
# per candidate order with the estimate, the TRUE intermediate size, and
# whether the estimate-driven choice matches the truth-optimal order —
# the planner's decision, certified end to end by the oracle running the
# same sketch algebra plus the real joins.
# Shape at scale: everything the estimator touches is O(K) manifests +
# per-side count aggregates (the stats a warehouse keeps per table);
# only the TRUTH columns join the real relations, and those are
# FK-shaped equi-joins. Choice comparisons use the 2dp-rounded
# estimates so both engines compare identical values.
# ---------------------------------------------------------------------------
_Q171_QTY = 30.0
_Q171_PRICE = 150000.0


def q171_join_order_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= _Q171_QTY)
        .select(F.col("l_orderkey").cast("long").alias("k"))
        .localCheckpoint(eager=False)
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > _Q171_PRICE
    ).localCheckpoint(eager=False)
    o_ok = orders.select(F.col("o_orderkey").cast("long").alias("k"))
    o_ck = orders.select(F.col("o_custkey").cast("long").alias("k"))
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0.0)
        .select(F.col("c_custkey").cast("long").alias("k"))
        .localCheckpoint(eager=False)
    )

    def _kmv_join(a, b, salt):
        """1-row frame: (est, truth) for |a ⋈ b on k| — q147's estimator
        with an independent hash salt."""
        hv = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("k").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        da = a.distinct().select("k", hv.alias("hv")).localCheckpoint(eager=False)
        db = b.distinct().select("k", hv.alias("hv")).localCheckpoint(eager=False)
        man_a = da.select("hv").orderBy("hv").limit(_Q147_K).localCheckpoint(eager=False)
        man_b = db.select("hv").orderBy("hv").limit(_Q147_K).localCheckpoint(eager=False)
        sk_a = man_a.agg(F.max("hv").alias("kth_a"), F.count("*").alias("n_man_a"))
        sk_b = man_b.agg(F.max("hv").alias("kth_b"), F.count("*").alias("n_man_b"))
        u = (
            man_a.select("hv", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
            .unionByName(man_b.select("hv", F.lit(0).alias("ia"), F.lit(1).alias("ib")))
            .groupBy("hv")
            .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
        )
        sk = (
            u.orderBy("hv")
            .limit(_Q147_K)
            .agg(
                F.max("hv").alias("kth"),
                F.count("*").alias("n_man"),
                F.sum(F.col("ia") * F.col("ib")).alias("n_both"),
            )
        )
        n_a = a.agg(F.count("*").alias("n_rows_a"))
        n_b = b.agg(F.count("*").alias("n_rows_b"))
        tj = (
            a.groupBy("k")
            .agg(F.count("*").alias("ca"))
            .join(b.groupBy("k").agg(F.count("*").alias("cb")), "k")
            .agg(F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)).alias("truth"))
        )

        def nd(n_man_col, kth_col):
            return F.when(
                F.col(n_man_col) >= F.lit(_Q147_K),
                F.lit(_Q147_NUMER) / F.col(kth_col),
            ).otherwise(F.col(n_man_col).cast("double"))

        est = (
            (F.col("n_both") / F.col("n_man"))
            * nd("n_man", "kth")
            * (F.col("n_rows_a") / nd("n_man_a", "kth_a"))
            * (F.col("n_rows_b") / nd("n_man_b", "kth_b"))
        )
        return (
            sk.crossJoin(sk_a)
            .crossJoin(sk_b)
            .crossJoin(n_a)
            .crossJoin(n_b)
            .crossJoin(tj)
            .select(F.round(est, 2).alias("est"), F.col("truth").cast("long").alias("truth"))
        )

    e1 = _kmv_join(li, o_ok, "jo1:").select(
        F.col("est").alias("e1"), F.col("truth").alias("t1")
    )
    e2 = _kmv_join(o_ck, cust, "jo2:").select(
        F.col("est").alias("e2"), F.col("truth").alias("t2")
    )
    plans = e1.crossJoin(e2).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem_orders_first").alias("plan"),
                    F.col("e1").alias("est_intermediate_rows"),
                    F.col("t1").alias("true_intermediate_rows"),
                    (F.col("e1") <= F.col("e2")).alias("est_chosen"),
                    (F.col("t1") <= F.col("t2")).alias("true_best"),
                ),
                F.struct(
                    F.lit("orders_customer_first").alias("plan"),
                    F.col("e2").alias("est_intermediate_rows"),
                    F.col("t2").alias("true_intermediate_rows"),
                    (F.col("e2") < F.col("e1")).alias("est_chosen"),
                    (F.col("t2") < F.col("t1")).alias("true_best"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    return plans.orderBy("plan")


def _q171_pair_sql(p: str, a_cte: str, b_cte: str, salt: str) -> str:
    hv = _hex2int_sql(f"md5('{salt}' || CAST(k AS VARCHAR))", 1, 15)
    return f"""
{p}da AS (SELECT k, {hv} AS hv FROM (SELECT DISTINCT k FROM {a_cte}) t),
{p}db AS (SELECT k, {hv} AS hv FROM (SELECT DISTINCT k FROM {b_cte}) t),
{p}man_a AS (SELECT hv FROM {p}da ORDER BY hv LIMIT {_Q147_K}),
{p}man_b AS (SELECT hv FROM {p}db ORDER BY hv LIMIT {_Q147_K}),
{p}sk_a AS (SELECT max(hv) AS kth_a, count(*) AS n_man_a FROM {p}man_a),
{p}sk_b AS (SELECT max(hv) AS kth_b, count(*) AS n_man_b FROM {p}man_b),
{p}u AS (
    SELECT hv, max(ia) AS ia, max(ib) AS ib FROM (
        SELECT hv, 1 AS ia, 0 AS ib FROM {p}man_a
        UNION ALL
        SELECT hv, 0, 1 FROM {p}man_b
    ) e GROUP BY hv
),
{p}sk AS (
    SELECT max(hv) AS kth, count(*) AS n_man, sum(ia * ib) AS n_both
    FROM (SELECT * FROM {p}u ORDER BY hv LIMIT {_Q147_K}) t
),
{p}n_a AS (SELECT count(*) AS n_rows_a FROM {a_cte}),
{p}n_b AS (SELECT count(*) AS n_rows_b FROM {b_cte}),
{p}tj AS (
    SELECT coalesce(sum(ca * cb), 0) AS truth
    FROM (SELECT k, count(*) AS ca FROM {a_cte} GROUP BY k) x
    JOIN (SELECT k, count(*) AS cb FROM {b_cte} GROUP BY k) y USING (k)
),
{p}out AS (
    SELECT round(
        (CAST(n_both AS DOUBLE) / n_man)
        * (CASE WHEN n_man >= {_Q147_K} THEN {_Q147_NUMER!r} / kth
                ELSE CAST(n_man AS DOUBLE) END)
        * (n_rows_a / (CASE WHEN n_man_a >= {_Q147_K} THEN {_Q147_NUMER!r} / kth_a
                            ELSE CAST(n_man_a AS DOUBLE) END))
        * (n_rows_b / (CASE WHEN n_man_b >= {_Q147_K} THEN {_Q147_NUMER!r} / kth_b
                            ELSE CAST(n_man_b AS DOUBLE) END)), 2) AS est,
        CAST(truth AS BIGINT) AS truth
    FROM {p}sk, {p}sk_a, {p}sk_b, {p}n_a, {p}n_b, {p}tj
)"""


Q171_SQL = f"""
WITH li AS (
    SELECT CAST(l_orderkey AS BIGINT) AS k FROM lineitem
    WHERE l_quantity >= {_Q171_QTY!r}
),
o_ok AS (
    SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders
    WHERE o_totalprice > {_Q171_PRICE!r}
),
o_ck AS (
    SELECT CAST(o_custkey AS BIGINT) AS k FROM orders
    WHERE o_totalprice > {_Q171_PRICE!r}
),
cust AS (
    SELECT CAST(c_custkey AS BIGINT) AS k FROM customer WHERE c_acctbal > 0.0
),{_q171_pair_sql("p1", "li", "o_ok", "jo1:")},{_q171_pair_sql("p2", "o_ck", "cust", "jo2:")}
SELECT * FROM (
    SELECT 'lineitem_orders_first' AS plan,
           p1out.est AS est_intermediate_rows,
           p1out.truth AS true_intermediate_rows,
           p1out.est <= p2out.est AS est_chosen,
           p1out.truth <= p2out.truth AS true_best
    FROM p1out, p2out
    UNION ALL
    SELECT 'orders_customer_first',
           p2out.est, p2out.truth,
           p2out.est < p1out.est,
           p2out.truth < p1out.truth
    FROM p1out, p2out
)
ORDER BY plan
"""


# ---------------------------------------------------------------------------
# q194 — join-cardinality estimator BAKE-OFF: histogram vs KMV vs truth
# (ext): the two statistics a cost-based optimizer actually keeps, run
# head-to-head on the same filtered fact⋈dim join. (1) EQUI-WIDTH
# HISTOGRAM (System-R lineage): per key bucket, row count + exact
# distinct count per side; the per-bucket contribution n_a·n_b /
# max(d_a, d_b) assumes within-bucket uniformity + containment — the
# textbook estimate. Per-bucket terms are rounded at 6dp and summed in
# DECIMAL(28,6) so the cross-bucket sum is order-independent (q172's
# discipline). (2) KMV (q147's algebra, independent salt): k bottom
# hashes per side, intersection share × estimated distincts ×
# multiplicity corrections. Output: one row per estimator with the
# estimate, the shared exact truth, and the signed relative error —
# the calibration table that decides which statistic a planner trusts
# at which selectivity.
# Scale: the histogram is O(domain/W) rows per side (distincts exact
# per bucket — at 100 TB swap for approx_count_distinct, same shape);
# KMV is O(k) manifests; only the truth columns run the real join.
# ---------------------------------------------------------------------------
_Q194_QTY = 30.0
_Q194_PRICE = 300000.0
_Q194_W = 64  # key-bucket width


def q194_cardinality_bakeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= _Q194_QTY)
        .select(F.col("l_orderkey").cast("long").alias("k"))
        .localCheckpoint(eager=False)
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > _Q194_PRICE)
        .select(F.col("o_orderkey").cast("long").alias("k"))
        .localCheckpoint(eager=False)
    )

    def hist(df):
        return df.groupBy(F.expr(f"k div {_Q194_W}").alias("b")).agg(
            F.count("*").alias("n"), F.countDistinct("k").alias("d")
        )
    ha = hist(li).select("b", F.col("n").alias("na"), F.col("d").alias("da"))
    hb = hist(orders).select("b", F.col("n").alias("nb"), F.col("d").alias("db"))
    est_hist = (
        ha.join(hb, "b")
        .select(
            F.round(
                F.col("na") * F.col("nb")
                / F.greatest(F.col("da"), F.col("db")).cast("double"),
                6,
            )
            .cast("decimal(28,6)")
            .alias("t")
        )
        .agg(F.coalesce(F.sum("t"), F.lit(0)).cast("double").alias("est"))
        .select(F.lit("histogram").alias("estimator"), F.round("est", 2).alias("est"))
    )

    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("bake:"), F.col("k").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    da = li.distinct().select("k", hv.alias("hv")).localCheckpoint(eager=False)
    db = orders.distinct().select("k", hv.alias("hv")).localCheckpoint(eager=False)
    man_a = da.select("hv").orderBy("hv").limit(_Q147_K).localCheckpoint(eager=False)
    man_b = db.select("hv").orderBy("hv").limit(_Q147_K).localCheckpoint(eager=False)
    sk_a = man_a.agg(F.max("hv").alias("kth_a"), F.count("*").alias("n_man_a"))
    sk_b = man_b.agg(F.max("hv").alias("kth_b"), F.count("*").alias("n_man_b"))
    u = (
        man_a.select("hv", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
        .unionByName(man_b.select("hv", F.lit(0).alias("ia"), F.lit(1).alias("ib")))
        .groupBy("hv")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    sk = (
        u.orderBy("hv")
        .limit(_Q147_K)
        .agg(
            F.max("hv").alias("kth"),
            F.count("*").alias("n_man"),
            F.sum(F.col("ia") * F.col("ib")).alias("n_both"),
        )
    )
    n_a = li.agg(F.count("*").alias("n_rows_a"))
    n_b = orders.agg(F.count("*").alias("n_rows_b"))

    def nd(n_man_col, kth_col):
        return F.when(
            F.col(n_man_col) >= F.lit(_Q147_K),
            F.lit(_Q147_NUMER) / F.col(kth_col),
        ).otherwise(F.col(n_man_col).cast("double"))

    kmv_est = (
        (F.col("n_both") / F.col("n_man"))
        * nd("n_man", "kth")
        * (F.col("n_rows_a") / nd("n_man_a", "kth_a"))
        * (F.col("n_rows_b") / nd("n_man_b", "kth_b"))
    )
    est_kmv = (
        sk.crossJoin(F.broadcast(sk_a))
        .crossJoin(F.broadcast(sk_b))
        .crossJoin(F.broadcast(n_a))
        .crossJoin(F.broadcast(n_b))
        .select(
            F.lit("kmv").alias("estimator"), F.round(kmv_est, 2).alias("est")
        )
    )
    truth = (
        li.groupBy("k")
        .agg(F.count("*").alias("ca"))
        .join(orders.groupBy("k").agg(F.count("*").alias("cb")), "k")
        .agg(F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)).alias("truth"))
    )
    return (
        est_hist.unionByName(est_kmv)
        .crossJoin(F.broadcast(truth))
        .select(
            "estimator",
            F.col("est").alias("estimate"),
            F.col("truth").cast("long").alias("true_rows"),
            (
                F.round(
                    (F.col("est") - F.col("truth")) / F.col("truth") * 100, 2
                )
                + F.lit(0.0)
            ).alias("rel_err_pct"),
        )
        .orderBy("estimator")
    )


_Q194_HV = _hex2int_sql("md5('bake:' || CAST(k AS VARCHAR))", 1, 15)

Q194_SQL = f"""
WITH li AS (
    SELECT CAST(l_orderkey AS BIGINT) AS k FROM lineitem
    WHERE l_quantity >= {_Q194_QTY!r}
),
orders_f AS (
    SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders
    WHERE o_totalprice > {_Q194_PRICE!r}
),
ha AS (
    SELECT k // {_Q194_W} AS b, count(*) AS na, count(DISTINCT k) AS da
    FROM li GROUP BY 1
),
hb AS (
    SELECT k // {_Q194_W} AS b, count(*) AS nb, count(DISTINCT k) AS db
    FROM orders_f GROUP BY 1
),
hist AS (
    SELECT 'histogram' AS estimator,
           round(CAST(coalesce(sum(CAST(round(
               na * nb / CAST(greatest(da, db) AS DOUBLE), 6)
               AS DECIMAL(28,6))), 0) AS DOUBLE), 2) AS est
    FROM ha JOIN hb USING (b)
),
da AS (SELECT k, {_Q194_HV} AS hv FROM (SELECT DISTINCT k FROM li) t),
db AS (SELECT k, {_Q194_HV} AS hv FROM (SELECT DISTINCT k FROM orders_f) t),
man_a AS (SELECT hv FROM da ORDER BY hv LIMIT {_Q147_K}),
man_b AS (SELECT hv FROM db ORDER BY hv LIMIT {_Q147_K}),
sk_a AS (SELECT max(hv) AS kth_a, count(*) AS n_man_a FROM man_a),
sk_b AS (SELECT max(hv) AS kth_b, count(*) AS n_man_b FROM man_b),
u AS (
    SELECT hv, max(ia) AS ia, max(ib) AS ib FROM (
        SELECT hv, 1 AS ia, 0 AS ib FROM man_a
        UNION ALL
        SELECT hv, 0, 1 FROM man_b
    ) e GROUP BY hv
),
sk AS (
    SELECT max(hv) AS kth, count(*) AS n_man, sum(ia * ib) AS n_both
    FROM (SELECT * FROM u ORDER BY hv LIMIT {_Q147_K}) t
),
n_a AS (SELECT count(*) AS n_rows_a FROM li),
n_b AS (SELECT count(*) AS n_rows_b FROM orders_f),
kmv AS (
    SELECT 'kmv' AS estimator,
           round(
               (CAST(n_both AS DOUBLE) / n_man)
               * (CASE WHEN n_man >= {_Q147_K} THEN {_Q147_NUMER!r} / kth
                       ELSE CAST(n_man AS DOUBLE) END)
               * (n_rows_a / (CASE WHEN n_man_a >= {_Q147_K}
                                   THEN {_Q147_NUMER!r} / kth_a
                                   ELSE CAST(n_man_a AS DOUBLE) END))
               * (n_rows_b / (CASE WHEN n_man_b >= {_Q147_K}
                                   THEN {_Q147_NUMER!r} / kth_b
                                   ELSE CAST(n_man_b AS DOUBLE) END)), 2)
               AS est
    FROM sk, sk_a, sk_b, n_a, n_b
),
truth AS (
    SELECT coalesce(sum(ca * cb), 0) AS truth
    FROM (SELECT k, count(*) AS ca FROM li GROUP BY k) x
    JOIN (SELECT k, count(*) AS cb FROM orders_f GROUP BY k) y USING (k)
)
SELECT e.estimator,
       e.est AS estimate,
       CAST(t.truth AS BIGINT) AS true_rows,
       round((e.est - t.truth) / CAST(t.truth AS DOUBLE) * 100, 2)
           + 0.0 AS rel_err_pct
FROM (SELECT * FROM hist UNION ALL SELECT * FROM kmv) e
CROSS JOIN truth t
ORDER BY e.estimator
"""


# ---------------------------------------------------------------------------
# q190 — CERTIFIED trending-term detection from sketch bounds (ext):
# the decision layer on top of the heavy-hitter sketches — compare two
# epochs and report ONLY terms whose frequency increase is PROVEN by
# the summaries' one-sided error bounds, never by point estimates:
# MG guarantees est ≤ true ≤ est + λ per epoch, so
#     lower_after = est_a  >  upper_before = coalesce(est_b, 0) + λ_b
# implies true_after > true_before with certainty — a detector with
# ZERO false positives by construction (the `certified` column
# re-checks against the exact counts in-query and must be all-true;
# terms genuinely trending but not provably so are deliberately
# dropped — that asymmetry is the operator's contract, and at 100 TB
# the summaries are the ONLY thing two epochs ever exchange: ≤K
# counters + λ per epoch, not vocabularies).
# Epochs are hash-split 1:3; the synthetic corpus's 31-word vocabulary
# is deliberately near-UNIFORM (nothing truly trends), so — exactly the
# q54 precedent (deterministic augmentation derived identically on both
# sides; the operator logic is what is under test) — after-epoch docs
# append two marker tokens: 'spike' ×4 per doc (count clears the proof
# bar) and 'blip' ×1 (genuinely trending but NOT provable inside the
# bounds — it must be dropped; that asymmetry is the contract). Every
# base word stays uncertifiable. Each epoch reduces ORDER-FREE exactly
# as q152/q174 (subtract the (K+1)-th largest, drop non-positives).
# ---------------------------------------------------------------------------
_Q190_K = 20
_Q190_EPOCH_MOD = 4  # key % 4 == 0 → 'before' (1:3 split)
_Q190_AUG = " spike spike spike spike blip"


def q190_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr

    docs = load(spark, sf_dir, "documents")
    k1 = _Q190_K + 1
    is_before = (
        sample_key_expr("doc_id", salt="trend") % _Q190_EPOCH_MOD == 0
    )
    cnts = (
        docs.select(
            F.when(is_before, F.lit("before"))
            .otherwise(F.lit("after"))
            .alias("epoch"),
            F.explode(
                F.split(
                    F.when(is_before, F.lower("text")).otherwise(
                        F.concat(F.lower("text"), F.lit(_Q190_AUG))
                    ),
                    " ",
                )
            ).alias("w"),
        )
        .groupBy("epoch", "w")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # feeds both summaries AND the truths
    )
    win = Window.partitionBy("epoch").orderBy(F.desc("cnt"), F.asc("w"))
    ranked = cnts.withColumn("rn", F.row_number().over(win))
    lam = ranked.filter(F.col("rn") == k1).select(
        "epoch", F.col("cnt").alias("lam")
    )
    surv = (
        ranked.join(F.broadcast(lam), "epoch", "left")
        .withColumn("est", F.col("cnt") - F.coalesce("lam", F.lit(0)))
        .filter(F.col("est") > 0)
        .select("epoch", "w", "est")
    )
    aft = surv.filter(F.col("epoch") == "after").select(
        "w", F.col("est").alias("est_after")
    )
    bef = surv.filter(F.col("epoch") == "before").select(
        "w", F.col("est").alias("est_before")
    )
    lam_b = lam.filter(F.col("epoch") == "before").select(
        F.col("lam").alias("lam_before")
    )
    lam_a = lam.filter(F.col("epoch") == "after").select(
        F.col("lam").alias("lam_after")
    )
    cand = (
        aft.join(bef, "w", "left")
        .crossJoin(F.broadcast(lam_b))
        .crossJoin(F.broadcast(lam_a))
        .withColumn(
            "upper_before",
            F.coalesce("est_before", F.lit(0)) + F.col("lam_before"),
        )
        .filter(F.col("est_after") > F.col("upper_before"))
    )
    truth = (
        cnts.groupBy("w")
        .pivot("epoch", ["before", "after"])
        .agg(F.sum("cnt"))
        .select(
            "w",
            F.coalesce("before", F.lit(0)).cast("long").alias("true_before"),
            F.coalesce("after", F.lit(0)).cast("long").alias("true_after"),
        )
    )
    return (
        cand.join(truth, "w")
        .select(
            "w",
            F.col("est_after").cast("long").alias("lower_after"),
            F.col("upper_before").cast("long").alias("upper_before"),
            "true_before",
            "true_after",
            (F.col("true_after") > F.col("true_before")).alias("certified"),
        )
        .orderBy(F.desc("lower_after"), "w")
    )


_Q190_KEY = _hex2int_sql("md5('trend:' || CAST(doc_id AS VARCHAR))", 1, 8)
_Q190_EPOCH = (
    f"CASE WHEN ({_Q190_KEY}) % {_Q190_EPOCH_MOD} = 0"
    " THEN 'before' ELSE 'after' END"
)

Q190_SQL = f"""
WITH cnts AS (
    SELECT epoch, w, count(*) AS cnt
    FROM (
        SELECT {_Q190_EPOCH} AS epoch,
               unnest(str_split(
                   CASE WHEN ({_Q190_KEY}) % {_Q190_EPOCH_MOD} = 0
                        THEN lower(text)
                        ELSE lower(text) || '{_Q190_AUG}' END, ' ')) AS w
        FROM documents
    )
    GROUP BY 1, 2
),
ranked AS (
    SELECT epoch, w, cnt,
           row_number() OVER (PARTITION BY epoch ORDER BY cnt DESC, w) AS rn
    FROM cnts
),
lam AS (SELECT epoch, cnt AS lam FROM ranked WHERE rn = {_Q190_K + 1}),
surv AS (
    SELECT r.epoch, r.w, r.cnt - COALESCE(l.lam, 0) AS est
    FROM ranked r LEFT JOIN lam l ON l.epoch = r.epoch
    WHERE r.cnt - COALESCE(l.lam, 0) > 0
),
lam_b AS (SELECT COALESCE(max(lam), 0) AS lam_before FROM lam WHERE epoch = 'before'),
cand AS (
    SELECT a.w, a.est AS est_after,
           COALESCE(b.est, 0) + lb.lam_before AS upper_before
    FROM (SELECT w, est FROM surv WHERE epoch = 'after') a
    LEFT JOIN (SELECT w, est FROM surv WHERE epoch = 'before') b ON b.w = a.w
    CROSS JOIN lam_b lb
    WHERE a.est > COALESCE(b.est, 0) + lb.lam_before
),
truth AS (
    SELECT w,
           CAST(COALESCE(sum(CASE WHEN epoch = 'before' THEN cnt END), 0)
                AS BIGINT) AS true_before,
           CAST(COALESCE(sum(CASE WHEN epoch = 'after' THEN cnt END), 0)
                AS BIGINT) AS true_after
    FROM cnts GROUP BY w
)
SELECT c.w,
       CAST(c.est_after AS BIGINT) AS lower_after,
       CAST(c.upper_before AS BIGINT) AS upper_before,
       t.true_before, t.true_after,
       t.true_after > t.true_before AS certified
FROM cand c JOIN truth t ON t.w = c.w
ORDER BY lower_after DESC, c.w
"""


# ---------------------------------------------------------------------------
# q188 — digest-driven balanced RANGE PARTITIONER (ext): the write-side
# answer to "I need a globally ordered layout" — Spark's
# repartitionByRange samples at runtime; a 100 TB pipeline instead
# derives S−1 boundary values from the MERGEABLE grid digest it already
# maintains (q138), assigns shards ROW-LOCALLY (v compared against the
# broadcast boundary list — zero shuffle for the assignment itself),
# and sorts within shards — total order without a global sort. This
# query certifies the two properties that make that layout usable:
#   * ORDER: shard value ranges are strictly disjoint and ascending
#     (order_ok per shard, proven from per-shard min/max — duplicates
#     of one value can never straddle a boundary because assignment is
#     a pure function of v);
#   * BALANCE: per-shard row share vs the 1/S target (the digest's
#     interpolation error and heavy duplicate values show up HERE, as
#     reported imbalance — not as a correctness failure).
# Scale: digest is domain/W rows; boundaries are S−1 doubles broadcast
# in-plan; the audit aggregates per shard (S rows) + one lag window
# over those S rows.
# ---------------------------------------------------------------------------
_Q188_SHARDS = 8


def q188_range_partitioner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import grid_digest

    W_ = 16
    docs = load(spark, sf_dir, "documents")
    vals = docs.select(F.col("n_chars").cast("long").alias("v")).localCheckpoint(
        eager=False
    )  # feeds digest, total, and the audited assignment
    dig = grid_digest(vals, "v", W_)
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = dig.withColumn("cum", F.sum("cnt").over(wcum)).localCheckpoint(
        eager=False
    )
    tot = vals.agg(F.count("*").cast("long").alias("n_tot"))
    tgt = (
        tot.select(
            "n_tot",
            F.explode(
                F.array(*[F.lit(s) for s in range(1, _Q188_SHARDS)])
            ).alias("s"),
        )
        .withColumn("r", F.expr(f"(n_tot * s + {_Q188_SHARDS} - 1) div {_Q188_SHARDS}"))
    )
    bnd = (
        tgt.join(F.broadcast(cum), F.col("cum") >= F.col("r"))
        .groupBy("s", "r")
        .agg(F.min("bucket").alias("bucket"))
        .join(F.broadcast(cum), "bucket")
        .select(
            "s",
            F.round(
                F.lit(float(W_))
                * (
                    F.col("bucket")
                    + (F.col("r") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
                ),
                4,
            ).alias("b"),
        )
    )
    per_v = vals.groupBy("v").agg(F.count("*").alias("nv"))
    assigned = per_v.crossJoin(F.broadcast(bnd)).groupBy("v", "nv").agg(
        F.sum(F.when(F.col("v") > F.col("b"), 1).otherwise(0))
        .cast("int")
        .alias("shard")
    )
    shards = (
        assigned.groupBy("shard")
        .agg(
            F.sum("nv").cast("long").alias("n_rows"),
            F.min("v").cast("long").alias("min_v"),
            F.max("v").cast("long").alias("max_v"),
        )
    )
    wlag = Window.orderBy("shard")
    return (
        shards.crossJoin(F.broadcast(tot))
        .withColumn(
            "order_ok",
            F.coalesce(
                F.col("min_v") > F.lag("max_v").over(wlag), F.lit(True)
            ),
        )
        .select(
            "shard",
            "n_rows",
            "min_v",
            "max_v",
            "order_ok",
            F.round(
                F.col("n_rows") * _Q188_SHARDS / F.col("n_tot"), 4
            ).alias("balance_x"),
        )
        .orderBy("shard")
    )


Q188_SQL = f"""
WITH vals AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents),
grid AS (SELECT v // 16 AS bucket, count(*) AS cnt FROM vals GROUP BY 1),
cum AS (
    SELECT bucket, cnt, sum(cnt) OVER (ORDER BY bucket) AS cum FROM grid
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM vals),
tgt AS (
    SELECT n_tot, s,
           (n_tot * s + {_Q188_SHARDS} - 1) // {_Q188_SHARDS} AS r
    FROM tot, unnest([{", ".join(str(s) for s in range(1, _Q188_SHARDS))}])
         AS t(s)
),
sel AS (
    SELECT t.s, t.r, min(c.bucket) AS bucket
    FROM tgt t JOIN cum c ON c.cum >= t.r
    GROUP BY 1, 2
),
bnd AS (
    SELECT s.s,
           round(16.0 * (s.bucket + (s.r - (c.cum - c.cnt))
                         / CAST(c.cnt AS DOUBLE)), 4) AS b
    FROM sel s JOIN cum c ON c.bucket = s.bucket
),
assigned AS (
    SELECT v.v, CAST(sum(CASE WHEN v.v > b.b THEN 1 ELSE 0 END) AS INTEGER)
               AS shard
    FROM (SELECT DISTINCT v FROM vals) v CROSS JOIN bnd b
    GROUP BY v.v
),
per_v AS (SELECT v, count(*) AS nv FROM vals GROUP BY v),
shards AS (
    SELECT a.shard,
           CAST(sum(p.nv) AS BIGINT) AS n_rows,
           CAST(min(p.v) AS BIGINT) AS min_v,
           CAST(max(p.v) AS BIGINT) AS max_v
    FROM per_v p JOIN assigned a ON a.v = p.v
    GROUP BY a.shard
)
SELECT shard, n_rows, min_v, max_v,
       coalesce(min_v > lag(max_v) OVER (ORDER BY shard), TRUE) AS order_ok,
       round(n_rows * {_Q188_SHARDS} / CAST(t.n_tot AS DOUBLE), 4)
           AS balance_x
FROM shards CROSS JOIN tot t
ORDER BY shard
"""


# ---------------------------------------------------------------------------
# q181 — WEIGHTED quantile digest (ext): percentiles under a weight
# measure — "the token-count value below which 99% of the corpus BYTES
# sit", the question capacity planning and batch sizing actually ask
# (an unweighted p99 over docs misrepresents a corpus where a few long
# docs carry most of the bytes). Same mergeable equi-width grid as
# q138/q164 with ONE algebraic change: buckets accumulate SUM(weight)
# instead of COUNT, ranks walk the cumulative weight, and interpolation
# divides by the bucket's weight mass. Mergeability is proven BY THE
# QUERY: the Spark side builds per-hash-shard partial digests and merges
# them by bucket-sum (the manifest path a 100 TB pipeline ships), while
# the oracle builds the digest in ONE pass over the whole input —
# parity = merge≡whole. The exact weighted percentile (value histogram
# + cumulative weight) rides alongside with a within-width certificate.
# Scale: digest is domain/W rows regardless of corpus size; the only
# corpus-wide ops are two groupBys (shard partials, value histogram).
# ---------------------------------------------------------------------------
_Q181_W = 16
_Q181_PCTS = (50, 90, 99)
_Q181_SHARDS = 8


def q181_weighted_quantile_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr

    docs = load(spark, sf_dir, "documents")
    vals = docs.select(
        F.size(F.split("text", " ")).cast("long").alias("v"),
        F.col("n_chars").cast("long").alias("w"),
        F.pmod(sample_key_expr("doc_id", salt="wqd"), F.lit(_Q181_SHARDS)).alias(
            "shard"
        ),
    ).localCheckpoint(eager=False)  # feeds partials, totals, exact histogram
    partials = (
        vals.withColumn("bucket", F.expr(f"v div {_Q181_W}"))
        .groupBy("shard", "bucket")
        .agg(F.sum("w").alias("wsum"))
    )
    dig = partials.groupBy("bucket").agg(F.sum("wsum").alias("wsum"))  # merge
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = dig.withColumn("cum", F.sum("wsum").over(wcum))
    tot = vals.agg(F.sum("w").cast("long").alias("tw"))
    tgt = (
        tot.select(
            "tw",
            F.explode(F.array(*[F.lit(p) for p in _Q181_PCTS])).alias("pct"),
        )
        .withColumn("r", F.expr("(tw * pct + 99) div 100"))
    )
    sel = (
        tgt.join(F.broadcast(cum), F.col("cum") >= F.col("r"))
        .groupBy("pct", "tw", "r")
        .agg(F.min("bucket").alias("bucket"))
        .join(F.broadcast(cum), "bucket")
    )
    est = F.round(
        F.lit(float(_Q181_W))
        * (
            F.col("bucket")
            + (F.col("r") - (F.col("cum") - F.col("wsum"))) / F.col("wsum")
        ),
        4,
    )
    hist = vals.groupBy("v").agg(F.sum("w").alias("hw"))
    whist = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    hcum = hist.withColumn("cum1", F.sum("hw").over(whist))
    ex = (
        tgt.join(hcum, F.col("cum1") >= F.col("r"))
        .groupBy("pct")
        .agg(F.min("v").cast("long").alias("exact"))
    )
    return (
        sel.withColumn("est", est)
        .join(ex, ["pct"])
        .select(
            F.col("pct").cast("int").alias("pct"),
            F.col("tw").alias("total_weight"),
            "est",
            "exact",
            (F.abs(F.col("est") - F.col("exact")) < _Q181_W).alias(
                "within_width"
            ),
        )
        .orderBy("pct")
    )


Q181_SQL = f"""
WITH vals AS (
    SELECT CAST(len(str_split(text, ' ')) AS BIGINT) AS v,
           CAST(n_chars AS BIGINT) AS w
    FROM documents
),
grid AS (
    SELECT v // {_Q181_W} AS bucket, sum(w) AS wsum FROM vals GROUP BY 1
),
cum AS (
    SELECT bucket, wsum, sum(wsum) OVER (ORDER BY bucket) AS cum FROM grid
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM vals),
tgt AS (
    SELECT tw, pct, (tw * pct + 99) // 100 AS r
    FROM tot, unnest([{", ".join(str(p) for p in _Q181_PCTS)}]) AS t(pct)
),
sel AS (
    SELECT t.pct, t.tw, t.r, min(c.bucket) AS bucket
    FROM tgt t JOIN cum c ON c.cum >= t.r
    GROUP BY 1, 2, 3
),
selc AS (
    SELECT s.*, c.wsum, c.cum
    FROM sel s JOIN cum c ON c.bucket = s.bucket
),
hist AS (SELECT v, sum(w) AS hw FROM vals GROUP BY v),
hcum AS (SELECT v, sum(hw) OVER (ORDER BY v) AS cum1 FROM hist),
ex AS (
    SELECT t.pct, CAST(min(h.v) AS BIGINT) AS exact
    FROM tgt t JOIN hcum h ON h.cum1 >= t.r
    GROUP BY 1
)
SELECT CAST(s.pct AS INTEGER) AS pct,
       s.tw AS total_weight,
       round(CAST({_Q181_W} AS DOUBLE)
             * (s.bucket + (s.r - (s.cum - s.wsum))
                / CAST(s.wsum AS DOUBLE)), 4) AS est,
       e.exact,
       abs(round(CAST({_Q181_W} AS DOUBLE)
                 * (s.bucket + (s.r - (s.cum - s.wsum))
                    / CAST(s.wsum AS DOUBLE)), 4) - e.exact) < {_Q181_W}
           AS within_width
FROM selc s JOIN ex e ON e.pct = s.pct
ORDER BY pct
"""


# ---------------------------------------------------------------------------
# q178 — trailing-window DISTINCT counting via hourly HLL register
# merge (ext): "unique users in the trailing 24 h, reported hourly" —
# the sliding-window cardinality question every event pipeline asks,
# where exact distinct-per-window costs W× the stream in dedup state.
# The sketch answer: build ONE register table per hour (≤ m rows/hour,
# q122's algebra via operators/sketches helpers), then for each report
# hour merge the trailing W=24 hourly registers by bucket-wise max —
# registers are mergeable, so the merge is a W-way explode + groupBy
# over METADATA-scale rows (hours × m), never the event stream. The
# exact trailing distinct rides alongside for certification (explode
# over events is test-scale only; at 100 TB you'd keep just the sketch
# path — that asymmetry is the point of the operator).
# Oracle independence: associativity — max over per-hour maxes equals
# max over the window's raw (hour, user) pairs, so the oracle builds
# each window's registers in ONE stage from the exploded pairs; the
# Spark side's two-stage merge must land on identical registers.
# Output anchors to data-derived hours only (no wall clock).
# ---------------------------------------------------------------------------
_Q178_W_HOURS = 24


def q178_trailing_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .localCheckpoint(eager=False)  # feeds registers AND the exact twin
    )
    hours = ev.select("h").distinct().localCheckpoint(eager=False)
    regs = hll_registers(ev, "user_id", ["h"])
    span = F.expr(
        f"sequence(h, h + interval {_Q178_W_HOURS - 1} hours, interval 1 hour)"
    )
    merged = (
        regs.withColumn("h2", F.explode(span))
        .join(hours.withColumnRenamed("h", "h2"), "h2")  # report hours only
        .groupBy("h2", "bucket")
        .agg(F.max("r").alias("r"))
    )
    agg = hll_harmonic_agg(merged, ["h2"])
    _raw, corrected = hll_estimate_cols()
    est = agg.select("h2", corrected.alias("_e"))
    n_hours = (
        hours.withColumn("h2", F.explode(span))
        .join(hours.withColumnRenamed("h", "h2"), "h2")
        .groupBy("h2")
        .agg(F.count("*").cast("long").alias("n_hours"))
    )
    exact = (
        ev.withColumn("h2", F.explode(span))
        .join(hours.withColumnRenamed("h", "h2"), "h2")
        .select("h2", "user_id")
        .distinct()
        .groupBy("h2")
        .agg(F.count("*").cast("long").alias("exact_distinct"))
    )
    return (
        exact.join(est, "h2")
        .join(n_hours, "h2")
        .select(
            F.col("h2").alias("window_end_hour"),
            "n_hours",
            "exact_distinct",
            F.round("_e", 2).alias("hll_estimate"),
            (
                F.round(
                    (F.col("_e") - F.col("exact_distinct"))
                    / F.col("exact_distinct")
                    * 100,
                    2,
                )
                + F.lit(0.0)
            ).alias("rel_err_pct"),
        )
        .orderBy("window_end_hour")
    )


Q178_SQL = f"""
WITH ev AS (
    SELECT date_trunc('hour', ts) AS h, user_id FROM events
),
hours AS (SELECT DISTINCT h FROM ev),
pairs0 AS (
    SELECT unnest(generate_series(
               h, h + INTERVAL {_Q178_W_HOURS - 1} HOUR, INTERVAL 1 HOUR
           )) AS h2,
           CAST(user_id AS VARCHAR) AS w
    FROM ev
),
tok AS (
    SELECT p.h2, p.w FROM pairs0 p JOIN hours x ON x.h = p.h2
),
{_hll_regs_ctes('h2')},
{_hll_agg_sql('h2')},
{_hll_est_sql('h2')},
nh0 AS (
    SELECT unnest(generate_series(
               h, h + INTERVAL {_Q178_W_HOURS - 1} HOUR, INTERVAL 1 HOUR
           )) AS h2
    FROM hours
),
nh AS (
    SELECT n.h2, CAST(count(*) AS BIGINT) AS n_hours
    FROM nh0 n JOIN hours x ON x.h = n.h2 GROUP BY n.h2
),
exact AS (
    SELECT h2, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
    FROM tok GROUP BY h2
)
SELECT e.h2 AS window_end_hour,
       nh.n_hours,
       e.exact_distinct,
       round(est.e, 2) AS hll_estimate,
       round((est.e - e.exact_distinct) / e.exact_distinct * 100, 2)
           + 0.0 AS rel_err_pct
FROM exact e
JOIN est ON est.h2 = e.h2
JOIN nh ON nh.h2 = e.h2
ORDER BY window_end_hour
"""


# ---------------------------------------------------------------------------
# q174 — STREAMING Misra–Gries heavy hitters as bounded keyed state
# (ext): completes the sketch-as-stream-state family (HLL q124, KMV
# q135, grid digest q140, priority sample q150) with the deterministic
# counter summary of q152. Per-source state = the ≤K-counter MG summary
# + the cumulative deficit bound Σλ; each micro-batch folds ORDER-FREE:
# exact batch counts merge into the state by token-sum, then the
# (K+1)-th largest merged counter λ is subtracted from everything and
# non-positives drop (Agarwal et al., "Mergeable Summaries", PODS'12 —
# the same reduction q152 applies shard-wise). Every value is an exact
# integer, so given the batch boundaries the state is bit-reproducible;
# the availableNow drain is one batch, which the oracle mirrors as a
# single reduction (multi-batch accumulation + python-twin replay is
# pinned in tests/test_sketches.py).
# Scale: state is ≤K counters + 2 longs per key — CONSTANT in stream
# length; emissions are ≤K rows per key per batch; the truth join is
# test-scale certification only. This is the bounded-state contract
# 100 TB streaming profiling needs: no per-token state, no replay.
# ---------------------------------------------------------------------------
_Q174_K = 10

_Q174_OUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("w", StringType()),
        StructField("est", LongType()),
        StructField("lam_sum", LongType()),
        StructField("n_seen", LongType()),
    ]
)
_Q174_STATE_SCHEMA = StructType(
    [
        StructField("ws", ArrayType(StringType())),
        StructField("cs", ArrayType(LongType())),
        StructField("lam_sum", LongType()),
        StructField("n_seen", LongType()),
    ]
)


def _mg_state_group(key, pdfs, state):
    """Order-free MG merge-reduce for one source's micro-batch."""
    import pandas as pd

    (source,) = key
    counts: dict[str, int] = {}
    n_batch = 0
    for pdf in pdfs:
        for w in pdf["w"]:
            counts[w] = counts.get(w, 0) + 1
            n_batch += 1
    if state.exists:
        ws, cs, lam_sum, n_seen = state.get
        for w, c in zip(ws, cs):
            counts[w] = counts.get(w, 0) + int(c)
    else:
        lam_sum, n_seen = 0, 0
    if not counts:
        return
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    lam = ranked[_Q174_K][1] if len(ranked) > _Q174_K else 0
    surv = [(w, c - lam) for w, c in ranked if c > lam]
    lam_sum = int(lam_sum) + lam
    n_seen = int(n_seen) + n_batch
    state.update(
        ([w for w, _ in surv], [c for _, c in surv], lam_sum, n_seen)
    )
    if surv:
        yield pd.DataFrame(
            {
                "source": [source] * len(surv),
                "w": [w for w, _ in surv],
                "est": [c for _, c in surv],
                "lam_sum": [lam_sum] * len(surv),
                "n_seen": [n_seen] * len(surv),
            }
        )


def q174_stream_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .streaming_plans import _drain_to_memory

    docs = load(spark, sf_dir, "documents").select("source", "text")

    def transform(st):
        return (
            st.select(
                "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
            )
            .groupBy("source")
            .applyInPandasWithState(
                _mg_state_group,
                outputStructType=_Q174_OUT_SCHEMA,
                stateStructType=_Q174_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    # state key = source (bounded feed set); 8 partitions per the
    # key-domain bound (r10, see _drain_to_memory)
    drained = _drain_to_memory(docs, transform, "q174_mg",
                               output_mode="append", state_partitions=8)
    latest = drained.join(
        drained.groupBy("source").agg(F.max("n_seen").alias("n_seen")),
        ["source", "n_seen"],
    )
    truth = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("true_count"))
    )
    return (
        truth.join(latest, ["source", "w"])
        .withColumn(
            "within_bound",
            (F.col("est") <= F.col("true_count"))
            & (F.col("true_count") - F.col("est") <= F.col("lam_sum")),
        )
        .select(
            "source",
            "w",
            F.col("est").cast("long").alias("mg_estimate"),
            "true_count",
            F.col("lam_sum").cast("long").alias("err_bound"),
            "within_bound",
        )
        .orderBy("source", F.desc("mg_estimate"), "w")
    )


Q174_SQL = f"""
WITH tok AS (
    SELECT source, unnest(str_split(lower(text), ' ')) AS w FROM documents
),
cnts AS (SELECT source, w, count(*) AS cnt FROM tok GROUP BY 1, 2),
ranked AS (
    SELECT source, w, cnt,
           row_number() OVER (PARTITION BY source ORDER BY cnt DESC, w) AS rn
    FROM cnts
),
lam AS (
    SELECT source,
           coalesce(max(CASE WHEN rn = {_Q174_K + 1} THEN cnt END), 0) AS lam
    FROM ranked GROUP BY source
),
surv AS (
    SELECT r.source, r.w, r.cnt - l.lam AS est, l.lam
    FROM ranked r JOIN lam l USING (source)
    WHERE r.cnt > l.lam
)
SELECT s.source, s.w,
       CAST(s.est AS BIGINT) AS mg_estimate,
       CAST(c.cnt AS BIGINT) AS true_count,
       CAST(s.lam AS BIGINT) AS err_bound,
       (s.est <= c.cnt AND c.cnt - s.est <= s.lam) AS within_bound
FROM surv s JOIN cnts c ON c.source = s.source AND c.w = s.w
ORDER BY s.source, mg_estimate DESC, s.w
"""


# ---------------------------------------------------------------------------
# q172 — HyperBall neighborhood function (ext): per-node HLL registers
# propagated K rounds over a HIGH-DIAMETER graph (Boldi & Vigna,
# "In-Core Computation of Geometric Centralities with HyperBall", 2013;
# Palmer et al.'s ANF is the exact-bitset ancestor). N(v,t) = |ball of
# radius t around v| is THE graph-profiling primitive at 100 TB —
# effective diameter, average distance, and spid all read off it — and
# exact BFS-per-node is O(n·m), hopeless. HyperBall replaces each
# node's reachability SET with a 256-register HLL: one round is
# regs ∪ (edges ⋈ regs) → groupBy(v,bucket).max(r), i.e. ONE
# hash-partitioned join + ONE groupBy per hop, state ≤ m rows/node
# regardless of ball size, registers mergeable by max (same algebra as
# q122/q124/q126, shared via operators/sketches helpers). The graph is
# q166's adversarial shape on purpose: per-source PATH graphs (diameter
# ~250 at sf0.1) + deterministic md5 skip edges, where ball growth is
# slow and the per-round snapshots actually differ.
# Oracle: recursive-CTE balls within t ≤ K hops, then the IDENTICAL
# register construction (shared _hll_regs_ctes/_hll_agg_sql/
# _hll_est_sql fragments) — the estimates match bit-for-bit because
# both engines compute the same integer registers and the same
# exact-dyadic harmonic sums; per-node estimates are rounded to 4dp and
# summed in DECIMAL(18,4) so the cross-node sum is order-independent.
# Scale: no per-node BFS, no corpus-scale broadcast; K sequential
# rounds of (join + partial-agg groupBy) on (v, bucket) — the exact
# shape HyperBall runs on billion-edge graphs.
# ---------------------------------------------------------------------------
_Q172_K = 4
_Q172_SKIP_MOD = 3


def q172_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    e0 = _chain_edges(docs, "nfskip", _Q172_SKIP_MOD)
    edges = (
        e0.unionByName(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)  # reused K times
    )
    bucket, rho = hll_bucket_rho(F.col("doc_id").cast("string"))
    regs = (
        docs.select(
            F.col("doc_id").alias("v"), bucket.alias("bucket"), rho.alias("_r")
        )
        .groupBy("v", "bucket")
        .agg(F.max("_r").alias("r"))
        .localCheckpoint(eager=False)
    )
    snaps = [regs.withColumn("t", F.lit(0))]
    for t in range(1, _Q172_K + 1):
        prop = (
            edges.alias("e")
            .join(regs.alias("g"), F.col("e.b") == F.col("g.v"))
            .select(
                F.col("e.a").alias("v"),
                F.col("g.bucket").alias("bucket"),
                F.col("g.r").alias("r"),
            )
        )
        regs = (
            regs.unionByName(prop)
            .groupBy("v", "bucket")
            .agg(F.max("r").alias("r"))
            .localCheckpoint(eager=False)  # keeps the plan O(1) deep
        )
        snaps.append(regs.withColumn("t", F.lit(t)))
    allregs = reduce(lambda x, y: x.unionByName(y), snaps)
    pernode = hll_harmonic_agg(allregs, ["t", "v"])
    _raw, corrected = hll_estimate_cols()
    return (
        pernode.select("t", "v", "occupied", corrected.alias("_e"))
        .groupBy("t")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("occupied").cast("long").alias("occupied_total"),
            F.sum(F.round(F.col("_e"), 4).cast("decimal(18,4)"))
            .cast("double")
            .alias("ball_est_sum"),
        )
        .select(F.col("t").cast("int").alias("t"), "n_nodes",
                "occupied_total", "ball_est_sum")
        .orderBy("t")
    )


_Q172_SKIP_KEY = _hex2int_sql("md5('nfskip:' || CAST(doc_id AS VARCHAR))", 1, 8)

Q172_SQL = f"""
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
    WHERE n2 IS NOT NULL AND ({_Q172_SKIP_KEY}) % {_Q172_SKIP_MOD} = 0
),
edges AS (
    SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0
),
reach(v, w, t) AS (
    SELECT doc_id, doc_id, 0 FROM documents
    UNION
    SELECT r.v, e.b, r.t + 1 FROM reach r JOIN edges e ON e.a = r.w
    WHERE r.t < {_Q172_K}
),
ts AS (SELECT unnest([{", ".join(str(t) for t in range(_Q172_K + 1))}]) AS t),
ball AS (
    SELECT DISTINCT r.v, ts.t, r.w FROM reach r JOIN ts ON r.t <= ts.t
),
tok AS (SELECT v, t, CAST(w AS VARCHAR) AS w FROM ball),
{_hll_regs_ctes('v, t')},
{_hll_agg_sql('v, t')},
{_hll_est_sql('v, t')}
SELECT CAST(t AS INTEGER) AS t,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(occupied) AS BIGINT) AS occupied_total,
       CAST(sum(CAST(round(e, 4) AS DECIMAL(18,4))) AS DOUBLE) AS ball_est_sum
FROM est
GROUP BY t
ORDER BY t
"""


# ---------------------------------------------------------------------------
# q225 — capture–recapture cardinality estimate (ext): the ecology
# estimator (Lincoln–Petersen, plus Chapman's small-sample correction)
# as an AQP primitive — two INDEPENDENT md5-keyed word samples play the
# two "captures"; N̂ = n_a·n_b / n_ab needs only the three sample
# cardinalities, never the full distinct count. Deterministic samples
# (q55 machinery under two salts) make the estimate reproducible, and
# the exact vocabulary ships alongside with the relative error — the
# q122-HLL certification discipline applied to a sampling-theory
# estimator (different failure modes: CR is unbiased under
# independence; HLL under hashing uniformity).
# Scale: one token pass; each sample membership is a row-local hash
# test folded into ONE aggregate over the distinct-word rollup.
# ---------------------------------------------------------------------------
_Q225_RATE_NUM, _Q225_RATE_DEN = 3, 10  # each capture samples 30% of words


def q225_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import SAMPLE_KEY_MOD, sample_key_expr

    docs = load(spark, sf_dir, "documents")
    thr = SAMPLE_KEY_MOD * _Q225_RATE_NUM // _Q225_RATE_DEN
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .distinct()
        .select(
            "w",
            (sample_key_expr("w", salt="cra") < thr).alias("in_a"),
            (sample_key_expr("w", salt="crb") < thr).alias("in_b"),
        )
    )
    agg = words.agg(
        F.count("*").cast("long").alias("exact_distinct"),
        F.sum(F.col("in_a").cast("long")).cast("long").alias("n_a"),
        F.sum(F.col("in_b").cast("long")).cast("long").alias("n_b"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("long"))
        .cast("long")
        .alias("n_ab"),
    )
    r2 = lambda c: F.floor(c * 100 + F.lit(0.5)) / F.lit(100.0)
    lp = F.col("n_a").cast("double") * F.col("n_b") / F.col("n_ab")
    chap = (
        (F.col("n_a") + 1).cast("double") * (F.col("n_b") + 1) / (F.col("n_ab") + 1)
        - F.lit(1.0)
    )
    return agg.select(
        "exact_distinct",
        "n_a",
        "n_b",
        "n_ab",
        r2(lp).alias("lp_estimate"),
        r2(chap).alias("chapman_estimate"),
        r2(
            (chap - F.col("exact_distinct"))
            / F.col("exact_distinct")
            * 100
        ).alias("chapman_rel_err_pct"),
    )


def _q225_key(salt: str) -> str:
    return _hex2int_sql(f"md5('{salt}:' || w)", 1, 8)


Q225_SQL = f"""
WITH words AS (
    SELECT w,
           ({_q225_key("cra")}) < {(1 << 32) * _Q225_RATE_NUM // _Q225_RATE_DEN}
               AS in_a,
           ({_q225_key("crb")}) < {(1 << 32) * _Q225_RATE_NUM // _Q225_RATE_DEN}
               AS in_b
    FROM (SELECT DISTINCT unnest(str_split(lower(text), ' ')) AS w
          FROM documents)
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS exact_distinct,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ab
    FROM words
)
SELECT exact_distinct, n_a, n_b, n_ab,
       floor(CAST(n_a AS DOUBLE) * n_b / n_ab * 100 + 0.5) / 100.0
           AS lp_estimate,
       floor(((n_a + 1) * CAST(n_b + 1 AS DOUBLE) / (n_ab + 1) - 1.0) * 100
             + 0.5) / 100.0 AS chapman_estimate,
       floor((((n_a + 1) * CAST(n_b + 1 AS DOUBLE) / (n_ab + 1) - 1.0)
              - exact_distinct) / exact_distinct * 100 * 100 + 0.5) / 100.0
           AS chapman_rel_err_pct
FROM agg
"""


# ---------------------------------------------------------------------------
# q215 — trailing-window heavy hitters via hourly Misra–Gries merges
# (ext): q178's sliding-window trick applied to FREQUENCIES — each hour
# keeps one ≤K-counter MG summary (+ its deficit λ), and every report
# hour merges the 6 summaries in its trailing window with the PODS'12
# order-free reduce (sum per key, subtract the (K+1)-th largest,
# drop ≤0), carrying the one-sided bound est ≤ true ≤ est + Σλ + λ'.
# This is how "who is hot in the last N hours" runs at 100 TB: per-hour
# state is K counters, the trailing merge touches 6·(K+1) summary rows
# per report hour — never the raw stream. Top-3 per hour ships with the
# exact trailing truth and an in-query bound check (the q152/q190
# certification discipline).
# Scale: ONE corpus groupBy to (hour, user) counts; MG reduction is a
# per-hour top-(K+1) rank; the window expansion is a 6-literal explode
# over summary rows (metadata-scale). The exact-truth rollup exists to
# certify and drops at scale.
# ---------------------------------------------------------------------------
_Q215_K = 8
_Q215_WIN = 6   # trailing hours per report hour
_Q215_TOP = 3


def q215_trailing_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k1 = _Q215_K + 1
    hcnt = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("h"),
            F.col("user_id").alias("u"),
        )
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # feeds MG summaries + exact truth
    )
    win = Window.partitionBy("h").orderBy(F.desc("cnt"), F.asc("u"))
    ranked = hcnt.withColumn("rn", F.row_number().over(win))
    lam = ranked.filter(F.col("rn") == k1).select("h", F.col("cnt").alias("lam"))
    surv = (
        ranked.filter(F.col("rn") <= _Q215_K)
        .join(lam, "h", "left")
        .select(
            "h", "u",
            (F.col("cnt") - F.coalesce("lam", F.lit(0))).alias("est"),
        )
        .filter(F.col("est") > 0)
    )
    offs = F.explode(F.array(*[F.lit(o) for o in range(_Q215_WIN)]))
    expand = lambda df: df.select(
        *df.columns, offs.alias("off")
    ).select(
        (F.col("h") + F.expr("make_interval(0, 0, 0, 0, off)")).alias("rh"),
        *[c for c in df.columns if c != "h"],
    )
    merged = (
        expand(surv)
        .groupBy("rh", "u")
        .agg(F.sum("est").alias("m"))
        .localCheckpoint(eager=False)  # feeds λ' rank + final estimates
    )
    wl = Window.partitionBy("rh").orderBy(F.desc("m"), F.asc("u"))
    lamp = (
        merged.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == k1)
        .select("rh", F.col("m").alias("lamp"))
    )
    lamw = expand(lam).groupBy("rh").agg(
        F.sum("lam").cast("long").alias("lam_sum")
    )
    hits = (
        merged.join(lamp, "rh", "left")
        .join(lamw, "rh", "left")
        .select(
            "rh", "u",
            (F.col("m") - F.coalesce("lamp", F.lit(0))).alias("mg_estimate"),
            (
                F.coalesce("lam_sum", F.lit(0)) + F.coalesce("lamp", F.lit(0))
            ).cast("long").alias("err_bound"),
        )
        .filter(F.col("mg_estimate") > 0)
    )
    wt = Window.partitionBy("rh").orderBy(F.desc("mg_estimate"), F.asc("u"))
    top = hits.withColumn("rk", F.row_number().over(wt)).filter(
        F.col("rk") <= _Q215_TOP
    )
    truth = (
        expand(hcnt)
        .groupBy("rh", "u")
        .agg(F.sum("cnt").cast("long").alias("true_count"))
    )
    # report hours limited to those with a full trailing history AND real
    # traffic: report hours materialize from data hours via the shift, so
    # the first WIN-1 hours carry partial windows — keep them (the bound
    # still holds); hours past max(h) (shift artifacts) are dropped.
    mx = hcnt.agg(F.max("h").alias("mxh"))
    return (
        top.join(truth, ["rh", "u"])
        .crossJoin(F.broadcast(mx))
        .filter(F.col("rh") <= F.col("mxh"))
        .select(
            F.col("rh").alias("report_hour"),
            F.col("u").cast("long").alias("user_id"),
            F.col("rk").cast("int").alias("rank"),
            F.col("mg_estimate").cast("long").alias("mg_estimate"),
            "true_count",
            "err_bound",
            (
                (F.col("mg_estimate") <= F.col("true_count"))
                & (
                    F.col("true_count") - F.col("mg_estimate")
                    <= F.col("err_bound")
                )
            ).cast("int").alias("within_bound"),
        )
        .orderBy("report_hour", "rank")
    )


Q215_SQL = f"""
WITH hcnt AS (
    SELECT date_trunc('hour', ts) AS h, user_id AS u, count(*) AS cnt
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT h, u, cnt,
           row_number() OVER (PARTITION BY h ORDER BY cnt DESC, u) AS rn
    FROM hcnt
),
lam AS (SELECT h, cnt AS lam FROM ranked WHERE rn = {_Q215_K + 1}),
surv AS (
    SELECT r.h, r.u, r.cnt - coalesce(l.lam, 0) AS est
    FROM ranked r LEFT JOIN lam l ON l.h = r.h
    WHERE r.rn <= {_Q215_K} AND r.cnt - coalesce(l.lam, 0) > 0
),
offs AS (SELECT unnest(range({_Q215_WIN})) AS off),
merged AS (
    SELECT s.h + to_hours(CAST(o.off AS BIGINT)) AS rh, s.u, sum(s.est) AS m
    FROM surv s CROSS JOIN offs o
    GROUP BY 1, 2
),
lamp AS (
    SELECT rh, m AS lamp FROM (
        SELECT rh, m, u,
               row_number() OVER (PARTITION BY rh ORDER BY m DESC, u) AS rn
        FROM merged
    ) t WHERE rn = {_Q215_K + 1}
),
lamw AS (
    SELECT l.h + to_hours(CAST(o.off AS BIGINT)) AS rh,
           CAST(sum(l.lam) AS BIGINT) AS lam_sum
    FROM lam l CROSS JOIN offs o
    GROUP BY 1
),
hits AS (
    SELECT m.rh, m.u,
           m.m - coalesce(p.lamp, 0) AS mg_estimate,
           CAST(coalesce(w.lam_sum, 0) + coalesce(p.lamp, 0) AS BIGINT)
               AS err_bound
    FROM merged m
    LEFT JOIN lamp p ON p.rh = m.rh
    LEFT JOIN lamw w ON w.rh = m.rh
    WHERE m.m - coalesce(p.lamp, 0) > 0
),
top AS (
    SELECT *, row_number() OVER (PARTITION BY rh
                                 ORDER BY mg_estimate DESC, u) AS rk
    FROM hits
),
truth AS (
    SELECT c.h + to_hours(CAST(o.off AS BIGINT)) AS rh, c.u,
           CAST(sum(c.cnt) AS BIGINT) AS true_count
    FROM hcnt c CROSS JOIN offs o
    GROUP BY 1, 2
),
mx AS (SELECT max(h) AS mxh FROM hcnt)
SELECT t.rh AS report_hour,
       CAST(t.u AS BIGINT) AS user_id,
       CAST(t.rk AS INTEGER) AS rank,
       CAST(t.mg_estimate AS BIGINT) AS mg_estimate,
       tr.true_count,
       t.err_bound,
       CAST(CASE WHEN t.mg_estimate <= tr.true_count
                  AND tr.true_count - t.mg_estimate <= t.err_bound
                 THEN 1 ELSE 0 END AS INTEGER) AS within_bound
FROM top t
JOIN truth tr ON tr.rh = t.rh AND tr.u = t.u
CROSS JOIN mx
WHERE t.rk <= {_Q215_TOP} AND t.rh <= mx.mxh
ORDER BY report_hour, rank
"""


# ---------------------------------------------------------------------------
# q210 — grid-digest width/accuracy bake-off (ext): the q194 calibration
# discipline applied to the quantile digest itself — the SAME value
# stream is digested at four bucket widths in ONE scan (row-local ×4
# explode), p50/p90/p99 read back from each by the exact ceil-rank rule
# (bucket-midpoint estimate), and every estimate ships beside the TRUE
# exact-interpolation percentile with its signed error. This is the
# table that picks a digest width: error is bounded by W/2 by
# construction, and the output shows where the bound is loose. The
# exact column is the certification baseline (q61's proven
# Spark percentile ↔ DuckDB quantile_cont pair) — at 100 TB it drops
# and the digest stands alone.
# Scale: one corpus scan (×|widths| row-local), |widths| value-domain-
# bounded digests, cum windows PARTITIONED by width; the exact
# percentile is the only sort-bearing step and exists to certify.
# ---------------------------------------------------------------------------
_Q210_WIDTHS = (2, 8, 32, 128)
_Q210_PCTS = (50, 90, 99)


def q210_digest_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("value")
    wrows = ev.select(
        "value",
        F.explode(
            F.array(*[F.lit(w) for w in _Q210_WIDTHS])
        ).alias("width"),
    )
    dig = (
        wrows.select(
            "width",
            F.floor(F.col("value") / F.col("width")).cast("long").alias("bucket"),
        )
        .groupBy("width", "bucket")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # feeds cum + totals
    )
    wcum = (
        Window.partitionBy("width")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dig.withColumn("cum", F.sum("c").over(wcum))
    tot = dig.groupBy("width").agg(F.sum("c").alias("n"))
    tgt = (
        tot.select(
            "width",
            "n",
            F.explode(F.array(*[F.lit(p) for p in _Q210_PCTS])).alias("pct"),
        )
        .withColumn("r", F.expr("(n * pct + 99) div 100"))
    )
    est = (
        tgt.join(cum, ["width"])
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("width", "pct", "n")
        .agg(F.min("bucket").alias("b"))
        .withColumn(
            "est_value", (F.col("b") + F.lit(0.5)) * F.col("width")
        )
    )
    exact = ev.agg(
        F.expr(
            "percentile(value, array("
            + ", ".join(str(p / 100.0) for p in _Q210_PCTS)
            + "))"
        ).alias("ex")
    ).select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(p) for p in _Q210_PCTS]).alias("pct"),
                F.col("ex").alias("exact_value"),
            )
        ).alias("z")
    ).select(F.col("z.pct").alias("pct"), F.col("z.exact_value").alias("exv"))
    return (
        est.join(F.broadcast(exact), "pct")
        .select(
            F.col("width").cast("int").alias("width"),
            F.col("pct").cast("int").alias("pct"),
            F.col("n").cast("long").alias("n"),
            F.round("est_value", 4).alias("est_value"),
            F.round("exv", 4).alias("exact_value"),
            (F.round(F.col("est_value") - F.col("exv"), 4) + F.lit(0.0)).alias("signed_err"),
        )
        .orderBy("width", "pct")
    )


Q210_SQL = f"""
WITH wrows AS (
    SELECT e.value, w.width
    FROM events e, unnest([{", ".join(str(w) for w in _Q210_WIDTHS)}])
         AS w(width)
),
dig AS (
    SELECT width, CAST(floor(value / width) AS BIGINT) AS bucket,
           count(*) AS c
    FROM wrows GROUP BY 1, 2
),
cum AS (
    SELECT width, bucket, c,
           sum(c) OVER (PARTITION BY width ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cum
    FROM dig
),
tot AS (SELECT width, sum(c) AS n FROM dig GROUP BY 1),
tgt AS (
    SELECT t.width, t.n, p.pct, (t.n * p.pct + 99) // 100 AS r
    FROM tot t, unnest([{", ".join(str(p) for p in _Q210_PCTS)}]) AS p(pct)
),
est AS (
    SELECT t.width, t.pct, t.n, min(c.bucket) AS b
    FROM tgt t JOIN cum c ON c.width = t.width AND c.cum >= t.r
    GROUP BY 1, 2, 3
),
exact AS (
    {" UNION ALL ".join(
        f"SELECT {p} AS pct, quantile_cont(value, {p / 100.0}) AS exv FROM events"
        for p in _Q210_PCTS
    )}
)
SELECT CAST(e.width AS INTEGER) AS width,
       CAST(e.pct AS INTEGER) AS pct,
       CAST(e.n AS BIGINT) AS n,
       round((e.b + 0.5) * e.width, 4) AS est_value,
       round(x.exv, 4) AS exact_value,
       round((e.b + 0.5) * e.width - x.exv, 4) + 0.0 AS signed_err
FROM est e JOIN exact x ON x.pct = e.pct
ORDER BY width, pct
"""


# ---------------------------------------------------------------------------
# q207 — RETRACTABLE grid digest: incremental maintenance under deletes
# (ext): q138 proves digests merge under INSERTS (counts add); real
# pipelines also delete (GDPR erasure, late retractions, compaction).
# Because the grid digest is a linear sketch, a delete feed maintains
# it by merging NEGATED bucket counts, then compacting zero buckets —
# no rebuild, no re-scan of the surviving corpus. The query runs BOTH
# paths over the same simulated retraction feed (md5-keyed 25% of
# events — deterministic, not sampled) and ships them side by side:
# cnt_maintained ≡ cnt_rebuilt on every bucket is the IVM correctness
# proof AS DATA (the q160 delta-join discipline applied to sketches),
# capped with a p50/p90 readout from the maintained digest to show the
# retracted sketch still answers quantile queries.
# Scale: base and delete digests are each ONE map-side-combinable
# groupBy; the merge and compaction touch only bucket-domain rows. The
# rebuild path exists to certify the algebra — at 100 TB it is the
# thing you no longer have to run.
# ---------------------------------------------------------------------------
_Q207_W = 8.0   # bucket width over events.value
_Q207_MOD = 4   # 1/4 of events are retracted


def q207_retractable_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") / F.lit(_Q207_W)).cast("long").alias("bucket"),
        (F.pmod(sample_key_expr("event_id", salt="del"), F.lit(_Q207_MOD)) == 0)
        .alias("is_del"),
    ).localCheckpoint(eager=False)  # feeds base, delete, and rebuild scans
    base = ev.groupBy("bucket").agg(F.count("*").alias("cnt"))
    dels = (
        ev.filter("is_del")
        .groupBy("bucket")
        .agg((-F.count("*")).alias("cnt"))
    )
    maintained = (
        base.unionByName(dels)
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt_maintained"))
        .filter(F.col("cnt_maintained") != 0)  # retraction compaction
    )
    rebuilt = (
        ev.filter(~F.col("is_del"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("cnt_rebuilt"))
    )
    side = maintained.join(rebuilt, "bucket", "full").select(
        "bucket",
        F.coalesce("cnt_maintained", F.lit(0)).alias("cnt_maintained"),
        F.coalesce("cnt_rebuilt", F.lit(0)).alias("cnt_rebuilt"),
    ).localCheckpoint(eager=False)  # feeds rows + quantile readout
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = side.withColumn("cum", F.sum("cnt_maintained").over(wcum))
    tot = side.agg(F.sum("cnt_maintained").alias("n_kept"))
    qtl = (
        tot.select(
            "n_kept",
            F.explode(F.array(F.lit(50), F.lit(90))).alias("pct"),
        )
        .withColumn("r", F.expr("(n_kept * pct + 99) div 100"))
        .join(cum, F.col("cum") >= F.col("r"))
        .groupBy("pct")
        .agg(F.min("bucket").alias("qb"))
    )
    qrow = qtl.groupBy().pivot("pct", [50, 90]).agg(F.min("qb")).select(
        F.col("50").alias("p50_bucket"), F.col("90").alias("p90_bucket")
    )
    return (
        side.crossJoin(F.broadcast(qrow))
        .select(
            "bucket",
            "cnt_maintained",
            "cnt_rebuilt",
            (F.col("cnt_maintained") == F.col("cnt_rebuilt"))
            .cast("int")
            .alias("match"),
            F.col("p50_bucket").cast("long").alias("p50_bucket"),
            F.col("p90_bucket").cast("long").alias("p90_bucket"),
        )
        .orderBy("bucket")
    )


Q207_SQL = f"""
WITH ev AS (
    SELECT event_id,
           CAST(floor(value / {_Q207_W}) AS BIGINT) AS bucket,
           ({_hex2int_sql("md5('del:' || CAST(event_id AS VARCHAR))", 1, 8)})
               % {_Q207_MOD} = 0 AS is_del
    FROM events
),
base AS (SELECT bucket, count(*) AS cnt FROM ev GROUP BY 1),
dels AS (SELECT bucket, -count(*) AS cnt FROM ev WHERE is_del GROUP BY 1),
maintained AS (
    SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt_maintained
    FROM (SELECT * FROM base UNION ALL SELECT * FROM dels) u
    GROUP BY 1
    HAVING sum(cnt) <> 0
),
rebuilt AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_rebuilt
    FROM ev WHERE NOT is_del GROUP BY 1
),
side AS (
    SELECT coalesce(m.bucket, r.bucket) AS bucket,
           coalesce(m.cnt_maintained, 0) AS cnt_maintained,
           coalesce(r.cnt_rebuilt, 0) AS cnt_rebuilt
    FROM maintained m FULL JOIN rebuilt r ON r.bucket = m.bucket
),
cum AS (
    SELECT bucket,
           sum(cnt_maintained) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
               AS cum
    FROM side
),
tot AS (SELECT sum(cnt_maintained) AS n_kept FROM side),
qtl AS (
    SELECT t.pct, min(c.bucket) AS qb
    FROM (SELECT n_kept, p.pct, (n_kept * p.pct + 99) // 100 AS r
          FROM tot, unnest([50, 90]) AS p(pct)) t
    JOIN cum c ON c.cum >= t.r
    GROUP BY t.pct
),
qrow AS (
    SELECT max(CASE WHEN pct = 50 THEN qb END) AS p50_bucket,
           max(CASE WHEN pct = 90 THEN qb END) AS p90_bucket
    FROM qtl
)
SELECT s.bucket, s.cnt_maintained, s.cnt_rebuilt,
       CAST(CASE WHEN s.cnt_maintained = s.cnt_rebuilt THEN 1 ELSE 0 END
            AS INTEGER) AS match,
       CAST(q.p50_bucket AS BIGINT) AS p50_bucket,
       CAST(q.p90_bucket AS BIGINT) AS p90_bucket
FROM side s CROSS JOIN qrow q
ORDER BY s.bucket
"""


# ---------------------------------------------------------------------------
# q205 — three-way HLL Venn decomposition (ext): dataset-lineage at the
# region grain — q126 estimates pairwise overlap; a 3-source ingest
# needs all SEVEN exclusive Venn regions ("how much is ONLY in A",
# "shared by exactly A and B", …) to decide what a new source actually
# adds. Registers for the top-3 sources (by doc count, name tie-break)
# merge bucket-wise-MAX into the 7 subset unions; every region then
# falls out by inclusion–exclusion over the union estimates (e.g.
# only-A = E(A∪B∪C) − E(B∪C)) — the sketch-algebra trick that needs NO
# re-scan per region. The exact region counts (one 3-source membership-
# bitmask rollup) ship alongside, so the estimate error is a verified
# column; estimate differences may legitimately go negative at sketch
# precision — that is the readout, not a bug.
# Scale: ONE token pass builds ≤ 3·m register rows; the 7 unions, the
# harmonic sums and the region algebra are all register-table-sized.
# The exact audit is the only corpus-distinct rollup and exists to
# certify the sketch — at 100 TB it drops and the algebra stands alone.
# ---------------------------------------------------------------------------
_Q205_SUBSETS = {1: "A", 2: "B", 3: "AB", 4: "C", 5: "AC", 6: "BC", 7: "ABC"}
_Q205_REGIONS: dict[str, dict[int, int]] = {
    # region → {subset-union id: coefficient}; ids are letter bitmasks
    "A": {7: 1, 6: -1},
    "B": {7: 1, 5: -1},
    "C": {7: 1, 3: -1},
    "AB": {5: 1, 6: 1, 7: -1, 4: -1},
    "AC": {3: 1, 6: 1, 7: -1, 2: -1},
    "BC": {3: 1, 5: 1, 7: -1, 1: -1},
    "ABC": {1: 1, 2: 1, 4: 1, 3: -1, 5: -1, 6: -1, 7: 1},
}


def q205_hll_venn3(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cnts = docs.groupBy("source").agg(F.count("*").alias("nd"))
    other = cnts.select(F.col("source").alias("s2"), F.col("nd").alias("nd2"))
    letters = (
        cnts.crossJoin(other)
        .groupBy("source", "nd")
        .agg(
            (
                F.sum(
                    F.when(
                        (F.col("nd2") > F.col("nd"))
                        | ((F.col("nd2") == F.col("nd")) & (F.col("s2") < F.col("source"))),
                        1,
                    ).otherwise(0)
                )
                + 1
            ).alias("rk")
        )
        .filter(F.col("rk") <= 3)
        .select(
            "source",
            F.when(F.col("rk") == 1, "A")
            .when(F.col("rk") == 2, "B")
            .otherwise("C")
            .alias("L"),
            F.expr("shiftleft(1, CAST(rk - 1 AS INT))").alias("bit"),
        )
    )
    tok = (
        docs.join(letters, "source")
        .select("L", "bit", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .localCheckpoint(eager=False)  # feeds registers + exact audit
    )
    regs = hll_registers(tok, "w", ["L"])
    sub_letters = F.explode(
        F.array(
            *[
                F.struct(F.lit(sid).alias("sid"), F.lit(letter).alias("L"))
                for sid, name in _Q205_SUBSETS.items()
                for letter in name
            ]
        )
    ).alias("sl")
    expand = (
        spark.range(1)
        .select(sub_letters)
        .select("sl.sid", "sl.L")
        .join(regs, "L")
    )
    uregs = expand.groupBy("sid", "bucket").agg(F.max("r").alias("r"))
    merged = hll_harmonic_agg(uregs, ["sid"])
    _, corrected = hll_estimate_cols()
    esub = merged.select("sid", corrected.alias("est"))
    wide = esub.agg(
        *[
            F.max(F.when(F.col("sid") == sid, F.col("est"))).alias(f"e{sid}")
            for sid in _Q205_SUBSETS
        ]
    )
    region_structs = [
        F.struct(
            F.lit(name).alias("region"),
            F.lit(
                sum(1 << (ord(ch) - ord("A")) for ch in name)
            ).alias("mask"),
            sum(
                (F.col(f"e{sid}") * F.lit(float(coef)))
                for sid, coef in coefs.items()
            ).alias("est"),
        )
        for name, coefs in _Q205_REGIONS.items()
    ]
    ests = wide.select(
        F.explode(F.array(*region_structs)).alias("r")
    ).select("r.region", "r.mask", "r.est")
    exact = (
        tok.select("w", "bit")
        .distinct()
        .groupBy("w")
        .agg(F.sum("bit").alias("mask"))
        .groupBy("mask")
        .agg(F.count("*").cast("long").alias("exact_words"))
    )
    return (
        ests.join(exact, "mask", "left")
        .fillna(0, subset=["exact_words"])
        .select(
            "region",
            F.col("mask").cast("int").alias("mask"),
            F.round("est", 2).alias("est_words"),
            "exact_words",
        )
        .orderBy("mask")
    )


def _q205_region_select() -> str:
    rows = []
    for name, coefs in _Q205_REGIONS.items():
        mask = sum(1 << (ord(ch) - ord("A")) for ch in name)
        expr = " + ".join(
            f"({coef}) * e{sid}" for sid, coef in coefs.items()
        )
        rows.append(f"SELECT '{name}' AS region, {mask} AS mask, {expr} AS est FROM wide")
    return "\nUNION ALL\n".join(rows)


Q205_SQL = f"""
WITH cnts AS (SELECT source, count(*) AS nd FROM documents GROUP BY 1),
letters AS (
    SELECT source,
           CASE rk WHEN 1 THEN 'A' WHEN 2 THEN 'B' ELSE 'C' END AS L,
           (1 << CAST(rk - 1 AS INTEGER)) AS bit
    FROM (
        SELECT a.source,
               1 + (SELECT count(*) FROM cnts b
                    WHERE b.nd > a.nd
                       OR (b.nd = a.nd AND b.source < a.source)) AS rk
        FROM cnts a
    ) t WHERE rk <= 3
),
tok AS (
    SELECT l.L, l.bit, unnest(str_split(lower(d.text), ' ')) AS w
    FROM documents d JOIN letters l ON l.source = d.source
),
{_hll_regs_ctes('L')},
subs AS (
    SELECT * FROM (VALUES {", ".join(
        f"({sid}, '{letter}')"
        for sid, name in _Q205_SUBSETS.items() for letter in name
    )}) AS v(sid, L)
),
uregs AS (
    SELECT s.sid, r.bucket, max(r.r) AS r
    FROM subs s JOIN regs r ON r.L = s.L
    GROUP BY 1, 2
),
{_hll_agg_sql('sid', src='uregs')},
{_hll_est_sql('sid')},
wide AS (
    SELECT {", ".join(
        f"max(CASE WHEN sid = {sid} THEN e END) AS e{sid}"
        for sid in _Q205_SUBSETS
    )}
    FROM est
),
ests AS (
{_q205_region_select()}
),
exact AS (
    SELECT mask, CAST(count(*) AS BIGINT) AS exact_words FROM (
        SELECT w, sum(bit) AS mask FROM (SELECT DISTINCT L, bit, w FROM tok) t
        GROUP BY w
    ) g GROUP BY mask
)
SELECT e.region,
       CAST(e.mask AS INTEGER) AS mask,
       round(e.est, 2) AS est_words,
       coalesce(x.exact_words, 0) AS exact_words
FROM ests e LEFT JOIN exact x ON x.mask = e.mask
ORDER BY mask
"""


# ---------------------------------------------------------------------------
# q249 — V-optimal histogram construction (ext): the SUMMARY the
# equi-depth (q88) and fixed-grid (q138) families approximate around —
# the B-bucket partition of the value axis minimizing total
# within-bucket SSE (Jagadish et al., VLDB 1998), the textbook
# query-optimizer histogram. Exact dynamic program, distributed:
# the corpus collapses to a value-DOMAIN-bounded cell rollup (≤
# range/W rows), prefix sums give every segment's (n, Σx, Σx²) by
# subtraction, and each DP level dp_k(i) = min_j dp_{k-1}(j−1) +
# SSE(j..i) is ONE bounded join + one argmin — B−1 unrolled levels,
# never a sequential driver loop. SSE terms are doubles from EXACT
# integer sums (Σx² accumulates in DECIMAL(38)/HUGEINT); min/argmin
# are selections with a (cost, split) tiebreak, so both engines pick
# identical partitions. Backtracking chains B 1-row joins.
# ---------------------------------------------------------------------------
_Q249_CELL_W = 12.0  # pre-cell width over events.value
_Q249_B = 4          # histogram buckets


def q249_voptimal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.floor(F.col("value") / F.lit(_Q249_CELL_W)).cast("long").alias("c"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
        )
        .groupBy("c")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        )
    )
    # prefix over the DOMAIN-bounded cell rollup (≤ value_range/W rows;
    # pinned in tests/test_plan_budget.py)
    wcum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    pre = cells.select(
        "c",
        "n",
        "sx",
        "sxx",
        F.sum(F.lit(1)).over(wcum).alias("r"),
        F.sum("n").over(wcum).alias("cn"),
        F.sum("sx").over(wcum).alias("csx"),
        F.sum("sxx").over(wcum).alias("csxx"),
    ).localCheckpoint(eager=False)  # i-side, j-side, cell lookups
    jside = pre.select(
        F.col("r").alias("jr"),
        (F.col("cn") - F.col("n")).alias("xn"),
        (F.col("csx") - F.col("sx")).alias("xsx"),
        (F.col("csxx") - F.col("sxx")).alias("xsxx"),
    )
    iside = pre.select(
        F.col("r").alias("ir"),
        F.col("cn").alias("inn"),
        F.col("csx").alias("isx"),
        F.col("csxx").alias("isxx"),
    )
    segs = (
        iside.join(jside, F.col("jr") <= F.col("ir"))
        .select(
            "jr",
            "ir",
            (F.col("inn") - F.col("xn")).alias("sn"),
            (F.col("isx") - F.col("xsx")).alias("ssx"),
            (F.col("isxx") - F.col("xsxx")).alias("ssxx"),
        )
        .withColumn(
            "sse",
            F.col("ssxx").cast("double")
            - F.col("ssx").cast("double")
            * F.col("ssx").cast("double")
            / F.col("sn").cast("double"),
        )
        .localCheckpoint(eager=False)  # B-1 DP levels + the stats join
    )
    dp = segs.filter(F.col("jr") == 1).select(
        "ir", F.col("sse").alias("cost"), F.lit(1).cast("long").alias("jr_split")
    )
    levels = {1: dp}
    for k in range(2, _Q249_B + 1):
        cand = segs.join(
            dp.select((F.col("ir") + 1).alias("jr"), F.col("cost").alias("pc")),
            "jr",
        )
        dp = (
            cand.select("ir", "jr", (F.col("pc") + F.col("sse")).alias("cost"))
            .groupBy("ir")
            .agg(F.min(F.struct(F.col("cost"), F.col("jr"))).alias("b"))
            .select(
                "ir",
                F.col("b.cost").alias("cost"),
                F.col("b.jr").alias("jr_split"),
            )
            .localCheckpoint(eager=False)  # next level + backtrack
        )
        levels[k] = dp
    rmax = pre.agg(F.max("r").alias("hi"))
    picks = []
    cur_hi = rmax
    for k in range(_Q249_B, 0, -1):
        pk = levels[k].join(cur_hi, F.col("ir") == F.col("hi")).select(
            F.lit(k).alias("bucket"),
            F.col("jr_split").alias("lo"),
            F.col("hi"),
            F.col("cost"),
        )
        picks.append(pk.select("bucket", "lo", "hi"))
        if k == _Q249_B:
            total = pk.select(F.col("cost").alias("total_sse"))
        cur_hi = pk.select((F.col("lo") - 1).alias("hi"))
    bounds = picks[0]
    for p in picks[1:]:
        bounds = bounds.union(p)
    r2 = lambda col: F.floor(col * 100 + F.lit(0.5)) / F.lit(100.0)
    lo_c = pre.select(F.col("r").alias("lo"), F.col("c").alias("lo_cell"))
    hi_c = pre.select(F.col("r").alias("hi"), F.col("c").alias("hi_cell"))
    return (
        bounds.join(segs, (F.col("jr") == F.col("lo")) & (F.col("ir") == F.col("hi")))
        .join(lo_c, "lo")
        .join(hi_c, "hi")
        .crossJoin(total)
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "lo_cell",
            "hi_cell",
            F.col("sn").cast("long").alias("n"),
            r2(F.col("sse")).alias("sse"),
            r2(F.col("total_sse")).alias("total_sse"),
        )
        .orderBy("bucket")
    )


def _q249_sql() -> str:
    dps = [
        "dp1 AS (SELECT ir, sse AS cost, CAST(1 AS BIGINT) AS jr_split"
        " FROM segs WHERE jr = 1)"
    ]
    for k in range(2, _Q249_B + 1):
        dps.append(
            f"""dp{k} AS (
    SELECT ir, cost, jr AS jr_split FROM (
        SELECT s.ir, d.cost + s.sse AS cost, s.jr,
               row_number() OVER (PARTITION BY s.ir
                                  ORDER BY d.cost + s.sse, s.jr) AS rn
        FROM segs s JOIN dp{k - 1} d ON d.ir = s.jr - 1
    ) t WHERE rn = 1
)"""
        )
    picks = [
        f"p{_Q249_B} AS (SELECT {_Q249_B} AS bucket, d.jr_split AS lo,"
        f" r.hi, d.cost FROM dp{_Q249_B} d"
        " JOIN rmax r ON d.ir = r.hi)"
    ]
    for k in range(_Q249_B - 1, 0, -1):
        picks.append(
            f"p{k} AS (SELECT {k} AS bucket, d.jr_split AS lo,"
            f" p{k + 1}.lo - 1 AS hi, d.cost FROM dp{k} d"
            f" JOIN p{k + 1} ON d.ir = p{k + 1}.lo - 1)"
        )
    union = "\n    UNION ALL\n    ".join(
        f"SELECT bucket, lo, hi FROM p{k}" for k in range(1, _Q249_B + 1)
    )
    return f"""
WITH cells AS (
    SELECT CAST(floor(value / {_Q249_CELL_W}) AS BIGINT) AS c,
           count(*) AS n,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sx,
           sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)
               * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sxx
    FROM events GROUP BY 1
),
pre AS (
    SELECT c, n, sx, sxx,
           row_number() OVER (ORDER BY c) AS r,
           sum(n) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cn,
           sum(sx) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS csx,
           sum(sxx) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS csxx
    FROM cells
),
segs AS (
    SELECT j.r AS jr, i.r AS ir,
           i.cn - (j.cn - j.n) AS sn,
           i.csx - (j.csx - j.sx) AS ssx,
           i.csxx - (j.csxx - j.sxx) AS ssxx,
           CAST(i.csxx - (j.csxx - j.sxx) AS DOUBLE)
           - CAST(i.csx - (j.csx - j.sx) AS DOUBLE)
             * CAST(i.csx - (j.csx - j.sx) AS DOUBLE)
             / CAST(i.cn - (j.cn - j.n) AS DOUBLE) AS sse
    FROM pre i JOIN pre j ON j.r <= i.r
),
{",".join(dps)},
rmax AS (SELECT max(r) AS hi FROM pre),
{",".join(picks)},
bounds AS (
    {union}
)
SELECT CAST(b.bucket AS INTEGER) AS bucket,
       lc.c AS lo_cell,
       hc.c AS hi_cell,
       CAST(s.sn AS BIGINT) AS n,
       floor(s.sse * 100 + 0.5) / 100.0 AS sse,
       floor(p{_Q249_B}.cost * 100 + 0.5) / 100.0 AS total_sse
FROM bounds b
JOIN segs s ON s.jr = b.lo AND s.ir = b.hi
JOIN pre lc ON lc.r = b.lo
JOIN pre hc ON hc.r = b.hi
CROSS JOIN p{_Q249_B}
ORDER BY bucket
"""


Q249_SQL = _q249_sql()


QUERIES = [
    Query("q249_voptimal_histogram", q249_voptimal_histogram, Q249_SQL,
          survey="ext:voptimal-histogram,ext:equidepth-histogram,"
                 "ext:quantile-digest,ext:data-skipping",
          tags=("bench",)),
    Query("q205_hll_venn3", q205_hll_venn3, Q205_SQL,
          survey="ext:hll-cardinality,ext:dataset-lineage,ext:venn-regions",
          tags=("bench",)),
    Query("q225_capture_recapture", q225_capture_recapture, Q225_SQL,
          survey="ext:capture-recapture,ext:hll-cardinality,ext:hash-sampling"),
    Query("q215_trailing_heavy_hitters", q215_trailing_heavy_hitters, Q215_SQL,
          survey="ext:heavy-hitters,ext:sliding-window-distinct,"
                 "ext:trend-detection,ST4",
          tags=("bench",)),
    Query("q210_digest_accuracy", q210_digest_accuracy, Q210_SQL,
          survey="ext:quantile-digest,ext:aqp-quantiles,ext:percentiles,"
                 "ext:equidepth-histogram",
          tags=("bench",)),
    Query("q207_retractable_digest", q207_retractable_digest, Q207_SQL,
          survey="ext:quantile-digest,ext:incremental-view-maintenance,"
                 "ext:incremental-stats,ext:hash-sampling",
          tags=("bench",)),
    Query("q121_countmin_heavy", q121_countmin_heavy, Q121_SQL,
          survey="ext:countmin-sketch,A11", tags=("bench",)),
    Query("q122_hll_vocab", q122_hll_vocab, Q122_SQL,
          survey="ext:hll-cardinality,A13"),
    Query("q123_sampled_quantiles", q123_sampled_quantiles, Q123_SQL,
          survey="ext:aqp-quantiles,ext:hash-sampling,ext:percentiles", tags=("bench",)),
    Query("q124_stream_hll", q124_stream_hll, Q124_SQL,
          survey="ext:hll-cardinality,ST6,ST1", tags=("bench",)),
    Query("q125_cms_heavy_verify", q125_cms_heavy_verify, Q125_SQL,
          survey="ext:countmin-sketch,ext:heavy-hitters,A12"),
    Query("q126_hll_source_overlap", q126_hll_source_overlap, Q126_SQL,
          survey="ext:hll-cardinality,ext:dataset-lineage", tags=("bench",)),
    Query("q132_kmv_distinct", q132_kmv_distinct, Q132_SQL,
          survey="ext:kmv-sketch,ext:aqp-quantiles,ext:incremental-stats",
          tags=("bench",)),
    Query("q133_kmv_overlap", q133_kmv_overlap, Q133_SQL,
          survey="ext:kmv-sketch,ext:dataset-lineage", tags=("bench",)),
    Query("q134_countsketch_f2", q134_countsketch_f2, Q134_SQL,
          survey="ext:countsketch-f2,ext:countmin-sketch", tags=("bench",)),
    Query("q135_stream_kmv", q135_stream_kmv, Q135_SQL,
          survey="ext:kmv-sketch,ST6,ST1", tags=("bench",)),
    Query("q138_grid_quantile_digest", q138_grid_quantile_digest, Q138_SQL,
          survey="ext:quantile-digest,ext:aqp-quantiles,ext:incremental-stats",
          tags=("bench",)),
    Query("q140_stream_grid_digest", q140_stream_grid_digest, Q140_SQL,
          survey="ext:quantile-digest,ST6,ST1", tags=("bench",)),
    Query("q141_kmv_difference", q141_kmv_difference, Q141_SQL,
          survey="ext:kmv-sketch,ext:dataset-lineage,ext:incremental-dedup",
          tags=("bench",)),
    Query("q142_priority_sample", q142_priority_sample, Q142_SQL,
          survey="ext:priority-sampling,ext:weighted-sampling,ext:hash-sampling",
          tags=("bench",)),
    Query("q147_joinsize_estimate", q147_joinsize_estimate, Q147_SQL,
          survey="ext:kmv-sketch,ext:join-size-estimation,ext:aqp-quantiles",
          tags=("bench",)),
    Query("q150_stream_priority_sample", q150_stream_priority_sample, Q150_SQL,
          survey="ext:priority-sampling,ST6,ST1", tags=("bench",)),
    Query("q152_misra_gries_heavy", q152_misra_gries_heavy, Q152_SQL,
          survey="ext:heavy-hitters,ext:countmin-sketch,ext:incremental-stats",
          tags=("bench",)),
    Query("q156_bootstrap_ci", q156_bootstrap_ci, Q156_SQL,
          survey="ext:poisson-bootstrap,ext:aqp-quantiles,ext:hash-sampling",
          tags=("bench",)),
    Query("q164_grouped_quantile_digest", q164_grouped_quantile_digest,
          Q164_SQL,
          survey="ext:quantile-digest,ext:percentiles,ext:incremental-stats",
          tags=("bench",)),
    Query("q171_join_order_choice", q171_join_order_choice, Q171_SQL,
          survey="ext:join-size-estimation,ext:kmv-sketch",
          tags=("bench",)),
    Query("q172_neighborhood_function", q172_neighborhood_function, Q172_SQL,
          survey="ext:neighborhood-function,ext:hll-cardinality,"
                 "ext:iterate-to-convergence",
          tags=("bench",)),
    Query("q174_stream_misra_gries", q174_stream_misra_gries, Q174_SQL,
          survey="ext:heavy-hitters,ext:incremental-stats,ST6,ST1",
          tags=("bench",)),
    Query("q194_cardinality_bakeoff", q194_cardinality_bakeoff, Q194_SQL,
          survey="ext:join-size-estimation,ext:kmv-sketch,"
                 "ext:equidepth-histogram",
          tags=("bench",)),
    Query("q190_trending_terms", q190_trending_terms, Q190_SQL,
          survey="ext:heavy-hitters,ext:trend-detection,ext:drift-psi",
          tags=("bench",)),
    Query("q188_range_partitioner", q188_range_partitioner, Q188_SQL,
          survey="ext:range-partitioner,ext:quantile-digest,"
                 "ext:zorder-layout,ext:equidepth-histogram",
          tags=("bench",)),
    Query("q181_weighted_quantile_digest", q181_weighted_quantile_digest,
          Q181_SQL,
          survey="ext:quantile-digest,ext:percentiles,ext:weighted-sampling,"
                 "ext:incremental-stats",
          tags=("bench",)),
    Query("q178_trailing_distinct", q178_trailing_distinct, Q178_SQL,
          survey="ext:hll-cardinality,ext:sliding-window-distinct,"
                 "ext:incremental-stats,ST4",
          tags=("bench",)),
]
