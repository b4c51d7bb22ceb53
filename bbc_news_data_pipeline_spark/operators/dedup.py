"""Deduplication operators for a large-scale training-data pipeline.

The reference deduplicates only by exact key (unique ``url`` index,
``pipelines.py:33``; Mongo ``$group`` dup sweep, ``bbc_news_dag.py:27-43``
— SURVEY A1/W1/S9). This module generalizes that to the dedup family a
100 TB text corpus needs:

  exact        — fingerprint groupBy (hash partition ≡ one shuffle)
  first_wins   — keyed keep-one via row_number (the reference's semantics)
  minhash      — shingle → K independent min-hashes → band buckets → join
  simhash      — 64-bit weighted-majority fingerprint, Hamming-bucket join
  ngram_jaccard— exact Jaccard over shingle sets via inverted-index join
  dup_spans    — exact-substring repeated-passage spans (Lee 2021 shape)
  block_dedup  — block-level first-wins rewrite (RefinedWeb line-dedup
                 shape), with blockize/reassemble shared by the
                 streaming twin (streaming/blockdedup.py)
  bloom_*      — relational Bloom filter over any md5 key column:
                 bloom_build/bloom_probe (join form), and row-local
                 probes of a bloom_collected filter densified by
                 bloom_dense_masks: bloom_hits_count_dense (hits over
                 a key array — per-token gates) and bloom_hit_expr
                 (one key — scan filters, streaming ingest)

Shared primitives, each written once: :func:`first_wins` (the keep-first
window), :func:`all_pairs_sql` (row-local pair expansion of a grouped
array), :func:`drop_hot_groups` (the pre-collect hot-group cap), and the
Bloom positions and bit test (``_bloom_positions``/``_bloom_bit_set``).

Scale notes: every operator is expressed as DataFrame ops whose only wide
stages are hash-partitioned groupBy/join on content-derived keys, so skew
is bounded by shingle frequency; the minhash banding join is the standard
LSH trick that avoids the O(n²) pair space, and degenerate hot buckets
(identical/boilerplate docs sharing a signature) divert to a streaming
star expansion (:func:`pairs_within_groups` ``max_group``) so no key can
trigger a quadratic pair blow-up or an unbounded array collect. All
hashing uses md5 (stable, engine-portable, seed-prefixed) — NOT Spark's
``hash()``, whose values would not be reproducible in the DuckDB oracle.

The shingle, MinHash, SimHash, band-key and pair-generation expressions are built
as Spark SQL text and sent with one ``F.expr``/``selectExpr`` call per
projection: each ``F.lit``/``F.col`` of a node-by-node Column build is
three py4j round trips, which made ``minhash_candidates`` ~1,600
driver→JVM calls before any job ran — a fixed cost per curation pass
and per streaming micro-batch. Catalyst receives the same expression
tree either way, so plans and results do not change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fingerprint(col: Column | str, *, normalize: bool = True) -> Column:
    """Stable content fingerprint (md5 of normalized text)."""
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.lower(F.trim(c))
    return F.md5(c)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per identical (normalized) text.

    ONE scan + one shuffle: :func:`first_wins` over a fingerprint-
    partitioned window. md5 keys partition perfectly uniformly regardless
    of content skew, and each partition's sort is by the tiny (fp, id)
    prefix. The groupBy-then-semi-join alternative reads the input twice
    and adds a join exchange — strictly worse both locally and at 100 TB.
    """
    return first_wins(df, [fingerprint(text_col)], [F.col(id_col)])


def first_wins(
    df: DataFrame, key_cols: list[Column | str], order_cols: list[Column | str]
) -> DataFrame:
    """Reference semantics (bbc_news_dag.py:39-43): keep one row per key,
    deterministic winner by ``order_cols``. Keys may be expressions
    (``fingerprint(...)``); the window every keep-first dedup here uses
    (exact, streaming corpus build, delta corpus build)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def _shingles_sql(tokens_col: str, k: int) -> str:
    # window j = slice(t, j+1, n-k+1) holds token i+j at position i, so
    # zipping the k windows puts each gram's tokens in one element and the
    # lambda never reads t itself.
    n = f"size({tokens_col}) - {k - 1}"
    windows = ", ".join(f"slice({tokens_col}, {j + 1}, {n})" for j in range(k))
    fields = ", ".join(f"z.`{j}`" for j in range(k))
    return f"transform(arrays_zip({windows}), z -> concat_ws(' ', {fields}))"


def shingles_from_tokens(tokens_col: str, k: int = 5) -> Column:
    """k-gram word shingles from a tokens column (at least k tokens).

    The tokens reach the gram lambda only through ``slice`` windows zipped
    outside it, so the work stays linear in the document length even when
    the optimizer inlines a staged ``split(...)`` back into the expression
    (a Filter pushed below its projection does): higher-order functions
    evaluate interpreted (no codegen CSE), and a lambda that indexed the
    tokens column would re-tokenize the document once per gram — O(len²)
    per row. Use :func:`with_shingles` to stage tokens and drop short docs.
    """
    return F.expr(_shingles_sql(tokens_col, k))


def with_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, out: str = "shingles"
) -> DataFrame:
    """(id, shingles array) with tokens materialized in a separate select.

    Docs shorter than k tokens are dropped (``slice`` rejects the
    negative window length they would need).
    """
    toked = df.selectExpr(id_col, f"split({text_col}, ' ') AS _toks").filter(
        f"size(_toks) >= {k}"
    )
    return toked.selectExpr(id_col, f"{_shingles_sql('_toks', k)} AS {out}")


def with_minhash(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 4, k: int = 5
) -> DataFrame:
    """(id, sig_0..sig_{n-1}) minhash signature table via md5
    lane-splitting: each lane an 8-hex-char (32-bit) slice of a group
    md5, 4 lanes per group. Row-local (array_min over transform) — zero
    shuffles; lexicographic min over fixed-width hex ≡ numeric min over
    uniform 32-bit values.

    The md5 array for each 4-lane group is STAGED through its own select
    (same CollapseProject-safe pattern as :func:`with_shingles`: a
    multiply-referenced expensive expression is not inlined), so each
    group's md5 runs once per shingle and the 4 lanes are cheap substring
    slices over the materialized array — 4× less hashing than evaluating
    one md5 per lane (interpreted HOFs get no CSE across expressions).
    """
    sh = with_shingles(df, id_col, text_col, k)
    n_groups = (n_hashes + 3) // 4
    lane_hex = 8
    staged = sh.selectExpr(
        id_col,
        *[
            f"transform(shingles, s -> md5(concat('{g}:', s))) AS _md5_{g}"
            for g in range(n_groups)
        ],
    )
    lanes = [
        f"array_min(transform(_md5_{lane // 4}, "
        f"h -> substring(h, {1 + (lane % 4) * lane_hex}, {lane_hex}))) AS sig_{lane}"
        for lane in range(n_hashes)
    ]
    return staged.selectExpr(id_col, *lanes)


def pairs_within_groups(
    df: DataFrame,
    key_cols: list[str],
    payload_col: str = "d",
    max_group: int | None = 64,
) -> DataFrame:
    """Ordered (p.a, p.b) struct-payload pairs co-occurring under any
    group key — the shared candidate-pair shape of every bucketed dedup
    operator here (MinHash bands, SimHash bands, LSH cells, inverted
    indexes).

    groupBy + collect_set + row-local nested-transform pair generation:
    ONE shuffle, and the (often expensive) upstream branch is computed
    once — a self-join would recompute it per side and shuffle twice.
    Payload structs must lead with the id so array_sort yields a < b
    pairs. Callers project and ``.distinct()`` (the same pair can
    co-occur under several keys).

    ``max_group`` is the blow-up guard for degenerate keys (empty or
    boilerplate documents sharing one signature): a group of g rows
    would emit g·(g−1)/2 pairs and buffer a g-element array in one agg
    buffer — at corpus scale one hot key means executor OOM plus a
    quadratic pair explosion. Groups larger than ``max_group`` are
    diverted to a STREAMING STAR expansion instead: every member is
    paired with the group's minimum payload (g−1 pairs, computed with
    window functions — count/min over the group key — so no array is
    ever collected for the hot key and memory stays O(row)). Star
    pairs preserve exact connectivity for duplicate clustering
    (connected components are unchanged: a degenerate-key group is one
    component either way), at the cost of not enumerating every
    intra-bucket pair — the right trade, since members of a degenerate
    bucket are near-identical by construction. Groups at or under the
    cap are byte-identical to the exact all-pairs output, and the
    small-group collect_set is now bounded at ``max_group`` elements.
    ``max_group=None`` selects the exact unbounded path (co-occurrence
    counting callers — topic coherence — need every pair and bound
    group size upstream by a broadcast vocab join).
    """
    collect = f"array_sort(collect_set({payload_col})) AS _ds"
    pairs = f"{all_pairs_sql('_ds', 'struct(x AS a, y AS b)')} AS p"
    if max_group is None:
        grouped = df.groupBy(*key_cols).agg(F.expr(collect)).filter("size(_ds) >= 2")
        return grouped.selectExpr(pairs)

    keys = ", ".join(key_cols)
    # Both window functions share one WindowExec over one hash exchange
    # on key_cols; the small-group groupBy rides the same partitioning.
    # The STATIC plan shows that exchange once per union branch (the
    # plan-budget audit counts both, e.g. q43 3→5), but at runtime AQE
    # dedups it via ReusedExchange — verified: one ShuffleQueryStage
    # writes, the second is a reuse — so the data shuffles ONCE. The
    # real added cost vs the uncapped path is the per-branch window
    # sort, the price of a spillable operator: WindowExec spills
    # oversized partitions to disk, unlike a collect_set agg buffer
    # which cannot.
    sized = (
        df.selectExpr(*key_cols, f"{payload_col} AS _d")
        .selectExpr(
            "*",
            f"count(*) OVER (PARTITION BY {keys}) AS _cnt",
            f"min(_d) OVER (PARTITION BY {keys}) AS _minp",
        )
        .filter("_cnt >= 2")
    )
    small = (
        sized.filter(f"_cnt <= {int(max_group)}")
        .groupBy(*key_cols)
        .agg(F.expr("array_sort(collect_set(_d)) AS _ds"))
        .filter("size(_ds) >= 2")
    )
    star = sized.filter(f"_cnt > {int(max_group)} AND _d != _minp").selectExpr(
        "struct(_minp AS a, _d AS b) AS p"
    )
    return small.selectExpr(pairs).unionByName(star)


def all_pairs_sql(arr: str, pair: str) -> str:
    """Row-local all-pairs expansion of a sorted array column, as SQL
    text: one generated row per element pair i < j, with ``pair`` the SQL
    text of the row over the lambda variables ``x`` (element i) and ``y``
    (element j). Callers put scoring inside ``pair`` so each pair is
    computed exactly once (:func:`~.similarity.pairs_within_buckets`)."""
    # explode_outer: callers keep only arrays of size >= 2, so the pair
    # array is non-empty, and plain explode's inferred size>0 filter would
    # re-evaluate the nested pair-generation transform once per group
    # (see SCALE.md).
    return (
        f"explode_outer(flatten(transform({arr}, (x, i) -> transform("
        f"slice({arr}, i + 2, size({arr})), y -> {pair}))))"
    )


def drop_hot_groups(df: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """Drop every row of a group (under ``key_cols``) holding more than
    ``cap`` rows — the hot-group cap of the bucketed pair generators
    (hot shingles in :func:`ngram_jaccard_pairs`, over-full buckets in
    :func:`~.similarity.pairs_within_buckets`). Counted by a window
    BEFORE the caller's collect, so a hot group's array is never
    materialized in an agg buffer (same output as a post-collect size
    filter; a groupBy on the same keys reuses the window's exchange).
    Not :func:`pairs_within_groups`' ``max_group``, which keeps hot
    groups as star pairs instead of dropping them."""
    keys = ", ".join(key_cols)
    return (
        df.selectExpr("*", f"count(*) OVER (PARTITION BY {keys}) AS _gc")
        .filter(f"_gc <= {int(cap)}")
        .drop("_gc")
    )


def band_keys(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 8, bands: int = 4, k: int = 5
) -> DataFrame:
    """(id, band_key) LSH band-key table: one row per document per band.

    This IS the dedup index a 100 TB pipeline persists between runs —
    band_key is the equality-join key for both full-corpus candidate
    generation (:func:`minhash_candidates`) and incremental
    new-batch-vs-corpus dedup (join the new batch's keys against the
    stored table). Signature computation is row-local; no shuffle here.
    """
    assert n_hashes % bands == 0
    rows_per_band = n_hashes // bands
    with_sig = with_minhash(df, id_col, text_col, n_hashes, k)
    band_keys_sql = ", ".join(
        "md5(concat_ws('|', '{}', {}))".format(
            b, ", ".join(f"sig_{b * rows_per_band + r}" for r in range(rows_per_band))
        )
        for b in range(bands)
    )
    return with_sig.selectExpr(id_col, f"explode(array({band_keys_sql})) AS band_key")


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 5,
    max_group: int | None = 64,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a
    candidate pair. Returns (id_a, id_b) with id_a < id_b.

    Scale: the only wide op is ONE groupBy on band keys
    (:func:`pairs_within_groups` — signatures are computed once, never
    per join side); band-key frequency bounds the pair blow-up, and
    ``max_group`` (see :func:`pairs_within_groups`) star-expands
    degenerate hot buckets so adversarial corpora (millions of
    identical docs sharing every band) stay linear.
    """
    banded = band_keys(df, id_col, text_col, n_hashes, bands, k).selectExpr(
        f"struct({id_col}) AS d", "band_key"
    )
    return (
        pairs_within_groups(banded, ["band_key"], max_group=max_group)
        .selectExpr(f"p.a.{id_col} AS id_a", f"p.b.{id_col} AS id_b")
        .distinct()
    )


SIMHASH_BITS = 60  # fits a signed long; 4×15-bit bands for bucketing


def with_simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — 60-bit SimHash over word tokens, weighted by term
    frequency through token multiplicity. Row-local, no shuffle.

    Staged to keep work linear: (1) materialize one 60-bit md5-derived
    hash per token, (2) per-bit majority sums via aggregate() over the
    hash array, (3) pack sign bits. Token hashes are computed exactly
    once (same CSE hazard as shingles — see shingles_from_tokens).
    """
    # Null-text guard phrased on the RAW column: filtering size(_h) > 0
    # would push down substituting the whole token-hash transform into a
    # Filter (computed twice per row — the SCALE.md pushdown pathology).
    # split() never yields an empty array, so text IS NOT NULL is exactly
    # equivalent and reaches the parquet scan as a cheap pushed filter.
    hashed = df.filter(f"{text_col} IS NOT NULL").selectExpr(
        id_col,
        f"transform(split({text_col}, ' '), "
        "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)) AS _h",
    )
    # Per-bit majority sums via explode + 60 codegen'd conditional SUMs,
    # NOT 60 aggregate() folds over the array: interpreted folds evaluate
    # the lambda machinery bits×tokens times (q43 at sf0.1: 3.0s -> 2.2s;
    # the remaining cost is the per-token md5+conv). The groupBy(id)
    # LOOKS like a new shuffle but hash aggregation computes all 60
    # partial sums map-side, so only docs × 60 longs travel — the token
    # stream and text never shuffle.
    expl = hashed.selectExpr(id_col, "explode(_h) AS _t")
    bit_aggs = [
        F.expr(f"sum(CASE WHEN (_t >> {b}) % 2 = 1 THEN 1L ELSE -1L END) AS _b{b}")
        for b in range(SIMHASH_BITS)
    ]
    packed = " + ".join(
        f"(CASE WHEN _b{b} > 0 THEN {1 << b}L ELSE 0L END)" for b in range(SIMHASH_BITS)
    )
    return expl.groupBy(id_col).agg(*bit_aggs).selectExpr(id_col, f"{packed} AS simhash")


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, bands: int = 4, max_group: int | None = 64
) -> DataFrame:
    """Near-dup candidates by SimHash band collision: split the 60-bit
    fingerprint into `bands` contiguous bit-bands; pairs agreeing on any
    band are candidates (guaranteed to include all pairs with Hamming
    distance < bands — for buckets at or under ``max_group``). Verify
    candidates with bit_count(xor) ≤ threshold. ``max_group``
    star-expands hot band buckets (see :func:`pairs_within_groups`):
    members of an oversized bucket pair only with the bucket minimum, so
    the all-pairs guarantee is traded for linearity exactly where the
    bucket is degenerate (near-identical fingerprints); pass
    ``max_group=None`` for the unconditional guarantee.
    """
    width = SIMHASH_BITS // bands
    sh = with_simhash(df, id_col, text_col)
    band_vals = ", ".join(
        f"shiftrightunsigned(simhash, {b * width}) % {1 << width}" for b in range(bands)
    )
    banded = sh.selectExpr(
        f"struct({id_col}, simhash) AS d",
        f"posexplode(array({band_vals})) AS (band_idx, band_val)",
    )
    return (
        pairs_within_groups(banded, ["band_idx", "band_val"], max_group=max_group)
        .selectExpr(
            f"p.a.{id_col} AS id_a",
            f"p.b.{id_col} AS id_b",
            "bit_count(p.a.simhash ^ p.b.simhash) AS hamming",
        )
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local fingerprinting scheme): hash every rolling
    word ``k``-gram, slide a ``window`` over the hash sequence keeping
    each window's MINIMUM, and deduplicate. Guarantees every shared run
    of ≥ ``k + window − 1`` tokens between two documents yields at least
    one shared fingerprint, while storing only ~1/window of the k-gram
    hashes — the classic rolling-hash fingerprint for plagiarism/overlap
    detection at corpus scale.

    Entirely row-local until the final explode (no shuffle at all in
    this operator): tokens → k-grams (staged select, see
    :func:`shingles_from_tokens`) → 32-bit hash per gram
    (``conv(substring(md5, 1, 8), 16, 10)`` so a DuckDB oracle can
    reproduce it digit-for-digit) → per-window minima via nested array
    ops. Returns (id, fingerprint) distinct per document. Docs shorter
    than ``k`` tokens are dropped (no grams).
    """
    sh = with_shingles(df, id_col, text_col, k, out="_grams")
    staged = sh.select(
        F.col(id_col),
        F.transform(
            "_grams",
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
        ).alias("_hs"),
    )
    n_win = F.greatest(F.lit(1), F.size("_hs") - F.lit(window - 1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.array_min(F.slice("_hs", i, window)),
        )
    )
    # explode_outer: fps is provably non-empty (>=1 window per kept doc)
    # and plain explode's inferred size>0 filter would push down and
    # inline the whole fingerprint expression into a Filter over raw
    # text (re-evaluated per element, interpreted) - see SCALE.md.
    return staged.select(F.col(id_col), F.explode_outer(fps).alias("fingerprint"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_jaccard: float = 0.0,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs from an inverted index.

    Shape: one shingling pass (shingles hashed to int64 so the shuffle
    carries 8-byte keys, not k-word strings), groupBy shingle collecting
    the tiny (id, set-size) posting list, then ROW-LOCAL pair generation
    inside each list — no self-join, so the expensive branch is computed
    once and the whole thing is two shuffles (by shingle, then by pair).
    Benchmarked 2.2× faster than the posting self-join at sf0.1 with
    identical output.

    ``max_df`` caps posting-list length for adversarial corpora (a hot
    boilerplate shingle with df=d would emit d²/2 pairs; such shingles
    carry no discriminative signal). None = exact semantics (the oracle's
    twin). Returns (id_a, id_b, jaccard) with jaccard rounded to 4dp and
    id_a < id_b.
    """
    sh = with_shingles(df, id_col, text_col, k).selectExpr(
        id_col, "array_distinct(transform(shingles, s -> xxhash64(s))) AS _hs"
    )
    posting = sh.selectExpr(
        f"struct({id_col} AS i, CAST(size(_hs) AS BIGINT) AS n) AS d",
        # explode_outer: _hs is non-empty (>=k tokens -> >=1 shingle); see
        # the inferred-filter pushdown note on winnow_fingerprints.
        "explode_outer(_hs) AS h",
    )
    if max_df is not None:
        posting = drop_hot_groups(posting, ["h"], max_df)
    # array_distinct upstream guarantees one posting per (doc, shingle), so
    # each list holds unique ids and every pair is id_a < id_b.
    pairs = pairs_within_groups(posting, ["h"], max_group=None)
    out = (
        pairs.groupBy(F.expr("p.a.i AS id_a"), F.expr("p.b.i AS id_b"))
        .agg(
            F.expr("count(*) AS n_inter"),
            # all rows in a pair-group carry the same per-doc set sizes
            F.expr("first(p.a.n) AS n_a"),
            F.expr("first(p.b.n) AS n_b"),
        )
        .selectExpr("id_a", "id_b", "round(n_inter / (n_a + n_b - n_inter), 4) AS jaccard")
    )
    if min_jaccard > 0:
        out = out.filter(f"jaccard >= {float(min_jaccard)!r}D")
    return out


def dup_spans(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Exact-substring duplicated spans (Lee et al. 2021,
    arXiv:2107.06499): per document, the maximal token spans whose every
    k-token window occurs >= 2 times anywhere in the corpus (including
    twice in one document — suffix-array repeat semantics). Returns one
    row per document that contains any such span:
    (id, n_spans, dup_tokens, max_span).

    Scale shape (see plans/dedup_plans.py:q101 for the full audit): one
    map-side-combinable O(corpus-tokens) shuffle for gram occurrence
    counts — inherent to exact-substring matching — then a per-doc
    gaps-and-islands window bounded by one document's length. At 100 TB
    swap the gram string for xxhash64(gram) as the shuffle key."""
    from pyspark.sql import Window as W

    words = df.select(
        F.col(id_col), F.split(F.lower(text_col), " ").alias("ws")
    ).filter(F.size("ws") >= k)
    grams = words.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(ws) - {k} + 1), "
                f"i -> array_join(slice(ws, i, {k}), ' '))"
            )
        ).alias("p0", "gram"),
    ).select(id_col, (F.col("p0") + 1).alias("pos"), "gram")
    dup = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gram")
    )
    dg = grams.join(dup, "gram", "left_semi").select(id_col, "pos")
    w = W.partitionBy(id_col).orderBy("pos")
    spans = (
        dg.withColumn("island", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "island")
        .agg((F.max("pos") - F.min("pos") + k).alias("span_tokens"))
    )
    return spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
        F.max("span_tokens").cast("long").alias("max_span"),
    )


def blockize(df: DataFrame, id_col: str, text_col: str, block_w: int = 10) -> DataFrame:
    """(id, bidx, block): deterministic ``block_w``-token blocks per
    document (last block may be shorter). Row-local — the shared
    tokenization of batch :func:`block_dedup` and the streaming twin
    (streaming/blockdedup.py), so both dedup the SAME block values."""
    # Tokens staged once per document: a lambda that re-split the text
    # would split it once per block, O(len²) per row.
    return df.selectExpr(id_col, f"split(lower({text_col}), ' ') AS _toks").selectExpr(
        id_col,
        f"posexplode(transform(sequence(0, CAST(ceil(size(_toks) / {block_w}.0) AS INT) - 1), "
        f"i -> array_join(slice(_toks, i * {block_w} + 1, {block_w}), ' '))) AS (bidx, block)",
    )


def reassemble_blocks(flagged: DataFrame, id_col: str) -> DataFrame:
    """(id, n_blocks, n_kept, new_text) from (id, bidx, block, keep) rows:
    rewrite each document from its surviving (keep=1) blocks in block
    order. Per-doc groupBy; collect_list bounded by one document's
    block count."""
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_blocks"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep") == 1, F.struct("bidx", "block"))
                    )
                ),
                lambda x: x["block"],
            ),
            " ",
        ).alias("new_text"),
    )


def block_dedup(df: DataFrame, id_col: str, text_col: str, block_w: int = 10) -> DataFrame:
    """Block-level dedup-and-reconstruct (RefinedWeb/FineWeb line-dedup
    shape, arXiv:2306.01116 §3.3, on deterministic ``block_w``-token
    blocks): every block value survives only at its globally-first
    (id, block_idx) occurrence; documents are rewritten from surviving
    blocks. Returns (id, n_blocks, n_kept, new_text).

    First-wins is a map-side-combinable groupBy(block).min(struct) plus
    an AQE-skew-splittable equi-join back — deliberately NOT a window
    partitioned by block, which would put every copy of a hot
    boilerplate block into one un-splittable task (see SCALE.md)."""
    blocks = blockize(df, id_col, text_col, block_w)
    winners = blocks.groupBy("block").agg(
        F.min(F.struct(id_col, "bidx")).alias("first")
    )
    flagged = blocks.join(winners, "block").withColumn(
        "keep", (F.struct(id_col, "bidx") == F.col("first")).cast("int")
    )
    return reassemble_blocks(flagged, id_col)


BLOOM_WORD_BITS = 32


def _bloom_hashes(key: Column) -> tuple[Column, Column]:
    """(h1, h2): the two leading 32-bit hex slices of an md5-hex key."""
    h1 = F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(key, 9, 8), 16, 10).cast("long")
    return h1, h2


def _bloom_positions(h1: Column, h2: Column, words: int, k: int) -> list[Column]:
    m = words * BLOOM_WORD_BITS
    return [(h1 + F.lit(j) * h2) % F.lit(m) for j in range(k)]


def _bloom_word(p: Column) -> Column:
    """Index (bigint) of the 32-bit filter word holding bit position ``p``."""
    return F.call_function("div", p, F.lit(BLOOM_WORD_BITS))


def _bloom_bit_set(mask: Column, p: Column) -> Column:
    """Whether ``mask``, the filter word holding position ``p``, has p's
    bit set; a NULL mask (word absent from a joined filter) yields NULL.
    ``call_function``: ``F.shiftright`` only takes a literal shift."""
    bit = (p % F.lit(BLOOM_WORD_BITS)).cast("int")
    return F.call_function("shiftright", mask, bit) % 2 == 1


def bloom_positions(key_col: Column, words: int, k: int = 4) -> list[Column]:
    """k Bloom bit positions for an md5-hex key column: double hashing
    h1 + j*h2 (Kirsch-Mitzenmacher 2006) over two 32-bit hex slices of
    the key, mod m = words*32. Pure integer algebra over md5 — identical
    in Spark and DuckDB, so a filter built from these positions can be
    reproduced bit-for-bit by an oracle."""
    return _bloom_positions(*_bloom_hashes(key_col), words, k)


def bloom_build(keys: DataFrame, key_col: str, words: int = 2048, k: int = 4) -> DataFrame:
    """(word, mask): a Bloom filter over ``keys[key_col]`` built
    RELATIONALLY — one row per 32-bit word, OR-folded with a map-side
    combinable groupBy. The result is a ≤``words``-row DataFrame,
    broadcastable at ANY input cardinality (size the bit space via
    ``words``; the shape is constant-memory)."""
    return (
        keys.select(F.explode(F.array(*bloom_positions(F.col(key_col), words, k))).alias("p"))
        .select(
            _bloom_word(F.col("p")).alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_WORD_BITS} AS INT))"
            ).alias("m1"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(m1)").alias("mask"))
    )


def bloom_probe(
    keys: DataFrame, bloom: DataFrame, id_col: str, key_col: str,
    words: int = 2048, k: int = 4,
) -> DataFrame:
    """(id, key, bloom_hit): probe each (id, key) row against a
    :func:`bloom_build` filter — hit=1 iff ALL k bit positions are set.
    No false negatives by construction (a present key's bits were all
    OR-ed in); false-positive rate follows the fill ratio. The filter
    side is broadcast — probing never shuffles the probe stream."""
    probes = keys.select(
        id_col, key_col,
        F.explode(F.array(*bloom_positions(F.col(key_col), words, k))).alias("p"),
    ).withColumn("word", _bloom_word(F.col("p")))
    return (
        probes.join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "hit",
            F.when(_bloom_bit_set(F.col("mask"), F.col("p")), 1).otherwise(0),
        )
        .groupBy(id_col, key_col)
        .agg((F.sum("hit") == k).cast("int").alias("bloom_hit"))
    )


def bloom_collected(bloom: DataFrame) -> dict[int, int]:
    """Collect a :func:`bloom_build` filter to a {word: mask} dict. The
    filter is ≤``words`` rows BY CONSTRUCTION (a sizing constant, not a
    data-dependent cardinality), so this driver-side collect is bounded
    the same way a broadcast of it would be — it is the packaging step
    for the row-local probes' in-plan mask literal."""
    return {int(r["word"]): int(r["mask"]) for r in bloom.collect()}


def bloom_dense_masks(filter_map: dict[int, int], words: int) -> list[int]:
    """Densify a :func:`bloom_collected` map to a ``words``-length list
    (absent words → 0, a definitive miss), the input
    :func:`bloom_hits_count_dense` wants."""
    return [filter_map.get(w, 0) for w in range(words)]


def bloom_hit_expr(
    key_col: Column, filter_map: dict[int, int], words: int, k: int = 4
) -> Column:
    """ROW-LOCAL Bloom membership test (1/0) of one key against a
    collected filter — zero shuffle, zero join, so it composes anywhere a
    plain expression does: scan filters, streaming ingest (readStream
    .filter), generated columns. It is :func:`bloom_hits_count_dense`
    over the one-key array: same positions, same bit test, same no-FN
    guarantee as :func:`bloom_probe`, and a NULL key is a miss (0)."""
    hits = bloom_hits_count_dense(
        F.array(key_col), bloom_dense_masks(filter_map, words), k
    )
    return F.coalesce(hits.cast("int"), F.lit(0))


def bloom_hits_count_dense(
    md5_keys_arr: Column, masks: list[int], k: int = 4
) -> Column:
    """COUNT of Bloom hits over an ARRAY column of md5-hex keys against a
    DENSE mask array (:func:`bloom_dense_masks`) — the per-TOKEN gate
    shape (q128). The masks ride the plan as one folded array literal
    indexed in O(1) per probe, which is what k probes × shingles-per-doc
    × docs lookups inside a higher-order ``transform`` need; the literal
    is sent as SQL text in one gateway call (an ``F.lit`` per word costs
    three round trips each, ~6,000 at 2,048 words).

    Structured for lambda evaluation cost: higher-order-function lambdas
    are evaluated interpreted, where codegen's subexpression elimination
    cannot reach, so each key's (h1, h2) pair is computed ONCE in a first
    ``transform`` and the k probes are pure integer algebra over the
    pair. The lambdas themselves are still built node by node through
    the Column API (their cost does not depend on ``words``)."""
    words = len(masks)
    arr = F.expr(f"array({', '.join(str(int(m)) for m in masks)})")
    hs = F.transform(
        md5_keys_arr,
        lambda hk: F.struct(*(h.alias(n) for n, h in zip(("h1", "h2"), _bloom_hashes(hk)))),
    )

    def _probe(s):
        hit = F.lit(True)
        for p in _bloom_positions(s["h1"], s["h2"], words, k):
            mask = F.element_at(arr, _bloom_word(p).cast("int") + F.lit(1))
            hit = hit & _bloom_bit_set(mask, p)
        return hit.cast("long")

    return F.aggregate(
        F.transform(hs, _probe),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
