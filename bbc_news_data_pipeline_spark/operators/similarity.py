"""Similarity search over embedding columns (array<float>).

Extension surface for the LLM-data pipeline (BASELINE.json north star):
brute-force cosine top-k as the exactness baseline, plus an LSH-bucketed
variant as the scale path.

Determinism (round 5): similarity arithmetic is QUANTIZED-EXACT. Float
components are quantized to 1e-6 resolution int64s and dot/norm² are
integer sums — exactly associative, so ANY evaluation order on ANY
engine produces the same value (the r4 float-fold version relied on
DuckDB's list_sum matching Spark's sequential double fold bit-for-bit,
which held at sf0.01 and broke by 1 ulp on 4 pairs at sf0.1 — rank
boundaries then flipped). The final sqrt/divide operate on exactly
int64-representable doubles (bounds: |x|≤1, dim≤4096 → norm² ≤ 4e15 <
2^53), so they are IEEE-deterministic too. Quantization perturbs cosine
by ~1e-6 relative — far below the 4dp output rounding — and the DuckDB
oracles apply the identical quantization, making parity hold BY
CONSTRUCTION at every scale.

Scale notes: brute-force against ONE query vector is a broadcast map —
embarrassingly parallel, no shuffle, and TakeOrderedAndProject handles the
top-k merge. For all-pairs workloads use `lsh_bucket_ann` (random
hyperplane signs → bucket join), which turns O(n²) into a per-bucket
product like MinHash banding does for text.

Expressions are built as Spark SQL text: every formula here is written
once, in a private ``_*_sql`` function returning its text, and the public
helpers return ``F.expr`` of that text and take column names or SQL text
rather than ``Column``s.
Assembling a lambda-bearing expression node by node through the
DataFrame API costs three py4j round trips per ``F.lit``/``F.col``
(~90 µs each), so building ``lsh_bucket_ann`` took ~2,500 driver→JVM
calls before any job ran — a fixed cost paid per curation pass, DAG run
and streaming micro-batch. One ``F.expr``/``selectExpr`` per projection
ships the same expression tree in one call. Literals are written with
their Column-API types (``0.5D``/``1e4`` doubles: a bare ``0.5`` is a
DECIMAL in Spark SQL), so Catalyst sees the same tree, plans and results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import all_pairs_sql, drop_hot_groups


#: Quantization scale: 1e-6 component resolution. Scales cancel in
#: cosine (dot is scale², each norm is scale¹), so no rescaling needed.
QUANT_SCALE = 1_000_000


def _qint_sql(arr: str) -> str:
    return (
        f"transform({arr}, c -> "
        f"CAST(floor(CAST(c AS DOUBLE) * {QUANT_SCALE} + 0.5D) AS BIGINT))"
    )


def _qint(arr: str) -> Column:
    """Components quantized to int64 at 1e-6 resolution via
    floor(x·scale + 0.5) — pure IEEE ops, so identical in Spark and
    DuckDB for identical input doubles (native round() implementations
    diverge at decimal-representation boundaries; see :func:`qround`)."""
    return F.expr(_qint_sql(arr))


def _idot_sql(aq: str, bq: str) -> str:
    """Exact BIGINT dot product of two int64 arrays (pre-quantized
    vectors, or an integer literal array)."""
    return (
        f"aggregate(zip_with({aq}, {bq}, (l, r) -> l * r), "
        "CAST(0 AS BIGINT), (acc, p) -> acc + p)"
    )


def _dot_q_sql(aq: str, bq: str) -> str:
    return f"CAST({_idot_sql(aq, bq)} AS DOUBLE)"


def dot_q(aq: str, bq: str) -> Column:
    """Dot product over PRE-QUANTIZED int64 arrays (see :func:`_qint`) —
    the hot-path form: stage the quantized array once per vector and
    score many pairs against it, instead of re-quantizing both sides per
    pair. Returns double in QUANT_SCALE² units."""
    return F.expr(_dot_q_sql(aq, bq))


def dot(a: str, b: str) -> Column:
    """Quantized-exact dot product: int64 sum of quantized component
    products (exactly associative — engine/order independent), returned
    as double in QUANT_SCALE² units."""
    return F.expr(_dot_q_sql(_qint_sql(a), _qint_sql(b)))


def _norm_q_sql(aq: str) -> str:
    return (
        f"sqrt(CAST(aggregate({aq}, CAST(0 AS BIGINT), "
        "(acc, c) -> acc + c * c) AS DOUBLE))"
    )


def norm_q(aq: str) -> Column:
    """L2 norm over a PRE-QUANTIZED int64 array, in QUANT_SCALE units."""
    return F.expr(_norm_q_sql(aq))


def norm(a: str) -> Column:
    """Quantized-exact L2 norm in QUANT_SCALE units: sqrt of the exact
    int64 sum of squares (sqrt input is int64-exact → IEEE-deterministic)."""
    return F.expr(_norm_q_sql(_qint_sql(a)))


def _cos_q_sql(aq: str, bq: str, a_nrm: str, b_nrm: str) -> str:
    """Cosine from pre-quantized arrays and their staged norms — the
    division grouping every cosine here shares (identical doubles)."""
    return f"({_dot_q_sql(aq, bq)} / ({a_nrm} * {b_nrm}))"


def _cosine_sql(a: str, b: str) -> str:
    qa, qb = _qint_sql(a), _qint_sql(b)
    return _cos_q_sql(qa, qb, _norm_q_sql(qa), _norm_q_sql(qb))


def cosine(a: str, b: str) -> Column:
    """Cosine over quantized-exact dot/norms — unitless (scales cancel),
    deterministic across engines and evaluation orders."""
    return F.expr(_cosine_sql(a, b))


def _sq_l2_q_sql(aq: str, bq: str) -> str:
    return (
        f"aggregate(zip_with({aq}, {bq}, (l, r) -> (l - r) * (l - r)), "
        "CAST(0 AS BIGINT), (acc, p) -> acc + p)"
    )


def sq_l2_q(aq: str, bq: str) -> Column:
    """Squared L2 over PRE-QUANTIZED int64 arrays (hot-path form of
    :func:`sq_l2` — stage :func:`_qint` once per vector when scoring
    many pairs)."""
    return F.expr(_sq_l2_q_sql(aq, bq))


def sq_l2(a: str, b: str) -> Column:
    """Quantized-exact squared L2 distance: int64 sum of squared
    quantized component differences (QUANT_SCALE² units). Being an exact
    integer, it ranks without ANY rounding — the k-means assignment
    argmin needs no 6dp tiebreak epsilon at all."""
    return F.expr(_sq_l2_q_sql(_qint_sql(a), _qint_sql(b)))


def nearest_centroid(
    points: DataFrame,
    cents: DataFrame,
    keys: list[str],
    pv: str,
    cv: str,
    cell: str,
    on: list[str] | None = None,
) -> DataFrame:
    """Assign every ``points`` row to its nearest ``cents`` row by exact
    int64 squared L2 between the pre-quantized arrays ``pv`` and ``cv``.
    Returns (*keys, cell, d): one row per ``keys`` value, the nearest
    centroid's id in the ``cell`` column and its distance ``d``. Ties go
    to the smallest id: the argmin is ``min(struct(d, cell))``, so every
    k-means step, PQ codebook, IVF assignment and SemDeDup cluster in the
    package breaks ties in this one place.

    ``cents`` is broadcast: with ``on`` it is equi-joined on those
    columns (per-subspace PQ codebooks score only their own subvector),
    without it every centroid scores every point in a
    BroadcastNestedLoopJoin. The aggregate plans as a SortAggregate,
    partial and final: its struct-typed buffer is not one the hash
    aggregate can update in place (``min_by(cell, struct(d, cell))``
    plans the same way). The exchange moves one partial row per key and
    task, never the |cents| scored rows.
    """
    pairs = (
        points.join(F.broadcast(cents), on)
        if on
        else points.crossJoin(F.broadcast(cents))
    )
    return (
        pairs.selectExpr(*keys, f"struct({_sq_l2_q_sql(pv, cv)} AS d, {cell} AS c) AS _dc")
        .groupBy(*keys)
        .agg(F.expr("min(_dc) AS _b"))
        .selectExpr(*keys, f"_b.c AS {cell}", "_b.d AS d")
    )


def anchored_centroids(emb: DataFrame, ncell: int, ascale: int) -> DataFrame:
    """(cell, cvec) of the anchored fixture: the quantized vectors of
    rows ``vec_id < ncell`` scaled by ``ascale``, far enough apart that
    the fixture has real clusters. Spark twin of the oracles'
    ``_anchored_corpus_sql`` (plans/embeddings_plans.py)."""
    return emb.filter(f"vec_id < {ncell}").selectExpr(
        "vec_id AS cell", f"transform({_qint_sql('embedding')}, x -> x * {ascale}) AS cvec"
    )


def anchored_corpus(emb: DataFrame, cents: DataFrame, ncell: int) -> DataFrame:
    """(vec_id, qv) of the anchored fixture: every row ``vec_id >= ncell``
    as its quantized vector plus the centroid of cell ``vec_id % ncell``
    from ``cents`` (:func:`anchored_centroids`, or the frozen copy a
    streaming index stored)."""
    return (
        emb.filter(f"vec_id >= {ncell}")
        .selectExpr("vec_id", f"vec_id % {ncell} AS _ac", f"{_qint_sql('embedding')} AS _qv")
        .join(F.broadcast(cents.withColumnRenamed("cell", "_ac")), "_ac")
        .selectExpr("vec_id", "zip_with(cvec, _qv, (a, b) -> a + b) AS qv")
    )


def qround(c: Column, d: int) -> Column:
    """Engine-deterministic fixed-point rounding: floor(x·10^d + 0.5)/10^d.

    Native round() differs between engines on identical input doubles —
    Spark rounds the exact decimal expansion (BigDecimal HALF_UP) while
    DuckDB rounds in float arithmetic — and the similarity family ranks
    on rounded scores, so a boundary value flips top-k membership (seen
    at sf0.1: one 6dp boundary among 16k scores). This form is pure
    IEEE multiply/floor/divide: identical doubles in → identical doubles
    out on both engines. (Half-ties round toward +inf rather than away
    from zero — applied identically on both sides, so parity is by
    construction.) SQL-text twin: :func:`_round_sql`."""
    s = float(10**d)
    return F.floor(c * F.lit(s) + F.lit(0.5)) / F.lit(s)


def _round_sql(expr: str, d: int) -> str:
    """:func:`qround` as SQL text, valid in both Spark SQL and DuckDB
    (the DuckDB oracles use it too): ``1e{d}`` is a DOUBLE in both, and
    the DECIMAL ``0.5`` is widened to the same double 0.5 in the add."""
    s = f"1e{d}"
    return f"(floor(({expr}) * {s} + 0.5) / {s})"


def cosine_topk(
    emb: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a 1-row query DataFrame (col `qv`).

    The query side is broadcast; each partition scores its rows and the
    rounded score + id tiebreak gives a total order for the limit.
    """
    # Query-side quantized array + norm precompute into the 1-row
    # broadcast — an inline cosine would re-quantize and re-fold them
    # once per corpus row. Same division grouping as cosine() ->
    # identical doubles.
    q2 = query_vec.selectExpr(*_query_stage_sql("qv"))
    scored = emb.crossJoin(F.broadcast(q2)).selectExpr(
        id_col, f"{_round_sql(_cos_vs_query_sql(vec_col), 4)} AS cos_sim"
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def _query_stage_sql(qv: str) -> tuple[str, str]:
    """(``_qqv``, ``_qn``) projections: a query vector's quantized array
    and norm, staged once in a broadcast instead of once per corpus row."""
    qq = _qint_sql(qv)
    return f"{qq} AS _qqv", f"{_norm_q_sql(qq)} AS _qn"


def _cos_vs_query_sql(vec_col: str) -> str:
    """Cosine of ``vec_col`` against the staged ``_qqv``/``_qn`` query."""
    q = _qint_sql(vec_col)
    return _cos_q_sql(q, "_qqv", _norm_q_sql(q), "_qn")


def _hyperplane_sign_bucket_sql(qvec: str, planes: list[list[float]]) -> str:
    """Random-hyperplane LSH bucket id: sign bit per plane, packed to a long.

    Takes a PRE-QUANTIZED vector column (:func:`_qint` staged once per
    row — the signs cost |planes| dots per row, so inline quantization
    would multiply that work). `planes` are fixed (seeded) driver-side
    constants, quantized HERE in python with the same floor(x·scale+0.5)
    the engines use (python floats are the same IEEE doubles, so the
    literal ints match the SQL twin exactly) — tiny int literals in the
    plan, no join and no per-row plane quantization. Cosine-similar
    vectors collide with probability 1 - theta/pi per bit.
    """
    import math

    bits = []
    for i, p in enumerate(planes):
        qlit = ", ".join(str(int(math.floor(float(x) * QUANT_SCALE + 0.5))) for x in p)
        bits.append(
            f"(CASE WHEN {_dot_q_sql(qvec, f'array({qlit})')} >= 0 THEN {1 << i} ELSE 0 END)"
        )
    return f"CAST({' + '.join(bits)} AS BIGINT)"


def ivf_topk(
    emb: DataFrame,
    centroids: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage IVF search: (1) assign every vector to its nearest
    centroid (the inverted file); (2) score the query ONLY against
    vectors in the ``nprobe`` cells nearest to the query.

    Scale: stage 1 is a broadcast map over the corpus (computed once,
    reusable across queries — at 100 TB it would be a materialized
    column + partition key). Stage 2 prunes the scan to nprobe/ncells of
    the corpus; Catalyst turns the cell filter into a semi-join on the
    tiny probed-cell list. Recall < 1 by design — q40's brute force is
    the exactness baseline.
    """
    cent = centroids.selectExpr(
        f"{id_col} AS cell_id",
        f"{vec_col} AS cell_vec",
        f"{_qint_sql(vec_col)} AS cell_qv",
        f"{_norm_q_sql(_qint_sql(vec_col))} AS cell_nrm",
    )
    # stage 1: inverted file — nearest centroid per corpus vector. The
    # corpus vector's quantized array + norm are staged ONCE per row
    # (not once per centroid — the assignment scores |cells| pairs per
    # vector), and centroid quantizations/norms precompute into the tiny
    # broadcast. Same division grouping as cosine() -> identical doubles.
    # The argmax aggregates SLIM columns only: max_by on the composite
    # (c_cos, -cell_id) reproduces the (score desc, cell_id asc) window
    # tiebreak with map-side partials (a SortAggregate, partial and
    # final, like nearest_centroid's argmin — the exchange moves one
    # (id, cell) row per vector and task, not |cells| payload rows), and
    # the embedding column rejoins afterwards instead of riding the
    # aggregation buffer.
    c_cos = _cos_q_sql("_qv", "cell_qv", "_nrm", "cell_nrm")
    cell_map = (
        emb.selectExpr("*", f"{_qint_sql(vec_col)} AS _qv")
        .selectExpr("*", f"{_norm_q_sql('_qv')} AS _nrm")
        .crossJoin(F.broadcast(cent))
        .selectExpr(id_col, "cell_id", f"{_round_sql(c_cos, 6)} AS c_cos")
        .groupBy(id_col)
        .agg(F.expr("max_by(cell_id, struct(c_cos, -cell_id AS _t)) AS cell_id"))
    )
    # probed cells: nprobe centroids nearest to the query
    q_cos = _round_sql(_cosine_sql("cell_vec", "qv"), 6)
    probed = (
        cent.crossJoin(F.broadcast(query_vec))
        .selectExpr("*", f"{q_cos} AS q_cos")
        .orderBy(F.desc("q_cos"), F.asc("cell_id"))
        .limit(nprobe)
        .select("cell_id")
    )
    # stage 2: score only vectors living in probed cells. The probed-cell
    # filter lands on the SLIM (id, cell) mapping FIRST — the embedding
    # payload rejoins only for the nprobe/ncells survivors, so the big
    # join's build side shrinks before any vector bytes move (query-side
    # quantization + norm staged in the 1-row broadcast, one fold each
    # instead of one per row)
    q2 = query_vec.selectExpr(*_query_stage_sql("qv"))
    candidates = emb.select(id_col, vec_col).join(
        cell_map.join(F.broadcast(probed), "cell_id"), id_col
    )
    scored = candidates.crossJoin(F.broadcast(q2)).selectExpr(
        id_col, "cell_id", f"{_round_sql(_cos_vs_query_sql(vec_col), 4)} AS cos_sim"
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def lsh_bucket_ann(
    emb: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate near-neighbor pairs: bucket by hyperplane signs, score
    only within buckets. Returns (id_a, id_b, cos_sim >= min_cos).

    Shape: ONE bucketing pass (the 2^|planes| sign computation is |planes|
    dot products per row), groupBy bucket collecting (id, vector), then
    row-local pair generation + cosine inside each bucket — a single
    shuffle, no self-join, so the bucketing branch isn't computed twice.
    1.7× faster than the bucket self-join at sf0.1, identical output.

    Bucket occupancy is the memory knob: expected size = n / 2^|planes|,
    so SIZE BUCKETS BY ADDING PLANES as the corpus grows (each plane
    halves occupancy and sharpens the candidate filter). ``max_bucket``
    additionally drops over-full buckets outright for adversarial inputs
    (a degenerate bucket of near-identical vectors adds no recall worth
    its d² cost); None = keep all, the oracle-exact setting.
    """
    # The per-vector QUANTIZED array and norm ride along in the bucket
    # payload: computed ONCE per vector at bucketing time instead of
    # once/twice per candidate pair (pair count >> vector count is
    # exactly when LSH matters). The quantization itself is STAGED
    # through a select so the 6 sign dots + norm + payload share one
    # _qint evaluation (CollapseProject keeps a non-cheap expr staged
    # when it is referenced more than once). Identical ints -> identical
    # cosines; id stays the leading struct field so array_sort still
    # orders pairs by id.
    staged = emb.selectExpr(id_col, f"{_qint_sql(vec_col)} AS _qv")
    bucketed = staged.selectExpr(
        _bucket_payload_sql(id_col),
        f"{_hyperplane_sign_bucket_sql('_qv', planes)} AS bucket",
    )
    return pairs_within_buckets(
        bucketed, id_col=id_col, min_cos=min_cos, max_bucket=max_bucket
    )


def _bucket_payload_sql(id_col: str) -> str:
    """The ``d`` payload :func:`pairs_within_buckets` expects, from
    ``id_col`` and a staged quantized ``_qv``: id leads so array_sort
    orders by it."""
    return f"struct({id_col}, _qv, {_norm_q_sql('_qv')} AS _nrm) AS d"


def pairs_within_buckets(
    bucketed: DataFrame,
    id_col: str = "vec_id",
    min_cos: float = 0.8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Row-local pair generation + cosine inside pre-assigned buckets —
    the shared core of :func:`lsh_bucket_ann` (hyperplane buckets) and
    :func:`semantic_dedup` (centroid-cluster buckets). ``bucketed`` must
    have a ``bucket`` column and a ``d`` struct of
    (``id_col``, ``_qv`` quantized int64 array, ``_nrm`` quantized norm).

    One shuffle (groupBy bucket), collect-sorted payloads, pair transform
    scoring each pair exactly once; ``max_bucket`` drops over-full buckets
    (:func:`~.dedup.drop_hot_groups`) so the oversized bucket's array is
    never materialized in an agg buffer.
    """
    if max_bucket is not None:
        bucketed = drop_hot_groups(bucketed, ["bucket"], max_bucket)
    grouped = (
        bucketed.groupBy("bucket")
        .agg(F.expr("array_sort(collect_list(d)) AS ds"))
        .filter("size(ds) >= 2")
    )
    # Cosine is computed INSIDE the pair transform so each pair scores
    # exactly once: a post-projection .filter(cos_sim >= t) would be
    # pushed below the Project, substituting the whole fold expression
    # into a second per-row evaluation (SCALE.md pushdown pathology).
    # Filtering on the generator's output field cannot sink below the
    # Generate.
    cos = _round_sql(_cos_q_sql("x._qv", "y._qv", "x._nrm", "y._nrm"), 4)
    pair = f"struct(x.{id_col} AS id_a, y.{id_col} AS id_b, {cos} AS cos_sim)"
    pairs = grouped.selectExpr(f"{all_pairs_sql('ds', pair)} AS p")
    # "D": a bare 0.8 is a DECIMAL literal in Spark SQL
    return pairs.filter(f"p.cos_sim >= {float(min_cos)!r}D").selectExpr(
        "p.id_a AS id_a", "p.id_b AS id_b", "p.cos_sim AS cos_sim"
    )


def semantic_dedup(
    emb: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.8,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus into clusters around seed
    centroids, then drop every vector that has a LOWER-ID cluster-mate
    with cosine >= ``min_cos``. Returns survivors (``id_col``,
    ``cluster_id``) — the canonical "remove semantically redundant
    training documents" operator, completing the dedup family's scale
    ladder (exact / MinHash / SimHash / Jaccard / LSH-cosine /
    centroid-cluster cosine).

    ``seeds`` is (seed_id, seed_qv) with PRE-QUANTIZED vectors (see
    :func:`_qint`) and must be bounded by construction — the caller picks
    k (fixed count or a fixed-rate sample), which is what bounds the
    broadcast below; at 100 TB k is a parameter (e.g. 65k centroids ·
    64 dims · 8 B ≈ 33 MB), never O(corpus). Assignment is
    :func:`nearest_centroid` (q83's k-means step): staged quantization,
    exact int64 squared-L2 scores, a SortAggregate argmin with
    (distance, seed_id) tiebreak. A corpus row whose id IS a seed id
    clusters to itself without scoring (distance 0 is the unique
    minimum, so this is an identity, not a special case — it just skips
    k wasted scores).

    Shape at scale: one bounded broadcast (seeds), one shuffle on
    ``id_col`` (the argmin aggregate), one shuffle on ``cluster_id``
    (the pair generation of :func:`pairs_within_buckets`), one
    distinct + left_anti on the dropped-id set — deliberately NOT
    hint-broadcast (the dropped set is O(corpus) in a redundant corpus;
    AQE still broadcasts it when it is actually small). ``max_cluster``
    caps degenerate clusters exactly like ``max_bucket`` in
    :func:`lsh_bucket_ann`; mirror it in any oracle.
    """
    staged = emb.selectExpr(id_col, f"{_qint_sql(vec_col)} AS _qv")
    seed_ids = seeds.selectExpr(f"seed_id AS {id_col}")
    corpus = staged.join(F.broadcast(seed_ids), id_col, "left_anti")
    assign = nearest_centroid(
        corpus, seeds, [id_col], "_qv", "seed_qv", "seed_id"
    ).selectExpr(id_col, "seed_id AS cluster_id")
    # The assignment subtree feeds THREE consumers (pair generation, the
    # dropped-id derivation, and the survivor anti-join) and Catalyst
    # plans each as an independent copy — 3 BroadcastNestedLoopJoins and
    # ~3× the argmin work, with no ReusedExchange (the consumers sit in
    # different subtree shapes). localCheckpoint materializes the slim
    # (id, _qv, cluster_id) table ONCE and truncates the lineage, the
    # same treatment q57's connected-components gives its per-round
    # labels (operators/curation.py). Measured at sf0.1: 11.1 s → 3.4 s.
    members = (
        corpus.join(assign, id_col)
        .unionByName(
            staged.join(F.broadcast(seed_ids), id_col).selectExpr(
                "*", f"{id_col} AS cluster_id"
            )
        )
        .localCheckpoint(eager=False)
    )
    bucketed = members.selectExpr(_bucket_payload_sql(id_col), "cluster_id AS bucket")
    pairs = pairs_within_buckets(
        bucketed, id_col=id_col, min_cos=min_cos, max_bucket=max_cluster
    )
    dropped = pairs.selectExpr(f"id_b AS {id_col}").distinct()
    return members.select(id_col, "cluster_id").join(dropped, id_col, "left_anti")
