"""Corpus-curation operators for a large-scale training-data pipeline.

The reference curates its corpus with only two tools: a unique-key index
(``pipelines.py:33``) and a min-word-count filter
(``data_preparation.py:140``). This module adds the curation family a
100 TB corpus needs, each expressed Spark-first:

  redact_pii            — native regexp chain (emails / IPv4 / phones)
  sample_key_expr       — stable 32-bit md5 sampling key (reproducible
                          sampling & weighted dataset mixing)
  hash_sample           — deterministic keep-if-below-threshold sampling
  connected_components  — min-label propagation over candidate-pair edges
                          (duplicate clustering on top of MinHash/SimHash)
  asof_join             — generic as-of join as a composition of existing
                          DataFrame ops (union + ignoreNulls last() window)
  temperature_rates     — n^0.5-temperature per-language mixing rates
  shard_manifest        — deal docs into shards, pack them after the
                          stored token totals, per-shard manifest partials
                          (the batch q267 and streaming q277 corpus builds)

Scale notes: PII redaction and sampling are row-local (zero shuffle);
connected_components is the standard O(diameter)-round label propagation
where every round is ONE shuffle (join on neighbor id) — at 100 TB the
round count is bounded by near-dup cluster diameter, which for text
corpora is tiny (dup clusters are dense, not chains); asof_join costs a
single shuffle of both inputs on the join key — no per-key loop, no
broadcast of the big side, and skew is bounded by per-key row counts.
All hashing is md5-based (engine-portable), never ``hash()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import sql_str
from .incremental import merge_partials

# Patterns chosen to compile identically under Java regex (Spark) and RE2
# (DuckDB): no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+?\d[\d -]{7,}\d"

# Redaction order matters: emails first (their local part may contain
# digits), then dotted quads, then bare digit runs.
PII_STEPS: tuple[tuple[str, str], ...] = (
    (EMAIL_RE, "[EMAIL]"),
    (IPV4_RE, "[IP]"),
    (PHONE_RE, "[PHONE]"),
)


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-row PII hit counts (pre-redaction), JVM-side regexp_count."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)).cast("long"),
        "n_ips": F.regexp_count(c, F.lit(IPV4_RE)).cast("long"),
        "n_phones": F.regexp_count(c, F.lit(PHONE_RE)).cast("long"),
    }


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with its placeholder token. Pure native
    ``regexp_replace`` chain — row-local, codegen'd, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, repl in PII_STEPS:
        c = F.regexp_replace(c, pattern, repl)
    return c


SAMPLE_KEY_BITS = 32
SAMPLE_KEY_MOD = 1 << SAMPLE_KEY_BITS


def sample_key_expr(id_col: Column | str, salt: str = "smpl") -> Column:
    """Stable uniform 32-bit sampling key: first 8 hex chars of
    ``md5(salt:id)`` as a BIGINT in [0, 2^32).

    Integer-valued end to end (no float thresholds), so sampling decisions
    hash-match across engines and across runs; changing ``salt`` draws an
    independent sample. Nested sampling is free: ``key < r1*2^32`` is a
    superset of ``key < r2*2^32`` whenever r1 > r2 (same salt).
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    hex8 = F.substring(F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))), 1, 8)
    return F.conv(hex8, 16, 10).cast("long")


def sample_threshold(rate: float) -> int:
    """Integer keep-threshold for a sampling rate in [0, 1]."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return int(rate * SAMPLE_KEY_MOD)


#: Fixed per-language mixing rates (q56 and the streaming curation
#: flow); power-of-two rates make the thresholds exact integers.
LANG_RATES: tuple[tuple[str, float], ...] = (
    ("en", 1.0),
    ("de", 0.5),
    ("es", 0.25),
    ("fr", 0.125),
    ("zh", 0.0625),
)


def lang_keep_threshold(rates: tuple[tuple[str, float], ...] = LANG_RATES) -> Column:
    """Per-row keep-threshold for fixed (lang, rate) pairs: a doc is kept
    when its sample key is below it. NULL for a language not in
    ``rates``, so those docs are dropped."""
    cases = " ".join(
        f"WHEN lang = {sql_str(lang)} THEN {sample_threshold(rate)}" for lang, rate in rates
    )
    return F.expr(f"CAST(CASE {cases} END AS BIGINT)")


def rate_keep_threshold(rate_col: str = "rate") -> Column:
    """Per-row keep-threshold for a sampling-rate column,
    floor(rate * 2^32): the column twin of :func:`sample_threshold`."""
    return F.expr(f"CAST(floor({rate_col} * {float(SAMPLE_KEY_MOD)}D) AS BIGINT)")


def temperature_rates(counts: DataFrame, budget: float) -> DataFrame:
    """(lang, rate): n^0.5-temperature sampling rates off a per-stratum
    count table (q103/q167 shared core). The Σ√n / Σn denominators come
    from a GLOBAL window over the counts table — O(#strata) rows in one
    task, so the unpartitioned window is bounded by construction AND the
    counts subtree enters the plan once (a separate .agg() + crossJoin
    re-derives the count pass). Association mirrors the oracle exactly:
    (budget*tot) * (sqrt(n)/d) / n."""
    from pyspark.sql import Window as W

    w_all = W.partitionBy()
    return counts.select(
        "lang",
        F.least(
            F.lit(1.0),
            F.round(
                (F.lit(budget) * F.sum("n").over(w_all))
                * (F.sqrt("n") / F.sum(F.sqrt("n")).over(w_all))
                / F.col("n"),
                6,
            ),
        ).alias("rate"),
    )


def hash_sample(df: DataFrame, id_col: str, rate: float, salt: str = "smpl") -> DataFrame:
    """Deterministic rate-sampling: keep rows whose sample key falls below
    ``rate * 2^32``. Row-local filter — pushes down past the scan."""
    return df.filter(sample_key_expr(id_col, salt) < F.lit(sample_threshold(rate)))


def stratified_sample(
    df: DataFrame, stratum_col: str, id_col: str, n_per_stratum: int, salt: str = "strat"
) -> DataFrame:
    """Deterministic fixed-size sample per stratum: rank rows within each
    stratum by their md5 sampling key (id tiebreak) and keep the first
    ``n_per_stratum`` — the balanced eval-set / per-domain-quota shape.

    One shuffle on the stratum key. Adds a ``sample_rank`` column
    (1..n). For heavily skewed strata the window sort is bounded by
    per-stratum row counts; a two-phase variant (pre-filter by an
    estimated key threshold, then exact rank) caps that at extreme
    scale.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(stratum_col).orderBy(
        sample_key_expr(id_col, salt), F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list → (v, cluster_id)
    where cluster_id is the MIN vertex id in the component.

    The duplicate-clustering step that turns MinHash/SimHash candidate
    PAIRS into dedup CLUSTERS (pick one survivor per cluster). Min-label
    propagation: every vertex repeatedly takes the min label among itself
    and its neighbors until fixpoint.

    Scale design:
      * each round = one shuffle (join on neighbor id) + one groupBy —
        both hash-partitioned on vertex id, so successive rounds reuse
        the same partitioning;
      * rounds needed = max component diameter; dup clusters in text
        corpora are near-cliques (diameter ≤ ~3), not chains;
      * ``localCheckpoint`` truncates the lineage each round so the plan
        does not grow exponentially with iterations;
      * fully deterministic: min() is order-insensitive, no partitioning
        dependence.
    Raises ``RuntimeError`` when ``max_iter`` rounds pass without a
    fixpoint: a partial clustering is corruption, not a result.
    Isolated vertices never enter ``edges`` and are their own singleton
    clusters by definition — callers that need them add
    ``all_ids.join(result, "v", "left")`` + coalesce(cluster_id, v).
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.localCheckpoint(eager=False)
    # Fused round 0: the label table needs a shuffle on vertex id anyway
    # (the old init was .distinct()), so spend that same shuffle doing the
    # first propagation — lbl = min(v, neighbors). Near-clique dup
    # components converge here, leaving only the fixpoint check.
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("nb"))
        .select(F.col("a").alias("v"), F.least("a", "nb").alias("lbl"))
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["v"])
            .groupBy("a")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stepped = (
            labels.join(nbr_min, labels["v"] == nbr_min["a"], "left")
            .select(
                "v",
                F.col("lbl").alias("old_lbl"),
                F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
            )
            # lazy: the convergence agg below is the round's ONE action —
            # it materializes (and caches) stepped as a side effect. One
            # action is not one job: under AQE every shuffle stage of the
            # pinned plan runs as its own job, ~8 per round (16- and
            # 32-edge chains ran 128 and 256 jobs on 4 cores)
            .localCheckpoint(eager=False)
        )
        changed = int(
            stepped.agg(
                F.sum((F.col("lbl") < F.col("old_lbl")).cast("long"))
            ).first()[0]
            or 0
        )
        labels = stepped.select("v", "lbl")
        if changed == 0:
            return labels.select("v", F.col("lbl").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(unconverged labels split components)"
    )


def resolve_ancestors(
    mapping: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve each child's parent-pointer CHAIN to its terminal ancestor.

    Input is a functional graph — at most one ``parent`` per ``child``,
    and acyclic (every near-dup claimant arrived strictly before its
    duplicate, so dedup chains A←B←C can never loop). Output maps every
    child to the END of its chain: the ancestor that is not itself a
    child (the SURVIVING document in a dedup mapping).

    This is deliberately NOT min-label connected components
    (:func:`connected_components`): with out-of-order ids across stream
    micro-batches the terminal ancestor need not be the min id of its
    component (doc 10 arrives first, doc 5 duplicates it later → the
    survivor is 10). Chain-following respects arrival order; min-label
    would not.

    Scale design — pointer doubling, not step-by-step walking: each round
    self-joins the current resolution table (child → 2^k-step ancestor)
    with itself, so depth-d chains resolve in ceil(log2 d)+1 rounds of
    ONE hash-join shuffle each (both sides partitioned on the join key);
    ``localCheckpoint`` truncates lineage per round; the convergence
    probe is a ``limit(1).count()`` — no driver-side data movement.
    Raises ``RuntimeError`` when ``max_iter`` rounds pass without a
    fixpoint (an unresolved parent is a dropped document).
    """
    res = (
        mapping.select(F.col(child).alias("c"), F.col(parent).alias("p"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        jump = res.select(F.col("c").alias("jc"), F.col("p").alias("jp"))
        stepped = (
            res.join(jump, res["p"] == jump["jc"], "left")
            .select(
                "c",
                F.coalesce("jp", "p").alias("p"),
                F.col("jc").isNotNull().alias("_moved"),
            )
            # lazy: the convergence agg is the round's ONE action and
            # materializes stepped as a side effect; under AQE that is ~5
            # Spark jobs per round (see connected_components)
            .localCheckpoint(eager=False)
        )
        moved = int(
            stepped.agg(F.sum(F.col("_moved").cast("long"))).first()[0] or 0
        )
        res = stepped.select("c", "p")
        if moved == 0:
            return res.select(F.col("c").alias(child), F.col("p").alias(parent))
    raise RuntimeError(
        f"resolve_ancestors did not converge in {max_iter} rounds "
        "(unresolved parents name dropped documents)"
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    strict: bool = False,
) -> DataFrame:
    """As-of join: attach to each left row the LATEST right row with
    ``right_ts <= left_ts`` (``<`` when ``strict``) for the same ``on``
    key. Spark lacks this operator; this is the single-shuffle
    composition (SURVEY §2.3 "custom operators" path a):

      1. tag and union both inputs on (key, ts, tag);
      2. one window sorted by (ts, tag) per key: ``last(right_payload,
         ignoreNulls=True)`` over rows UNBOUNDED PRECEDING..CURRENT;
      3. keep left rows, unpack the carried payload.

    At equal timestamps the tag breaks the tie: non-strict sorts right
    rows BEFORE left rows (visible), strict sorts them AFTER (invisible).
    Right rows duplicated on (key, ts) must be pre-deduped by the caller
    for a deterministic winner (e.g. ``first_wins``).

    Left rows with no admissible right row keep NULL payload (left-join
    semantics). Cost: one shuffle of each side on ``on`` — no driver
    loop, no O(n·m) theta join; skew follows key frequency, mitigable by
    AQE skew-join handling.
    """
    from pyspark.sql import Window as W

    left_tag, right_tag = (1, 2) if strict else (1, 0)
    payload = F.struct(*[F.col(c) for c in right_cols]).alias("_rv")
    l2 = left.select(
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.lit(left_tag).alias("_tag"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lv"),
        F.lit(None).cast(right.select(payload).schema["_rv"].dataType).alias("_rv"),
    )
    r2 = right.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        F.lit(right_tag).alias("_tag"),
        F.lit(None).cast(left.select(F.struct(*[F.col(c) for c in left.columns]).alias("_lv")).schema["_lv"].dataType).alias("_lv"),
        payload,
    )
    w = (
        W.partitionBy(on)
        .orderBy("_ts", "_tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = (
        l2.union(r2)
        .withColumn("_match", F.last("_rv", ignorenulls=True).over(w))
        .filter(F.col("_tag") == left_tag)
    )
    out_cols = [F.col(f"_lv.{c}").alias(c) for c in left.columns] + [
        F.col(f"_match.{c}").alias(c) for c in right_cols
    ]
    return matched.select(*out_cols)


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "shuf",
) -> DataFrame:
    """Global deterministic training-order shuffle + hash-range sharding:
    adds ``shuffle_key`` (the 32-bit md5 key of :func:`sample_key_expr`)
    and ``shard_id`` = floor(key·n_shards / 2³²) — the "randomize document
    order before training" step of a pretraining pipeline (every epoch-0
    data order in C4/Dolma-style corpora is exactly this).

    The scale point: a global shuffle needs NO global sort. The key is a
    row-local map (pushes past the scan, zero shuffle to compute), the
    shard boundaries are fixed ranges of a uniform key space (balanced in
    expectation at any corpus size, no quantile pass), and within-shard
    order is established at WRITE time by sortWithinPartitions (see
    :func:`write_shuffle_shards`) — per-partition sorts, never a single
    range-partitioned total order. key·n ≤ 2⁴⁸ stays exactly
    representable in the IEEE division by 2³², so shard assignment is
    engine-deterministic; changing ``salt`` re-deals the epoch.
    """
    if n_shards < 1 or n_shards > (1 << 16):
        raise ValueError(f"n_shards must be in [1, 65536], got {n_shards}")
    key = sample_key_expr(id_col, salt)
    return df.withColumn("shuffle_key", key).withColumn(
        "shard_id",
        F.floor(
            F.col("shuffle_key") * F.lit(n_shards) / F.lit(float(SAMPLE_KEY_MOD))
        ).cast("long"),
    )


def write_shuffle_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_shards: int = 16,
    salt: str = "shuf",
) -> None:
    """Materialize the shuffled corpus as one parquet directory per shard,
    rows in shuffle_key order within each shard: repartition on shard_id
    (one uniform hash shuffle) + sortWithinPartitions (per-partition
    spillable sorts) + partitionBy write. Reading shards back in shard_id
    order yields the full deterministic training order without any
    consumer-side sort."""
    out = shuffle_shards(df, id_col, n_shards, salt)
    # The sort LEADS with shard_id: FileFormatWriter requires its input
    # ordered by the partition columns and silently inserts its own
    # (unstable) sort when it is not — which would scramble the key
    # order just established. Satisfying the requirement up front makes
    # the explicit sort the only one in the plan.
    (
        out.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "shuffle_key", id_col)
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def cc_two_phase(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 40,
) -> tuple[DataFrame, list[dict]]:
    """Connected components in O(log n) rounds via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014) → ((v, cluster_id), round stats).

    :func:`connected_components` (min-label propagation) converges in
    O(component diameter) rounds — the right tool for the near-clique
    duplicate clusters LSH banding emits (diameter ≤ ~3), but a trap on
    chain-shaped graphs (CDC-chunk overlap, citation-like corpora) where
    the diameter is O(n) and 100 TB graphs would need thousands of
    shuffles. Star contraction doubles the "reach" of every component
    minimum each round instead:

      * LARGE-STAR (per node u over its full neighborhood N(u)):
        connect every neighbor v > u to m = min(N(u) ∪ {u}).
      * SMALL-STAR (per node u over smaller neighbors N⁻(u)):
        connect u and every v ∈ N⁻(u) to m = min(N⁻(u) ∪ {u}).

    Both preserve connectivity and never raise any node's smallest
    neighbor; the fixpoint is a forest of stars centered at component
    minima, reached in O(log² n) rounds worst-case (O(log n) observed).

    Scale design: every phase is one groupBy(min) + one join, both
    hash-partitioned on the node id, over an edge list kept in CANONICAL
    (big, small) direction; edges localCheckpoint each round so the plan
    stays O(1) deep; the per-round change count is an exceptAll on the
    (long, long) edge set. Deterministic: min() is order-insensitive.
    Like connected_components, vertices appear in the output iff they
    appear in ``edges`` (isolated vertices are their own singletons by
    definition at the caller).

    Returns ``(labels, rounds)``: labels = (v, cluster_id = component
    min); rounds = per-round dicts {round, n_edges, changed} — the
    convergence trace (changed = edges in the new set absent from the
    old). Raises if ``max_rounds`` is hit before the fixpoint: a silent
    partial clustering is corruption, not a result.
    """
    a, b = F.col(src), F.col(dst)
    e = (
        edges.select(F.greatest(a, b).alias("a"), F.least(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)  # the n_prev count materializes it
    )
    rounds: list[dict] = []
    n_prev = e.count()
    for rnd in range(1, max_rounds + 1):
        # large-star: symmetric neighborhoods; emit (v, m) for v > u
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least("a", "mn").alias("m"))
        )
        e_ls = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
            .localCheckpoint(eager=False)  # both small-star readers share
            # one materialization inside the convergence action below
        )
        # small-star: canonical edges already point big→small, so the
        # groupBy key IS the star center u and every b < u
        mins_s = e_ls.groupBy("a").agg(F.min("b").alias("m"))
        e_ss = (
            e_ls.join(mins_s, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins_s.select(F.col("a"), F.col("m").alias("b")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # ONE action per round: n_edges and changed fused into a single
        # aggregate (both edge sets are DISTINCT by construction, so the
        # old exceptAll count equals the unmatched-row count of a left
        # join — no second shuffle pass, no separate count action). The
        # agg also materializes the round's checkpoints, so under AQE the
        # one action runs ~13 Spark jobs per round (16- and 32-edge
        # chains: 5 and 6 rounds, 68 and 81 jobs on 4 cores).
        stats = (
            e_ss.join(
                e.select("a", "b", F.lit(1).alias("_old")), ["a", "b"], "left"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("_old").isNull().cast("long")).alias("chg"),
            )
            .first()
        )
        n_new = int(stats["n"])
        new_edges = int(stats["chg"] or 0)
        rounds.append({"round": rnd, "n_edges": n_new, "changed": new_edges})
        converged = new_edges == 0 and n_new == n_prev
        e, n_prev = e_ss, n_new
        if converged:
            labels = e.select(
                F.col("a").alias("v"), F.col("b").alias("cluster_id")
            ).union(
                e.select(F.col("b").alias("v"), F.col("b").alias("cluster_id"))
            ).distinct()
            return labels, rounds
    raise RuntimeError(
        f"cc_two_phase did not converge in {max_rounds} rounds "
        f"(last: {rounds[-1]})"
    )


def repetition_ratios(df: DataFrame, *, carry: tuple[str, ...] = ("lang",)) -> DataFrame:
    """Gopher-style repetition features, no quality filter: (doc_id,
    *carry, n_tokens, dup_word_ratio, top_bigram_ratio) for every doc of
    at least 2 space-separated tokens.

    dup_word_ratio = 1 - distinct/all tokens; top_bigram_ratio = the
    most frequent bigram's share of all bigrams, row-local (see
    ``max_run_count_expr``). Per-doc, so one definition serves the batch
    queries, the delta and streaming corpus builds and the curation
    stream alike.
    """
    from ..functions.textstats import max_run_count_expr
    from .dedup import shingles_from_tokens

    # Tokens come out of a generator: the filters on them (here and in
    # gate_documents) cannot sink below a Generate, so they read the
    # once-split tokens. Staged by a projection, split(text) would be
    # inlined into every size/distinct/slice term of a pushed-down filter.
    toked = df.selectExpr(
        "doc_id", *carry, "explode(array(split(text, ' '))) AS _toks"
    ).filter("size(_toks) >= 2")
    staged = toked.select(
        "doc_id", *carry, "_toks", shingles_from_tokens("_toks", 2).alias("_bi")
    )
    return staged.select(
        "doc_id",
        *carry,
        F.expr("CAST(size(_toks) AS BIGINT)").alias("n_tokens"),
        F.expr("round(1.0D - size(array_distinct(_toks)) / size(_toks), 4)").alias(
            "dup_word_ratio"
        ),
        F.round(max_run_count_expr("_bi") / (F.size("_toks") - 1), 4).alias(
            "top_bigram_ratio"
        ),
    )


def gate_documents(
    df: DataFrame,
    *,
    dup_t: float = 0.6,
    bigram_t: float = 0.1,
    carry: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """The row-local repetition quality gate: :func:`repetition_ratios`
    rows with dup_word_ratio <= ``dup_t`` and top_bigram_ratio <=
    ``bigram_t``. Shared by q167, the batch (q267) and streaming (q277)
    corpus builds and the curation stream; per-doc, so delta-gating ≡
    rebuild-gating by construction."""
    # the threshold filter reads the ratios off a generator, so it stays
    # above the projection that computes them once per doc
    return (
        repetition_ratios(df, carry=carry)
        .selectExpr("inline(array(struct(*)))")
        .filter(f"dup_word_ratio <= {float(dup_t)}D AND top_bigram_ratio <= {float(bigram_t)}D")
    )


#: The per-shard manifest's columns: every one an additive partial, so a
#: manifest folds by merge_partials on shard_id.
MANIFEST_COLS = ("n_docs", "n_tokens", "n_spanning", "checksum")


def shard_manifest(
    docs: DataFrame,
    stored_man: DataFrame | None,
    *,
    n_shards: int,
    seqlen: int,
    salt_shuf: str,
    salt_sum: str,
) -> DataFrame:
    """The manifest partials of ``docs`` (doc_id, n_tokens) packed after
    ``stored_man`` — the corpus shard → manifest algebra shared by the
    batch (q267) and streaming (q277) corpus builds.

    Docs are dealt into shards by :func:`shuffle_shards` and packed in
    (shuffle_key, doc_id) order, starting at the shard's stored token
    total (q170's offset algebra; 0 for a new shard or no stored
    manifest), so history is never repacked. Returns one row per shard
    the docs land in: (shard_id, *MANIFEST_COLS) of ``docs`` alone —
    n_spanning counts docs crossing a ``seqlen`` boundary, checksum sums
    a ``salt_sum`` sample key per doc (exact int64). Fold it into
    ``stored_man`` with ``incremental.merge_partials``.
    """
    from ..operators.skew import exclusive_prefix_sum

    sharded = (
        shuffle_shards(
            docs.select("doc_id", "n_tokens"), "doc_id", n_shards, salt=salt_shuf
        )
        .withColumn("_ord", F.col("shuffle_key") * F.lit(2**31) + F.col("doc_id"))
        .withColumn("_ck", sample_key_expr("doc_id", salt=salt_sum))
    )
    packed = exclusive_prefix_sum(
        sharded, "shard_id", "_ord", "n_tokens", block_size=2**47
    )
    if stored_man is None:
        packed = packed.withColumn("_base_tok", F.lit(0))
    else:
        packed = packed.join(
            stored_man.select("shard_id", F.col("n_tokens").alias("_base_tok")),
            "shard_id",
            "left",
        ).withColumn("_base_tok", F.coalesce("_base_tok", F.lit(0)))
    first = F.expr(f"(_base_tok + _prefix) div {seqlen}")
    last = F.expr(f"(_base_tok + _prefix + n_tokens - 1) div {seqlen}")
    return packed.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.when(last > first, 1).otherwise(0)).cast("long").alias("n_spanning"),
        F.sum("_ck").cast("long").alias("checksum"),
    )


def delta_corpus_build(
    tagged: DataFrame,
    *,
    n_shards: int = 8,
    seqlen: int = 128,
    budget: float = 0.5,
    dup_t: float = 0.6,
    bigram_t: float = 0.1,
    salt_mix: str = "dcmix",
    salt_shuf: str = "dcshuf",
    salt_sum: str = "dcsum",
) -> DataFrame:
    """Epoch-aware nightly corpus build: the DELTA apply of the flagship
    full-rebuild chain (plans/curation_plans.q167), r7 verdict task #3.

    ``tagged`` = (doc_id, lang, text, e) where e=0 is the STORED base
    corpus and e=1 the newly-arrived batch. The chain per epoch contract:

    * dedup — first-EPOCH-wins, then min doc_id: a batch doc whose text
      already exists in the stored index is dropped regardless of id
      (the stored corpus wins — arrival order, not id order); within the
      batch, min-id wins. One window over (fingerprint) ordered by
      (e, doc_id) expresses BOTH in one shuffle, and equals "probe the
      stored fingerprint index, then dedup the batch" row-for-row.
    * gate — q167's row-local quality gate (dup_word_ratio,
      top_bigram_ratio): per-doc, so delta-gating ≡ rebuild-gating.
    * mix — per-epoch FROZEN temperature rates: base docs were sampled
      at the stored rates (computed from base post-gate counts) and are
      never re-sampled; batch docs sample at rates recomputed from the
      UPDATED (base+batch) post-gate counts. This is the sticky-rate
      semantics a real incremental pipeline has — re-sampling history on
      every delta would churn shards and invalidate checksums.
    * pack — batch docs append per shard starting at the STORED token
      totals (q170's proven offset algebra); history is never repacked.
    * manifest — additive merge; a shard no batch doc landed in keeps a
      BIT-IDENTICAL row (exact integer checksums; pinned by test).

    Oracle shape: ONE full rebuild over the union with the same epoch
    stamps (window ordered by (e, shuffle_key, doc_id)) — incremental
    must equal recompute, the ST6/IVM discipline.

    Scale: the only corpus-wide exchanges are the dedup window, the
    mix join (rates broadcast — O(#langs)), the shard groupBys, and the
    two-level prefix sums; in production the e=0 branches are READ from
    the stored manifest (O(#shards)) and fingerprint index, so a delta
    apply touches batch rows + metadata only.
    """
    from ..operators.dedup import fingerprint, first_wins

    surv = first_wins(tagged, [fingerprint("text")], ["e", "doc_id"])
    gated = gate_documents(
        surv, dup_t=dup_t, bigram_t=bigram_t, carry=("lang", "e")
    ).localCheckpoint()  # feeds rate counts + keyed pass
    # Per-epoch frozen rates
    rates0 = temperature_rates(
        gated.filter(F.col("e") == 0).groupBy("lang").agg(F.count("*").alias("n")),
        budget,
    ).withColumnRenamed("rate", "r0")
    rates1 = temperature_rates(
        gated.groupBy("lang").agg(F.count("*").alias("n")), budget
    ).withColumnRenamed("rate", "r1")
    key = sample_key_expr("doc_id", salt=salt_mix)
    mixed = (
        gated.join(F.broadcast(rates0), "lang", "left")  # new langs: no r0 needed
        .join(F.broadcast(rates1), "lang")
        .filter(
            ((F.col("e") == 0) & (key < rate_keep_threshold("r0")))
            | ((F.col("e") == 1) & (key < rate_keep_threshold("r1")))
        )
        .select("doc_id", "e", "n_tokens")
        .localCheckpoint()  # feeds the base and batch packings
    )
    pack = dict(
        n_shards=n_shards, seqlen=seqlen, salt_shuf=salt_shuf, salt_sum=salt_sum
    )
    base_man = shard_manifest(
        mixed.filter(F.col("e") == 0), None, **pack
    ).localCheckpoint()  # stored manifest stand-in: offsets + merge
    batch_man = shard_manifest(mixed.filter(F.col("e") == 1), base_man, **pack)
    return (
        merge_partials(
            base_man,
            batch_man.withColumn("delta_docs", F.col("n_docs")),
            ["shard_id"],
            (*MANIFEST_COLS, "delta_docs"),
        )
        .select(
            "shard_id",
            "n_docs",
            "n_tokens",
            F.expr(f"((n_tokens - 1) div {seqlen}) + 1").cast("long").alias("n_seqs"),
            "n_spanning",
            "checksum",
            "delta_docs",
            (F.col("delta_docs") > 0).cast("int").alias("changed"),
        )
        .orderBy("shard_id")
    )
