"""Dataset-quality / pipeline-ops plans (q72–q77): single-pass data
profiling, distribution-drift monitoring (PSI), snapshot diff (CDC),
time-series gap-fill with forward-fill (LOCF), weighted sampling without
replacement (Efraimidis–Spirakis), and an event transition matrix.

These are the operations a production training-data pipeline runs
*around* the corpus itself — profiling a new drop before ingestion,
detecting distribution drift between refreshes, diffing snapshots to
find changed partitions, densifying sparse per-key series, and drawing
reproducible weighted samples. The reference has none of them (its only
"profiling" is a row count, ``pipelines.py:31``; its only sampling is
``limit(1000)``, ``data_preparation.py:38-40``); each is re-derived here
Spark-first with an independent DuckDB oracle.

Scale notes (100 TB):
  * q72 profiles in ONE scan; the exact multi-column COUNT(DISTINCT)
    expands the scan ×n_cols map-side (Spark's Expand) but never
    re-reads — at 100 TB swap ``count_distinct`` for
    ``approx_count_distinct`` (same plan shape, no expand, ±2%).
  * q73/q74/q77 shuffle once on their natural grouping key.
  * q75's grid is |keys| × |hours| — generated, never shuffled wide;
    LOCF is one window sort per key (bounded partitions).
  * q76 is a per-stratum top-k (TakeOrdered-shaped, partial per
    partition) — no global sort.
Cross-engine determinism: hashes are md5-derived integers (never
``hash()``), floats are rounded at 4–6 dp, every LIMIT/top-k has a
unique-key tiebreak, and "now" anchors derive from the data.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detmath import det_ln
from ..functions.detmath import det_ln_sql as _det_ln_sql
from ..functions.detmath import det_exp_small_sql as _det_exp_small_sql
from ..sources.tables import load
from .curation_plans import _sample_key_sql
from .dedup_plans import _hex2int_sql
from .registry import Query


# ---------------------------------------------------------------------------
# q72 — single-pass data profiling (ext). Per-column null fraction, exact
# distinct count, and min/max (strings profiled via length) over the
# documents table: ONE scan, one agg row, unpivoted with stack(). The
# "know your data before you train on it" operator.
# ---------------------------------------------------------------------------
_PROFILE_COLS: tuple[tuple[str, bool], ...] = (
    # (column, is_numeric) — strings are profiled via length()
    ("doc_id", True),
    ("lang", False),
    ("n_chars", True),
    ("source", False),
    ("text", False),
)


def q72_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, numeric in _PROFILE_COLS:
        proxy = F.col(c) if numeric else F.length(c)
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(proxy).cast("double").alias(f"{c}__mn"),
            F.max(proxy).cast("double").alias(f"{c}__mx"),
        ]
    row = docs.agg(*aggs)
    branches = ", ".join(
        f"'{c}', round((n_rows - {c}__nn) / CAST(n_rows AS DOUBLE), 4), "
        f"{c}__nd, {c}__mn, {c}__mx"
        for c, _ in _PROFILE_COLS
    )
    return row.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {branches}) "
        "AS (col_name, null_frac, n_distinct, min_v, max_v)"
    ).orderBy("col_name")


def _profile_branch_sql(c: str, numeric: bool) -> str:
    proxy = c if numeric else f"length({c})"
    return (
        f"SELECT '{c}' AS col_name, "
        f"round((count(*) - count({c})) / CAST(count(*) AS DOUBLE), 4) AS null_frac, "
        f"count(DISTINCT {c}) AS n_distinct, "
        f"CAST(min({proxy}) AS DOUBLE) AS min_v, "
        f"CAST(max({proxy}) AS DOUBLE) AS max_v "
        f"FROM documents"
    )


Q72_SQL = (
    "SELECT * FROM ("
    + " UNION ALL ".join(_profile_branch_sql(c, n) for c, n in _PROFILE_COLS)
    + ") ORDER BY col_name"
)


# ---------------------------------------------------------------------------
# q73 — distribution drift / PSI (ext). Population Stability Index of the
# event_type distribution between the first and second half of the month
# (day-of-month anchor — data-derived, no wall clock). The drift monitor a
# pipeline runs between corpus refreshes: PSI < 0.1 stable, > 0.25 shifted.
# One scan, one shuffle on event_type (5 groups), window totals over the
# tiny aggregate. psi_total determinism (round-9 sweep): the per-term
# 1e-6 grid values are exact rationals k/1e6, so their DOUBLE window-sum
# can land exactly on a .00005 round boundary and flip with summation
# order (the q279 class) — psi_term is therefore carried as the integer
# tick ti6 = floor(term·1e6+0.5), summed as int64 (order-independent),
# and psi_total divides once at the end. The log feeding ti6 is
# detmath.det_ln (r10, ADVICE fix): engine ln() ulp-flips across
# JVM/libm exactly at a grid line, the same class the int64 sum cannot
# protect against — det_ln's fixed IEEE chain is bit-identical in both
# engines, so the double feeding floor() is too.
# ---------------------------------------------------------------------------
def q73_event_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    half_a = F.dayofmonth("ts") <= 15
    per_type = ev.groupBy("event_type").agg(
        F.sum(F.when(half_a, 1).otherwise(0)).alias("cnt_a"),
        F.sum(F.when(~half_a, 1).otherwise(0)).alias("cnt_b"),
    )
    w = Window.partitionBy()
    p_a = F.col("cnt_a") / F.sum("cnt_a").over(w)
    p_b = F.col("cnt_b") / F.sum("cnt_b").over(w)
    # PSI terms are ≥ 0 ((p_a−p_b) and ln(p_a/p_b) share a sign), so
    # floor(x·1e6+0.5) is exactly round-half-up on both engines.
    # Domain guard (r10 review): det_ln's contract requires x > 0 — a
    # type seen in only ONE half would feed it 0 or ∞ (finite-garbage /
    # NaN, and NaN→BIGINT casts DIVERGE across engines). PSI is
    # mathematically infinite there, so the term AND the total go NULL
    # — undefined stays visibly undefined, never a silently-folded tick.
    ok = (F.col("cnt_a") > 0) & (F.col("cnt_b") > 0)
    ti6 = F.when(
        ok,
        F.floor(
            (p_a - p_b) * det_ln(p_a / p_b) * 1000000 + F.lit(0.5)
        ).cast("long"),
    )
    return (
        per_type.select(
            "event_type",
            F.round(p_a, 4).alias("p_first_half"),
            F.round(p_b, 4).alias("p_second_half"),
            ti6.alias("ti6"),
        )
        .select(
            "event_type",
            "p_first_half",
            "p_second_half",
            (F.col("ti6") / F.lit(1000000.0)).alias("psi_term"),
            F.when(
                F.sum(F.col("ti6").isNull().cast("int")).over(w) == 0,
                F.floor(F.sum("ti6").over(w) / F.lit(100.0) + F.lit(0.5))
                / F.lit(10000.0),
            ).alias("psi_total"),
        )
        .orderBy("event_type")
    )


_Q73_T, _Q73_S = _det_ln_sql("pa / pb", "t")

Q73_SQL = f"""
WITH per_type AS (
    SELECT event_type,
           sum(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END) AS cnt_a,
           sum(CASE WHEN date_part('day', ts) <= 15 THEN 0 ELSE 1 END) AS cnt_b
    FROM events GROUP BY event_type
),
probs AS (
    SELECT event_type,
           cnt_a / CAST(sum(cnt_a) OVER () AS DOUBLE) AS pa,
           cnt_b / CAST(sum(cnt_b) OVER () AS DOUBLE) AS pb
    FROM per_type
),
tq AS (
    SELECT event_type, pa, pb, {_Q73_T} AS t
    FROM probs
),
terms AS (
    SELECT event_type,
           round(pa, 4) AS p_first_half,
           round(pb, 4) AS p_second_half,
           CASE WHEN pa > 0 AND pb > 0 THEN
               CAST(floor((pa - pb) * {_Q73_S} * 1000000 + 0.5) AS BIGINT)
           END AS ti6
    FROM tq
)
SELECT event_type, p_first_half, p_second_half,
       ti6 / 1000000.0 AS psi_term,
       CASE WHEN sum(CASE WHEN ti6 IS NULL THEN 1 ELSE 0 END) OVER () = 0
            THEN floor(sum(ti6) OVER () / 100.0 + 0.5) / 10000.0
       END AS psi_total
FROM terms
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q74 — snapshot diff / change-data-capture (ext). Per-customer order
# aggregates in the first vs second half of the order history (midpoint
# anchor derived from the data), full-outer-joined and classified
# added / removed / changed / unchanged — the incremental-refresh diff
# that decides which partitions to rewrite. One scan builds both
# snapshots (conditional aggs), one shuffle on o_custkey; the per-type
# summary carries a custkey checksum so the classification itself is
# value-verified, not just counted.
# ---------------------------------------------------------------------------
def q74_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    # Day-granular midpoint, TZ-free: works on TIMESTAMP_NTZ columns under
    # any session timezone (the bare-session probe runs America/New_York).
    bounds = orders.agg(
        F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx")
    ).select(
        F.expr("timestampadd(DAY, CAST(datediff(mx, mn) / 2 AS INT), mn)").alias("mid")
    )
    in_a = F.col("o_orderdate") < F.col("mid")
    per_cust = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(in_a, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(~in_a, 1).otherwise(0)).alias("n_b"),
        )
    )
    change = (
        F.when((F.col("n_a") > 0) & (F.col("n_b") == 0), "removed")
        .when((F.col("n_a") == 0) & (F.col("n_b") > 0), "added")
        .when(F.col("n_a") != F.col("n_b"), "changed")
        .otherwise("unchanged")
    )
    return (
        per_cust.select("o_custkey", change.alias("change_type"))
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("o_custkey").alias("custkey_checksum"),
        )
        .orderBy("change_type")
    )


Q74_SQL = """
WITH mid AS (
    SELECT min(o_orderdate)
           + (datediff('day', min(o_orderdate), max(o_orderdate)) // 2) * INTERVAL 1 DAY AS mid
    FROM orders
),
per_cust AS (
    SELECT o_custkey,
           sum(CASE WHEN o_orderdate < mid THEN 1 ELSE 0 END) AS n_a,
           sum(CASE WHEN o_orderdate < mid THEN 0 ELSE 1 END) AS n_b
    FROM orders CROSS JOIN mid
    GROUP BY o_custkey
),
classified AS (
    SELECT o_custkey,
           CASE WHEN n_a > 0 AND n_b = 0 THEN 'removed'
                WHEN n_a = 0 AND n_b > 0 THEN 'added'
                WHEN n_a <> n_b THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM per_cust
)
SELECT change_type, count(*) AS n_customers,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_checksum
FROM classified
GROUP BY change_type
ORDER BY change_type
"""


# ---------------------------------------------------------------------------
# q75 — time-series gap-fill + forward fill / LOCF (ext). Dense hourly
# grid per user (users 0–39), hourly value sums stamped onto it, gaps
# carried forward with last(ignoreNulls) — the densification step before
# any fixed-stride model input. Grid = generated sequence × distinct
# keys (J4 pattern, never a shuffle of the raw table); the fill is one
# window sort per user. Leading nulls (before a user's first event) stay
# null by LOCF definition.
# ---------------------------------------------------------------------------
_Q75_USERS = 40


def q75_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < _Q75_USERS)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("HOUR", F.col("ts")).alias("hr")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    bounds = ev.agg(
        F.date_trunc("HOUR", F.min("ts")).alias("mn"),
        F.date_trunc("HOUR", F.max("ts")).alias("mx"),
    )
    hours = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    grid = ev.select("user_id").distinct().crossJoin(F.broadcast(hours))
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hr"], "left")
        .select(
            "user_id",
            "hr",
            F.round(F.last("v", ignorenulls=True).over(w), 4).alias("v_filled"),
        )
        .orderBy("user_id", "hr")
    )


Q75_SQL = f"""
WITH ev AS (SELECT * FROM events WHERE user_id < {_Q75_USERS}),
b AS (
    SELECT date_trunc('hour', min(ts)) AS mn, date_trunc('hour', max(ts)) AS mx FROM ev
),
hours AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM b),
hourly AS (
    SELECT user_id, date_trunc('hour', ts) AS hr, round(sum(value), 4) AS v
    FROM ev GROUP BY 1, 2
),
grid AS (
    SELECT u.user_id, hours.hr
    FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN hours
)
SELECT g.user_id, g.hr,
       round(last_value(h.v IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_filled
FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
ORDER BY g.user_id, g.hr
"""


# ---------------------------------------------------------------------------
# q76 — weighted sampling without replacement (ext): Efraimidis–Spirakis
# exponential keys, k=20 per language, weight = n_chars. Each row draws
# key = -ln(u)/w from a stable md5-derived uniform u — longer documents
# are proportionally more likely, the draw is reproducible across
# engines/runs/cluster layouts, and per-stratum top-k by key IS the
# weighted sample. Row-local key + per-stratum top-k: no global sort.
# The float key is ordering-only (never emitted), so ulp-level ln()
# differences between engines cannot break the hash-match.
# ---------------------------------------------------------------------------
_Q76_K = 20
_U_MOD = 2**32


def q76_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    hex8 = F.substring(F.md5(F.concat(F.lit("wsmp:"), F.col("doc_id").cast("string"))), 1, 8)
    u = (F.conv(hex8, 16, 10).cast("long") + F.lit(0.5)) / F.lit(float(_U_MOD))
    key = -F.log(u) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id"))
    return (
        docs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _Q76_K)
        .select("lang", "rank", "doc_id", "n_chars")
        .orderBy("lang", "rank")
    )


_Q76_HASH = _hex2int_sql("md5('wsmp:' || CAST(doc_id AS VARCHAR))", 1, 8)
_Q76_U = f"(({_Q76_HASH}) + 0.5) / {float(_U_MOD)}"

Q76_SQL = f"""
WITH keyed AS (
    SELECT lang, doc_id, n_chars,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY -ln({_Q76_U}) / n_chars ASC, doc_id
           ) AS rank
    FROM documents
)
SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id, n_chars
FROM keyed WHERE rank <= {_Q76_K}
ORDER BY lang, rank
"""


# ---------------------------------------------------------------------------
# q77 — event transition matrix (ext): next-event bigram counts and
# row-normalized transition probabilities per user session stream — the
# Markov-chain view of behavioral logs (and the token-bigram shape of
# sequence data). One window sort per user (lead), one shuffle on the
# (from, to) pair; ties in ts break on event_id for a total order.
# ---------------------------------------------------------------------------
def q77_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded two-level consecutive-pair extraction (round 4 — same
    # skew treatment as bounded_sessionize): a `lead over (partition by
    # user)` serializes a hot user's whole history into ONE task's
    # window sort, and AQE cannot split it. Instead each user-DAY folds
    # its own sorted (ts, event_id, type) array row-locally (in-day
    # transitions), and a tiny per-user window over DAY rows adds the
    # day-boundary transition (last type of the previous event-day →
    # first type of this day). Every consecutive pair is produced
    # exactly once; per-task work is bounded by one user-day.
    ev = load(spark, sf_dir, "events")
    per_day = (
        ev.withColumn("_day", F.to_date("ts"))
        .groupBy("user_id", "_day")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ).alias("_types")
        )
    )
    n_pairs = F.greatest(F.size("_types") - 1, F.lit(0))
    wd = Window.partitionBy("user_id").orderBy("_day")
    staged = per_day.select(
        "user_id",
        "_day",
        F.arrays_zip(
            F.slice("_types", 1, n_pairs).alias("from_type"),
            F.slice("_types", 2, n_pairs).alias("to_type"),
        ).alias("_in_day"),
        F.element_at("_types", 1).alias("_first"),
        F.element_at("_types", -1).alias("_last"),
    ).withColumn("_prev_last", F.lag("_last").over(wd)).withColumn(
        # "a previous event-day exists" tracked separately from
        # _prev_last's nullness: a day whose LAST event has a NULL
        # event_type must still contribute its (null -> first-of-next-day)
        # boundary pair, exactly as the naive lead window (and the oracle's
        # GROUP BY, which keeps null from_type) would. row_number shares
        # the same window spec as the lag — one WindowExec computes both.
        "_day_ord", F.row_number().over(wd)
    )
    in_day = staged.select(F.explode("_in_day").alias("p")).select(
        F.col("p.from_type").alias("from_type"), F.col("p.to_type").alias("to_type")
    )
    boundary = staged.filter(F.col("_day_ord") > 1).select(
        F.col("_prev_last").alias("from_type"), F.col("_first").alias("to_type")
    )
    pairs = (
        in_day.unionByName(boundary)
        # exact naive-lead semantics: a NULL-typed successor drops the
        # pair (oracle: WHERE to_type IS NOT NULL), while a NULL-typed
        # PREDECESSOR still contributes its (null -> next) pair
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 4).alias("p"),
    ).orderBy("from_type", "to_type")


Q77_SQL = """
WITH pairs AS (
    SELECT event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
    FROM events
),
counted AS (
    SELECT from_type, to_type, count(*) AS n
    FROM pairs WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 4) AS p
FROM counted
ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# q85 — percentile winsorization (ext): clip event values to the
# per-type [p1, p99] band (exact interpolated percentiles, the q61
# definition) and report clip counts + robust aggregates — the outlier
# treatment step before any mean-based statistic is trusted. Two passes
# over the grouped data in ONE plan: the percentile agg (one shuffle on
# event_type) broadcasts its 5-row result back onto the raw stream, so
# the clip itself is row-local. Strict inequalities: a value exactly at
# the fence is kept, not counted as clipped (identical on both engines —
# same interpolation formula, same doubles).
# ---------------------------------------------------------------------------
_P_LO, _P_HI = 0.01, 0.99


def q85_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    fences = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(_P_LO)).alias("p_lo"),
        F.percentile("value", F.lit(_P_HI)).alias("p_hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p_lo")), F.col("p_hi"))
    return (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value") < F.col("p_lo")).cast("long")).alias("n_clipped_low"),
            F.sum((F.col("value") > F.col("p_hi")).cast("long")).alias("n_clipped_high"),
            F.round(F.avg(clipped), 4).alias("robust_mean"),
            F.round(F.avg("value"), 4).alias("raw_mean"),
        )
        .orderBy("event_type")
    )


Q85_SQL = f"""
WITH fences AS (
    SELECT event_type,
           quantile_cont(value, {_P_LO}) AS p_lo,
           quantile_cont(value, {_P_HI}) AS p_hi
    FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN e.value < f.p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
       CAST(sum(CASE WHEN e.value > f.p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
       round(avg(least(greatest(e.value, f.p_lo), f.p_hi)), 4) AS robust_mean,
       round(avg(e.value), 4) AS raw_mean
FROM events e JOIN fences f ON e.event_type = f.event_type
GROUP BY e.event_type
ORDER BY e.event_type
"""


# ---------------------------------------------------------------------------
# q90 — numeric quantile-bin drift (ext): the numeric companion to
# q73's categorical PSI. Decile boundaries are fitted on the FIRST half
# of the month (exact interpolated percentiles, q61 definition), the
# SECOND half's values are binned against those frozen boundaries
# (open-ended outer bins), and PSI measures how far the new
# distribution drifts from the expected 10% per bin — the standard
# numeric feature-drift monitor. The boundary table is 10 rows per
# event type: a broadcast range-join (lo <= v < hi) onto the B stream,
# one scan per period, one shuffle on (type, bin).
# ---------------------------------------------------------------------------
_Q90_DECILES = [i / 10.0 for i in range(1, 10)]  # 9 inner boundaries


def q90_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    half_a = F.dayofmonth("ts") <= 15
    bounds = (
        ev.filter(half_a)
        .groupBy("event_type")
        .agg(
            F.percentile("value", F.array(*[F.lit(p) for p in _Q90_DECILES])).alias(
                "bs"
            )
        )
        .select(
            "event_type",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(len(_Q90_DECILES))),
                    lambda i: F.struct(
                        F.when(i > 0, F.col("bs")[i - 1]).alias("lo"),
                        F.when(i < len(_Q90_DECILES), F.col("bs")[i]).alias("hi"),
                    ),
                )
            ).alias("bin", "b"),
        )
        .select(
            F.col("event_type").alias("bt"),
            "bin",
            F.col("b.lo").alias("lo"),
            F.col("b.hi").alias("hi"),
        )
    )
    b_counts = (
        ev.filter(~half_a)
        .join(
            F.broadcast(bounds),
            (F.col("event_type") == F.col("bt"))
            & (F.col("lo").isNull() | (F.col("value") >= F.col("lo")))
            & (F.col("hi").isNull() | (F.col("value") < F.col("hi"))),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("event_type")
    p = F.col("n") / F.sum("n").over(w)
    expected = 1.0 / (len(_Q90_DECILES) + 1)
    # integer-tick PSI terms + int64 window sum — q73's psi_total
    # boundary-safety rework (grid rationals summed in double can sit
    # exactly on a .00005 round boundary); terms ≥ 0 so floor(x+0.5)
    # is round-half-up on both engines. The log is detmath.det_ln (r10,
    # ADVICE fix): engine ln() ulp-flips across JVM/libm at a grid line;
    # det_ln's fixed IEEE chain is bit-identical in both engines.
    ti6 = F.floor(
        (p - expected) * det_ln(p / expected) * 1000000 + F.lit(0.5)
    ).cast("long")
    return (
        b_counts.select(
            "event_type", "bin", "n", F.round(p, 4).alias("p_observed"),
            ti6.alias("ti6"),
        )
        .select(
            "event_type",
            "bin",
            "n",
            "p_observed",
            (F.col("ti6") / F.lit(1000000.0)).alias("psi_term"),
            (
                F.floor(F.sum("ti6").over(w) / F.lit(100.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("psi_total"),
        )
        .orderBy("event_type", "bin")
    )


_NB = len(_Q90_DECILES) + 1
_Q90_T, _Q90_S = _det_ln_sql(f"p / (1.0 / {_NB})", "t")

Q90_SQL = f"""
WITH a AS (
    SELECT event_type,
           quantile_cont(value, {_Q90_DECILES}) AS bs
    FROM events WHERE date_part('day', ts) <= 15
    GROUP BY event_type
),
bounds AS (
    SELECT event_type, i AS bin,
           CASE WHEN i > 0 THEN bs[i] END AS lo,
           CASE WHEN i < {_NB - 1} THEN bs[i + 1] END AS hi
    FROM a, unnest(generate_series(0, {_NB - 1})) AS t(i)
),
b_counts AS (
    SELECT e.event_type, b.bin, count(*) AS n
    FROM events e JOIN bounds b
      ON e.event_type = b.event_type
     AND (b.lo IS NULL OR e.value >= b.lo)
     AND (b.hi IS NULL OR e.value < b.hi)
    WHERE date_part('day', e.ts) > 15
    GROUP BY e.event_type, b.bin
),
terms AS (
    SELECT event_type, bin, n,
           n / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) AS p
    FROM b_counts
),
ticks0 AS (
    SELECT event_type, bin, n, p, {_Q90_T} AS t
    FROM terms
),
ticks AS (
    SELECT event_type, bin, n, p,
           CAST(floor((p - 1.0 / {_NB}) * {_Q90_S}
                      * 1000000 + 0.5) AS BIGINT) AS ti6
    FROM ticks0
)
SELECT event_type, CAST(bin AS INTEGER) AS bin, n,
       round(p, 4) AS p_observed,
       ti6 / 1000000.0 AS psi_term,
       floor(sum(ti6) OVER (PARTITION BY event_type) / 100.0 + 0.5)
           / 10000.0 AS psi_total
FROM ticks
ORDER BY event_type, bin
"""


# ---------------------------------------------------------------------------
# q115 — robust MAD outlier detection over document lengths per language
# (the corpus-QA pass that flags truncated fragments and concatenation
# blowups before training; median/MAD rather than mean/stddev so the
# outliers themselves cannot mask the threshold — the standard robust
# z-score with the 1.4826 normal-consistency constant). Exact
# interpolated medians on both engines (Spark ``percentile`` ↔ DuckDB
# ``quantile_cont``, the q61 pattern), so med/MAD are identical doubles
# and the strict-inequality flag needs no rounding margin.
#
# Shape at scale: two per-lang aggregations (exact percentile sorts
# within each lang partition — swap for approx_percentile at 100 TB,
# same plan shape) + two broadcast joins of the O(#langs) stats table;
# the flag itself is row-local.
# ---------------------------------------------------------------------------
_Q115_K = 3.0  # robust z threshold
_MAD_C = 1.4826  # normal-consistency scale factor


def q115_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    med = toks.groupBy("lang").agg(
        F.expr("percentile(n_tokens, 0.5)").alias("med")
    )
    dev = toks.join(F.broadcast(med), "lang").withColumn(
        "adev", F.abs(F.col("n_tokens") - F.col("med"))
    )
    mad = dev.groupBy("lang").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "lang")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            (
                F.col("adev") > F.lit(_Q115_K) * F.lit(_MAD_C) * F.col("mad")
            ).cast("int").alias("is_outlier"),
        )
        .orderBy("doc_id")
    )


Q115_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
med AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS med FROM toks GROUP BY lang),
dev AS (
    SELECT t.doc_id, t.lang, t.n_tokens, m.med,
           abs(t.n_tokens - m.med) AS adev
    FROM toks t JOIN med m ON m.lang = t.lang
),
mad AS (SELECT lang, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY lang)
SELECT d.doc_id, d.lang, d.n_tokens,
       round(d.med, 4) AS med,
       round(x.mad, 4) AS mad,
       CAST(d.adev > {_Q115_K} * {_MAD_C} * x.mad AS INTEGER) AS is_outlier
FROM dev d JOIN mad x ON x.lang = d.lang
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# q117 — hashed linear quality-classifier APPLY (ext): the fastText-style
# scoring pass (Joulin et al. 2016, arXiv:1607.01759) that GPT-3-era
# pipelines run over every document to keep "looks like the high-quality
# reference corpus" text (Brown et al. 2020 Appendix A). Featurization is
# the hashing trick — token → md5-derived bucket in [0, D) — and the
# model is a bucket-indexed weight vector with mean pooling:
# logit = Σ w[bucket(t)] / n_tokens, score = σ(logit).
#
# The weight table here is a deterministic function of the bucket id
# (w_int(b) = (b·2654435761) mod 100001 − 50000, i.e. Knuth
# multiplicative hashing scaled to [−0.5, 0.5]) standing in for a
# trained artifact — in production the same plan broadcasts a learned
# D-row table; the plan shape does not change. All accumulation is
# INTEGER (w_sum is a sum of int64 weights, exact and order-independent
# across engines); floats appear only in the final per-row division and
# sigmoid, and the keep/drop decision compares the exact integer w_sum
# against 0 — no float-boundary hazard.
#
# Shape at scale: ZERO shuffles — hashing, weight lookup, and the fold
# over tokens are row-local Catalyst higher-order functions, so the
# whole classifier is a chain of projections over the scan and scales
# linearly with input bytes. No Python, no explode, no vocab join.
# ---------------------------------------------------------------------------
_Q117_D = 4096  # hashing-trick bucket count
_Q117_WMOD = 100001  # weight lattice: w_int in [-50000, 50000]
_TOKS = "split(lower(text), ' ')"  # the classifier family's tokenizer


# The classifier family's shared decisions (q117 serves, q159 calibrates,
# q270 trains, q276 selects features, q278 cross-validates), each written
# once as Spark SQL text: a plan then costs one py4j round trip per
# projection instead of several per Column node. Double literals carry a
# D suffix because a bare 1.0 is a DECIMAL in Spark SQL. The DuckDB
# oracles below are independent re-derivations and do not use these.
def _bucket_sql(t: str) -> str:
    """Token -> hashing-trick bucket in [0, _Q117_D): md5 'ft:' trick."""
    return (
        f"CAST(conv(substring(md5(concat('ft:', {t})), 1, 8), 16, 10) AS BIGINT)"
        f" % {_Q117_D}"
    )


def _weight_fold_sql(toks: str) -> str:
    """Sum of q117's stand-in weights over a token array: w_int(b) =
    (b·2654435761) mod _Q117_WMOD − 50000, an exact int64 fold."""
    w = f"({_bucket_sql('t')}) * 2654435761 % {_Q117_WMOD} - 50000"
    return f"aggregate({toks}, CAST(0 AS BIGINT), (acc, t) -> acc + ({w}))"


def _diverse_sql(toks: str) -> str:
    """Lexical-diversity label: 1 when 2·|distinct tokens| > n, else 0."""
    return f"CAST(size(array_distinct({toks})) * 2 > size({toks}) AS INT)"


def _feature_frame(docs: DataFrame, **extra: Column) -> DataFrame:
    """(doc_id, b, c, n, y, *extra): per (doc, bucket) the token count c,
    with the doc's length n, label y and any per-doc ``extra`` columns.

    Lazily pinned: every step's plan reads one compiled RDD, and the
    query's single final action materializes it (an eager pin cost 107
    construction jobs at sf0.1, all fixed overhead)."""
    per_doc = [f"min({k}) AS {k}" for k in extra]
    return (
        docs.select("doc_id", "text", *[c.alias(k) for k, c in extra.items()])
        .selectExpr(
            "doc_id",
            f"explode({_TOKS}) AS t",
            f"CAST(size({_TOKS}) AS BIGINT) AS n",
            f"{_diverse_sql(_TOKS)} AS y",
            *extra,
        )
        .selectExpr("doc_id", f"{_bucket_sql('t')} AS b", "n", "y", *extra)
        .groupBy("doc_id", "b")
        .agg(
            *[
                F.expr(e)
                for e in ("CAST(count(*) AS BIGINT) AS c", "min(n) AS n", "min(y) AS y", *per_doc)
            ]
        )
        .localCheckpoint(eager=False)
    )


def _with_weights(df: DataFrame, w: DataFrame | None) -> DataFrame:
    """``df`` with each bucket's weight ``w``; ``w is None`` is the
    all-zero start, where every bucket reads NULL (coalesced to 0)."""
    if w is None:
        return df.selectExpr("*", "CAST(NULL AS BIGINT) AS w")
    return df.join(w, "b", "left")


def _forward(feat: DataFrame, w: DataFrame | None) -> DataFrame:
    """(doc_id, n, y, pq): the mean-pooled sigmoid, floor-quantized to an
    int 1e-6 grid in [1, 999999] before any aggregation, so every sum
    over it is exact int64.

    Lazily pinned: a pin still compiles to ONE RDD object, so the loss
    readout and the gradient share it; the plan cannot re-nest doubly-
    referenced subtrees (the un-pinned form measured 160 s)."""
    p = "1.0D / (1.0D + exp(-(CAST(s AS DOUBLE) / (1000000.0D * n))))"
    return (
        _with_weights(feat, w)
        .groupBy("doc_id")
        .agg(
            F.expr("min(n) AS n"),
            F.expr("min(y) AS y"),
            F.expr("CAST(sum(c * coalesce(w, 0)) AS BIGINT) AS s"),
        )
        .selectExpr(
            "doc_id",
            "n",
            "y",
            f"CAST(greatest(1, least(999999, floor({p} * 1000000 + 0.5D))) AS BIGINT) AS pq",
        )
        .localCheckpoint(eager=False)
    )


def _readout(pr: DataFrame) -> DataFrame:
    """(lsum, n_correct, n_docs, logloss) of a forward pass: per-doc
    logloss floored onto an int 1e-9 grid (exact int64 sum) and accuracy
    at the 0.5 threshold."""
    pp = "pq / 1000000.0D"
    li = f"floor(-(y * ln({pp}) + (1 - y) * ln(1.0D - {pp})) * 1000000000)"
    return pr.selectExpr(
        f"CAST(sum(CAST({li} AS BIGINT)) AS BIGINT) AS lsum",
        "CAST(sum(CASE WHEN CAST(pq > 500000 AS INT) = y THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_correct",
        "CAST(count(*) AS BIGINT) AS n_docs",
    ).selectExpr("*", "round(CAST(lsum AS DOUBLE) / 1000000000.0D / n_docs, 6) AS logloss")


def _descend(
    feat: DataFrame, pr: DataFrame, w: DataFrame | None, nn: DataFrame, eta: float
) -> DataFrame:
    """Weights after one full-batch gradient step: per-(doc, bucket)
    contributions floor((pq − y·1e6)·c·1e6/n) summed exactly in int64 per
    bucket, then w − floor(η·G/(1e6·N)) (double-exact, |η·G| < 2^53).
    Lazily pinned, like :func:`_forward`."""
    gi = "CAST(floor(CAST((pq - y * 1000000) * c AS DOUBLE) * 1000000.0D / n) AS BIGINT)"
    grad = (
        feat.join(pr.select("doc_id", "pq"), "doc_id")
        .groupBy("b")
        .agg(F.expr(f"CAST(sum({gi}) AS BIGINT) AS g"))
    )
    step = f"CAST(floor({eta!r}D * CAST(g AS DOUBLE) / (1000000.0D * nd)) AS BIGINT)"
    return (
        _with_weights(grad, w)
        .crossJoin(F.broadcast(nn))
        .selectExpr("b", f"coalesce(w, 0) - {step} AS w")
        .localCheckpoint(eager=False)
    )


def _lattice_train(
    feat: DataFrame, steps: int, eta: float
) -> tuple[DataFrame, list[DataFrame]]:
    """``steps`` gradient steps from all-zero weights over a pinned
    feature frame: (final weights, the forward pass each step read)."""
    nn = feat.selectExpr("CAST(count(DISTINCT doc_id) AS BIGINT) AS nd")
    w, passes = None, []
    for _ in range(steps):
        passes.append(_forward(feat, w))
        w = _descend(feat, passes[-1], w, nn, eta)
    return w, passes


def q117_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokens are scored through the family's shared _weight_fold_sql
    # (whose bucket is _bucket_sql, the featurizer q270/q276/q278 train on).
    # |logit| ≤ 0.5 (|w| ≤ 5e4), inside det_exp_small_sql's domain — engine
    # exp()'s last ulp differs across engines and the score is EMITTED
    # per-row on a 1e-6 grid, so the sigmoid runs on the deterministic
    # Taylor surrogate over the staged argument mx (round-9 sweep; the
    # q276 fix class).
    return (
        load(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            f"CAST(size({_TOKS}) AS BIGINT) AS n_tokens",
            f"{_weight_fold_sql(_TOKS)} AS w_sum",
        )
        .selectExpr("*", "-(w_sum / (100000.0D * n_tokens)) AS mx")
        .selectExpr(
            "doc_id",
            "n_tokens",
            "w_sum",
            f"round(1.0D / (1.0D + {_det_exp_small_sql('mx')}), 6) AS score",
            "CASE WHEN w_sum >= 0 THEN 'keep' ELSE 'drop' END AS label",
        )
    )


_Q117_HEX = _hex2int_sql("md5('ft:' || t)", 1, 8)
_Q117_W_SQL = f"({_Q117_HEX} % {_Q117_D}) * 2654435761 % {_Q117_WMOD} - 50000"

Q117_SQL = f"""
WITH scored AS (
    SELECT doc_id,
           CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(str_split(lower(text), ' '),
                t -> {_Q117_W_SQL})) AS BIGINT) AS w_sum
    FROM documents
),
lg AS (
    SELECT doc_id, n_tokens, w_sum,
           -(w_sum / (100000.0 * n_tokens)) AS mx
    FROM scored
)
SELECT doc_id, n_tokens, w_sum,
       round(1.0 / (1.0 + {_det_exp_small_sql("mx")}), 6) AS score,
       CASE WHEN w_sum >= 0 THEN 'keep' ELSE 'drop' END AS label
FROM lg
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q270 — distributed quality-classifier TRAINING (ext, r7 verdict task
# #6): closes the train-side gap in the quality loop (q108 rules → q109
# DSIR → q117 SERVE): K unrolled logistic-regression gradient steps over
# q117's hashed feature space, as exact DataFrame algebra — the
# FineWeb-edu-style classifier gate finally has a training-side query.
# Model: mean-pooled hashed bag-of-words (bucket = md5 'ft:' trick, the
# identical featurizer q117 serves), label = lexical diversity
# (2·distinct > n_tokens). Determinism discipline: weights live on an
# int64 1e-6 lattice; each step's sigmoid output is floor-quantized to
# an int 1e-6 grid BEFORE any aggregation, so per-(doc,bucket) gradient
# contributions floor((pq − y·1e6)·c·1e6/n) and the per-bucket sums are
# EXACT int64 — shuffle order cannot perturb a single bit; the weight
# update floor(η·G/(1e6·N)) is double-exact (|η·G| < 2^53). The only
# cross-engine float surface is exp/ln on identical double inputs with
# outputs immediately floor-quantized on grids ≥1e9 coarser than an
# ulp. Output: one row per step with the pre-update logloss (strictly
# decreasing on the fixture — pinned by test) and training accuracy.
# ORACLE: the same K steps unrolled in SQL — an independent full
# re-derivation, not a re-serialization (CTE chain generated per step).
# Scale: per step, ONE broadcast-ish join of the (doc,bucket) feature
# frame against the ≤D-row weight table, one partial-agg per-doc
# forward rollup, one partial-agg per-bucket gradient rollup — the
# standard data-parallel full-batch GD layout; K scans total, no
# driver-side weight vector (weights stay a DataFrame end to end).
# ---------------------------------------------------------------------------
_Q270_ETA = 200.0
_Q270_K = 8


def q270_classifier_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _feature_frame(load(spark, sf_dir, "documents"))
    w, passes = _lattice_train(feat, _Q270_K, _Q270_ETA)
    passes.append(_forward(feat, w))  # the loss after the last step
    return reduce(
        DataFrame.unionByName,
        [
            _readout(pr).selectExpr(f"{k} AS step", "logloss", "n_correct", "n_docs")
            for k, pr in enumerate(passes)
        ],
    ).orderBy("step")


def _q270_step_sql(k: int, last: bool) -> str:
    eta = _Q270_ETA
    block = f""",
sc{k} AS (
    SELECT f.doc_id, min(f.n) AS n, min(f.y) AS y,
           CAST(sum(f.c * coalesce(w.w, 0)) AS BIGINT) AS s
    FROM feat f LEFT JOIN w{k - 1} w ON w.b = f.b
    GROUP BY f.doc_id
),
pr{k} AS MATERIALIZED (
    SELECT doc_id, n, y,
           greatest(1, least(999999,
               CAST(floor(1.0 / (1.0 + exp(-(CAST(s AS DOUBLE)
                                             / (1000000.0 * n))))
                          * 1000000 + 0.5) AS BIGINT))) AS pq
    FROM sc{k}
),
ls{k} AS (
    SELECT CAST(sum(CAST(floor(-(y * ln(pq / 1000000.0)
                                 + (1 - y) * ln(1.0 - pq / 1000000.0))
                               * 1000000000) AS BIGINT)) AS BIGINT) AS lsum,
           CAST(sum(CASE WHEN CAST(pq > 500000 AS INTEGER) = y
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pr{k}
)"""
    if not last:
        block += f""",
gr{k} AS (
    SELECT f.b,
           CAST(sum(CAST(floor(CAST((p.pq - f.y * 1000000) * f.c AS DOUBLE)
                               * 1000000.0 / f.n) AS BIGINT)) AS BIGINT) AS g
    FROM feat f JOIN pr{k} p ON p.doc_id = f.doc_id
    GROUP BY f.b
),
w{k} AS MATERIALIZED (
    SELECT g.b,
           CAST(coalesce(w.w, 0)
                - CAST(floor({eta} * CAST(g.g AS DOUBLE)
                             / (1000000.0 * nn.nd)) AS BIGINT) AS BIGINT) AS w
    FROM gr{k} g LEFT JOIN w{k - 1} w ON w.b = g.b CROSS JOIN nn
)"""
    return block


_Q270_STEPS = "".join(
    _q270_step_sql(k, last=(k == _Q270_K + 1)) for k in range(1, _Q270_K + 2)
)
_Q270_UNION = "\nUNION ALL\n".join(
    f"SELECT CAST({k - 1} AS INTEGER) AS step,"
    f" round(CAST(lsum AS DOUBLE) / 1000000000.0 / n_docs, 6) AS logloss,"
    f" n_correct, n_docs FROM ls{k}"
    for k in range(1, _Q270_K + 2)
)

Q270_SQL = f"""
WITH feat AS MATERIALIZED (
    SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c, min(n) AS n, min(y) AS y
    FROM (
        SELECT doc_id, {_hex2int_sql("md5('ft:' || t)", 1, 8)} % {_Q117_D} AS b,
               n, y
        FROM (
            SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t,
                   CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS n,
                   CASE WHEN len(list_distinct(str_split(lower(text), ' '))) * 2
                             > len(str_split(lower(text), ' '))
                        THEN 1 ELSE 0 END AS y
            FROM documents) u) v
    GROUP BY doc_id, b
),
nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM feat),
w0 AS (SELECT CAST(NULL AS BIGINT) AS b, CAST(NULL AS BIGINT) AS w WHERE 1 = 0)
{_Q270_STEPS}
{_Q270_UNION}
ORDER BY step
"""


# ---------------------------------------------------------------------------
# q276 — mutual-information feature selection (ext): the filter-method
# companion to q270's trainer — before spending gradient steps, rank
# the hashed feature buckets by MI(presence; label) and keep the
# informative ones (the classic text-classification feature-selection
# recipe, Yang & Pedersen 1997). All four contingency cells are EXACT
# integer doc counts (n11 via one distinct-(doc,bucket) rollup joined
# to the per-doc label; the other three by complement arithmetic), and
# the whole MI value is computed in int64 FIXED-POINT (r11: detmath.
# det_ln_q36 — Q36 integer log; see _q276_mi_stages): the r8→r10
# driver-red history showed that ANY double feeding the 1e-9 floor
# grid is environment-sensitive across engine builds (engine ln ulps
# in r8, then the det_ln correctly-rounded-IEEE chain still red in
# r9/r10 — FP contraction or expression rewriting in the driver's
# DuckDB build evaluates a different op sequence). Integer +,-,*,div
# have exactly one defined result everywhere, so mi_nano cannot flip.
# Ranking uses the fixed-point grid value itself (desc, bucket
# tiebreak) so top-K membership and emitted values share one
# deterministic key. The exact counts the MI reads (n11, nn, npos) are
# emitted beside it, so a hash mismatch that also shows in a count is
# upstream of the MI math. Top-20 as a bounded TakeOrdered. Scale: one
# distinct rollup + one groupBy on the bucket key — Zipf/hash-bounded;
# no windows, no per-doc fan-out beyond tokenization.
# ---------------------------------------------------------------------------
_Q276_TOPK = 20
_Q276_SCALE = 1_000_000_000


def _q276_mi_stages(dialect: str) -> list[dict[str, str]]:
    """Staged int64-only MI expressions, identical in both dialects.

    Input columns: b, n1, n11 (per-bucket exact counts), nn, npos (corpus
    totals). Output column ``mi_nano`` = the Q36 fixed-point mutual
    information rescaled to integer nanos, and ``pos_rate_bp`` — both
    computed with integer +,-,*,div,% only (see detmath.det_ln_q36 for
    why: no double ever feeds the emitted grid, so engine float build
    flags cannot flip the hash). Every intermediate is proven < 2^63 for
    corpus sizes nn < 2^31.

    Derivation: MI = sum_x p_x * ln(a_x/b_x) with p_x = c_x/nn,
    a_x = c_x*nn, b_x = row/col marginal product. Fixed-point:
    P_x = floor(c_x*2^30/nn), L = det_ln_q36(a or b) (Q36), each
    term tA-tB with tA = floor(P*LA/2^30) done as an exact two-limb
    division (LA split at 2^12; the carry is provably zero). mi_nano =
    floor((S + 256*2^36)*1e9 / 2^36) - 256e9, again two-limb at 2^18 —
    the offset keeps every divided quantity nonnegative so truncating
    integer division == floor in both engines.
    """
    from ..functions.detmath import _idiv, det_ln_q36_stages

    d = dialect

    def idiv(a: str, b: str) -> str:
        return _idiv(a, b, d)

    cells = {
        "c11": "n11",
        "c10": "(n1 - n11)",
        "c01": "(npos - n11)",
        "c00": "(nn - n1 - npos + n11)",
    }
    margs = {
        "c11": "(n1 * npos)",
        "c10": "(n1 * (nn - npos))",
        "c01": "((nn - n1) * npos)",
        "c00": "((nn - n1) * (nn - npos))",
    }
    s_cell: dict[str, str] = {}
    ln_args: dict[str, str] = {}
    for x, cexpr in cells.items():
        s_cell[x] = f"CAST({cexpr} AS BIGINT)"
    s_prod: dict[str, str] = {}
    for x in cells:
        s_prod[f"a{x}"] = f"({x} * nn)"
        s_prod[f"g{x}"] = margs[x]
        s_prod[f"p{x}"] = idiv(f"({x} * 1073741824)", "nn")
        ln_args[f"l{x}a"] = f"a{x}"
        ln_args[f"l{x}b"] = f"g{x}"
    ln_stages = det_ln_q36_stages(ln_args, d)

    def two_limb(p: str, ln: str) -> str:
        hi = f"({p} * {idiv(ln, '4096')})"
        lo = idiv(f"({p} * ({ln} % 4096))", "4096")
        return idiv(f"({hi} + {lo})", "262144")

    s_term: dict[str, str] = {}
    for x in cells:
        ta = two_limb(f"p{x}", f"l{x}a_ln")
        tb = two_limb(f"p{x}", f"l{x}b_ln")
        s_term[f"t{x}"] = f"(CASE WHEN {x} > 0 THEN {ta} - {tb} ELSE 0 END)"
    s_sum = {"smi": "(" + " + ".join(f"t{x}" for x in cells) + ")"}
    s_off = {"soff": "(smi + 17592186044416)"}  # + 256*2^36 >= 0 always
    nano_hi = f"({idiv('soff', '262144')} * 1000000000)"
    nano_lo = idiv("((soff % 262144) * 1000000000)", "262144")
    s_out = {
        "mi_nano": (
            idiv(f"({nano_hi} + {nano_lo})", "262144") + " - 256000000000"
        ),
        "pos_rate_bp": idiv("(20000 * n11 + n1)", "(2 * n1)"),
    }
    return [s_cell, s_prod, *ln_stages, s_term, s_sum, s_off, s_out]


def q276_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    y = f"{_diverse_sql(_TOKS)} AS y"
    present = (
        docs.selectExpr("doc_id", f"explode({_TOKS}) AS t", y)
        .selectExpr("doc_id", f"{_bucket_sql('t')} AS b", "y")
        .groupBy("doc_id", "b")
        .agg(F.expr("min(y) AS y"))
    )
    tot = docs.selectExpr(y).selectExpr(
        "CAST(count(*) AS BIGINT) AS nn", "CAST(sum(y) AS BIGINT) AS npos"
    )
    cells = present.groupBy("b").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n1"), F.expr("CAST(sum(y) AS BIGINT) AS n11")
    )
    # Integer-only emission (r11): the r9/r10 driver reds survived BOTH
    # engine-ln() replacement AND BIGINT emission — the double feeding
    # floor(mi*1e9) was still environment-sensitive in the driver's
    # DuckDB build (FP contraction / build flags no local probe can
    # reproduce). The whole MI computation now runs in int64 fixed-point
    # (detmath.det_ln_q36: Q36 log via binary comparison ladder + table + atanh
    # cubic, only integer ops): mi_nano never touches a double in EITHER
    # engine, so no float build flag can flip it. _q276_mi_stages builds
    # the identical staged expressions for both dialects.
    df = cells.crossJoin(F.broadcast(tot))
    for st in _q276_mi_stages("spark"):
        df = df.selectExpr(
            "*", *[f"{expr} AS {name}" for name, expr in st.items()]
        )
    return (
        df.selectExpr(
            "b AS bucket",
            "n1 AS n_docs_with",
            "n11",
            "nn",
            "npos",
            "pos_rate_bp",
            "mi_nano",
        )
        .orderBy(F.desc("mi_nano"), F.asc("bucket"))
        .limit(_Q276_TOPK)
    )


# Oracle twin: the identical integer stage chain rendered as DuckDB CTEs
# (dialect differences are ONLY the integer-division token and the
# constant-array lookup — see detmath._idiv/_elem).
def _q276_oracle_sql() -> str:
    stages = _q276_mi_stages("duckdb")
    ctes = []
    prev = "base"
    for i, st in enumerate(stages):
        name = f"s{i}"
        cols = ",\n           ".join(f"{e} AS {n}" for n, e in st.items())
        ctes.append(f"{name} AS (\n    SELECT *,\n           {cols}\n    FROM {prev}\n)")
        prev = name
    joined = ",\n".join(ctes)
    return f"""
WITH lab AS (
    SELECT doc_id,
           CASE WHEN len(list_distinct(str_split(lower(text), ' '))) * 2
                     > len(str_split(lower(text), ' '))
                THEN 1 ELSE 0 END AS y
    FROM documents
),
present AS (
    SELECT DISTINCT doc_id, {_hex2int_sql("md5('ft:' || t)", 1, 8)} % {_Q117_D} AS b
    FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t
          FROM documents) u
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(y) AS BIGINT) AS npos
    FROM lab
),
cells AS (
    SELECT p.b, CAST(count(*) AS BIGINT) AS n1, CAST(sum(l.y) AS BIGINT) AS n11
    FROM present p JOIN lab l USING (doc_id)
    GROUP BY p.b
),
base AS (
    SELECT * FROM cells CROSS JOIN tot
),
{joined}
SELECT b AS bucket,
       n1 AS n_docs_with,
       n11,
       nn,
       npos,
       pos_rate_bp,
       mi_nano
FROM {prev}
ORDER BY mi_nano DESC, bucket ASC
LIMIT {_Q276_TOPK}
"""


Q276_SQL = _q276_oracle_sql()


# ---------------------------------------------------------------------------
# q278 — k-fold cross-validated classifier evaluation (ext): the EVAL
# leg that completes the quality-classifier loop (q276 select → q270
# train → HERE eval → q117 serve) — training accuracy alone (q270's
# readout) cannot certify a gate; the generalization gap can (and the
# fold split must be hash-stable, the q145 leakage discipline). Two
# hash folds; per fold, q270's exact integer-lattice GD runs K=4 steps
# on the OTHER fold, then both folds are scored under the trained
# weights: train/val logloss on the 1e-9 integer grid, val accuracy,
# and the val−train gap on an exact 1e-6 grid (the overfit readout).
# Same determinism discipline as q270 throughout (floor-quantized
# sigmoids before any aggregation; exact int64 gradient sums; lazy
# per-step checkpoints; the oracle's doubly-referenced weight chains
# MATERIALIZED). Scale: 2 folds × K steps of the q270 layout — the
# feature frame is built and checkpointed ONCE with the fold tag, and
# both queries run the same trainer helpers (_feature_frame,
# _lattice_train, _forward, _readout).
# ---------------------------------------------------------------------------
_Q278_FOLDS = 2
_Q278_K = 4
_Q278_ETA = 200.0


def q278_classifier_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr

    fold = (sample_key_expr("doc_id", salt="cvfold") % _Q278_FOLDS).cast("int")
    feat = _feature_frame(load(spark, sf_dir, "documents"), fold=fold)
    out = []
    for f in range(_Q278_FOLDS):
        train, val = feat.filter(f"fold <> {f}"), feat.filter(f"fold = {f}")
        w, _ = _lattice_train(train, _Q278_K, _Q278_ETA)
        tr = _readout(_forward(train, w)).selectExpr(
            "n_docs AS n_train", "lsum AS tl", "logloss AS train_logloss"
        )
        va = _readout(_forward(val, w)).selectExpr(
            "n_docs AS n_val", "lsum AS vl", "logloss AS val_logloss", "n_correct"
        )
        out.append(
            tr.crossJoin(F.broadcast(va)).selectExpr(
                f"{f} AS fold",
                "n_train",
                "n_val",
                "train_logloss",
                "val_logloss",
                "round(n_correct / n_val, 6) AS val_accuracy",
                # gap on an exact 1e-6 grid from the integer loss sums
                "floor((CAST(vl AS DOUBLE) / 1000000000.0D / n_val"
                " - CAST(tl AS DOUBLE) / 1000000000.0D / n_train) * 1000000 + 0.5D)"
                " / 1000000.0D AS generalization_gap",
            )
        )
    return reduce(DataFrame.unionByName, out).orderBy("fold")


def _q278_fold_sql(f: int) -> str:
    eta, K = _Q278_ETA, _Q278_K
    parts = [
        f""",
tr{f} AS MATERIALIZED (SELECT * FROM featcv WHERE fold <> {f}),
va{f} AS MATERIALIZED (SELECT * FROM featcv WHERE fold = {f}),
nn{f} AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM tr{f}),
w{f}_0 AS (SELECT CAST(NULL AS BIGINT) AS b, CAST(NULL AS BIGINT) AS w
           WHERE 1 = 0)"""
    ]
    for k in range(1, K + 1):
        parts.append(
            f""",
sc{f}_{k} AS (
    SELECT t.doc_id, min(t.n) AS n, min(t.y) AS y,
           CAST(sum(t.c * coalesce(w.w, 0)) AS BIGINT) AS s
    FROM tr{f} t LEFT JOIN w{f}_{k - 1} w ON w.b = t.b
    GROUP BY t.doc_id
),
pr{f}_{k} AS MATERIALIZED (
    SELECT doc_id, n, y,
           greatest(1, least(999999,
               CAST(floor(1.0 / (1.0 + exp(-(CAST(s AS DOUBLE)
                                             / (1000000.0 * n))))
                          * 1000000 + 0.5) AS BIGINT))) AS pq
    FROM sc{f}_{k}
),
gr{f}_{k} AS (
    SELECT t.b,
           CAST(sum(CAST(floor(CAST((p.pq - t.y * 1000000) * t.c AS DOUBLE)
                               * 1000000.0 / t.n) AS BIGINT)) AS BIGINT) AS g
    FROM tr{f} t JOIN pr{f}_{k} p ON p.doc_id = t.doc_id
    GROUP BY t.b
),
w{f}_{k} AS MATERIALIZED (
    SELECT g.b,
           CAST(coalesce(w.w, 0)
                - CAST(floor({eta} * CAST(g.g AS DOUBLE)
                             / (1000000.0 * nn.nd)) AS BIGINT) AS BIGINT) AS w
    FROM gr{f}_{k} g LEFT JOIN w{f}_{k - 1} w ON w.b = g.b
    CROSS JOIN nn{f} nn
)"""
        )
    for tag, src in (("tr", f"tr{f}"), ("va", f"va{f}")):
        parts.append(
            f""",
ev{f}_{tag} AS (
    SELECT CAST(sum(CAST(floor(-(y * ln(pq / 1000000.0)
                                 + (1 - y) * ln(1.0 - pq / 1000000.0))
                               * 1000000000) AS BIGINT)) AS BIGINT) AS lsum,
           CAST(sum(CASE WHEN CAST(pq > 500000 AS INTEGER) = y
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM (
        SELECT z.doc_id, z.n, z.y,
               greatest(1, least(999999,
                   CAST(floor(1.0 / (1.0 + exp(-(CAST(z.s AS DOUBLE)
                                                 / (1000000.0 * z.n))))
                              * 1000000 + 0.5) AS BIGINT))) AS pq
        FROM (
            SELECT t.doc_id, min(t.n) AS n, min(t.y) AS y,
                   CAST(sum(t.c * coalesce(w.w, 0)) AS BIGINT) AS s
            FROM {src} t LEFT JOIN w{f}_{K} w ON w.b = t.b
            GROUP BY t.doc_id) z) q
)"""
        )
    return "".join(parts)


_Q278_FOLD_BLOCKS = "".join(_q278_fold_sql(f) for f in range(_Q278_FOLDS))
_Q278_UNION = "\nUNION ALL\n".join(
    f"""SELECT CAST({f} AS INTEGER) AS fold,
       t.n_docs AS n_train, v.n_docs AS n_val,
       round(CAST(t.lsum AS DOUBLE) / 1000000000.0 / t.n_docs, 6)
           AS train_logloss,
       round(CAST(v.lsum AS DOUBLE) / 1000000000.0 / v.n_docs, 6)
           AS val_logloss,
       round(CAST(v.n_correct AS DOUBLE) / v.n_docs, 6) AS val_accuracy,
       floor((CAST(v.lsum AS DOUBLE) / 1000000000.0 / v.n_docs
              - CAST(t.lsum AS DOUBLE) / 1000000000.0 / t.n_docs)
             * 1000000 + 0.5) / 1000000.0 AS generalization_gap
FROM ev{f}_tr t CROSS JOIN ev{f}_va v"""
    for f in range(_Q278_FOLDS)
)

Q278_SQL = f"""
WITH featcv AS MATERIALIZED (
    SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c, min(n) AS n, min(y) AS y,
           min(fold) AS fold
    FROM (
        SELECT doc_id, {_hex2int_sql("md5('ft:' || t)", 1, 8)} % {_Q117_D} AS b,
               n, y, fold
        FROM (
            SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t,
                   CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS n,
                   CASE WHEN len(list_distinct(str_split(lower(text), ' '))) * 2
                             > len(str_split(lower(text), ' '))
                        THEN 1 ELSE 0 END AS y,
                   CAST(({_sample_key_sql("cvfold")}) % {_Q278_FOLDS}
                        AS INTEGER) AS fold
            FROM documents) u) v
    GROUP BY doc_id, b
){_Q278_FOLD_BLOCKS}
{_Q278_UNION}
ORDER BY fold
"""


# ---------------------------------------------------------------------------
# q119 — incremental stats-manifest MERGE (ext): a 100 TB pipeline never
# re-profiles the whole corpus — each ingest batch writes a small
# "manifest" of ALGEBRAIC partials (count / sum / min / max / sum-of-
# squares), and corpus-level stats are recovered by merging manifests.
# This query proves that contract end-to-end: documents are split into 8
# synthetic ingest shards (doc_id mod 8, standing in for batch
# boundaries), per-(lang, shard) partials are computed first, and ONLY
# the partials are merged into per-lang corpus stats — count by summing
# counts, mean from merged sums, population stddev from the merged
# sum-of-squares (Var = E[x²] − E[x]²). The oracle computes the same
# stats DIRECTLY from the raw table, so a green row proves
# merge-of-partials ≡ single-pass — the algebraic-merge property the
# incremental design rests on.
#
# Determinism: every partial is an exact int64 (token counts and their
# squares), so merge order cannot perturb them; floats appear only in
# the final mean/stddev derivation, computed with the identical
# expression tree on both engines and rounded at 4dp (sqrt and the two
# divisions are correctly-rounded IEEE ops).
#
# Shape at scale: two narrow shuffles — (lang, shard) then (lang) — the
# second over |langs|·|shards| rows only. In production the first
# aggregation runs once per ingest batch and lands in a manifest table;
# the merge is a metadata-sized job.
# ---------------------------------------------------------------------------
_Q119_SHARDS = 8


def q119_manifest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        (F.col("doc_id") % _Q119_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("nt"),
    )
    partials = toks.groupBy("lang", "shard").agg(
        F.count("*").alias("p_n"),
        F.sum("nt").alias("p_s"),
        F.min("nt").alias("p_min"),
        F.max("nt").alias("p_max"),
        F.sum(F.col("nt") * F.col("nt")).alias("p_ss"),
    )
    merged = partials.groupBy("lang").agg(
        F.sum("p_n").cast("long").alias("n_docs"),
        F.sum("p_s").cast("long").alias("total_tokens"),
        F.min("p_min").cast("long").alias("min_tokens"),
        F.max("p_max").cast("long").alias("max_tokens"),
        F.sum("p_ss").cast("long").alias("ss"),
    )
    mean = F.col("total_tokens") / F.col("n_docs")
    return merged.select(
        "lang",
        "n_docs",
        "total_tokens",
        "min_tokens",
        "max_tokens",
        F.round(mean, 4).alias("mean_tokens"),
        # greatest(·, 0): a zero-variance group can land a hair below 0
        # from float rounding — clamp so std is 0, never NaN (q131's
        # m2 > 0 guard, mirrored here)
        F.round(
            F.sqrt(
                F.greatest(
                    F.col("ss") / F.col("n_docs") - mean * mean, F.lit(0.0)
                )
            ),
            4,
        ).alias("std_tokens"),
    )


Q119_SQL = """
WITH toks AS (
    SELECT lang, CAST(len(str_split(text, ' ')) AS BIGINT) AS nt FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       CAST(min(nt) AS BIGINT) AS min_tokens,
       CAST(max(nt) AS BIGINT) AS max_tokens,
       round(sum(nt) / count(*), 4) AS mean_tokens,
       round(sqrt(greatest(sum(nt * nt) / count(*)
                  - (sum(nt) / count(*)) * (sum(nt) / count(*)), 0)), 4) AS std_tokens
FROM toks
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# q131 — higher-moment manifest merge (ext): q119 proves mergeable
# count/sum/min/max/sum² manifests; distribution-SHAPE monitoring (is the
# length distribution drifting right-skewed? heavy-tailed?) needs the 3rd
# and 4th moments too, and those are where int64 manifests break first: at
# 100 TB, Σx⁴ over ~1e10 rows of 4-digit lengths is ~1e21 — past int64's
# 9.2e18 — so the partials here accumulate in DECIMAL(38,0) (Spark) /
# HUGEINT (DuckDB), which stay EXACT under any merge order and overflow at
# 1e38, not 9e18. Per-(lang, shard) partials (shard = doc_id % 16 standing
# in for ingest batches) are merged per lang and only then converted to
# doubles — every sum at test scale is < 2^53, so the double conversion is
# exact, and skewness / excess kurtosis come out of the identical
# expression tree on both engines. The oracle computes the moments
# DIRECTLY from the raw table: a green row proves merge-of-partials ≡
# single-pass for all four moments.
#
# Shape at scale: two narrow shuffles — (lang, shard), then (lang) over
# |langs|·16 manifest rows. The m2 > 0 guard keeps degenerate groups
# (zero variance) NULL instead of NaN/Inf on both engines.
# ---------------------------------------------------------------------------
_Q131_SHARDS = 16


def q131_moments_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("decimal(9,0)")
    staged = docs.select(
        "lang",
        (F.col("doc_id") % _Q131_SHARDS).alias("shard"),
        x.alias("x1"),
        (x * x).alias("x2"),
        (x * x * x).alias("x3"),
        (x * x * x * x).alias("x4"),
    )
    partials = staged.groupBy("lang", "shard").agg(
        F.count("*").alias("p_n"),
        F.sum("x1").alias("p_s1"),
        F.sum("x2").alias("p_s2"),
        F.sum("x3").alias("p_s3"),
        F.sum("x4").alias("p_s4"),
    )
    merged = partials.groupBy("lang").agg(
        F.sum("p_n").cast("long").alias("n_docs"),
        F.sum("p_s1").cast("double").alias("s1"),
        F.sum("p_s2").cast("double").alias("s2"),
        F.sum("p_s3").cast("double").alias("s3"),
        F.sum("p_s4").cast("double").alias("s4"),
    )
    n = F.col("n_docs").cast("double")
    m1 = F.col("s1") / n
    r2 = F.col("s2") / n
    r3 = F.col("s3") / n
    r4 = F.col("s4") / n
    m2 = r2 - m1 * m1
    skew = (r3 - F.lit(3.0) * m1 * r2 + F.lit(2.0) * m1 * m1 * m1) / (m2 * F.sqrt(m2))
    kurt = (
        r4
        - F.lit(4.0) * m1 * r3
        + F.lit(6.0) * m1 * m1 * r2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    ) / (m2 * m2) - F.lit(3.0)
    return (
        merged.select(
            "lang",
            "n_docs",
            F.round(m1, 4).alias("mean_chars"),
            F.round(F.sqrt(m2), 4).alias("std_chars"),
            F.when(m2 > 0, F.round(skew, 4) + F.lit(0.0)).alias("skewness"),
            F.when(m2 > 0, F.round(kurt, 4) + F.lit(0.0)).alias("excess_kurtosis"),
        )
        .orderBy("lang")
    )


Q131_SQL = """
WITH x AS (
    SELECT lang, CAST(n_chars AS HUGEINT) AS x FROM documents
),
agg AS (
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(x) AS DOUBLE) AS s1,
           CAST(sum(x * x) AS DOUBLE) AS s2,
           CAST(sum(x * x * x) AS DOUBLE) AS s3,
           CAST(sum(x * x * x * x) AS DOUBLE) AS s4
    FROM x GROUP BY lang
),
m AS (
    SELECT lang, n_docs,
           s1 / CAST(n_docs AS DOUBLE) AS m1,
           s2 / CAST(n_docs AS DOUBLE) AS r2,
           s3 / CAST(n_docs AS DOUBLE) AS r3,
           s4 / CAST(n_docs AS DOUBLE) AS r4
    FROM agg
),
d AS (
    SELECT lang, n_docs, m1, r2, r3, r4, r2 - m1 * m1 AS m2 FROM m
)
SELECT lang, n_docs,
       round(m1, 4) AS mean_chars,
       round(sqrt(m2), 4) AS std_chars,
       CASE WHEN m2 > 0 THEN
           round((r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1) / (m2 * sqrt(m2)), 4)
           + 0.0
       END AS skewness,
       CASE WHEN m2 > 0 THEN
           round((r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
                  - 3.0 * m1 * m1 * m1 * m1) / (m2 * m2) - 3.0, 4)
           + 0.0
       END AS excess_kurtosis
FROM d
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# q149 — Neyman-allocation stratified sampling (Neyman 1934; survey
# sampling's optimal-allocation theorem applied to corpus curation):
# q67 stratifies with FIXED per-group rates; Neyman allocation sizes
# each stratum's sample ∝ N_h·σ_h — more budget where the data varies
# more — which minimizes the variance of the estimated corpus mean at a
# fixed total budget. The variance feeding the allocation comes from the
# same exact integer moment manifests as q119/q131 (DECIMAL sums,
# double only at the boundary), the per-stratum weights are fixed-pointed
# BEFORE the cross-strata total (integer sum — accumulation-order-free),
# and the realized sample is drawn by the q55 hash-threshold mechanism
# with an EXACT integer threshold (alloc·2³² DIV N_h), so allocation,
# thresholds, and realized counts all reproduce bit-for-bit on both
# engines. Output scores allocation against realization per stratum.
#
# Shape at scale: one map-side-combinable groupBy builds the moment
# manifest (metadata-sized); the allocation math runs on |strata| rows;
# the draw is a broadcast join + row-local hash compare. Nothing scans
# twice except the draw itself — and in production the manifest already
# exists (q119's incremental-stats contract), so allocation is free.
# ---------------------------------------------------------------------------
_Q149_N = 200


def q149_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("decimal(9,0)")
    strata = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_h"),
        F.sum(x).cast("double").alias("s1"),
        F.sum(x * x).cast("double").alias("s2"),
    )
    n = F.col("n_h").cast("double")
    m1 = F.col("s1") / n
    sig = F.sqrt(F.greatest(F.col("s2") / n - m1 * m1, F.lit(0.0)))
    staged = strata.select(
        "lang",
        "n_h",
        sig.alias("_sig"),
        F.round(n * sig * F.lit(10000.0)).cast("long").alias("w_fp"),
    ).localCheckpoint(eager=False)  # feeds the total, the alloc, the join
    tot = staged.agg(F.sum("w_fp").alias("w_tot"))
    alloc = staged.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_h",
        F.round(F.col("_sig"), 4).alias("sigma_chars"),
        F.round(F.lit(float(_Q149_N)) * F.col("w_fp") / F.col("w_tot"))
        .cast("long")
        .alias("alloc_n"),
    )
    thr = alloc.selectExpr(
        "lang",
        "n_h",
        "sigma_chars",
        "alloc_n",
        "(alloc_n * 4294967296) DIV n_h AS thr",
    )
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ney:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    kept = (
        docs.select("lang", hv.alias("hv"))
        .join(F.broadcast(thr.select("lang", "thr")), "lang")
        .filter(F.col("hv") < F.col("thr"))
        .groupBy("lang")
        .agg(F.count("*").alias("realized_n"))
    )
    return (
        thr.join(kept, "lang", "left")
        .select(
            "lang",
            "n_h",
            "sigma_chars",
            "alloc_n",
            F.coalesce("realized_n", F.lit(0)).cast("long").alias("realized_n"),
        )
        .orderBy("lang")
    )


_Q149_HV = _hex2int_sql("md5('ney:' || CAST(doc_id AS VARCHAR))", 1, 8)

Q149_SQL = f"""
WITH strata AS (
    SELECT lang, count(*) AS n_h,
           CAST(sum(CAST(n_chars AS HUGEINT)) AS DOUBLE) AS s1,
           CAST(sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
                AS DOUBLE) AS s2
    FROM documents GROUP BY lang
),
staged AS (
    SELECT lang, n_h,
           sqrt(greatest(s2 / n_h - (s1 / n_h) * (s1 / n_h), 0.0)) AS sig
    FROM strata
),
wfp AS (
    SELECT lang, n_h, sig,
           CAST(round(n_h * sig * 10000.0) AS BIGINT) AS w_fp
    FROM staged
),
tot AS (SELECT sum(w_fp) AS w_tot FROM wfp),
alloc AS (
    SELECT lang, n_h, round(sig, 4) AS sigma_chars,
           CAST(round({float(_Q149_N)!r} * w_fp / w_tot) AS BIGINT) AS alloc_n
    FROM wfp, tot
),
thr AS (SELECT *, (alloc_n * 4294967296) // n_h AS thr FROM alloc),
kept AS (
    SELECT d.lang, count(*) AS realized_n
    FROM documents d JOIN thr ON thr.lang = d.lang
    WHERE ({_Q149_HV}) < thr.thr
    GROUP BY d.lang
)
SELECT t.lang, CAST(t.n_h AS BIGINT) AS n_h, t.sigma_chars, t.alloc_n,
       CAST(coalesce(k.realized_n, 0) AS BIGINT) AS realized_n
FROM thr t LEFT JOIN kept k USING (lang)
ORDER BY t.lang
"""


# ---------------------------------------------------------------------------
# q148 — Z-order (Morton curve) layout audit (Morton 1966; the
# Delta/Iceberg OPTIMIZE ZORDER contract): interleave the bits of two
# normalized dimensions (user_id, event epoch) into one sort key, bucket
# rows into files by Z-range, and measure DATA SKIPPING — for a 2-D
# range predicate, how many files' (min, max) zone-maps overlap the
# query box — against the same file count laid out in insert order. The
# point at 100 TB: a linear layout clusters ONE dimension, so any
# predicate on the other touches every file; Morton interleaving bounds
# both dimensions per file, and the audit quantifies the read-fraction
# difference from the data (the 2-D generalization of
# sources/sinks.layout_audit's sorted-vs-sprayed check).
#
# Determinism: normalization is pure integer arithmetic
# ((v − min)·65535 DIV span) off a broadcast 1-row bounds frame; bit
# extraction is (xn DIV 2^j) % 2 — no bit-twiddling builtins, identical
# on both engines; files are fixed Z-ranges (z DIV 2^24) and fixed
# event_id stripes, NOT row_number — no global sort anywhere in the
# audit (the production WRITE path is repartitionByRange(z) +
# sortWithinPartitions, a distributed range sort).
# ---------------------------------------------------------------------------
_Q148_SEL = 8191  # query box: first eighth of each normalized dimension
_Q148_FILES = 256


def _q148_interleave(xn: str, yn: str) -> str:
    """Morton-interleave two 16-bit ints: SQL expression string valid in
    both Spark SQL (DIV) and, via _q148_sqlize, DuckDB (//)."""
    terms = []
    for j in range(16):
        terms.append(f"(({xn} DIV {1 << j}) % 2) * {1 << (2 * j + 1)}")
        terms.append(f"(({yn} DIV {1 << j}) % 2) * {1 << (2 * j)}")
    return " + ".join(terms)


def q148_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ep")
    )
    b = ev.agg(
        F.min("user_id").alias("mnu"),
        F.max("user_id").alias("mxu"),
        F.min("ep").alias("mne"),
        F.max("ep").alias("mxe"),
        F.max("event_id").alias("mxid"),
    )
    j = ev.crossJoin(F.broadcast(b)).selectExpr(
        "event_id",
        "mxid",
        "((user_id - mnu) * 65535) DIV greatest(mxu - mnu, 1) AS xn",
        "((ep - mne) * 65535) DIV greatest(mxe - mne, 1) AS yn",
    )
    f = j.selectExpr(
        "xn",
        "yn",
        f"({_q148_interleave('xn', 'yn')}) DIV {2**32 // _Q148_FILES} AS zfile",
        f"(event_id * {_Q148_FILES}) DIV (mxid + 1) AS linfile",
    ).localCheckpoint(eager=False)  # feeds both layout rollups + the truth agg
    per_file = (
        f.groupBy(F.col("zfile").alias("file_id"))
        .agg(F.min("xn").alias("mnx"), F.min("yn").alias("mny"), F.count("*").alias("c"))
        .select(F.lit("zorder").alias("layout"), "mnx", "mny", "c")
        .unionByName(
            f.groupBy(F.col("linfile").alias("file_id"))
            .agg(
                F.min("xn").alias("mnx"),
                F.min("yn").alias("mny"),
                F.count("*").alias("c"),
            )
            .select(F.lit("linear").alias("layout"), "mnx", "mny", "c")
        )
    )
    hit = (F.col("mnx") <= _Q148_SEL) & (F.col("mny") <= _Q148_SEL)
    stats = per_file.groupBy("layout").agg(
        F.count("*").alias("n_files"),
        F.sum(hit.cast("long")).alias("n_files_hit"),
        F.sum(F.when(hit, F.col("c")).otherwise(F.lit(0))).alias("rows_in_hit_files"),
    )
    truth = f.agg(
        F.sum(
            ((F.col("xn") <= _Q148_SEL) & (F.col("yn") <= _Q148_SEL)).cast("long")
        ).alias("n_match_rows")
    )
    return (
        stats.crossJoin(F.broadcast(truth))
        .select(
            "layout",
            "n_files",
            "n_files_hit",
            F.round(F.col("n_files_hit") / F.col("n_files"), 4).alias("file_frac"),
            "rows_in_hit_files",
            "n_match_rows",
        )
        .orderBy("layout")
    )


Q148_SQL = f"""
WITH ev AS (
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ep
    FROM events
),
b AS (
    SELECT min(user_id) AS mnu, max(user_id) AS mxu,
           min(ep) AS mne, max(ep) AS mxe, max(event_id) AS mxid
    FROM ev
),
norm AS (
    SELECT event_id, mxid,
           ((user_id - mnu) * 65535) // greatest(mxu - mnu, 1) AS xn,
           ((ep - mne) * 65535) // greatest(mxe - mne, 1) AS yn
    FROM ev, b
),
f AS (
    SELECT xn, yn,
           ({_q148_interleave("xn", "yn").replace(" DIV ", " // ")})
               // {2**32 // _Q148_FILES} AS zfile,
           (event_id * {_Q148_FILES}) // (mxid + 1) AS linfile
    FROM norm
),
per_file AS (
    SELECT 'zorder' AS layout, zfile AS file_id,
           min(xn) AS mnx, min(yn) AS mny, count(*) AS c
    FROM f GROUP BY zfile
    UNION ALL
    SELECT 'linear', linfile, min(xn), min(yn), count(*)
    FROM f GROUP BY linfile
),
stats AS (
    SELECT layout,
           count(*) AS n_files,
           sum(CASE WHEN mnx <= {_Q148_SEL} AND mny <= {_Q148_SEL}
                    THEN 1 ELSE 0 END) AS n_files_hit,
           sum(CASE WHEN mnx <= {_Q148_SEL} AND mny <= {_Q148_SEL}
                    THEN c ELSE 0 END) AS rows_in_hit_files
    FROM per_file GROUP BY layout
),
truth AS (
    SELECT sum(CASE WHEN xn <= {_Q148_SEL} AND yn <= {_Q148_SEL}
                    THEN 1 ELSE 0 END) AS n_match_rows
    FROM f
)
SELECT s.layout,
       CAST(s.n_files AS BIGINT) AS n_files,
       CAST(s.n_files_hit AS BIGINT) AS n_files_hit,
       round(s.n_files_hit / CAST(s.n_files AS DOUBLE), 4) AS file_frac,
       CAST(s.rows_in_hit_files AS BIGINT) AS rows_in_hit_files,
       CAST(t.n_match_rows AS BIGINT) AS n_match_rows
FROM stats s, truth t
ORDER BY s.layout
"""


# ---------------------------------------------------------------------------
# q154 — SCD Type-2 history build via gaps-and-islands: collapse each
# customer's order-status timeline into validity intervals
# (valid_from/valid_to half-open, is_current on the last island). The
# island id is a running sum of change flags over a window PARTITIONED
# BY customer — the canonical warehouse pattern for deriving a
# slowly-changing-dimension table from an event/fact stream, and the
# temporal complement of q74's snapshot diff (diff says WHAT changed
# between two snapshots; SCD2 says WHEN each value held). Total order
# (od, o_orderkey) makes the islands engine-independent; every window
# partitions by o_custkey (bounded by a customer's order count), and the
# island rollup + lead() ride the SAME partitioning — one shuffle end to
# end.
# ---------------------------------------------------------------------------
def _scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed SCD2 validity intervals (shared by q154 and the q162 as-of
    dimension join): one row per (customer, island) with half-open
    [valid_from, valid_to) DATE bounds, valid_to NULL on the current
    island."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        F.to_date("o_orderdate").alias("od"),
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    lag_status = F.lag("o_orderstatus").over(w)
    flagged = orders.withColumn(
        "chg",
        F.when(
            lag_status.isNull() | (lag_status != F.col("o_orderstatus")), 1
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    isl = flagged.groupBy("o_custkey", "island", "o_orderstatus").agg(
        F.min("od").alias("valid_from"),
        F.count("*").alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("island")
    return isl.withColumn(
        "valid_to", F.lead("valid_from").over(w2)
    ).withColumn("is_current", F.col("valid_to").isNull())


def q154_scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _scd2_intervals(spark, sf_dir)
        .select(
            "o_custkey",
            F.col("island").cast("int").alias("island_seq"),
            F.col("o_orderstatus").alias("status"),
            F.col("valid_from").cast("string").alias("valid_from"),
            F.col("valid_to").cast("string").alias("valid_to"),
            F.col("n_orders").cast("long").alias("n_orders"),
            "is_current",
        )
        .orderBy("o_custkey", "island_seq")
    )


Q154_SQL = """
WITH seq AS (
    SELECT o_custkey, o_orderkey, o_orderstatus,
           CAST(o_orderdate AS DATE) AS od
    FROM orders
),
flagged AS (
    SELECT *,
           CASE WHEN lag(o_orderstatus) OVER w IS NULL
                  OR lag(o_orderstatus) OVER w <> o_orderstatus
                THEN 1 ELSE 0 END AS chg
    FROM seq
    WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey)
),
islands AS (
    SELECT *,
           SUM(chg) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
),
isl AS (
    SELECT o_custkey, island, o_orderstatus,
           min(od) AS valid_from, count(*) AS n_orders
    FROM islands GROUP BY 1, 2, 3
)
SELECT o_custkey,
       CAST(island AS INTEGER) AS island_seq,
       o_orderstatus AS status,
       CAST(valid_from AS VARCHAR) AS valid_from,
       CAST(lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island)
            AS VARCHAR) AS valid_to,
       CAST(n_orders AS BIGINT) AS n_orders,
       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island)
           IS NULL AS is_current
FROM isl
ORDER BY o_custkey, island_seq
"""


# ---------------------------------------------------------------------------
# q158 — k-anonymity audit over a generalization ladder (Sweeney 2002;
# the governance twin of q54's PII redaction: redaction hides VALUES,
# k-anonymity measures whether quasi-identifier COMBINATIONS still
# single people out). One scan walks four generalization levels of the
# quasi-identifier (nation, segment, acctbal@$100 → @$1000 → dropped →
# segment-only) via GROUPING SETS — a single Expand, one shuffle — and
# reports per level the equivalence-class count, the smallest class,
# the re-identifiable row mass (rows in classes below k=5), and whether
# the level achieves k-anonymity. The level label derives from
# GROUPING() indicators (never the engine-specific grouping_id bit
# order). At 100 TB the class table is bounded by the quasi-identifier
# domain, not the row count — audit cost is one rollup.
# ---------------------------------------------------------------------------
_Q158_K = 5


def q158_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("b100"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("b1000"),
    )
    classes = base.groupingSets(
        [["nat", "seg", "b100"], ["nat", "seg", "b1000"], ["nat", "seg"], ["seg"]],
        "nat",
        "seg",
        "b100",
        "b1000",
    ).agg(
        F.count("*").alias("n"),
        F.when(F.grouping("b100") == 0, "L0_bal100")
        .when(F.grouping("b1000") == 0, "L1_bal1000")
        .when(F.grouping("nat") == 0, "L2_nation_seg")
        .otherwise("L3_segment")
        .alias("lvl"),
    )
    below = F.sum(
        F.when(F.col("n") < _Q158_K, F.col("n")).otherwise(F.lit(0))
    )
    return (
        classes.groupBy("lvl")
        .agg(
            F.count("*").alias("n_classes"),
            F.min("n").cast("long").alias("min_class_size"),
            below.cast("long").alias("n_rows_below_k"),
            F.sum("n").alias("_rows"),
        )
        .select(
            "lvl",
            "n_classes",
            "min_class_size",
            "n_rows_below_k",
            F.round(F.col("n_rows_below_k") / F.col("_rows"), 4).alias(
                "pct_below_k"
            ),
            (F.col("min_class_size") >= _Q158_K).alias("k_anonymous"),
        )
        .orderBy("lvl")
    )


Q158_SQL = f"""
WITH base AS (
    SELECT c_nationkey AS nat, c_mktsegment AS seg,
           CAST(floor(c_acctbal / 100) AS BIGINT) AS b100,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS b1000
    FROM customer
),
classes AS (
    SELECT CASE WHEN GROUPING(b100) = 0 THEN 'L0_bal100'
                WHEN GROUPING(b1000) = 0 THEN 'L1_bal1000'
                WHEN GROUPING(nat) = 0 THEN 'L2_nation_seg'
                ELSE 'L3_segment' END AS lvl,
           count(*) AS n
    FROM base
    GROUP BY GROUPING SETS ((nat, seg, b100), (nat, seg, b1000),
                            (nat, seg), (seg))
)
SELECT lvl,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(n) AS BIGINT) AS min_class_size,
       CAST(SUM(CASE WHEN n < {_Q158_K} THEN n ELSE 0 END) AS BIGINT)
           AS n_rows_below_k,
       round(SUM(CASE WHEN n < {_Q158_K} THEN n ELSE 0 END)
             / CAST(SUM(n) AS DOUBLE), 4) AS pct_below_k,
       min(n) >= {_Q158_K} AS k_anonymous
FROM classes GROUP BY lvl ORDER BY lvl
"""


# ---------------------------------------------------------------------------
# q159 — classifier calibration audit: reliability bins + Expected
# Calibration Error (Guo et al., ICML'17) for q117's hashed linear
# classifier against a deterministic ground truth (n_chars >= 300, the
# corpus median). The ML-ops closer for the classifier family: q117
# SCORES documents, q159 measures whether those scores can be TRUSTED
# as probabilities. Scores are fixed-point-quantized to int64 BEFORE any
# aggregation (sum of s_fp is exact, so per-bin means are
# order-independent — the qround rule); bins, gaps, and the ECE rollup
# all run on the ≤10-row bin table (the final window is bounded by
# construction, q73's psi_total pattern). One corpus scan, one shuffle
# on the 10-value bin key.
# ---------------------------------------------------------------------------
_Q159_THRESH = 300
_Q159_FP = 1_000_000
_Q159_TEMP = 4000.0  # temperature: spreads q117's near-0.5 raw sigmoids
#                      across the unit interval (the paper's T-scaling)


def q159_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The same score as q117, through the family's shared weight fold.
    # |logit| ≤ 12.5 (|w| ≤ 5e4, TEMP 4e3) — too wide for det_exp_small_sql
    # directly, so range-reduce: exp(x) = det_exp_small_sql(x/16)^16 (the
    # /16 is exact, the 4 squarings are correctly-rounded IEEE ops, each
    # staged in its own projection: as text, e*e nested 4 deep is 16
    # copies), keeping the whole sigmoid bit-identical across engines
    # before the fixed-point quantization (round-9 sweep; engine exp() is
    # ulp-unstable).
    exp_x = (
        load(spark, sf_dir, "documents")
        .selectExpr(
            f"n_chars >= {_Q159_THRESH} AS y",
            f"CAST(size({_TOKS}) AS BIGINT) AS n_tokens",
            f"{_weight_fold_sql(_TOKS)} AS w_sum",
        )
        .selectExpr("y", f"(-(w_sum / ({_Q159_TEMP!r}D * n_tokens))) / 16.0D AS mx")
        .selectExpr("y", f"{_det_exp_small_sql('mx')} AS e")
    )
    for _ in range(4):
        exp_x = exp_x.selectExpr("y", "e * e AS e")
    binned = exp_x.selectExpr(
        "y", f"CAST(round({_Q159_FP} / (1.0D + e), 0) AS BIGINT) AS s_fp"
    ).selectExpr("*", f"CAST(least(floor(s_fp / {_Q159_FP // 10}), 9) AS INT) AS bin")
    per_bin = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("s_fp").alias("sum_fp"),
        F.sum(F.col("y").cast("long")).alias("n_pos"),
    )
    w = Window.partitionBy()  # bounded: <= 10 bin rows
    mean_s = F.col("sum_fp") / (F.col("n") * F.lit(float(_Q159_FP)))
    frac_p = F.col("n_pos") / F.col("n")
    gap = F.abs(mean_s - frac_p)
    # gap·n·FP = |sum_fp − FP·n_pos| EXACTLY (integers), so the ECE
    # numerator sums as int64 (order-independent — the q279/psi_total
    # class: a double window-sum of rationals can sit exactly on a
    # round boundary) and divides once: ece = floor(Σ|..|/Σn + 0.5)/FP.
    a_int = F.abs(F.col("sum_fp") - F.lit(_Q159_FP) * F.col("n_pos"))
    ece = (
        F.floor(
            F.sum(a_int).over(w).cast("double")
            / F.sum("n").over(w).cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(_Q159_FP))
    )
    return (
        per_bin.select(
            "bin",
            F.col("n").cast("long").alias("n"),
            F.round(mean_s, 6).alias("mean_score"),
            F.round(frac_p, 6).alias("frac_pos"),
            F.round(gap, 6).alias("gap"),
            ece.alias("ece"),
        )
        .orderBy("bin")
    )


Q159_SQL = f"""
WITH scored AS (
    SELECT n_chars >= {_Q159_THRESH} AS y,
           CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
           list_sum(list_transform(str_split(lower(text), ' '),
                    t -> {_Q117_W_SQL})) AS w_sum
    FROM documents
),
xr AS (
    SELECT y, (-(w_sum / ({_Q159_TEMP!r} * n_tokens))) / 16.0 AS mx
    FROM scored
),
p1 AS (SELECT y, {_det_exp_small_sql("mx")} AS e FROM xr),
p2 AS (SELECT y, e*e AS e FROM p1),
p3 AS (SELECT y, e*e AS e FROM p2),
p4 AS (SELECT y, e*e AS e FROM p3),
binned AS (
    SELECT y,
           CAST(round({_Q159_FP} / (1.0 + e*e), 0) AS BIGINT) AS s_fp
    FROM p4
),
per_bin AS (
    SELECT CAST(least(s_fp // {_Q159_FP // 10}, 9) AS INTEGER) AS bin,
           count(*) AS n, SUM(s_fp) AS sum_fp,
           SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos
    FROM binned GROUP BY 1
)
SELECT bin,
       CAST(n AS BIGINT) AS n,
       round(sum_fp / (n * CAST({float(_Q159_FP)!r} AS DOUBLE)), 6) AS mean_score,
       round(n_pos / CAST(n AS DOUBLE), 6) AS frac_pos,
       round(abs(sum_fp / (n * CAST({float(_Q159_FP)!r} AS DOUBLE))
                 - n_pos / CAST(n AS DOUBLE)), 6) AS gap,
       floor(CAST(SUM(abs(sum_fp - {_Q159_FP} * n_pos)) OVER () AS DOUBLE)
             / CAST(SUM(n) OVER () AS DOUBLE) + 0.5)
           / {float(_Q159_FP)!r} AS ece
FROM per_bin
ORDER BY bin
"""


# ---------------------------------------------------------------------------
# q162 — point-in-time (as-of) DIMENSION join against the q154 SCD2
# table: every order fact joins the validity interval containing its
# date (equi-join on customer + half-open containment), the training-
# serving-skew killer of feature stores — features are read AS OF the
# fact's timestamp, never leaked from the future. Because q154's
# intervals partition [first_od, ∞) per customer (Hypothesis-pinned),
# every fact matches EXACTLY one interval; the query emits that totality
# as a `join_is_total` column computed from counts on BOTH engines
# rather than asserting it in prose. Scale: the join co-partitions on
# the customer key (a customer's interval list is bounded by their order
# count); the containment predicate rides the equi-join — no range-join
# blow-up.
# ---------------------------------------------------------------------------
def q162_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = _scd2_intervals(spark, sf_dir).select(
        "o_custkey",
        F.col("o_orderstatus").alias("dim_status"),
        "valid_from",
        "valid_to",
    )
    facts = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("od"),
        "o_totalprice",
    )
    joined = facts.join(dim, "o_custkey").filter(
        (F.col("od") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("od") < F.col("valid_to")))
    )
    per = joined.groupBy("dim_status").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    totals = facts.agg(F.count("*").alias("n_facts"))
    jt = per.agg(F.sum("n_orders").alias("n_joined"))
    return (
        per.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(jt))
        .select(
            "dim_status",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_customers").cast("long").alias("n_customers"),
            "revenue",
            (F.col("n_joined") == F.col("n_facts")).alias("join_is_total"),
        )
        .orderBy("dim_status")
    )


Q162_SQL = """
WITH seq AS (
    SELECT o_custkey, o_orderkey, o_orderstatus,
           CAST(o_orderdate AS DATE) AS od
    FROM orders
),
flagged AS (
    SELECT *,
           CASE WHEN lag(o_orderstatus) OVER w IS NULL
                  OR lag(o_orderstatus) OVER w <> o_orderstatus
                THEN 1 ELSE 0 END AS chg
    FROM seq
    WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey)
),
islands AS (
    SELECT *,
           SUM(chg) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
),
dim AS (
    SELECT o_custkey, o_orderstatus AS dim_status, island,
           min(od) AS valid_from
    FROM islands GROUP BY 1, 2, 3
),
dim2 AS (
    SELECT o_custkey, dim_status, valid_from,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island)
               AS valid_to
    FROM dim
),
joined AS (
    SELECT d.dim_status, f.o_custkey, f.o_totalprice
    FROM (SELECT o_custkey, o_orderkey,
                 CAST(o_orderdate AS DATE) AS od, o_totalprice
          FROM orders) f
    JOIN dim2 d
      ON d.o_custkey = f.o_custkey
     AND f.od >= d.valid_from
     AND (d.valid_to IS NULL OR f.od < d.valid_to)
),
per AS (
    SELECT dim_status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           round(sum(o_totalprice), 2) AS revenue
    FROM joined GROUP BY dim_status
)
SELECT dim_status, n_orders, n_customers, revenue,
       (SELECT SUM(n_orders) FROM per)
           = (SELECT count(*) FROM orders) AS join_is_total
FROM per
ORDER BY dim_status
"""


# ---------------------------------------------------------------------------
# q168 — SCD2 SNAPSHOT APPLY (ext): the maintenance leg of the warehouse
# family (q154 builds history from events, q162 joins as-of, q160
# maintains a join view; this applies a new FULL dimension snapshot to an
# existing SCD2 history — close changed/disappeared keys' current
# intervals at the snapshot date, open new current intervals for
# changed/new keys, carry the rest; operators/scd2.py). Snapshots are
# derived deterministically from customer: S0 drops an md5-selected tenth
# of keys (they "arrive" later), S1 drops a different tenth (deletions)
# and rewrites an md5-selected fifth of segments to seg_V2 (changes) —
# so every transition class (carry / close+open / close-only / open-only)
# is populated at every SF. The ORACLE rebuilds the history directly from
# the UNION of the two snapshots (per-key timeline → intervals), fully
# independent of the close/open mechanics, so green = apply ≡ rebuild.
# The disk path (change-set upsert through merge_upsert's enforced
# partition-scoped machinery, idempotent re-apply) is exercised in
# tests/test_scd2.py.
# Shape at scale: ONE outer join on the dimension key (|dim|, not
# |facts|) + unions; DATE columns exit as VARCHAR (NULL-date hash trap,
# SCALE.md).
# ---------------------------------------------------------------------------
_Q168_D0, _Q168_D1 = "2024-01-01", "2024-02-01"


def q168_scd2_snapshot_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr
    from ..operators.scd2 import scd2_apply

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"),
        F.col("c_mktsegment").alias("attr"),
    )
    s0 = cust.filter(sample_key_expr(F.col("k"), "scadd") % 10 != 0)
    s1 = cust.filter(sample_key_expr(F.col("k"), "scdrop") % 10 != 0).select(
        "k",
        F.when(
            sample_key_expr(F.col("k"), "scchg") % 5 == 0,
            F.concat(F.col("attr"), F.lit("_V2")),
        )
        .otherwise(F.col("attr"))
        .alias("attr"),
    )
    history = s0.select(
        "k",
        "attr",
        F.lit(_Q168_D0).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    out = scd2_apply(history, s1, "k", "attr", _Q168_D1)
    return out.select(
        "k",
        "attr",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    ).orderBy("k", "valid_from")


def _q168_key(salt: str) -> str:
    return _hex2int_sql(f"md5('{salt}:' || CAST(k AS VARCHAR))", 1, 8)


Q168_SQL = f"""
WITH cust AS (
    SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS attr FROM customer
),
s0 AS (SELECT k, attr FROM cust WHERE ({_q168_key("scadd")}) % 10 <> 0),
s1 AS (
    SELECT k,
           CASE WHEN ({_q168_key("scchg")}) % 5 = 0 THEN attr || '_V2'
                ELSE attr END AS attr
    FROM cust WHERE ({_q168_key("scdrop")}) % 10 <> 0
),
rows0 AS (
    SELECT a.k, a.attr, DATE '{_Q168_D0}' AS valid_from,
           CASE WHEN b.k IS NULL OR b.attr <> a.attr
                THEN DATE '{_Q168_D1}' END AS valid_to
    FROM s0 a LEFT JOIN s1 b ON b.k = a.k
),
rows1 AS (
    SELECT b.k, b.attr, DATE '{_Q168_D1}' AS valid_from,
           CAST(NULL AS DATE) AS valid_to
    FROM s1 b LEFT JOIN s0 a ON a.k = b.k
    WHERE a.k IS NULL OR a.attr <> b.attr
)
SELECT k, attr,
       CAST(valid_from AS VARCHAR) AS valid_from,
       CAST(valid_to AS VARCHAR) AS valid_to,
       valid_to IS NULL AS is_current
FROM (SELECT * FROM rows0 UNION ALL SELECT * FROM rows1)
ORDER BY k, valid_from
"""


# ---------------------------------------------------------------------------
# q169 — STREAMING SCD2 apply (ext; ST5/ST6): three full dimension
# snapshots arrive as a file stream (maxFilesPerTrigger=1 → three real
# micro-batches, strictly ordered mtimes) and drain through
# streaming/scd2.py's foreachBatch sink into a parquet SCD2 table via
# merge_upsert's partition-scoped machinery — the production shape of
# q168 run as an actual Structured Streaming query, exercising the
# crash-recover-before-probe ordering, the partition-stability contract,
# and the snapshot monotonicity guard on every batch. The third snapshot
# adds the transitions a 2-snapshot apply never sees: a key deleted at D1
# re-appearing at D2 (fresh interval) and a second consecutive change.
# ORACLE: rebuild-from-union over the 3-date ladder with q154's
# gaps-and-islands (an island breaks on a skipped snapshot index or an
# attr change) — fully independent of the close/open mechanics AND of the
# batching. Green = streaming incremental apply ≡ batch rebuild (ST6).
# ---------------------------------------------------------------------------
_Q169_DATES = ("2024-01-01", "2024-02-01", "2024-03-01")


def q169_stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob
    import os
    import shutil
    import tempfile
    import time

    from ..operators.curation import sample_key_expr
    from ..streaming.scd2 import run_stream_scd2

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"),
        F.col("c_mktsegment").alias("attr"),
    )
    k = F.col("k")
    snaps = [
        cust.filter(sample_key_expr(k, "scadd") % 10 != 0),
        cust.filter(sample_key_expr(k, "scdrop") % 10 != 0).select(
            "k",
            F.when(sample_key_expr(k, "scchg") % 5 == 0,
                   F.concat(F.col("attr"), F.lit("_V2")))
            .otherwise(F.col("attr")).alias("attr"),
        ),
        cust.filter(sample_key_expr(k, "scdrop2") % 8 != 0).select(
            "k",
            F.when(sample_key_expr(k, "scchg2") % 3 == 0,
                   F.concat(F.col("attr"), F.lit("_V3")))
            .otherwise(F.col("attr")).alias("attr"),
        ),
    ]
    tmp = tempfile.mkdtemp(prefix="q169_")
    src, ckpt, table = f"{tmp}/src", f"{tmp}/ckpt", f"{tmp}/dim"
    os.makedirs(src)
    try:
        base_t = time.time()
        for i, (d, sdf) in enumerate(zip(_Q169_DATES, snaps)):
            staged = f"{tmp}/stage_{i}"
            sdf.withColumn("snap_date", F.lit(d)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staged)
            part = _glob.glob(f"{staged}/part-*.parquet")[0]
            dst = f"{src}/snap_{i}.parquet"
            shutil.copy(part, dst)
            # FileStreamSource orders by modification time: pin strictly
            # increasing mtimes so the three snapshots form three ordered
            # micro-batches regardless of copy-time resolution.
            os.utime(dst, (base_t + i, base_t + i))
        stream = (
            spark.readStream.schema("k long, attr string, snap_date string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_stream_scd2(stream, table, ckpt, "k", "attr", "snap_date",
                        n_buckets=8)
        out = (
            spark.read.parquet(table)
            .select(
                "k",
                "attr",
                F.col("valid_from").cast("string").alias("valid_from"),
                F.col("valid_to").cast("string").alias("valid_to"),
                F.col("valid_to").isNull().alias("is_current"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("k", "valid_from")


_Q169_LADDER = " ".join(
    f"WHEN {i} THEN DATE '{d}'" for i, d in enumerate(_Q169_DATES)
)

Q169_SQL = f"""
WITH cust AS (
    SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS attr FROM customer
),
tl AS (
    SELECT k, 0 AS i, attr FROM cust WHERE ({_q168_key("scadd")}) % 10 <> 0
    UNION ALL
    SELECT k, 1 AS i,
           CASE WHEN ({_q168_key("scchg")}) % 5 = 0 THEN attr || '_V2'
                ELSE attr END AS attr
    FROM cust WHERE ({_q168_key("scdrop")}) % 10 <> 0
    UNION ALL
    SELECT k, 2 AS i,
           CASE WHEN ({_q168_key("scchg2")}) % 3 = 0 THEN attr || '_V3'
                ELSE attr END AS attr
    FROM cust WHERE ({_q168_key("scdrop2")}) % 8 <> 0
),
flagged AS (
    SELECT *,
           CASE WHEN lag(i) OVER w IS NULL
                  OR lag(i) OVER w <> i - 1
                  OR lag(attr) OVER w <> attr
                THEN 1 ELSE 0 END AS chg
    FROM tl
    WINDOW w AS (PARTITION BY k ORDER BY i)
),
isl AS (
    SELECT *,
           SUM(chg) OVER (PARTITION BY k ORDER BY i ROWS UNBOUNDED PRECEDING)
               AS g
    FROM flagged
),
agg AS (
    SELECT k, attr, min(i) AS i0, max(i) AS i1
    FROM isl GROUP BY k, attr, g
)
SELECT k, attr,
       CAST(CASE i0 {_Q169_LADDER} END AS VARCHAR) AS valid_from,
       CAST(CASE i1 + 1 {_Q169_LADDER} END AS VARCHAR) AS valid_to,
       (i1 = {len(_Q169_DATES) - 1}) AS is_current
FROM agg
ORDER BY k, valid_from
"""


# ---------------------------------------------------------------------------
# q176 — key-range COMPACTION planning via interval merging (ext): the
# table-maintenance decision an LSM / lakehouse OPTIMIZE makes nightly
# (RocksDB leveled compaction; Iceberg/Delta bin-packing with sort
# orders): given a file manifest with per-file key ranges, group every
# set of TRANSITIVELY OVERLAPPING ranges into one merge task — files
# whose ranges don't overlap any other can be skipped (their key spans
# are already disjoint; rewriting them buys nothing). Completes the
# maintenance family (q143 HRW re-shard, q148 Z-order layout, q116/q170
# packing).
# The manifest is simulated from the data, two generations on purpose:
# gen0 = 4 contiguous quartile files per source (ntile — adjacent but
# DISJOINT, so gen0 alone yields 4 singleton tasks), gen1 = small
# "recent ingest" files over a hash-sampled, stride-restricted doc
# subset whose ranges straddle SOME quartile boundaries — exactly the
# overlap structure fresh writes create on top of a compacted level.
# Algorithm: the classic sweep — order files by (min_key, …), running
# prefix-MAX of max_key over PRECEDING rows, a file starts a new group
# iff its min exceeds that running max, group id = prefix-SUM of the
# start flags. All integer window algebra, partitioned by source
# (bounded by files-per-partition — manifests are metadata-scale, ~1e5
# files per partition at 100 TB, not data-scale), mirrored exactly by
# the oracle.
# ---------------------------------------------------------------------------
_Q176_GEN0_FILES = 4
_Q176_GEN1_DOCS = 8  # docs per gen1 file
_Q176_SAMPLE_MOD = 4
_Q176_STRIDE = 100  # gen1 covers even (doc_id div 100) stretches only


def q176_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    ).localCheckpoint(eager=False)  # feeds both manifest generations
    w_src = Window.partitionBy("source").orderBy("doc_id")
    gen0 = (
        docs.withColumn("idx", F.ntile(_Q176_GEN0_FILES).over(w_src))
        .groupBy("source", "idx")
        .agg(
            F.min("doc_id").alias("min_key"),
            F.max("doc_id").alias("max_key"),
            F.sum("n_chars").cast("long").alias("bytes"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .withColumn("gen", F.lit(0))
    )
    gen1 = (
        docs.filter(
            (sample_key_expr("doc_id", salt="cmpct") % _Q176_SAMPLE_MOD == 0)
            & (F.expr(f"(doc_id div {_Q176_STRIDE}) % 2") == 0)
        )
        .withColumn("rn", F.row_number().over(w_src))
        .withColumn("idx", F.expr(f"(rn - 1) div {_Q176_GEN1_DOCS}") + 1)
        .groupBy("source", "idx")
        .agg(
            F.min("doc_id").alias("min_key"),
            F.max("doc_id").alias("max_key"),
            F.sum("n_chars").cast("long").alias("bytes"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .withColumn("gen", F.lit(1))
    )
    manifest = gen0.unionByName(gen1)
    w_sweep = Window.partitionBy("source").orderBy(
        "min_key", "max_key", "gen", "idx"
    )
    prev_max = F.max("max_key").over(
        w_sweep.rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = manifest.withColumn(
        "_new",
        F.when(prev_max.isNull() | (F.col("min_key") > prev_max), 1).otherwise(0),
    ).withColumn(
        "group_id",
        F.sum("_new").over(
            w_sweep.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    )
    return (
        swept.groupBy("source", "group_id")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("total_bytes"),
            F.sum("n_docs").cast("long").alias("total_docs"),
            F.min("min_key").cast("long").alias("key_lo"),
            F.max("max_key").cast("long").alias("key_hi"),
        )
        .withColumn("needs_compaction", F.col("n_files") > 1)
        .orderBy("source", "group_id")
    )


_Q176_SAMPLE_KEY = _hex2int_sql("md5('cmpct:' || CAST(doc_id AS VARCHAR))", 1, 8)

Q176_SQL = f"""
WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
gen0 AS (
    SELECT source, idx,
           min(doc_id) AS min_key, max(doc_id) AS max_key,
           CAST(sum(n_chars) AS BIGINT) AS bytes,
           CAST(count(*) AS BIGINT) AS n_docs, 0 AS gen
    FROM (
        SELECT *, ntile({_Q176_GEN0_FILES})
                      OVER (PARTITION BY source ORDER BY doc_id) AS idx
        FROM docs
    ) t GROUP BY source, idx
),
gen1 AS (
    SELECT source, idx,
           min(doc_id) AS min_key, max(doc_id) AS max_key,
           CAST(sum(n_chars) AS BIGINT) AS bytes,
           CAST(count(*) AS BIGINT) AS n_docs, 1 AS gen
    FROM (
        SELECT *, (row_number()
                       OVER (PARTITION BY source ORDER BY doc_id) - 1)
                  // {_Q176_GEN1_DOCS} + 1 AS idx
        FROM docs
        WHERE ({_Q176_SAMPLE_KEY}) % {_Q176_SAMPLE_MOD} = 0
          AND (doc_id // {_Q176_STRIDE}) % 2 = 0
    ) t GROUP BY source, idx
),
manifest AS (SELECT * FROM gen0 UNION ALL SELECT * FROM gen1),
swept AS (
    SELECT *,
           CASE WHEN max(max_key) OVER (
                    PARTITION BY source ORDER BY min_key, max_key, gen, idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR min_key > max(max_key) OVER (
                    PARTITION BY source ORDER BY min_key, max_key, gen, idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                )
           THEN 1 ELSE 0 END AS is_new
    FROM manifest
),
grouped AS (
    SELECT *, CAST(sum(is_new) OVER (
                  PARTITION BY source ORDER BY min_key, max_key, gen, idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS BIGINT) AS group_id
    FROM swept
)
SELECT source, group_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(sum(n_docs) AS BIGINT) AS total_docs,
       CAST(min(min_key) AS BIGINT) AS key_lo,
       CAST(max(max_key) AS BIGINT) AS key_hi,
       count(*) > 1 AS needs_compaction
FROM grouped
GROUP BY source, group_id
ORDER BY source, group_id
"""


# ---------------------------------------------------------------------------
# q191 — referential-integrity AUDIT across the star schema (ext): the
# data-quality gate every warehouse load runs before trusting joins —
# for each foreign-key relation, count child rows/keys that reference
# no parent (orphans) and NULL keys, and emit an ok flag per relation.
# At 100 TB each relation is ONE left-anti join on the key (the parent
# side deduplicates to its key domain first, so the anti-join build
# side is the dimension's key set, broadcastable for real dims);
# no row ever carries more than the key column.
# The five relations cover the full TPC-H-ish FK graph:
# lineitem→orders→customer→nation←supplier, nation→region.
# ---------------------------------------------------------------------------
_Q191_RELATIONS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def q191_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = []
    for child, fk, parent, pk in _Q191_RELATIONS:
        c = load(spark, sf_dir, child).select(F.col(fk).alias("k"))
        p = load(spark, sf_dir, parent).select(F.col(pk).alias("k")).distinct()
        nn = c.filter(F.col("k").isNotNull())
        orphans = nn.join(p, "k", "left_anti")
        stats = (
            c.agg(
                F.count("*").cast("long").alias("n_child_rows"),
                F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_null_keys"),
                F.countDistinct("k").cast("long").alias("n_distinct_keys"),
            )
            .crossJoin(
                orphans.agg(
                    F.count("*").cast("long").alias("n_orphan_rows"),
                    F.countDistinct("k").cast("long").alias("n_orphan_keys"),
                )
            )
            .select(
                F.lit(f"{child}.{fk} -> {parent}.{pk}").alias("relation"),
                "n_child_rows",
                "n_null_keys",
                "n_distinct_keys",
                "n_orphan_rows",
                "n_orphan_keys",
                (
                    (F.col("n_orphan_rows") == 0) & (F.col("n_null_keys") == 0)
                ).alias("ok"),
            )
        )
        frames.append(stats)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("relation")


def _q191_rel_sql(child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{child}.{fk} -> {parent}.{pk}' AS relation,
           (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM {child}
            WHERE {fk} IS NULL) AS n_null_keys,
           (SELECT CAST(count(DISTINCT {fk}) AS BIGINT) FROM {child})
               AS n_distinct_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM {child} c
            WHERE c.{fk} IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM {parent} p
                              WHERE p.{pk} = c.{fk})) AS n_orphan_rows,
           (SELECT CAST(count(DISTINCT c.{fk}) AS BIGINT) FROM {child} c
            WHERE c.{fk} IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM {parent} p
                              WHERE p.{pk} = c.{fk})) AS n_orphan_keys"""


Q191_SQL = f"""
SELECT *,
       (n_orphan_rows = 0 AND n_null_keys = 0) AS ok
FROM (
{" UNION ALL ".join(_q191_rel_sql(*r) for r in _Q191_RELATIONS)}
)
ORDER BY relation
"""


# ---------------------------------------------------------------------------
# q187 — rolling-origin BACKTEST folds (ext): the time-series
# evaluation protocol (expanding-window cross-validation) every
# forecasting / ranking pipeline needs where random K-fold would leak
# the future into training — K folds, each training on ALL data before
# its origin and testing on the next span. Completes the evaluation-
# split family (q145 proves leak_edges=0 for the GRAPH split; this is
# the temporal twin): per fold the output carries `boundary_ok` —
# max(train ts) < min(test ts) PROVEN FROM THE DATA, not asserted from
# the config — plus the fold-health numbers an experiment readout
# needs: row/user counts per side and the cold-start user count (test
# users never seen in training — the rows a per-user model cannot
# score).
# Scale: the fold table is K literal rows broadcast over one event
# scan; everything aggregates per (fold, user) then per fold — two
# bounded groupBys, no window, no self-join.
# ---------------------------------------------------------------------------
_Q187_FOLDS = (("2024-01-15", 1), ("2024-01-20", 2), ("2024-01-25", 3))
_Q187_TEST_DAYS = 5


def q187_backtest_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    folds = spark.createDataFrame(
        [(f, s) for s, f in _Q187_FOLDS], "fold int, split string"
    ).select("fold", F.col("split").cast("timestamp").alias("split"))
    test_end = F.col("split") + F.expr(f"interval {_Q187_TEST_DAYS} days")
    labeled = (
        # no broadcast hint: folds is a K-row LocalRelation, which
        # Catalyst broadcasts on its own — a hint here would just trip
        # the corpus-broadcast-hint auditor for no plan change
        ev.crossJoin(folds)
        .withColumn(
            "side",
            F.when(F.col("ts") < F.col("split"), F.lit("train"))
            .when(
                (F.col("ts") >= F.col("split")) & (F.col("ts") < test_end),
                F.lit("test"),
            ),
        )
        .filter(F.col("side").isNotNull())
    )
    per_user = labeled.groupBy("fold", "user_id").agg(
        F.sum(F.when(F.col("side") == "train", 1).otherwise(0)).alias("n_tr"),
        F.sum(F.when(F.col("side") == "test", 1).otherwise(0)).alias("n_te"),
        F.max(F.when(F.col("side") == "train", F.col("ts"))).alias("mx_tr"),
        F.min(F.when(F.col("side") == "test", F.col("ts"))).alias("mn_te"),
    )
    return (
        per_user.groupBy("fold")
        .agg(
            F.sum("n_tr").cast("long").alias("train_rows"),
            F.sum("n_te").cast("long").alias("test_rows"),
            F.sum(F.when(F.col("n_tr") > 0, 1).otherwise(0))
            .cast("long")
            .alias("train_users"),
            F.sum(F.when(F.col("n_te") > 0, 1).otherwise(0))
            .cast("long")
            .alias("test_users"),
            F.sum(
                F.when((F.col("n_te") > 0) & (F.col("n_tr") == 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("cold_start_users"),
            (F.max("mx_tr") < F.min("mn_te")).alias("boundary_ok"),
        )
        .orderBy("fold")
    )


def _q187_folds_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT {f} AS fold, TIMESTAMP '{s}' AS split" for s, f in _Q187_FOLDS
    )


Q187_SQL = f"""
WITH folds AS ({_q187_folds_sql()}),
labeled AS (
    SELECT f.fold, e.user_id, e.ts,
           CASE WHEN e.ts < f.split THEN 'train'
                WHEN e.ts >= f.split
                     AND e.ts < f.split + INTERVAL {_Q187_TEST_DAYS} DAY
                THEN 'test' END AS side
    FROM events e CROSS JOIN folds f
    WHERE e.ts < f.split + INTERVAL {_Q187_TEST_DAYS} DAY
),
per_user AS (
    SELECT fold, user_id,
           sum(CASE WHEN side = 'train' THEN 1 ELSE 0 END) AS n_tr,
           sum(CASE WHEN side = 'test' THEN 1 ELSE 0 END) AS n_te,
           max(CASE WHEN side = 'train' THEN ts END) AS mx_tr,
           min(CASE WHEN side = 'test' THEN ts END) AS mn_te
    FROM labeled WHERE side IS NOT NULL
    GROUP BY 1, 2
)
SELECT fold,
       CAST(sum(n_tr) AS BIGINT) AS train_rows,
       CAST(sum(n_te) AS BIGINT) AS test_rows,
       CAST(sum(CASE WHEN n_tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS train_users,
       CAST(sum(CASE WHEN n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS test_users,
       CAST(sum(CASE WHEN n_te > 0 AND n_tr = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS cold_start_users,
       max(mx_tr) < min(mn_te) AS boundary_ok
FROM per_user
GROUP BY fold
ORDER BY fold
"""


# ---------------------------------------------------------------------------
# q185 — A/B experiment readout with CUPED variance reduction (ext):
# the experimentation operator (Deng et al., WSDM'13 — "Improving the
# Sensitivity of Online Controlled Experiments by Utilizing Pre-
# Experiment Data") a 100 TB event pipeline runs for every launch:
# users hash-split into control/treatment (deterministic md5 arm, the
# q55 sampling key under an independent salt), the experiment metric is
# each user's POST-period value sum, and the pre-period sum is the
# CUPED covariate: θ = cov(X,Y)/var(X) pooled, Y_adj = Y − θ·(X − X̄),
# which provably shrinks metric variance by the squared X-Y correlation
# while leaving the treatment-effect estimate unbiased (assignment is
# independent of X). Output: per arm, the raw and adjusted means and
# variances plus the pooled θ and the achieved variance-reduction
# percentage — the numbers a ship/no-ship decision reads.
# Determinism: per-user sums quantize to int64 at 1e4; every moment
# accumulates exactly (DECIMAL(38,0) / HUGEINT — q183's algebra);
# θ/means/variances then run in doubles on identical inputs, rounded.
# Scale: one user-rollup groupBy, one per-arm moment aggregate (3 rows),
# one broadcast 1-row pooled frame. Nothing wide after the rollup.
# ---------------------------------------------------------------------------
_Q185_SPLIT = "2024-01-16"
_Q185_SCALE = 10_000


def q185_cuped_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr

    ev = load(spark, sf_dir, "events")
    split = F.lit(_Q185_SPLIT).cast("timestamp")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.floor(
                F.sum(F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0))
                * _Q185_SCALE
                + F.lit(0.5)
            )
            .cast("long")
            .alias("y"),
            F.floor(
                F.sum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0))
                * _Q185_SCALE
                + F.lit(0.5)
            )
            .cast("long")
            .alias("x"),
        )
        .withColumn("arm", (sample_key_expr("user_id", salt="ab") % 2).cast("int"))
        .localCheckpoint(eager=False)  # feeds pooled AND per-arm moments
    )
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    pooled = per_user.agg(
        F.count("*").cast("long").alias("pn"),
        F.sum(dx).alias("psx"),
        F.sum(dy).alias("psy"),
        F.sum(dx * F.col("x")).alias("psxx"),
        F.sum(dx * F.col("y")).alias("psxy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dy * F.col("y")).alias("syy"),
        F.sum(dx * F.col("y")).alias("sxy"),
    )
    j = arms.crossJoin(F.broadcast(pooled))
    d = lambda c: F.col(c).cast("double")
    theta = (d("pn") * d("psxy") - d("psx") * d("psy")) / (
        d("pn") * d("psxx") - d("psx") * d("psx")
    )
    xbar_p = d("psx") / d("pn") / _Q185_SCALE
    n = d("n_users")
    mean_y = d("sy") / n / _Q185_SCALE
    mean_x = d("sx") / n / _Q185_SCALE
    var_y = (d("syy") / n - (d("sy") / n) * (d("sy") / n)) / (
        _Q185_SCALE * _Q185_SCALE
    )
    var_x = (d("sxx") / n - (d("sx") / n) * (d("sx") / n)) / (
        _Q185_SCALE * _Q185_SCALE
    )
    cov = (d("sxy") / n - (d("sx") / n) * (d("sy") / n)) / (
        _Q185_SCALE * _Q185_SCALE
    )
    var_adj = var_y - 2 * theta * cov + theta * theta * var_x
    return (
        j.select(
            "arm",
            "n_users",
            (F.round(theta, 6) + F.lit(0.0)).alias("theta"),
            F.round(mean_y, 4).alias("mean_y"),
            (F.round(mean_y - theta * (mean_x - xbar_p), 4) + F.lit(0.0)).alias("mean_y_adj"),
            (F.round(var_y, 4) + F.lit(0.0)).alias("var_y"),
            (F.round(var_adj, 4) + F.lit(0.0)).alias("var_y_adj"),
            (F.round((1 - var_adj / var_y) * 100, 2) + F.lit(0.0)).alias("var_reduction_pct"),
        )
        .orderBy("arm")
    )


_Q185_ARM = _hex2int_sql("md5('ab:' || CAST(user_id AS VARCHAR))", 1, 8)

Q185_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           CAST(floor(sum(CASE WHEN ts >= TIMESTAMP '{_Q185_SPLIT}'
                               THEN value ELSE 0.0 END) * {_Q185_SCALE} + 0.5)
                AS BIGINT) AS y,
           CAST(floor(sum(CASE WHEN ts < TIMESTAMP '{_Q185_SPLIT}'
                               THEN value ELSE 0.0 END) * {_Q185_SCALE} + 0.5)
                AS BIGINT) AS x,
           CAST(({_Q185_ARM}) % 2 AS INTEGER) AS arm
    FROM events GROUP BY user_id
),
pooled AS (
    SELECT CAST(count(*) AS BIGINT) AS pn,
           sum(CAST(x AS HUGEINT)) AS psx,
           sum(CAST(y AS HUGEINT)) AS psy,
           sum(CAST(x AS HUGEINT) * x) AS psxx,
           sum(CAST(x AS HUGEINT) * y) AS psxy
    FROM per_user
),
arms AS (
    SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
           sum(CAST(x AS HUGEINT)) AS sx,
           sum(CAST(y AS HUGEINT)) AS sy,
           sum(CAST(x AS HUGEINT) * x) AS sxx,
           sum(CAST(y AS HUGEINT) * y) AS syy,
           sum(CAST(x AS HUGEINT) * y) AS sxy
    FROM per_user GROUP BY arm
),
calc AS (
    SELECT a.arm, a.n_users,
           (CAST(p.pn AS DOUBLE) * CAST(p.psxy AS DOUBLE)
            - CAST(p.psx AS DOUBLE) * CAST(p.psy AS DOUBLE))
           / (CAST(p.pn AS DOUBLE) * CAST(p.psxx AS DOUBLE)
              - CAST(p.psx AS DOUBLE) * CAST(p.psx AS DOUBLE)) AS theta,
           CAST(p.psx AS DOUBLE) / CAST(p.pn AS DOUBLE) / {_Q185_SCALE}
               AS xbar_p,
           CAST(a.sy AS DOUBLE) / a.n_users / {_Q185_SCALE} AS mean_y,
           CAST(a.sx AS DOUBLE) / a.n_users / {_Q185_SCALE} AS mean_x,
           (CAST(a.syy AS DOUBLE) / a.n_users
            - (CAST(a.sy AS DOUBLE) / a.n_users)
              * (CAST(a.sy AS DOUBLE) / a.n_users))
           / ({_Q185_SCALE} * {_Q185_SCALE}) AS var_y,
           (CAST(a.sxx AS DOUBLE) / a.n_users
            - (CAST(a.sx AS DOUBLE) / a.n_users)
              * (CAST(a.sx AS DOUBLE) / a.n_users))
           / ({_Q185_SCALE} * {_Q185_SCALE}) AS var_x,
           (CAST(a.sxy AS DOUBLE) / a.n_users
            - (CAST(a.sx AS DOUBLE) / a.n_users)
              * (CAST(a.sy AS DOUBLE) / a.n_users))
           / ({_Q185_SCALE} * {_Q185_SCALE}) AS cov
    FROM arms a CROSS JOIN pooled p
)
SELECT arm, n_users,
       round(theta, 6) + 0.0 AS theta,
       round(mean_y, 4) AS mean_y,
       round(mean_y - theta * (mean_x - xbar_p), 4) + 0.0 AS mean_y_adj,
       round(var_y, 4) + 0.0 AS var_y,
       round(var_y - 2 * theta * cov + theta * theta * var_x, 4)
           + 0.0 AS var_y_adj,
       round((1 - (var_y - 2 * theta * cov + theta * theta * var_x)
                  / var_y) * 100, 2) + 0.0 AS var_reduction_pct
FROM calc
ORDER BY arm
"""


# ---------------------------------------------------------------------------
# q183 — PAIRWISE correlation matrix + OLS slopes in ONE pass (ext):
# the multivariate step of data profiling (q72 is univariate) — Pearson
# r and the regression slope for every pair of lineitem's numeric
# measures, from a single scan accumulating 15 sufficient statistics
# (n, Σx, Σx², Σxy per pair). Cross-engine float determinism is solved
# the q82/q107 way: values are quantized to int64 at 1e6, every moment
# accumulates EXACTLY (DECIMAL(38,0) on Spark, HUGEINT in DuckDB —
# order-independent by exactness), and the r/slope formulas then run in
# doubles on identical inputs (IEEE mul/sub/div/sqrt are correctly
# rounded, so both engines produce the same double), then EMITTED as
# BIGINT ppm via the house floor(x*1e6 + 0.5) idiom — never round():
# round(-7.6e-11, 6) is -0.0 in DuckDB but +0.0 in Spark (BigDecimal
# has no signed zero), which is numerically equal yet hash-different
# (the confirmed r9 driver red). floor of the shifted argument cannot
# produce -0.0, and an integer column is immune to any engine's float
# formatting. Quantization cancels in r (scale-invariant) and in slope
# (numerator and denominator both carry the 1e12 factor).
# Scale: ONE corpus scan, one 1-row aggregate, 6 output rows computed
# driver-free from that row — the cheapest possible multivariate
# profile; no per-pair rescans, no shuffle beyond the partial-agg tree.
# ---------------------------------------------------------------------------
_Q183_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_Q183_SCALE = 1_000_000


def q183_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    q = {
        c: F.floor(F.col(c) * _Q183_SCALE + F.lit(0.5)).cast("long").alias(f"q_{c}")
        for c in _Q183_COLS
    }
    vals = li.select(*q.values())
    dec = lambda c: F.col(f"q_{c}").cast("decimal(38,0)")
    aggs = [F.count("*").cast("long").alias("n")]
    for c in _Q183_COLS:
        aggs.append(F.sum(dec(c)).alias(f"s_{c}"))
        aggs.append(F.sum(dec(c) * F.col(f"q_{c}")).alias(f"ss_{c}"))
    pairs = [
        (a, b)
        for i, a in enumerate(_Q183_COLS)
        for b in _Q183_COLS[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(F.sum(dec(a) * F.col(f"q_{b}")).alias(f"sp_{a}_{b}"))
    stats = vals.agg(*aggs)

    def pair_struct(a: str, b: str):
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        ssa, ssb = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        sab = F.col(f"sp_{a}_{b}").cast("double")
        cov_n = n * sab - sa * sb
        var_a = n * ssa - sa * sa
        var_b = n * ssb - sb * sb
        ppm = lambda x: F.floor(x * 1_000_000 + F.lit(0.5)).cast("long")
        return F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col("n").alias("n"),
            ppm(cov_n / F.sqrt(var_a * var_b)).alias("pearson_r_ppm"),
            ppm(cov_n / var_a).alias("slope_ppm"),
        )

    return (
        stats.select(
            F.explode(F.array(*[pair_struct(a, b) for a, b in pairs])).alias("p")
        )
        .select("p.*")
        .orderBy("col_a", "col_b")
    )


def _q183_sql() -> str:
    qcols = ",\n           ".join(
        f"CAST(floor({c} * {_Q183_SCALE} + 0.5) AS BIGINT) AS q_{c}"
        for c in _Q183_COLS
    )
    sums = []
    for c in _Q183_COLS:
        sums.append(f"sum(CAST(q_{c} AS HUGEINT)) AS s_{c}")
        sums.append(f"sum(CAST(q_{c} AS HUGEINT) * q_{c}) AS ss_{c}")
    pairs = [
        (a, b) for i, a in enumerate(_Q183_COLS) for b in _Q183_COLS[i + 1 :]
    ]
    for a, b in pairs:
        sums.append(f"sum(CAST(q_{a} AS HUGEINT) * q_{b}) AS sp_{a}_{b}")
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT '{a}' AS col_a, '{b}' AS col_b, n,
           CAST(floor((CAST(n AS DOUBLE) * sp_{a}_{b} - CAST(s_{a} AS DOUBLE) * s_{b})
                 / sqrt((CAST(n AS DOUBLE) * ss_{a} - CAST(s_{a} AS DOUBLE) * s_{a})
                        * (CAST(n AS DOUBLE) * ss_{b} - CAST(s_{b} AS DOUBLE) * s_{b}))
                 * 1000000 + 0.5) AS BIGINT) AS pearson_r_ppm,
           CAST(floor((CAST(n AS DOUBLE) * sp_{a}_{b} - CAST(s_{a} AS DOUBLE) * s_{b})
                 / (CAST(n AS DOUBLE) * ss_{a} - CAST(s_{a} AS DOUBLE) * s_{a})
                 * 1000000 + 0.5) AS BIGINT) AS slope_ppm
    FROM stats"""
        for a, b in pairs
    )
    return f"""
WITH vals AS (
    SELECT {qcols}
    FROM lineitem
),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           {", ".join(sums)}
    FROM vals
)
SELECT * FROM (
{rows}
)
ORDER BY col_a, col_b
"""


Q183_SQL = _q183_sql()


# ---------------------------------------------------------------------------
# q182 — SALTED two-phase aggregation, certified (ext): the manual
# skew-mitigation shape for hot keys (operators/skew.py — the
# aggregation counterpart of AQE's skew-join splitting, which cannot
# fix a skewed groupBy). events.event_type has 5 values over the whole
# stream: a zipfian nightmare shape where one reducer would take ~20%
# of a 100 TB shuffle. Salting splits each key into n_salts sub-keys
# for a partial aggregate (uniform shuffle #1), then merges ≤ n_salts
# partials per key (tiny shuffle #2). Correct ONLY for algebraic
# aggregates — and that algebra is exactly what this query certifies:
# the salted count and salted double-sum must equal the direct
# single-shuffle aggregation, key for key, with the equality flags IN
# the output. The salt values themselves are irrelevant to the result
# (sum of partials ≡ total for ANY row→salt assignment), which is why
# the oracle — plain GROUP BY, no salting visible — must still match:
# salting that leaks into results is a broken rewrite.
# ---------------------------------------------------------------------------
_Q182_SALTS = 16


def q182_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_count, salted_sum

    ev = load(spark, sf_dir, "events").select(
        "event_type", "value"
    ).localCheckpoint(eager=False)  # feeds salted AND direct paths
    s_cnt = salted_count(ev, ["event_type"], _Q182_SALTS).withColumnRenamed(
        "n", "n_salted"
    )
    s_sum = salted_sum(ev, ["event_type"], "value", _Q182_SALTS).select(
        "event_type", F.round("total", 2).alias("sum_salted")
    )
    direct = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_direct"),
        F.round(F.sum("value"), 2).alias("sum_direct"),
    )
    return (
        s_cnt.join(s_sum, "event_type")
        .join(direct, "event_type")
        .select(
            "event_type",
            F.col("n_salted").cast("long").alias("n_salted"),
            "n_direct",
            (F.col("n_salted") == F.col("n_direct")).alias("count_equal"),
            "sum_salted",
            "sum_direct",
            (F.col("sum_salted") == F.col("sum_direct")).alias("sum_equal"),
        )
        .orderBy("event_type")
    )


Q182_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_salted,
       CAST(count(*) AS BIGINT) AS n_direct,
       TRUE AS count_equal,
       round(sum(value), 2) AS sum_salted,
       round(sum(value), 2) AS sum_direct,
       TRUE AS sum_equal
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q177 — cross-source QUANTILE NORMALIZATION (ext): calibrate
# heterogeneous per-source score distributions onto the pooled corpus
# distribution (the microarray-style quantile-normalization map, and
# the score-calibration step a mixed-source quality gate needs before
# one global threshold is meaningful — a "0.8" from source A must mean
# the same thing as a "0.8" from source B). Each source value at
# source-relative rank r/n is replaced by the GLOBAL quantile at the
# same relative rank; the map is certified at the percentile grid
# {25,50,75,90,99}: per (source, pct) emit the source's EXACT
# percentile value (per-source histogram + cumulative window — the
# q164 selection) next to its normalized value (global rank
# ceil(N·r_s/n), read from the MERGEABLE equi-width grid digest with
# q138's integer rank + within-bucket interpolation) and the shift
# between them.
# Scale: no global sort anywhere — per-source ranks are windows
# partitioned by source; the global distribution is the O(domain/W)
# digest (mergeable across shards, broadcastable); lookups join the
# tiny cum table at 100 grid points. Integer rank algebra end-to-end;
# the only float is the final 4dp interpolation, identical both
# engines.
# ---------------------------------------------------------------------------
_Q177_W = 16
_Q177_PCTS = (25, 50, 75, 90, 99)


def q177_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import grid_digest

    docs = load(spark, sf_dir, "documents")
    vals = docs.select(
        "source", F.col("n_chars").cast("long").alias("v")
    ).localCheckpoint(eager=False)  # feeds digest, per-source hist, counts
    dig = grid_digest(vals, "v", _Q177_W)
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = dig.withColumn("cum", F.sum("cnt").over(wcum)).localCheckpoint(
        eager=False
    )  # <= domain/W rows; joined twice
    n_glob = vals.agg(F.count("*").cast("long").alias("n_tot"))
    tgt = (
        vals.groupBy("source")
        .agg(F.count("*").cast("long").alias("n"))
        .crossJoin(F.broadcast(n_glob))
        .select(
            "source",
            "n",
            "n_tot",
            F.explode(F.array(*[F.lit(p) for p in _Q177_PCTS])).alias("pct"),
        )
        .withColumn("r_s", F.expr("(n * pct + 99) div 100"))
        .withColumn("r_g", F.expr("(n_tot * r_s + n - 1) div n"))
    )
    sel = (
        tgt.join(F.broadcast(cum), F.col("cum") >= F.col("r_g"))
        .groupBy("source", "pct", "n", "r_s", "r_g")
        .agg(F.min("bucket").alias("bucket"))
        .join(F.broadcast(cum), "bucket")
    )
    norm = sel.withColumn(
        "normalized_value",
        F.round(
            F.lit(float(_Q177_W))
            * (
                F.col("bucket")
                + (F.col("r_g") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
            ),
            4,
        ),
    )
    hist = vals.groupBy("source", "v").agg(F.count("*").alias("c1"))
    whist = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hcum = hist.withColumn("cum1", F.sum("c1").over(whist))
    src_val = (
        tgt.join(hcum, "source")
        .filter(F.col("cum1") >= F.col("r_s"))
        .groupBy("source", "pct")
        .agg(F.min("v").cast("long").alias("source_value"))
    )
    return (
        norm.join(src_val, ["source", "pct"])
        .select(
            "source",
            F.col("pct").cast("int").alias("pct"),
            "n",
            "source_value",
            "normalized_value",
            F.round(
                F.col("normalized_value") - F.col("source_value"), 4
            ).alias("shift"),
        )
        .orderBy("source", "pct")
    )


Q177_SQL = f"""
WITH vals AS (
    SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
),
grid AS (
    SELECT v // {_Q177_W} AS bucket, count(*) AS cnt FROM vals GROUP BY 1
),
cum AS (
    SELECT bucket, cnt, sum(cnt) OVER (ORDER BY bucket) AS cum FROM grid
),
nglob AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM vals),
tgt AS (
    SELECT source, n, n_tot, pct,
           (n * pct + 99) // 100 AS r_s,
           (n_tot * ((n * pct + 99) // 100) + n - 1) // n AS r_g
    FROM (SELECT source, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY source) s
    CROSS JOIN nglob
    CROSS JOIN unnest([{", ".join(str(p) for p in _Q177_PCTS)}]) AS t(pct)
),
sel AS (
    SELECT t.source, t.pct, t.n, t.r_s, t.r_g, min(c.bucket) AS bucket
    FROM tgt t JOIN cum c ON c.cum >= t.r_g
    GROUP BY 1, 2, 3, 4, 5
),
norm AS (
    SELECT s.*,
           round(CAST({_Q177_W} AS DOUBLE)
                 * (s.bucket + (s.r_g - (c.cum - c.cnt))
                    / CAST(c.cnt AS DOUBLE)), 4) AS normalized_value
    FROM sel s JOIN cum c ON c.bucket = s.bucket
),
hist AS (SELECT source, v, count(*) AS c1 FROM vals GROUP BY 1, 2),
hcum AS (
    SELECT source, v, sum(c1) OVER (PARTITION BY source ORDER BY v) AS cum1
    FROM hist
),
srcval AS (
    SELECT t.source, t.pct, CAST(min(h.v) AS BIGINT) AS source_value
    FROM tgt t JOIN hcum h ON h.source = t.source AND h.cum1 >= t.r_s
    GROUP BY 1, 2
)
SELECT n.source,
       CAST(n.pct AS INTEGER) AS pct,
       n.n,
       s.source_value,
       n.normalized_value,
       round(n.normalized_value - s.source_value, 4) AS shift
FROM norm n JOIN srcval s ON s.source = n.source AND s.pct = n.pct
ORDER BY n.source, n.pct
"""


# ---------------------------------------------------------------------------
# q196 — binned two-sample Kolmogorov–Smirnov drift statistic (ext):
# for every event_type, the max vertical gap between its value ECDF and
# the ECDF of ALL OTHER types, evaluated on a fixed-width bucket grid
# (the same mergeable-bin shape as the grid digests, q138) — the
# distribution-shift test a refresh pipeline runs before accepting a new
# drop, complementing PSI (q73) with a sup-norm statistic. Everything up
# to the final ratio is exact integer arithmetic: the KS numerator
# |cum_t·n_rest − cum_rest·n_t| is maximized as an integer, with the
# tying bucket resolved to the SMALLEST via a packed (gap, ~bucket) key,
# so both engines pick the identical argmax. Floats appear only in the
# one final division, rounded at 6dp.
# Scale: ONE corpus-wide groupBy to (type, bucket) cells; every
# downstream frame is |types|×|buckets| (bounded by value-range/width,
# not by corpus size); the cumulative window is partitioned by type over
# that bounded grid — no unpartitioned corpus window, no second scan.
# ---------------------------------------------------------------------------
_Q196_W = 5.0       # bucket width over events.value
_Q196_B = 1 << 20   # bucket-id packing radix for the deterministic argmax


def q196_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.col("event_type").alias("t"),
            F.floor(F.col("value") / F.lit(_Q196_W)).cast("long").alias("bucket"),
        )
        .groupBy("t", "bucket")
        .agg(F.count("*").alias("c"))
    )
    return _ks_from_cells(cells)


def _ks_from_cells(cells: DataFrame) -> DataFrame:
    """KS sup-gap readout over a (t, bucket, c) cell table — shared by the
    batch build (q196) and the streaming-state drain (q209), so
    incremental ≡ batch is an identity of the cell table, not of two
    KS implementations."""
    cells = cells.localCheckpoint(eager=False)  # feeds dense grid, totals
    dense = (
        cells.select("t").distinct()
        .crossJoin(cells.select("bucket").distinct())
        .join(cells, ["t", "bucket"], "left")
        .fillna(0, subset=["c"])
    )
    w = (
        Window.partitionBy("t")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dense.withColumn("cum_t", F.sum("c").over(w))
    cum_all = cum.groupBy("bucket").agg(F.sum("cum_t").alias("cum_all"))
    n_t = cells.groupBy("t").agg(F.sum("c").alias("n_type"))
    gaps = (
        cum.join(cum_all, "bucket")
        .join(n_t, "t")
        .crossJoin(
            F.broadcast(cells.agg(F.sum("c").alias("n_all")))
        )
        .select(
            "t",
            "n_type",
            (F.col("n_all") - F.col("n_type")).alias("n_rest"),
            (
                F.abs(
                    F.col("cum_t") * (F.col("n_all") - F.col("n_type"))
                    - (F.col("cum_all") - F.col("cum_t")) * F.col("n_type")
                )
                * F.lit(_Q196_B)
                + (F.lit(_Q196_B - 1) - F.col("bucket"))
            ).alias("key"),
        )
    )
    best = gaps.groupBy("t", "n_type", "n_rest").agg(F.max("key").alias("key"))
    return best.select(
        F.col("t").alias("event_type"),
        F.col("n_type").cast("long").alias("n_type"),
        F.col("n_rest").cast("long").alias("n_rest"),
        F.round(
            (F.col("key") / F.lit(_Q196_B)).cast("long").cast("double")
            / (F.col("n_type") * F.col("n_rest")).cast("double"),
            6,
        ).alias("ks_stat"),
        (F.lit(_Q196_B - 1) - F.pmod("key", F.lit(_Q196_B)))
        .cast("long")
        .alias("at_bucket"),
    ).orderBy("event_type")


Q196_SQL = f"""
WITH cells AS (
    SELECT event_type AS t,
           CAST(floor(value / {_Q196_W}) AS BIGINT) AS bucket,
           count(*) AS c
    FROM events GROUP BY 1, 2
),
dense AS (
    SELECT ty.t, bk.bucket, coalesce(c.c, 0) AS c
    FROM (SELECT DISTINCT t FROM cells) ty
    CROSS JOIN (SELECT DISTINCT bucket FROM cells) bk
    LEFT JOIN cells c ON c.t = ty.t AND c.bucket = bk.bucket
),
cum AS (
    SELECT t, bucket, c,
           sum(c) OVER (PARTITION BY t ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cum_t
    FROM dense
),
cum_all AS (
    SELECT bucket, sum(cum_t) AS cum_all FROM cum GROUP BY 1
),
n_t AS (SELECT t, sum(c) AS n_type FROM cells GROUP BY 1),
n_all AS (SELECT sum(c) AS n_all FROM cells),
gaps AS (
    SELECT cum.t, n_t.n_type, n_all.n_all - n_t.n_type AS n_rest,
           abs(cum.cum_t * (n_all.n_all - n_t.n_type)
               - (ca.cum_all - cum.cum_t) * n_t.n_type) * {_Q196_B}
           + ({_Q196_B - 1} - cum.bucket) AS key
    FROM cum
    JOIN cum_all ca ON ca.bucket = cum.bucket
    JOIN n_t ON n_t.t = cum.t
    CROSS JOIN n_all
),
best AS (
    SELECT t, n_type, n_rest, max(key) AS key
    FROM gaps GROUP BY 1, 2, 3
)
SELECT t AS event_type,
       CAST(n_type AS BIGINT) AS n_type,
       CAST(n_rest AS BIGINT) AS n_rest,
       round(CAST(key // {_Q196_B} AS DOUBLE)
             / (CAST(n_type AS DOUBLE) * n_rest), 6) AS ks_stat,
       CAST({_Q196_B - 1} - key % {_Q196_B} AS BIGINT) AS at_bucket
FROM best
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q232 — retention odds ratios (ext): the insight-mining readout a
# growth team actually ships — for each event_type, the odds that a
# week-1-active user who DID the behavior is still active in week 4 vs
# one who didn't (the 2×2 odds ratio with Haldane–Anscombe +½
# correction, computed as the exact integer cross product
# (2a+1)(2d+1) / ((2b+1)(2c+1)) so the correction never touches a
# float accumulator). Windows anchor to the DATA's first day; the
# cohort is week-1-active users. Complements q201 (is the change
# real?) and q185 (what's the adjusted effect?) with WHO-retains.
# Scale: two bounded per-user rollups (week-1 flags, week-4 presence)
# joined on the natural user key; output is |event_type| rows.
# ---------------------------------------------------------------------------
_Q232_W1_DAYS = 7
_Q232_W4_LO, _Q232_W4_HI = 21, 28  # [lo, hi) days from anchor


def q232_retention_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    based = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "event_type",
        F.datediff(F.date_trunc("day", "ts"), F.col("d0")).alias("age_d"),
    ).localCheckpoint(eager=False)  # feeds cohort flags + retention
    w1 = based.filter(F.col("age_d") < _Q232_W1_DAYS)
    cohort = w1.select("user_id").distinct()
    retained = (
        based.filter(
            (F.col("age_d") >= _Q232_W4_LO) & (F.col("age_d") < _Q232_W4_HI)
        )
        .select("user_id")
        .distinct()
        .withColumn("ret", F.lit(1))
    )
    flags = (
        cohort.join(retained, "user_id", "left")
        .fillna(0, subset=["ret"])
        .localCheckpoint(eager=False)  # joined per event_type below
    )
    did = w1.select("user_id", F.col("event_type").alias("t")).distinct()
    types = based.select(F.col("event_type").alias("t")).distinct()
    cells = (
        types.crossJoin(flags)
        .join(did.withColumn("d", F.lit(1)), ["t", "user_id"], "left")
        .fillna(0, subset=["d"])
        .groupBy("t")
        .agg(
            F.sum(F.expr("IF(d = 1 AND ret = 1, 1, 0)")).alias("a"),
            F.sum(F.expr("IF(d = 1 AND ret = 0, 1, 0)")).alias("b"),
            F.sum(F.expr("IF(d = 0 AND ret = 1, 1, 0)")).alias("c"),
            F.sum(F.expr("IF(d = 0 AND ret = 0, 1, 0)")).alias("dd"),
        )
    )
    r4 = lambda col: F.floor(col * 10000 + F.lit(0.5)) / F.lit(10000.0)
    r6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    orr = (
        ((2 * F.col("a") + 1) * (2 * F.col("dd") + 1)).cast("double")
        / ((2 * F.col("b") + 1) * (2 * F.col("c") + 1)).cast("double")
    )
    return cells.select(
        F.col("t").alias("event_type"),
        (F.col("a") + F.col("b")).cast("long").alias("n_did"),
        (F.col("c") + F.col("dd")).cast("long").alias("n_not"),
        r6(
            F.col("a").cast("double")
            / F.greatest(F.col("a") + F.col("b"), F.lit(1))
        ).alias("ret_rate_did"),
        r6(
            F.col("c").cast("double")
            / F.greatest(F.col("c") + F.col("dd"), F.lit(1))
        ).alias("ret_rate_not"),
        r4(orr).alias("odds_ratio"),
        (orr > 1.0).cast("int").alias("positive_signal"),
    ).orderBy("event_type")


Q232_SQL = f"""
WITH anchor AS (SELECT date_trunc('day', min(ts)) AS d0 FROM events),
based AS (
    SELECT e.user_id, e.event_type,
           date_diff('day', a.d0, date_trunc('day', e.ts)) AS age_d
    FROM events e CROSS JOIN anchor a
),
cohort AS (SELECT DISTINCT user_id FROM based WHERE age_d < {_Q232_W1_DAYS}),
retained AS (
    SELECT DISTINCT user_id, 1 AS ret FROM based
    WHERE age_d >= {_Q232_W4_LO} AND age_d < {_Q232_W4_HI}
),
flags AS (
    SELECT c.user_id, coalesce(r.ret, 0) AS ret
    FROM cohort c LEFT JOIN retained r USING (user_id)
),
did AS (
    SELECT DISTINCT user_id, event_type AS t FROM based
    WHERE age_d < {_Q232_W1_DAYS}
),
types AS (SELECT DISTINCT event_type AS t FROM based),
cells AS (
    SELECT ty.t,
           sum(CASE WHEN d.user_id IS NOT NULL AND f.ret = 1 THEN 1 ELSE 0 END) AS a,
           sum(CASE WHEN d.user_id IS NOT NULL AND f.ret = 0 THEN 1 ELSE 0 END) AS b,
           sum(CASE WHEN d.user_id IS NULL AND f.ret = 1 THEN 1 ELSE 0 END) AS c,
           sum(CASE WHEN d.user_id IS NULL AND f.ret = 0 THEN 1 ELSE 0 END) AS dd
    FROM types ty
    CROSS JOIN flags f
    LEFT JOIN did d ON d.t = ty.t AND d.user_id = f.user_id
    GROUP BY ty.t
)
SELECT t AS event_type,
       CAST(a + b AS BIGINT) AS n_did,
       CAST(c + dd AS BIGINT) AS n_not,
       floor(CAST(a AS DOUBLE) / greatest(a + b, 1) * 1000000 + 0.5)
           / 1000000.0 AS ret_rate_did,
       floor(CAST(c AS DOUBLE) / greatest(c + dd, 1) * 1000000 + 0.5)
           / 1000000.0 AS ret_rate_not,
       floor(CAST((2 * a + 1) * (2 * dd + 1) AS DOUBLE)
             / ((2 * b + 1) * (2 * c + 1)) * 10000 + 0.5) / 10000.0
           AS odds_ratio,
       CAST(CASE WHEN CAST((2 * a + 1) * (2 * dd + 1) AS DOUBLE)
                      / ((2 * b + 1) * (2 * c + 1)) > 1.0
                 THEN 1 ELSE 0 END AS INTEGER) AS positive_signal
FROM cells
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q227 — l-diversity audit (ext): k-anonymity (q158) bounds RE-
# IDENTIFICATION; l-diversity bounds ATTRIBUTE disclosure — a class of
# k identical quasi-identifiers still leaks if everyone shares the
# sensitive value. Per (nation, segment) equivalence class over
# customers: class size, DISTINCT sensitive values (the $1000 balance
# band), the distinct-l-diversity flag at l=3, and the most-common-
# value share (the recursive-(c,l) diagnostic numerator) — with the
# table-level summary (classes below l, min diversity) replicated per
# row. All-integer; the one share is a floor-rounded division.
# Scale: one groupBy to (class, sensitive) cells, one to classes —
# both bounded by the quasi-identifier domain, never corpus-wide
# output.
# ---------------------------------------------------------------------------
_Q227_L = 3


def q227_ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    cells = (
        cust.select(
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("sens"),
        )
        .groupBy("nat", "seg", "sens")
        .agg(F.count("*").alias("n"))
    )
    classes = cells.groupBy("nat", "seg").agg(
        F.sum("n").cast("long").alias("class_size"),
        F.count("*").cast("long").alias("n_sensitive"),
        F.max("n").cast("long").alias("top_sens_n"),
    )
    summ = classes.agg(
        F.sum(F.when(F.col("n_sensitive") < _Q227_L, 1).otherwise(0))
        .cast("long")
        .alias("n_classes_below_l"),
        F.min("n_sensitive").cast("long").alias("min_diversity"),
    )
    return (
        classes.crossJoin(F.broadcast(summ))
        .select(
            F.col("nat").cast("long").alias("nat"),
            "seg",
            "class_size",
            "n_sensitive",
            (F.col("n_sensitive") >= _Q227_L).cast("int").alias("ldiv_ok"),
            (
                F.floor(
                    F.col("top_sens_n").cast("double") / F.col("class_size")
                    * 1000000
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("top_value_share"),
            "n_classes_below_l",
            "min_diversity",
        )
        .orderBy("nat", "seg")
    )


Q227_SQL = f"""
WITH cells AS (
    SELECT c_nationkey AS nat, c_mktsegment AS seg,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS sens,
           count(*) AS n
    FROM customer GROUP BY 1, 2, 3
),
classes AS (
    SELECT nat, seg,
           CAST(sum(n) AS BIGINT) AS class_size,
           CAST(count(*) AS BIGINT) AS n_sensitive,
           CAST(max(n) AS BIGINT) AS top_sens_n
    FROM cells GROUP BY 1, 2
),
summ AS (
    SELECT CAST(sum(CASE WHEN n_sensitive < {_Q227_L} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_classes_below_l,
           CAST(min(n_sensitive) AS BIGINT) AS min_diversity
    FROM classes
)
SELECT CAST(c.nat AS BIGINT) AS nat, c.seg, c.class_size, c.n_sensitive,
       CAST(CASE WHEN c.n_sensitive >= {_Q227_L} THEN 1 ELSE 0 END
            AS INTEGER) AS ldiv_ok,
       floor(CAST(c.top_sens_n AS DOUBLE) / c.class_size * 1000000 + 0.5)
           / 1000000.0 AS top_value_share,
       s.n_classes_below_l,
       s.min_diversity
FROM classes c CROSS JOIN summ s
ORDER BY nat, seg
"""


# ---------------------------------------------------------------------------
# q213 — Welch two-sample t readout (ext): the unequal-variance t-test
# an experimentation platform runs when arms differ in size/variance —
# complements q185 (CUPED adjustment) and q201 (nonparametric sign
# test + FDR). Arms are md5-hash-split on user_id (deterministic, the
# q185 discipline); sufficient statistics are the q183 quantized exact
# moments (n, Σq, Σq² per arm in DECIMAL(38,0)/HUGEINT, q = value·10⁶
# int64), so mean/variance/t/dof are IEEE functions of identical
# integers on both engines, floor-rounded at 4dp. The
# Welch–Satterthwaite dof ships alongside, plus a |t| > 1.96 flag (the
# readout, not a claim of row-level independence — documented).
# Scale: ONE corpus scan, one 2-row aggregate; everything after is
# driver-free arithmetic on that frame.
# ---------------------------------------------------------------------------
def q213_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr

    ev = load(spark, sf_dir, "events")
    q = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    arms = ev.select(
        F.pmod(sample_key_expr("user_id", salt="welch"), F.lit(2)).alias("arm"),
        q.alias("q"),
    ).groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("ss"),
    )
    a = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    j = a.crossJoin(F.broadcast(b))
    S = 1e6
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ma = F.col("sa").cast("double") / na / F.lit(S)
    mb = F.col("sb").cast("double") / nb / F.lit(S)
    va = (
        (na * F.col("ssa").cast("double")
         - F.col("sa").cast("double") * F.col("sa").cast("double"))
        / (na * (na - 1))
        / F.lit(S * S)
    )
    vb = (
        (nb * F.col("ssb").cast("double")
         - F.col("sb").cast("double") * F.col("sb").cast("double"))
        / (nb * (nb - 1))
        / F.lit(S * S)
    )
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    return j.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        r4(ma).alias("mean_a"),
        r4(mb).alias("mean_b"),
        r4(va).alias("var_a"),
        r4(vb).alias("var_b"),
        r4(t).alias("t_stat"),
        r4(dof).alias("dof"),
        (F.abs(t) > 1.96).cast("int").alias("significant_95"),
    )


_Q213_KEY = _hex2int_sql("md5('welch:' || CAST(user_id AS VARCHAR))", 1, 8)

Q213_SQL = f"""
WITH arms AS (
    SELECT ({_Q213_KEY}) % 2 AS arm,
           count(*) AS n,
           sum(CAST(CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS HUGEINT))
               AS s,
           sum(CAST(CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS HUGEINT)
               * CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS ss
    FROM events GROUP BY 1
),
j AS (
    SELECT a.n AS na, a.s AS sa, a.ss AS ssa,
           b.n AS nb, b.s AS sb, b.ss AS ssb
    FROM (SELECT * FROM arms WHERE arm = 0) a
    CROSS JOIN (SELECT * FROM arms WHERE arm = 1) b
),
c AS (
    SELECT na, nb,
           CAST(sa AS DOUBLE) / na / 1000000.0 AS ma,
           CAST(sb AS DOUBLE) / nb / 1000000.0 AS mb,
           (na * CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
               / (na * (na - 1.0)) / 1e12 AS va,
           (nb * CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
               / (nb * (nb - 1.0)) / 1e12 AS vb
    FROM j
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       floor(ma * 10000 + 0.5) / 10000.0 AS mean_a,
       floor(mb * 10000 + 0.5) / 10000.0 AS mean_b,
       floor(va * 10000 + 0.5) / 10000.0 AS var_a,
       floor(vb * 10000 + 0.5) / 10000.0 AS var_b,
       floor((ma - mb) / sqrt(va / na + vb / nb) * 10000 + 0.5) / 10000.0
           AS t_stat,
       floor((va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1.0)
                + (vb / nb) * (vb / nb) / (nb - 1.0)) * 10000 + 0.5)
           / 10000.0 AS dof,
       CAST(CASE WHEN abs((ma - mb) / sqrt(va / na + vb / nb)) > 1.96
                 THEN 1 ELSE 0 END AS INTEGER) AS significant_95
FROM c
"""


# ---------------------------------------------------------------------------
# q204 — split conformal prediction intervals with coverage audit (ext):
# the distribution-free uncertainty wrapper (Vovk; Lei et al. 2018) a
# model-scoring pipeline puts around ANY point predictor — train a
# through-origin regression (predict n_chars from n_words) on fold 0,
# take the k = ⌈(n_cal+1)(1−α)⌉-th smallest absolute residual on
# calibration fold 1 as q̂, and audit empirical coverage of ŷ ± q̂ on
# held-out fold 2 (≈ 1−α by the exchangeability guarantee).
# Exactness: x and y are integers, so the slope is the exact rational
# sxy/sxx and every residual is compared in sxx-SCALED integer units
# (|y·sxx − sxy·x|, DECIMAL(38,0)/HUGEINT) — q̂ is a VALUE picked from
# the data, no float arithmetic until the display divisions.
# Scale: q̂ is found by TWO-level distributed selection (the q130
# histogram recursion made real): 64 equi-width bins, cum over 64 rows
# locates the bucket; 64 sub-bins refine to n/4096; only that slice is
# rank-windowed (unpartitioned, pinned — expected n_cal/4096 rows).
# The corpus is scanned once per fold role; no global sort anywhere.
# ---------------------------------------------------------------------------
_Q204_ALPHA_NUM, _Q204_ALPHA_DEN = 1, 10  # α = 0.1 → target coverage 0.9
_Q204_B = 64


def q204_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        F.pmod(sample_key_expr("doc_id", salt="conf"), F.lit(3)).alias("fold"),
        F.size(F.split("text", " ")).cast("long").alias("x"),
        F.col("n_chars").cast("long").alias("y"),
    ).localCheckpoint(eager=False)  # feeds train moments + cal + test scans
    mom = base.filter(F.col("fold") == 0).agg(
        F.count("*").alias("n_train"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    score = F.abs(
        F.col("y").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sxy") * F.col("x")
    )
    cal = (
        base.filter(F.col("fold") == 1)
        .crossJoin(F.broadcast(mom))
        .select(score.alias("s"), "sxx", "sxy", "n_train")
        .localCheckpoint(eager=False)  # histogram passes rescan this
    )
    st = cal.agg(
        F.count("*").alias("n_cal"),
        F.min("s").alias("mn"),
        F.max("s").alias("mx"),
        F.max("sxx").alias("sxx"),
        F.max("sxy").alias("sxy"),
        F.max("n_train").alias("n_train"),
    ).withColumn(
        "k",
        F.expr(
            f"(({_Q204_ALPHA_DEN - _Q204_ALPHA_NUM} * (n_cal + 1))"
            f" + {_Q204_ALPHA_DEN - 1}) div {_Q204_ALPHA_DEN}"
        ),
    )

    def refine(rows, kframe):
        """One 64-bin selection level (the q130 histogram pass, groupless):
        bin `rows.s` equi-width on its own [mn, mx], locate the bucket
        holding the k-th smallest (k from the 1-row `kframe`), and
        return (that bucket's rows, a 1-row frame with the remaining
        offset k2). Exactness: the slice IS the set binned to the target
        bucket id — no reconstructed value bounds, so no edge leakage."""
        stats = rows.agg(
            F.min("s").alias("mn"), F.max("s").alias("mx")
        )
        step = (F.col("mx") - F.col("mn")).cast("double") / F.lit(
            float(_Q204_B)
        )
        binned = (
            rows.crossJoin(F.broadcast(stats))
            .withColumn(
                "b",
                F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
                    F.least(
                        F.lit(_Q204_B - 1),
                        F.floor(
                            (F.col("s") - F.col("mn")).cast("double") / step
                        ).cast("int"),
                    )
                ),
            )
            .select("s", "b")
            .localCheckpoint(eager=False)  # feeds histogram + slice
        )
        hist = binned.groupBy("b").agg(F.count("*").alias("c"))
        wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
        cum = hist.withColumn(
            "before", F.coalesce(F.sum("c").over(wc), F.lit(0))
        )
        tgt = (
            cum.crossJoin(F.broadcast(kframe))
            .filter(
                (F.col("before") < F.col("kk"))
                & (F.col("before") + F.col("c") >= F.col("kk"))
            )
            .select(
                F.col("b").alias("tb"),
                (F.col("kk") - F.col("before")).alias("kk"),
            )
        )
        slice_ = (
            binned.crossJoin(F.broadcast(tgt))
            .filter(F.col("b") == F.col("tb"))
            .select("s")
        )
        return slice_, tgt.select("kk")

    k0 = st.select(F.col("k").alias("kk"))
    s1, k1 = refine(cal.select("s"), k0)
    s2, k2 = refine(s1, k1)
    wv = Window.orderBy("s")  # expected n_cal/4096 rows — pinned
    qhat = (
        s2.crossJoin(F.broadcast(k2))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == F.col("kk"))
        .select(F.col("s").alias("qhat_scaled"))
        # exactly one row matches rn == kk; the limit is a no-op that
        # makes the 1-row bound STRUCTURAL, so the broadcast below is
        # provably safe to the plan-audit walker (not reviewer fiat)
        .limit(1)
    )
    test = (
        base.filter(F.col("fold") == 2)
        .crossJoin(F.broadcast(mom))
        .select(score.alias("s"))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count("*").alias("n_test"),
            F.sum(F.when(F.col("s") <= F.col("qhat_scaled"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
            F.max("qhat_scaled").alias("qhat_scaled"),
        )
    )
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    return (
        test.crossJoin(F.broadcast(st))
        .select(
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("n_test").cast("long").alias("n_test"),
            F.col("k").cast("long").alias("k_rank"),
            r6(F.col("sxy").cast("double") / F.col("sxx").cast("double")).alias(
                "slope"
            ),
            (
                F.floor(
                    F.col("qhat_scaled").cast("double")
                    / F.col("sxx").cast("double")
                    * 10000
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("qhat_y"),
            "n_covered",
            r6(F.col("n_covered").cast("double") / F.col("n_test")).alias(
                "coverage"
            ),
        )
    )


Q204_SQL = f"""
WITH base AS (
    SELECT ({_hex2int_sql("md5('conf:' || CAST(doc_id AS VARCHAR))", 1, 8)}) % 3
               AS fold,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS x,
           CAST(n_chars AS BIGINT) AS y
    FROM documents
),
mom AS (
    SELECT count(*) AS n_train,
           sum(CAST(x AS HUGEINT) * x) AS sxx,
           sum(CAST(x AS HUGEINT) * y) AS sxy
    FROM base WHERE fold = 0
),
cal AS (
    SELECT abs(CAST(y AS HUGEINT) * m.sxx - m.sxy * x) AS s
    FROM base, mom m WHERE fold = 1
),
st AS (
    SELECT count(*) AS n_cal,
           (({_Q204_ALPHA_DEN - _Q204_ALPHA_NUM} * (count(*) + 1))
            + {_Q204_ALPHA_DEN - 1}) // {_Q204_ALPHA_DEN} AS k
    FROM cal
),
qhat AS (
    SELECT s AS qhat_scaled FROM (
        SELECT s, row_number() OVER (ORDER BY s) AS rn FROM cal
    ) t JOIN st ON t.rn = st.k
),
test AS (
    SELECT count(*) AS n_test,
           sum(CASE WHEN abs(CAST(y AS HUGEINT) * m.sxx - m.sxy * x)
                         <= q.qhat_scaled THEN 1 ELSE 0 END) AS n_covered
    FROM base, mom m, qhat q WHERE fold = 2
)
SELECT CAST(m.n_train AS BIGINT) AS n_train,
       CAST(st.n_cal AS BIGINT) AS n_cal,
       CAST(t.n_test AS BIGINT) AS n_test,
       CAST(st.k AS BIGINT) AS k_rank,
       floor(CAST(m.sxy AS DOUBLE) / CAST(m.sxx AS DOUBLE) * 1000000 + 0.5)
           / 1000000.0 AS slope,
       floor(CAST(q.qhat_scaled AS DOUBLE) / CAST(m.sxx AS DOUBLE) * 10000
             + 0.5) / 10000.0 AS qhat_y,
       CAST(t.n_covered AS BIGINT) AS n_covered,
       floor(CAST(t.n_covered AS DOUBLE) / t.n_test * 1000000 + 0.5)
           / 1000000.0 AS coverage
FROM mom m, st, qhat q, test t
"""


# ---------------------------------------------------------------------------
# q202 — join-key skew profiler (ext): the pre-join diagnostic a 100 TB
# planner runs before shuffling on a key — per-key multiplicities rolled
# into a log2 frequency-of-frequencies histogram (≤ 64 rows by
# construction, however hot the keys), with the table-level skew
# readouts every row replicates: total/distinct counts, the hottest key
# and its share, and the SALT FACTOR a skew-mitigating repartition
# would need (ceil(c_max·P / n_total) for P=32 target partitions — the
# q182 salting operator's input, derived instead of guessed).
# All-integer: log2 via length(bin(c))-1 (no float log), the argmax key
# ties to the smallest id, share is one floor-rounded division, salt is
# exact ceiling division.
# Scale: ONE corpus groupBy to per-key counts, ONE bounded re-aggregate
# to ≤ 64 log2 cells + two groupless (1-row, broadcast-safe) rollups —
# the profile never materializes corpus-scale output.
# ---------------------------------------------------------------------------
_Q202_P = 32  # target partition count the salt recommendation assumes


def q202_skew_profiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per_key = (
        ev.groupBy(F.col("user_id").alias("k"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # feeds histogram + both rollups
    )
    hist = (
        per_key.withColumn("bucket", F.expr("length(bin(c)) - 1").cast("long"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("c").cast("long").alias("n_rows"),
        )
    )
    tops = per_key.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max(
            F.struct(F.col("c").alias("c"), (-F.col("k")).alias("nk"))
        ).alias("b"),
    ).select(
        "n_total",
        "n_distinct",
        F.col("b.c").alias("c_max"),
        (-F.col("b.nk")).cast("long").alias("top_key"),
    )
    return (
        hist.crossJoin(F.broadcast(tops))
        .select(
            "bucket",
            "n_keys",
            "n_rows",
            "n_total",
            "n_distinct",
            "c_max",
            "top_key",
            (
                F.floor(
                    F.col("c_max").cast("double")
                    / F.col("n_total")
                    * 1000000
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("top1_share"),
            F.expr(
                f"(c_max * {_Q202_P} + n_total - 1) div n_total"
            ).alias("salt_factor"),
        )
        .orderBy("bucket")
    )


Q202_SQL = f"""
WITH per_key AS (
    SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1
),
hist AS (
    SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows
    FROM per_key GROUP BY 1
),
tops AS (
    SELECT CAST(sum(c) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_distinct,
           max(struct_pack(c := c, nk := -k)) AS b
    FROM per_key
)
SELECT h.bucket, h.n_keys, h.n_rows,
       t.n_total, t.n_distinct,
       CAST(t.b.c AS BIGINT) AS c_max,
       CAST(-t.b.nk AS BIGINT) AS top_key,
       floor(CAST(t.b.c AS DOUBLE) / t.n_total * 1000000 + 0.5) / 1000000.0
           AS top1_share,
       CAST((t.b.c * {_Q202_P} + t.n_total - 1) // t.n_total AS BIGINT)
           AS salt_factor
FROM hist h CROSS JOIN tops t
ORDER BY h.bucket
"""


# ---------------------------------------------------------------------------
# q201 — exact sign test + Benjamini–Hochberg FDR, all-integer (ext):
# the multiple-testing control an experimentation/monitoring platform
# needs when it screens MANY metrics at once — for every event_type,
# an exact one-sided binomial sign test on week-over-week daily-count
# increases (k increases out of n non-tied lag-7 pairs, p = P[Bin(n,½)
# ≥ k] = Σ C(n,i)/2ⁿ), then the BH step-up procedure across the m
# types at q = 1/20. NOTHING is floating point until the display
# columns: binomial coefficients build by exact stepwise products
# (every prefix product is itself a binomial, so each division is
# exact), p-values compare across different n via tails scaled to the
# common denominator 2^n_max (shiftleft), and the BH inequality
# p_(j) ≤ j·q/m is tested as tail·m·q_den ≤ j·q_num·2^n_max in int64.
# Bound: n ≤ 33 pairs per series keeps every term < 2^53-exact (30-day
# testdata gives n ≤ 23); longer windows would move tails to
# DECIMAL(38,0) — documented, not needed here.
# Scale: ONE corpus groupBy to daily grain; every later frame is
# |event_type| ≤ 5 rows (the lag window is partitioned by type over
# ≤ n_days rows). The BH rank is a crossJoin of that 5-row frame with
# itself — domain-bounded, no unpartitioned window, no corpus rescans.
# ---------------------------------------------------------------------------
_Q201_LAG = 7
_Q201_QNUM, _Q201_QDEN = 1, 20  # BH target FDR q = 0.05, exact rational


def q201_signtest_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("t"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("t").orderBy("day")
    paired = (
        daily.withColumn("base", F.lag("n", _Q201_LAG).over(w))
        .filter(F.col("base").isNotNull() & (F.col("n") != F.col("base")))
    )
    stats = paired.groupBy("t").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("n") > F.col("base"), 1).otherwise(0))
        .cast("long")
        .alias("k_pos"),
    )
    # exact upper binomial tail: fold j = 1..n keeping C(n,j) and the
    # running Σ_{i≥k} C(n,i); each division is exact by construction
    # (C(n,j-1)·(n-j+1) is divisible by j), and every term < 2^53 so the
    # double-division round-trip is exact
    tail = F.aggregate(
        F.sequence(F.lit(1), F.col("n_pairs")),
        F.struct(
            F.lit(1).cast("long").alias("c"),
            F.when(F.col("k_pos") <= 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("s"),
        ),
        lambda acc, j: F.struct(
            (acc["c"] * (F.col("n_pairs") - j + 1) / j).cast("long").alias("c"),
            (
                acc["s"]
                + F.when(
                    j >= F.col("k_pos"),
                    (acc["c"] * (F.col("n_pairs") - j + 1) / j).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("s"),
        ),
        lambda acc: acc["s"],
    )
    tested = stats.withColumn("tail", tail).localCheckpoint(
        eager=False
    )  # ≤ |event_type| rows; feeds rank self-join + totals
    tot = tested.agg(
        F.count("*").cast("long").alias("m"),
        F.max("n_pairs").cast("int").alias("n_max"),
    )
    scaled = tested.crossJoin(F.broadcast(tot)).withColumn(
        "p_scaled",
        F.expr("shiftleft(tail, n_max - CAST(n_pairs AS INT))"),
    )
    other = scaled.select(
        F.col("t").alias("t2"),
        F.col("p_scaled").alias("p2"),
    )
    ranked = (
        scaled.crossJoin(other)
        .groupBy("t", "n_pairs", "k_pos", "tail", "m", "n_max", "p_scaled")
        .agg(
            (
                F.sum(
                    F.when(
                        (F.col("p2") < F.col("p_scaled"))
                        | (
                            (F.col("p2") == F.col("p_scaled"))
                            & (F.col("t2") < F.col("t"))
                        ),
                        1,
                    ).otherwise(0)
                )
                + 1
            )
            .cast("long")
            .alias("rank")
        )
        .withColumn(
            "bh_ok",
            F.col("tail") * F.col("m") * F.lit(_Q201_QDEN)
            <= F.col("rank")
            * F.lit(_Q201_QNUM)
            * F.expr("shiftleft(1L, n_max)"),
        )
        .localCheckpoint(eager=False)  # feeds j* rollup + output
    )
    jstar = ranked.agg(
        F.max(F.when(F.col("bh_ok"), F.col("rank")).otherwise(0)).alias("j_star")
    )
    return (
        ranked.crossJoin(F.broadcast(jstar))
        .select(
            F.col("t").alias("event_type"),
            "n_pairs",
            "k_pos",
            F.col("tail").alias("p_num"),
            (
                F.col("tail").cast("double")
                / F.expr("shiftleft(1L, CAST(n_pairs AS INT))")
            ).alias("_p"),
            "rank",
            (F.col("rank") <= F.col("j_star")).cast("int").alias("reject"),
        )
        .select(
            "event_type",
            "n_pairs",
            "k_pos",
            "p_num",
            (F.floor(F.col("_p") * 1000000 + F.lit(0.5)) / F.lit(1000000.0)).alias(
                "p_value"
            ),
            "rank",
            "reject",
        )
        .orderBy("rank")
    )


Q201_SQL = f"""
WITH daily AS (
    SELECT event_type AS t, date_trunc('day', ts) AS day, count(*) AS n
    FROM events GROUP BY 1, 2
),
paired AS (
    SELECT t, n,
           lag(n, {_Q201_LAG}) OVER (PARTITION BY t ORDER BY day) AS base
    FROM daily
),
stats AS (
    SELECT t, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN n > base THEN 1 ELSE 0 END) AS BIGINT) AS k_pos
    FROM paired WHERE base IS NOT NULL AND n <> base
    GROUP BY t
),
tested AS (
    SELECT t, n_pairs, k_pos,
           CAST(list_sum(list_transform(generate_series(k_pos, n_pairs),
               i -> CAST(factorial(CAST(n_pairs AS INTEGER))
                    // (factorial(CAST(i AS INTEGER))
                        * factorial(CAST(n_pairs - i AS INTEGER))) AS BIGINT)))
               AS BIGINT) AS tail
    FROM stats
),
tot AS (SELECT count(*) AS m, CAST(max(n_pairs) AS INTEGER) AS n_max FROM tested),
scaled AS (
    SELECT te.*, tot.m, tot.n_max,
           te.tail << (tot.n_max - CAST(te.n_pairs AS INTEGER)) AS p_scaled
    FROM tested te CROSS JOIN tot
),
ranked AS (
    SELECT a.*,
           1 + (SELECT count(*) FROM scaled b
                WHERE b.p_scaled < a.p_scaled
                   OR (b.p_scaled = a.p_scaled AND b.t < a.t)) AS rank,
           a.tail * a.m * {_Q201_QDEN}
               <= (1 + (SELECT count(*) FROM scaled b
                        WHERE b.p_scaled < a.p_scaled
                           OR (b.p_scaled = a.p_scaled AND b.t < a.t)))
                  * {_Q201_QNUM} * (CAST(1 AS BIGINT) << a.n_max) AS bh_ok
    FROM scaled a
),
jstar AS (
    SELECT max(CASE WHEN bh_ok THEN rank ELSE 0 END) AS j_star FROM ranked
)
SELECT r.t AS event_type,
       r.n_pairs,
       r.k_pos,
       r.tail AS p_num,
       floor(CAST(r.tail AS DOUBLE)
             / (CAST(1 AS BIGINT) << CAST(r.n_pairs AS INTEGER))
             * 1000000 + 0.5) / 1000000.0 AS p_value,
       CAST(r.rank AS BIGINT) AS rank,
       CAST(CASE WHEN r.rank <= j.j_star THEN 1 ELSE 0 END AS INTEGER)
           AS reject
FROM ranked r CROSS JOIN jstar j
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# q209 — STREAMING KS drift via bounded keyed state (ST6 twin of q196):
# the (event_type, bucket) cell table is exactly the state a streaming
# drift monitor keeps — |types| × |value-domain/W| counters, bounded
# regardless of stream length (the HLL/KMV/grid bounded-state contract,
# applied to the drift family). A REAL availableNow Structured Streaming
# drain (complete-mode groupBy state, fresh checkpoint) builds the
# cells; the SAME _ks_from_cells readout as q196 then runs on the
# drained state, so parity against the batch oracle proves
# incremental ≡ batch as a cell-table identity.
# ---------------------------------------------------------------------------
def q209_stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming_plans import _drain_to_memory

    ev = load(spark, sf_dir, "events").select("event_type", "value")

    def cells_stream(st):
        return (
            st.select(
                F.col("event_type").alias("t"),
                F.floor(F.col("value") / F.lit(_Q196_W))
                .cast("long")
                .alias("bucket"),
            )
            .groupBy("t", "bucket")
            .agg(F.count("*").alias("c"))
        )

    # state = |event types| x |value domain / W| drift cells, bounded
    # regardless of stream length; 8 state partitions cover it (r10)
    cells = _drain_to_memory(ev, cells_stream, "q209_ks",
                             output_mode="complete", state_partitions=8)
    return _ks_from_cells(cells)


Q209_SQL = Q196_SQL  # the streaming state must reproduce the batch cells


# ---------------------------------------------------------------------------
# q197 — chi-squared independence audit + Cramér's V (ext): is order
# priority independent of the customer's market segment? The categorical
# association test a feature-engineering / experimentation platform runs
# over every (dimension, dimension) pair before trusting a segmentation.
# Output is the DENSE contingency table (empty cells included — they
# carry expected-count mass) with each cell's expected count and chi²
# contribution, plus the table-level chi² and Cramér's V replicated on
# every row. Cross-engine determinism is all-integer: each contribution
# is floor((o·n − r·c)²·10⁶ / (n·r·c)) in exact 128-bit arithmetic
# (DECIMAL(38,0) on Spark, HUGEINT in DuckDB), so the cell sum is an
# exact integer — no float accumulation order anywhere; the only doubles
# are final per-row divisions of identical integers, rounded at 4–6dp.
# Scale: two dimension-key groupBys (orders⋈customer is hint-free —
# customer grows with the corpus, so AQE chooses broadcast vs shuffle
# from observed sizes, the q153 lesson); the
# contingency frame is |segments|×|priorities| — constant-size, so the
# cross joins and window-free total rollups never touch corpus-scale
# rows again.
# ---------------------------------------------------------------------------
_Q197_SCALE = 1_000_000


def q197_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    obs = (
        # no broadcast hint: customer grows with the corpus — AQE picks
        # broadcast from observed sizes when the dim side is small
        orders.join(
            cust.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").alias("o"))
        .localCheckpoint(eager=False)  # feeds dense grid + 3 marginal rollups
    )
    dense = (
        obs.select("seg").distinct()
        .crossJoin(obs.select("prio").distinct())
        .join(obs, ["seg", "prio"], "left")
        .fillna(0, subset=["o"])
    )
    rt = obs.groupBy("seg").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("prio").agg(F.sum("o").alias("c"))
    tot = obs.agg(
        F.sum("o").alias("n"),
        F.count_distinct("seg").alias("n_segs"),
        F.count_distinct("prio").alias("n_prios"),
    )
    cells = (
        dense.join(rt, "seg")
        .join(ct, "prio")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "contrib_scaled",
            F.expr(
                f"CAST((CAST(o * n - r * c AS DECIMAL(38,0))"
                f" * CAST(o * n - r * c AS DECIMAL(38,0))"
                f" * {_Q197_SCALE}) div (n * r * c) AS BIGINT)"
            ),
        )
        .localCheckpoint(eager=False)  # feeds per-cell rows + chi² total
    )
    # grouping-free on purpose: n/n_segs/n_prios are constant across the
    # cells frame, and a groupless Aggregate is provably 1 row to the
    # plan-audit boundedness tripwire (the broadcast below is then safe
    # by construction, not by reviewer fiat)
    chi = cells.agg(
        F.max("n").alias("n"),
        F.max("n_segs").alias("n_segs"),
        F.max("n_prios").alias("n_prios"),
        F.sum("contrib_scaled").alias("chi_scaled"),
    )
    chi2 = F.col("chi_scaled").cast("double") / F.lit(float(_Q197_SCALE))
    vden = (
        F.col("n").cast("double")
        * (F.least("n_segs", "n_prios").cast("double") - F.lit(1.0))
    )
    chi_row = chi.select(
        "n",
        ((F.col("n_segs") - 1) * (F.col("n_prios") - 1)).cast("long").alias("dof"),
        F.round(chi2, 4).alias("chi2"),
        F.round(F.sqrt(chi2 / vden), 4).alias("cramers_v"),
    )
    return (
        cells.select(
            "seg",
            "prio",
            F.col("o").cast("long").alias("n_cell"),
            F.round(
                (F.col("r") * F.col("c")).cast("double") / F.col("n").cast("double"),
                4,
            ).alias("expected"),
            F.round(
                F.col("contrib_scaled").cast("double") / F.lit(float(_Q197_SCALE)),
                6,
            ).alias("contrib"),
        )
        .crossJoin(F.broadcast(chi_row))
        .select(
            "seg", "prio", "n_cell", "expected", "contrib",
            F.col("n").cast("long").alias("n_total"),
            "dof", "chi2", "cramers_v",
        )
        .orderBy("seg", "prio")
    )


Q197_SQL = f"""
WITH obs AS (
    SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
           count(*) AS o
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
),
dense AS (
    SELECT s.seg, p.prio, coalesce(obs.o, 0) AS o
    FROM (SELECT DISTINCT seg FROM obs) s
    CROSS JOIN (SELECT DISTINCT prio FROM obs) p
    LEFT JOIN obs ON obs.seg = s.seg AND obs.prio = p.prio
),
rt AS (SELECT seg, sum(o) AS r FROM obs GROUP BY 1),
ct AS (SELECT prio, sum(o) AS c FROM obs GROUP BY 1),
tot AS (
    SELECT sum(o) AS n,
           count(DISTINCT seg) AS n_segs,
           count(DISTINCT prio) AS n_prios
    FROM obs
),
cells AS (
    SELECT d.seg, d.prio, d.o, rt.r, ct.c, tot.n, tot.n_segs, tot.n_prios,
           CAST((CAST(d.o * tot.n - rt.r * ct.c AS HUGEINT)
                 * CAST(d.o * tot.n - rt.r * ct.c AS HUGEINT)
                 * {_Q197_SCALE}) // (tot.n * rt.r * ct.c) AS BIGINT)
               AS contrib_scaled
    FROM dense d
    JOIN rt ON rt.seg = d.seg
    JOIN ct ON ct.prio = d.prio
    CROSS JOIN tot
),
chi AS (
    SELECT n, n_segs, n_prios,
           sum(contrib_scaled) AS chi_scaled
    FROM cells GROUP BY 1, 2, 3
)
SELECT cells.seg, cells.prio,
       CAST(cells.o AS BIGINT) AS n_cell,
       round(CAST(cells.r AS DOUBLE) * cells.c / cells.n, 4) AS expected,
       round(CAST(cells.contrib_scaled AS DOUBLE) / {_Q197_SCALE}, 6)
           AS contrib,
       CAST(cells.n AS BIGINT) AS n_total,
       CAST((chi.n_segs - 1) * (chi.n_prios - 1) AS BIGINT) AS dof,
       round(CAST(chi.chi_scaled AS DOUBLE) / {_Q197_SCALE}, 4) AS chi2,
       round(sqrt((CAST(chi.chi_scaled AS DOUBLE) / {_Q197_SCALE})
                  / (CAST(chi.n AS DOUBLE)
                     * (least(chi.n_segs, chi.n_prios) - 1))), 4)
           AS cramers_v
FROM cells CROSS JOIN chi
ORDER BY cells.seg, cells.prio
"""


# ---------------------------------------------------------------------------
# q233 — Mann–Whitney U / rank-sum test + AUC (ext): the NONPARAMETRIC
# two-sample location test q213 (Welch t) assumes away — does each
# market segment's order-price DISTRIBUTION stochastically dominate the
# rest of the book?  U doubles as the ROC AUC (U / n1·n2 is exactly
# P(X_a > X_b) + ½·P(tie)), so this one operator is also the
# standard model-eval readout for any score column. Rank statistics at
# scale WITHOUT a global sort: roll up to distinct price cells, then
# U_a = Σ_v na(v)·(#B below v) + ½·na(v)·nb(v) needs only an exclusive
# prefix sum over the VALUE DOMAIN (cents, bounded by the price range,
# not the corpus) — operators/skew.exclusive_prefix_sum at levels=3, so
# every window in the hierarchy is ≤256 rows even at a 5·10⁷-cent
# domain. Tie-corrected normal z; all sums integer until the final
# division (2·U is exact), so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------
_Q233_Z_CRIT = 1.959964  # two-sided 5% normal critical value


def q233_mannwhitney_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import exclusive_prefix_sum

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    obs = (
        # no broadcast hint: customer grows with the corpus — AQE picks
        # broadcast from observed sizes when the dim side is small
        orders.join(
            cust.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == F.col("c_custkey"),
        ).select(
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    seg_cells = (
        obs.groupBy("seg", "cents")
        .agg(F.count("*").alias("na"))
        .localCheckpoint(eager=False)  # prefix hierarchy re-references
    )
    tot_cells = (
        obs.groupBy("cents")
        .agg(F.count("*").alias("nt"))
        .localCheckpoint(eager=False)  # feeds prefix scan + tie totals
    )
    pseg = exclusive_prefix_sum(
        seg_cells, "seg", "cents", "na", out_col="cum_a", levels=3
    )
    ptot = exclusive_prefix_sum(
        tot_cells.withColumn("_g", F.lit(0)), "_g", "cents", "nt",
        out_col="cum_t", levels=3,
    ).select("cents", "nt", "cum_t")
    per_seg = (
        pseg.join(ptot, "cents")
        .groupBy("seg")
        .agg(
            F.sum("na").cast("long").alias("n1"),
            # 2·U_a: ties contribute ½ each, so keep everything doubled
            F.sum(
                F.col("na")
                * (
                    2 * (F.col("cum_t") - F.col("cum_a"))
                    + (F.col("nt") - F.col("na"))
                )
            )
            .cast("long")
            .alias("u2"),
        )
    )
    tot = tot_cells.agg(
        F.sum("nt").cast("long").alias("n"),
        F.sum(F.col("nt") * F.col("nt") * F.col("nt") - F.col("nt"))
        .cast("long")
        .alias("tie3"),
    )
    nd = F.col("n").cast("double")
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    var = (n1d * n2d / F.lit(12.0)) * (
        (nd + F.lit(1.0))
        - F.col("tie3").cast("double") / (nd * (nd - F.lit(1.0)))
    )
    z = (F.col("u2") - F.col("n1") * F.col("n2")).cast("double") / (
        F.lit(2.0) * F.sqrt(var)
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    return (
        per_seg.crossJoin(F.broadcast(tot))
        .withColumn("n2", (F.col("n") - F.col("n1")).cast("long"))
        .select(
            "seg",
            "n1",
            "n2",
            F.col("u2").alias("u2_stat"),
            r6(
                F.col("u2").cast("double") / (F.lit(2.0) * n1d * n2d)
            ).alias("auc"),
            r4(z).alias("z_score"),
            (F.abs(z) > F.lit(_Q233_Z_CRIT)).cast("int").alias("significant"),
        )
        .orderBy("seg")
    )


Q233_SQL = f"""
WITH obs AS (
    SELECT c.c_mktsegment AS seg,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
seg_cells AS (SELECT seg, cents, count(*) AS na FROM obs GROUP BY 1, 2),
tot_cells AS (SELECT cents, count(*) AS nt FROM obs GROUP BY 1),
ps AS (
    SELECT seg, cents, na,
           coalesce(sum(na) OVER (PARTITION BY seg ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_a
    FROM seg_cells
),
pt AS (
    SELECT cents, nt,
           coalesce(sum(nt) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_t
    FROM tot_cells
),
per_seg AS (
    SELECT ps.seg,
           CAST(sum(ps.na) AS BIGINT) AS n1,
           CAST(sum(ps.na * (2 * (pt.cum_t - ps.cum_a)
                             + (pt.nt - ps.na))) AS BIGINT) AS u2
    FROM ps JOIN pt USING (cents)
    GROUP BY ps.seg
),
tot AS (
    SELECT CAST(sum(nt) AS BIGINT) AS n,
           CAST(sum(nt * nt * nt - nt) AS BIGINT) AS tie3
    FROM tot_cells
),
scored AS (
    SELECT s.seg, s.n1, CAST(t.n - s.n1 AS BIGINT) AS n2, s.u2,
           t.n, t.tie3,
           CAST(s.u2 - s.n1 * (t.n - s.n1) AS DOUBLE)
           / (2.0 * sqrt((CAST(s.n1 AS DOUBLE) * CAST(t.n - s.n1 AS DOUBLE)
                          / 12.0)
                         * ((CAST(t.n AS DOUBLE) + 1.0)
                            - CAST(t.tie3 AS DOUBLE)
                              / (CAST(t.n AS DOUBLE)
                                 * (CAST(t.n AS DOUBLE) - 1.0))))) AS z
    FROM per_seg s CROSS JOIN tot t
)
SELECT seg, n1, n2, u2 AS u2_stat,
       floor(CAST(u2 AS DOUBLE)
             / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0 AS auc,
       floor(z * 10000 + 0.5) / 10000.0 AS z_score,
       CAST(CASE WHEN abs(z) > {_Q233_Z_CRIT} THEN 1 ELSE 0 END AS INTEGER)
           AS significant
FROM scored
ORDER BY seg
"""


# ---------------------------------------------------------------------------
# q235 — t-closeness audit (ext): completes the privacy ladder —
# k-anonymity (q158) bounds re-identification, l-diversity (q227)
# bounds "everyone in the class shares the value", t-closeness bounds
# the subtler leak BOTH miss: a class whose sensitive-value
# DISTRIBUTION differs sharply from the table's (e.g. a class skewed
# to the lowest balance band discloses "probably broke" even with l
# distinct values). Per (nation, segment) class over customers:
# ordered Earth-Mover's Distance between the class's $1000-balance-band
# distribution and the global one, EMD = Σ|cumQ−cumP| / (m−1) over the
# ordered band domain (Li et al., ICDE 2007). Integer-exact via cross-
# multiplication (|cumQ·N − cumP·n_c| summed, divided once at the end);
# the t=0.2 violation flag is an exact integer comparison. Scale: the
# dense grid is |classes|·|bands| — both DOMAIN-bounded (quasi-id
# cross-product, balance-range/1000) — and the only windows run
# per-class over ≤|bands| rows; the corpus is touched by two rollups.
# ---------------------------------------------------------------------------
_Q235_BAND = 1000.0
_Q235_T_NUM, _Q235_T_DEN = 1, 5  # t = 0.2


def q235_tcloseness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    rows = cust.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / F.lit(_Q235_BAND)).cast("long").alias("band"),
    )
    cls_cells = rows.groupBy("nat", "seg", "band").agg(F.count("*").alias("q"))
    glob = (
        rows.groupBy("band")
        .agg(F.count("*").alias("p"))
        .localCheckpoint(eager=False)  # feeds dense grid + scalar totals
    )
    classes = rows.groupBy("nat", "seg").agg(F.count("*").alias("n_class"))
    dense = (
        # |classes| x |bands| grid: both factors domain-bounded (q197's
        # dense pattern) — no hint, AQE broadcasts from observed size
        classes.crossJoin(glob.select("band", "p"))
        .join(cls_cells, ["nat", "seg", "band"], "left")
        .fillna(0, subset=["q"])
    )
    tot = glob.agg(
        F.sum("p").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("m_bands"),
    )
    w = (
        Window.partitionBy("nat", "seg")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dense.select(
        "nat",
        "seg",
        "n_class",
        F.sum("q").over(w).alias("cq"),
        F.sum("p").over(w).alias("cp"),
    )
    per_class = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("nat", "seg", "n_class", "n_total", "m_bands")
        .agg(
            F.sum(F.abs(F.col("cq") * F.col("n_total") - F.col("cp") * F.col("n_class")))
            .cast("long")
            .alias("dev")
        )
    )
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    den = (
        F.col("n_class")
        * F.col("n_total")
        * F.greatest(F.col("m_bands") - 1, F.lit(1))
    )
    return per_class.select(
        F.col("nat").cast("int").alias("nat"),
        "seg",
        F.col("n_class").cast("long").alias("n_class"),
        r6(F.col("dev").cast("double") / den.cast("double")).alias("emd_t"),
        (F.col("dev") * _Q235_T_DEN > F.lit(_Q235_T_NUM) * den)
        .cast("int")
        .alias("violates_t"),
    ).orderBy("nat", "seg")


Q235_SQL = f"""
WITH rows_t AS (
    SELECT c_nationkey AS nat, c_mktsegment AS seg,
           CAST(floor(c_acctbal / {_Q235_BAND}) AS BIGINT) AS band
    FROM customer
),
cls_cells AS (
    SELECT nat, seg, band, count(*) AS q FROM rows_t GROUP BY 1, 2, 3
),
gb AS (SELECT band, count(*) AS p FROM rows_t GROUP BY 1),
classes AS (SELECT nat, seg, count(*) AS n_class FROM rows_t GROUP BY 1, 2),
dense AS (
    SELECT cl.nat, cl.seg, cl.n_class, g.band, g.p, coalesce(cc.q, 0) AS q
    FROM classes cl
    CROSS JOIN gb g
    LEFT JOIN cls_cells cc
           ON cc.nat = cl.nat AND cc.seg = cl.seg AND cc.band = g.band
),
tot AS (
    SELECT CAST(sum(p) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS m_bands
    FROM gb
),
cum AS (
    SELECT nat, seg, n_class,
           sum(q) OVER (PARTITION BY nat, seg ORDER BY band
                        ROWS UNBOUNDED PRECEDING) AS cq,
           sum(p) OVER (PARTITION BY nat, seg ORDER BY band
                        ROWS UNBOUNDED PRECEDING) AS cp
    FROM dense
),
per_class AS (
    SELECT nat, seg, n_class, t.n_total, t.m_bands,
           CAST(sum(abs(cq * t.n_total - cp * n_class)) AS BIGINT) AS dev
    FROM cum CROSS JOIN tot t
    GROUP BY 1, 2, 3, 4, 5
)
SELECT CAST(nat AS INTEGER) AS nat, seg,
       CAST(n_class AS BIGINT) AS n_class,
       floor(CAST(dev AS DOUBLE)
             / CAST(n_class * n_total * greatest(m_bands - 1, 1) AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS emd_t,
       CAST(CASE WHEN dev * {_Q235_T_DEN}
                      > {_Q235_T_NUM} * n_class * n_total
                        * greatest(m_bands - 1, 1)
                 THEN 1 ELSE 0 END AS INTEGER) AS violates_t
FROM per_class
ORDER BY nat, seg
"""


# ---------------------------------------------------------------------------
# q237 — isotonic regression calibration via PAV (ext): the
# monotone-calibration op that completes the model-eval family — ECE
# (q159) MEASURES miscalibration, conformal (q204) wraps intervals,
# isotonic FIXES the score: the best monotone fit of P(purchase) as a
# function of the value score. Distributed PAV without the sequential
# stack: pool-adjacent-violators equals the MINIMAX formula
# fitted_i = max_{j≤i} min_{k≥i} mean(y over buckets j..k) (Ayer et
# al. 1955), which is pure join algebra once the corpus collapses to a
# value-DOMAIN-bounded bucket rollup (B = range/16 ≈ 31 buckets → B³ ≈
# 30k triple rows, constant w.r.t. corpus size). Means are doubles
# from EXACT integer prefix sums; min/max are selections (no float
# accumulation), so both engines agree bit-for-bit. The python twin
# runs the classic sequential stack PAV and must match exactly.
# ---------------------------------------------------------------------------
_Q237_W = 16.0  # value-bucket width


def q237_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cells = (
        ev.groupBy(F.floor(F.col("value") / F.lit(_Q237_W)).cast("long").alias("b"))
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
        )
        .localCheckpoint(eager=False)  # feeds prefix scan + 3-way self-join
    )
    # exclusive/inclusive prefix sums over the DOMAIN-bounded bucket
    # rollup (≤ value_range/W rows — pinned in tests/test_plan_budget.py)
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pre = cells.select(
        "b",
        "n",
        "y",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("y").over(wcum).alias("cy"),
    ).localCheckpoint(eager=False)  # three roles in the triple join
    j = pre.select(
        F.col("b").alias("jb"),
        (F.col("cn") - F.col("n")).alias("cnx"),
        (F.col("cy") - F.col("y")).alias("cyx"),
    )
    k = pre.select(
        F.col("b").alias("kb"), F.col("cn").alias("cnk"), F.col("cy").alias("cyk")
    )
    i = pre.select("b", "n", "y")
    tri = (
        i.join(j, F.col("jb") <= F.col("b"))
        .join(k, F.col("kb") >= F.col("b"))
        .select(
            "b",
            "n",
            "y",
            "jb",
            (
                (F.col("cyk") - F.col("cyx")).cast("double")
                / (F.col("cnk") - F.col("cnx")).cast("double")
            ).alias("avg_jk"),
        )
    )
    fitted = (
        tri.groupBy("b", "n", "y", "jb")
        .agg(F.min("avg_jk").alias("m"))
        .groupBy("b", "n", "y")
        .agg(F.max("m").alias("iso"))
    )
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    return fitted.select(
        F.col("b").alias("bucket"),
        F.col("n").cast("long").alias("n"),
        F.col("y").cast("long").alias("n_pos"),
        r6(F.col("y").cast("double") / F.col("n").cast("double")).alias("raw_rate"),
        r6(F.col("iso")).alias("iso_rate"),
    ).orderBy("bucket")


Q237_SQL = f"""
WITH cells AS (
    SELECT CAST(floor(value / {_Q237_W}) AS BIGINT) AS b,
           count(*) AS n,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
    FROM events GROUP BY 1
),
pre AS (
    SELECT b, n, y,
           sum(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cn,
           sum(y) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cy
    FROM cells
),
tri AS (
    SELECT i.b, i.n, i.y, j.b AS jb,
           CAST(k.cy - (j.cy - j.y) AS DOUBLE)
           / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS avg_jk
    FROM pre i
    JOIN pre j ON j.b <= i.b
    JOIN pre k ON k.b >= i.b
),
fitted AS (
    SELECT b, n, y, max(m) AS iso
    FROM (
        SELECT b, n, y, jb, min(avg_jk) AS m
        FROM tri GROUP BY b, n, y, jb
    ) GROUP BY b, n, y
)
SELECT b AS bucket,
       CAST(n AS BIGINT) AS n,
       CAST(y AS BIGINT) AS n_pos,
       floor(CAST(y AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5)
           / 1000000.0 AS raw_rate,
       floor(iso * 1000000 + 0.5) / 1000000.0 AS iso_rate
FROM fitted
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# q242 — Benford first-digit conformity audit (ext): the classic
# fabricated-numbers detector for financial columns — natural
# multiplicative amounts follow P(d) = log10(1+1/d); synthetic or
# tampered feeds don't. Determinism care: the first digit comes from
# the STRING of the exact integer cents (floor(price·100+.5)) — never
# from log10(value), whose last-ulp is not cross-engine identical at
# powers of 10 — and the nine Benford probabilities are shared literal
# doubles, not engine log10 calls. χ² and the Nigrini MAD accumulate
# per-digit contributions floor-scaled to a 1e9 integer grid (q236
# pattern; 9-way grouped sums have no deterministic order either).
# Scale: one groupBy to nine cells; table stats replicate per row
# (q227 convention).
# ---------------------------------------------------------------------------
_Q242_P = {
    1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829992,
    4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514,
}
_Q242_SCALE = 1_000_000_000
_Q242_MAD_NIGRINI = 0.015  # "nonconformity" bound for first digits


def q242_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cells = orders.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    ).groupBy("digit").agg(F.count("*").alias("o"))
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    p_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _Q242_P.items() for x in kv]
        ),
        F.col("digit"),
    )
    dense = (
        digits.join(cells, "digit", "left")
        .fillna(0, subset=["o"])
        .crossJoin(F.broadcast(cells.agg(F.sum("o").cast("long").alias("n"))))
        .withColumn("p", p_expr)
        .localCheckpoint(eager=False)  # feeds per-digit rows + table stats
    )
    nd = F.col("n").cast("double")
    od = F.col("o").cast("double")
    scaled = dense.select(
        "digit",
        "o",
        "n",
        "p",
        F.floor(
            (od - nd * F.col("p")) * (od - nd * F.col("p")) / (nd * F.col("p"))
            * F.lit(float(_Q242_SCALE))
        ).cast("long").alias("chi_s"),
        F.floor(
            F.abs(od / nd - F.col("p")) * F.lit(float(_Q242_SCALE))
        ).cast("long").alias("mad_s"),
    )
    stats = scaled.agg(
        F.sum("chi_s").alias("chi_sum"),
        F.sum("mad_s").alias("mad_sum"),
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    mad = F.col("mad_sum").cast("double") / F.lit(float(_Q242_SCALE)) / F.lit(9.0)
    return (
        scaled.crossJoin(F.broadcast(stats))
        .select(
            "digit",
            F.col("o").cast("long").alias("observed"),
            r4(nd * F.col("p")).alias("expected"),
            r4(
                F.col("chi_sum").cast("double") / F.lit(float(_Q242_SCALE))
            ).alias("chi2"),
            r6(mad).alias("mad"),
            (mad <= F.lit(_Q242_MAD_NIGRINI)).cast("int").alias("conforms"),
        )
        .orderBy("digit")
    )


def _q242_p_case() -> str:
    return (
        "CASE d.digit "
        + " ".join(f"WHEN {d} THEN {p!r}" for d, p in _Q242_P.items())
        + " END"
    )


Q242_SQL = f"""
WITH cells AS (
    SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                                    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER)
               AS digit,
           count(*) AS o
    FROM orders GROUP BY 1
),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
dense AS (
    SELECT d.digit AS digit, coalesce(c.o, 0) AS o, t.n,
           {_q242_p_case()} AS p
    FROM (SELECT unnest(generate_series(1, 9)) AS digit) d
    LEFT JOIN cells c ON c.digit = d.digit
    CROSS JOIN tot t
),
scaled AS (
    SELECT digit, o, n, p,
           CAST(floor((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
                      * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
                      / (CAST(n AS DOUBLE) * p) * {_Q242_SCALE}) AS BIGINT)
               AS chi_s,
           CAST(floor(abs(CAST(o AS DOUBLE) / CAST(n AS DOUBLE) - p)
                      * {_Q242_SCALE}) AS BIGINT) AS mad_s
    FROM dense
),
stats AS (
    SELECT CAST(sum(chi_s) AS BIGINT) AS chi_sum,
           CAST(sum(mad_s) AS BIGINT) AS mad_sum
    FROM scaled
)
SELECT s.digit,
       CAST(s.o AS BIGINT) AS observed,
       floor(CAST(s.n AS DOUBLE) * s.p * 10000 + 0.5) / 10000.0 AS expected,
       floor(CAST(st.chi_sum AS DOUBLE) / {_Q242_SCALE} * 10000 + 0.5)
           / 10000.0 AS chi2,
       floor(CAST(st.mad_sum AS DOUBLE) / {_Q242_SCALE} / 9.0 * 1000000
             + 0.5) / 1000000.0 AS mad,
       CAST(CASE WHEN CAST(st.mad_sum AS DOUBLE) / {_Q242_SCALE} / 9.0
                      <= {_Q242_MAD_NIGRINI}
                 THEN 1 ELSE 0 END AS INTEGER) AS conforms
FROM scaled s CROSS JOIN stats st
ORDER BY s.digit
"""


# ---------------------------------------------------------------------------
# q243 — Gini concentration of customer revenue per nation (ext): the
# inequality readout of a revenue (or token-count, or shard-size)
# distribution — "how concentrated is nation X's book on its whale
# customers?" Exact Gini WITHOUT a global sort: collapse to per-value
# cells over the cents domain, exclusive_prefix_sum (levels=3) gives
# each distinct value's rank offset, and Σᵢ i·xᵢ over a tie block of
# count c at offset u is v·(2·c·u + c·(c+1))/2 — pure integer algebra,
# accumulated in DECIMAL(38,0)/HUGEINT (the q107/q197 exact-sum
# pattern; Σ v·c·u overflows int64 at corpus scale). G = 2Σi·xᵢ/(n·Σx)
# − (n+1)/n; the one division happens at the end on exact operands.
# ---------------------------------------------------------------------------
def q243_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import exclusive_prefix_sum

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("v")
        )
        .join(
            cust.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(F.col("c_nationkey").alias("nat"), "v")
    )
    cells = (
        rev.groupBy("nat", "v")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # the 3-level prefix hierarchy
        # re-references this; unpinned it would rescan orders per level
    )
    pre = exclusive_prefix_sum(cells, "nat", "v", "cnt", out_col="u", levels=3)
    per_nat = pre.groupBy("nat").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * cnt")).alias("sx"),
        F.sum(
            F.expr(
                "CAST(v AS DECIMAL(38,0))"
                " * (2 * CAST(cnt AS DECIMAL(38,0)) * u"
                "    + CAST(cnt AS DECIMAL(38,0)) * (cnt + 1))"
            )
        ).alias("s2"),
    )
    nd = F.col("n").cast("double")
    gini = (
        F.col("s2").cast("double") / (nd * F.col("sx").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    return per_nat.select(
        F.col("nat").cast("int").alias("nat"),
        F.col("n").alias("n_custs"),
        F.col("sx").cast("long").alias("total_cents"),
        r6(gini).alias("gini"),
    ).orderBy("nat")


Q243_SQL = """
WITH rev AS (
    SELECT c.c_nationkey AS nat,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS v
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY o.o_custkey, c.c_nationkey
),
cells AS (SELECT nat, v, count(*) AS cnt FROM rev GROUP BY 1, 2),
pre AS (
    SELECT nat, v, cnt,
           coalesce(sum(cnt) OVER (PARTITION BY nat ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS u
    FROM cells
),
per_nat AS (
    SELECT nat,
           CAST(sum(cnt) AS BIGINT) AS n,
           sum(CAST(v AS HUGEINT) * cnt) AS sx,
           sum(CAST(v AS HUGEINT)
               * (2 * CAST(cnt AS HUGEINT) * u
                  + CAST(cnt AS HUGEINT) * (cnt + 1))) AS s2
    FROM pre GROUP BY 1
)
SELECT CAST(nat AS INTEGER) AS nat,
       n AS n_custs,
       CAST(sx AS BIGINT) AS total_cents,
       floor((CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
              - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0 AS gini
FROM per_nat
ORDER BY nat
"""


# ---------------------------------------------------------------------------
# q245 — empirical-Bayes beta-binomial shrinkage (ext): the smoothed-
# rate estimator every large-scale ranking/quality system uses — a part
# returned 2-of-3 times is NOT worse than one returned 200-of-400; raw
# rates must shrink toward the prior by evidence volume. Method of
# moments on the observed return rates of well-supported parts
# (n ≥ T): mean m and variance s² give α+β = m(1−m)/s² − 1,
# α = m(α+β); every part's posterior rate is (y+α)/(n+α+β).
# Determinism: Σr and Σr² over corpus-scale parts are per-part doubles
# from exact integers floor-scaled to a 1e12 grid and summed as
# integers (q236 pattern — a raw float Σ is shuffle-order-dependent).
# Scale: one lineitem rollup to per-part (y, n); the moment pass and
# the scoring pass share it; output is a top-20 TakeOrdered with a
# unique-key tiebreak.
# ---------------------------------------------------------------------------
_Q245_MIN_N = 10
_Q245_SCALE = 1_000_000_000_000
_Q245_TOPK = 20


def q245_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    parts = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum((F.col("l_returnflag") == "R").cast("long"))
            .cast("long")
            .alias("y"),
        )
        .localCheckpoint(eager=False)  # feeds moment pass + scoring pass
    )
    rd = F.col("y").cast("double") / F.col("n").cast("double")
    mom = (
        parts.filter(F.col("n") >= _Q245_MIN_N)
        .select(
            F.floor(rd * F.lit(float(_Q245_SCALE))).cast("long").alias("r1"),
            F.floor(rd * rd * F.lit(float(_Q245_SCALE))).cast("long").alias("r2"),
        )
        .agg(
            F.count("*").cast("long").alias("m_parts"),
            F.sum("r1").alias("s1"),
            F.sum("r2").alias("s2"),
        )
    )
    md = F.col("m_parts").cast("double")
    mean = F.col("s1").cast("double") / F.lit(float(_Q245_SCALE)) / md
    # population variance: E[r²] − (E[r])²
    var = F.col("s2").cast("double") / F.lit(float(_Q245_SCALE)) / md - mean * mean
    ab = mean * (F.lit(1.0) - mean) / var - F.lit(1.0)
    prior = mom.select(
        "m_parts",
        (mean * ab).alias("alpha"),
        ((F.lit(1.0) - mean) * ab).alias("beta"),
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    shrunk = (
        F.col("y").cast("double") + F.col("alpha")
    ) / (F.col("n").cast("double") + F.col("alpha") + F.col("beta"))
    return (
        parts.crossJoin(F.broadcast(prior))
        .select(
            F.col("pk").alias("partkey"),
            "n",
            "y",
            r6(rd).alias("raw_rate"),
            r6(shrunk).alias("eb_rate"),
            r4(F.col("alpha")).alias("alpha"),
            r4(F.col("beta")).alias("beta"),
        )
        .orderBy(F.desc("eb_rate"), F.asc("partkey"))
        .limit(_Q245_TOPK)
    )


Q245_SQL = f"""
WITH parts AS (
    SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM lineitem GROUP BY 1
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS m_parts,
           CAST(sum(CAST(floor(CAST(y AS DOUBLE) / CAST(n AS DOUBLE)
                                * {_Q245_SCALE}) AS BIGINT)) AS BIGINT) AS s1,
           CAST(sum(CAST(floor((CAST(y AS DOUBLE) / CAST(n AS DOUBLE))
                               * (CAST(y AS DOUBLE) / CAST(n AS DOUBLE))
                               * {_Q245_SCALE}) AS BIGINT)) AS BIGINT) AS s2
    FROM parts WHERE n >= {_Q245_MIN_N}
),
prior AS (
    SELECT m_parts,
           (CAST(s1 AS DOUBLE) / {_Q245_SCALE} / CAST(m_parts AS DOUBLE))
           * ((CAST(s1 AS DOUBLE) / {_Q245_SCALE} / CAST(m_parts AS DOUBLE))
              * (1.0 - CAST(s1 AS DOUBLE) / {_Q245_SCALE}
                       / CAST(m_parts AS DOUBLE))
              / (CAST(s2 AS DOUBLE) / {_Q245_SCALE} / CAST(m_parts AS DOUBLE)
                 - (CAST(s1 AS DOUBLE) / {_Q245_SCALE}
                    / CAST(m_parts AS DOUBLE))
                   * (CAST(s1 AS DOUBLE) / {_Q245_SCALE}
                      / CAST(m_parts AS DOUBLE)))
              - 1.0) AS alpha,
           (1.0 - CAST(s1 AS DOUBLE) / {_Q245_SCALE}
                  / CAST(m_parts AS DOUBLE))
           * ((CAST(s1 AS DOUBLE) / {_Q245_SCALE} / CAST(m_parts AS DOUBLE))
              * (1.0 - CAST(s1 AS DOUBLE) / {_Q245_SCALE}
                       / CAST(m_parts AS DOUBLE))
              / (CAST(s2 AS DOUBLE) / {_Q245_SCALE} / CAST(m_parts AS DOUBLE)
                 - (CAST(s1 AS DOUBLE) / {_Q245_SCALE}
                    / CAST(m_parts AS DOUBLE))
                   * (CAST(s1 AS DOUBLE) / {_Q245_SCALE}
                      / CAST(m_parts AS DOUBLE)))
              - 1.0) AS beta
    FROM mom
)
SELECT p.pk AS partkey, p.n, p.y,
       floor(CAST(p.y AS DOUBLE) / CAST(p.n AS DOUBLE) * 1000000 + 0.5)
           / 1000000.0 AS raw_rate,
       floor((CAST(p.y AS DOUBLE) + pr.alpha)
             / (CAST(p.n AS DOUBLE) + pr.alpha + pr.beta) * 1000000 + 0.5)
           / 1000000.0 AS eb_rate,
       floor(pr.alpha * 10000 + 0.5) / 10000.0 AS alpha,
       floor(pr.beta * 10000 + 0.5) / 10000.0 AS beta
FROM parts p CROSS JOIN prior pr
ORDER BY eb_rate DESC, partkey ASC
LIMIT {_Q245_TOPK}
"""


# ---------------------------------------------------------------------------
# q246 — Hill tail-index estimator (ext): the heavy-tail diagnostic for
# any size/value column — shard-size planning (q188), skew salting
# (q182) and quota water-filling (q189) all presuppose knowing HOW
# heavy the tail is; Hill's estimator α̂ = 1/mean(ln(xᵢ/x₍ₖ₊₁₎)) over
# the top-k order statistics answers it (α ≤ 2 ⇒ infinite variance ⇒
# mean-based capacity planning is invalid). Selection is a bounded
# TakeOrderedAndProject (k+1 rows with a unique-key tiebreak — never a
# global sort); the k log-ratios are per-row doubles from exact cents
# integers, floor-scaled and integer-summed (q236 pattern). Degenerate
# guard (round-8 ADVICE fix): if every top-(k+1) value ties at the
# threshold, the estimator is undefined — the query still emits ONE
# row, with k_used=0 and NULL hill_alpha/finite_variance, instead of
# silently returning zero rows; lsum<=0 likewise NULL-guards alpha.
# ---------------------------------------------------------------------------
_Q246_K = 100
_Q246_SCALE = 1_000_000_000


def q246_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    top = (
        orders.select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            "o_orderkey",
        )
        .orderBy(F.desc("cents"), F.asc("o_orderkey"))
        .limit(_Q246_K + 1)
        .localCheckpoint(eager=False)  # feeds threshold + ratio scan
    )
    thr = top.agg(F.min("cents").alias("xk"))
    above = F.col("cents") > F.col("xk")  # threshold row(s) carry no term
    terms = top.crossJoin(F.broadcast(thr)).select(
        "xk",
        above.cast("long").alias("is_term"),
        F.when(
            above,
            F.floor(
                F.log(F.col("cents").cast("double") / F.col("xk").cast("double"))
                * F.lit(float(_Q246_SCALE))
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("ls"),
    )
    agg = terms.groupBy("xk").agg(
        F.sum("is_term").cast("long").alias("k_used"),
        F.sum("ls").alias("lsum"),
    )
    h = (
        F.col("lsum").cast("double")
        / F.lit(float(_Q246_SCALE))
        / F.col("k_used").cast("double")
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    alpha = F.lit(1.0) / h
    defined = (F.col("k_used") > 0) & (F.col("lsum") > 0)
    return agg.select(
        F.col("k_used"),
        F.col("xk").alias("threshold_cents"),
        F.when(defined, r4(alpha)).alias("hill_alpha"),
        F.when(defined, (alpha > F.lit(2.0)).cast("int")).alias("finite_variance"),
    )


Q246_SQL = f"""
WITH top AS (
    SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           o_orderkey
    FROM orders
    ORDER BY cents DESC, o_orderkey ASC
    LIMIT {_Q246_K + 1}
),
thr AS (SELECT min(cents) AS xk FROM top),
terms AS (
    SELECT t.xk,
           CASE WHEN tp.cents > t.xk THEN 1 ELSE 0 END AS is_term,
           CASE WHEN tp.cents > t.xk
                THEN CAST(floor(ln(CAST(tp.cents AS DOUBLE)
                                   / CAST(t.xk AS DOUBLE))
                                * {_Q246_SCALE}) AS BIGINT)
                ELSE 0 END AS ls
    FROM top tp CROSS JOIN thr t
),
agg AS (
    SELECT xk, CAST(sum(is_term) AS BIGINT) AS k_used,
           CAST(sum(ls) AS BIGINT) AS lsum
    FROM terms GROUP BY xk
)
SELECT k_used,
       xk AS threshold_cents,
       CASE WHEN k_used > 0 AND lsum > 0
            THEN floor(1.0 / (CAST(lsum AS DOUBLE) / {_Q246_SCALE}
                              / CAST(k_used AS DOUBLE)) * 10000 + 0.5) / 10000.0
            END AS hill_alpha,
       CASE WHEN k_used > 0 AND lsum > 0
            THEN CAST(CASE WHEN 1.0 / (CAST(lsum AS DOUBLE) / {_Q246_SCALE}
                                       / CAST(k_used AS DOUBLE)) > 2.0
                           THEN 1 ELSE 0 END AS INTEGER)
            END AS finite_variance
FROM agg
"""


# ---------------------------------------------------------------------------
# q252 — Spearman rank-correlation matrix (ext): the rank-transform
# member of the dependence family — Pearson (q183) sees only LINEAR
# co-movement; Spearman catches any monotone coupling between the
# daily volumes of two event types and shrugs off the outlier days
# that drag Pearson (the q238 robustness argument applied to
# correlation). EXACT integer algebra end-to-end: average ranks over
# ties are half-integers, so DOUBLED ranks 2r = 2·cum_below + t + 1
# stay integers; Spearman = Pearson on (doubled) ranks, one √ at the
# end. Scale: corpus → per-(type, day) rollup → dense day×type grid
# (both DOMAIN-bounded); rank windows partition by type.
# ---------------------------------------------------------------------------
def q252_spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("t"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("y"))
    grid = (
        daily.select("day").distinct()
        .crossJoin(daily.select("t").distinct())
        .join(daily, ["t", "day"], "left")
        .fillna(0, subset=["y"])
        .localCheckpoint(eager=False)  # feeds tie cells + rank join
    )
    cells = grid.groupBy("t", "y").agg(F.count("*").alias("tk"))
    wt = (
        Window.partitionBy("t")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = cells.withColumn(
        "rank2",
        2 * F.coalesce(F.sum("tk").over(wt), F.lit(0)) + F.col("tk") + 1,
    )
    dr = grid.join(ranked.select("t", "y", "rank2"), ["t", "y"]).select(
        "t", "day", "rank2"
    )
    pairs = (
        dr.select(F.col("t").alias("ta"), "day", F.col("rank2").alias("ra"))
        .join(
            dr.select(F.col("t").alias("tb"), "day", F.col("rank2").alias("rb")),
            "day",
        )
        .filter(F.col("ta") < F.col("tb"))
    )
    agg = pairs.groupBy("ta", "tb").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ra").cast("long").alias("sx"),
        F.sum("rb").cast("long").alias("sy"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("sxy"),
        F.sum(F.col("ra") * F.col("ra")).cast("long").alias("sxx"),
        F.sum(F.col("rb") * F.col("rb")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    return agg.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("n").alias("n_days"),
        r6(num / den).alias("spearman_rho"),
    ).orderBy("type_a", "type_b")


Q252_SQL = """
WITH daily AS (
    SELECT event_type AS t, date_trunc('day', ts) AS day, count(*) AS y
    FROM events GROUP BY 1, 2
),
grid AS (
    SELECT ty.t, d.day, coalesce(da.y, 0) AS y
    FROM (SELECT DISTINCT day FROM daily) d
    CROSS JOIN (SELECT DISTINCT t FROM daily) ty
    LEFT JOIN daily da ON da.t = ty.t AND da.day = d.day
),
cells AS (SELECT t, y, count(*) AS tk FROM grid GROUP BY 1, 2),
ranked AS (
    SELECT t, y,
           2 * coalesce(sum(tk) OVER (PARTITION BY t ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + tk + 1 AS rank2
    FROM cells
),
dr AS (
    SELECT g.t, g.day, r.rank2
    FROM grid g JOIN ranked r ON r.t = g.t AND r.y = g.y
),
agg AS (
    SELECT a.t AS ta, b.t AS tb,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a.rank2) AS BIGINT) AS sx,
           CAST(sum(b.rank2) AS BIGINT) AS sy,
           CAST(sum(a.rank2 * b.rank2) AS BIGINT) AS sxy,
           CAST(sum(a.rank2 * a.rank2) AS BIGINT) AS sxx,
           CAST(sum(b.rank2 * b.rank2) AS BIGINT) AS syy
    FROM dr a JOIN dr b ON b.day = a.day AND a.t < b.t
    GROUP BY 1, 2
)
SELECT ta AS type_a, tb AS type_b, n AS n_days,
       floor(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0 AS spearman_rho
FROM agg
ORDER BY type_a, type_b
"""


# ---------------------------------------------------------------------------
# q255 — functional-dependency audit (ext): the schema-contract check
# data-profiling suites (and every CDC/merge pipeline) run before
# trusting a key — does LHS determine RHS? Six candidate FDs across
# four tables, each ONE groupBy(lhs).countDistinct(rhs) rollup
# collapsed to (groups, violating groups, worst fan-out, holds).
# Deliberately mixes FDs that hold (the PK-derived ones) with ones
# that don't — including (l_orderkey, l_linenumber) -> l_partkey,
# which a TPC-H reader ASSUMES is a key but the synthetic generator
# violates: exactly the silent contract drift this audit exists to
# catch. Both verdict branches are exercised. All integers.
# Scale: each FD is a single map-side-combinable rollup on its own
# key; no FD ever materializes violating ROWS (counts only).
# ---------------------------------------------------------------------------
def q255_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(df, name: str, lhs: list[str], rhs: str) -> DataFrame:
        g = df.groupBy(*lhs).agg(F.count_distinct(rhs).alias("d"))
        return g.agg(
            F.lit(name).alias("fd"),
            F.count("*").cast("long").alias("n_groups"),
            F.sum((F.col("d") > 1).cast("long")).cast("long").alias("n_violating"),
            F.max("d").cast("long").alias("max_fanout"),
        ).select(
            "fd",
            "n_groups",
            "n_violating",
            "max_fanout",
            (F.col("n_violating") == 0).cast("int").alias("holds"),
        )

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    ev = load(spark, sf_dir, "events")
    frames = [
        audit(orders, "orders: o_orderkey -> o_custkey", ["o_orderkey"], "o_custkey"),
        audit(orders, "orders: o_custkey -> o_orderpriority",
              ["o_custkey"], "o_orderpriority"),
        audit(cust, "customer: c_custkey -> c_nationkey",
              ["c_custkey"], "c_nationkey"),
        audit(li, "lineitem: (l_orderkey,l_linenumber) -> l_partkey",
              ["l_orderkey", "l_linenumber"], "l_partkey"),
        audit(li, "lineitem: l_orderkey -> l_suppkey", ["l_orderkey"], "l_suppkey"),
        audit(ev, "events: user_id -> event_type", ["user_id"], "event_type"),
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.union(fr)
    return out.orderBy("fd")


def _q255_fd_sql(table: str, name: str, lhs: list[str], rhs: str) -> str:
    keys = ", ".join(lhs)
    return f"""SELECT '{name}' AS fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       CAST(max(d) AS BIGINT) AS max_fanout,
       CAST(CASE WHEN sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0
                 THEN 1 ELSE 0 END AS INTEGER) AS holds
FROM (SELECT {keys}, count(DISTINCT {rhs}) AS d FROM {table} GROUP BY {keys})"""


Q255_SQL = (
    "\nUNION ALL\n".join(
        [
            _q255_fd_sql("orders", "orders: o_orderkey -> o_custkey",
                         ["o_orderkey"], "o_custkey"),
            _q255_fd_sql("orders", "orders: o_custkey -> o_orderpriority",
                         ["o_custkey"], "o_orderpriority"),
            _q255_fd_sql("customer", "customer: c_custkey -> c_nationkey",
                         ["c_custkey"], "c_nationkey"),
            _q255_fd_sql(
                "lineitem",
                "lineitem: (l_orderkey,l_linenumber) -> l_partkey",
                ["l_orderkey", "l_linenumber"], "l_partkey"),
            _q255_fd_sql("lineitem", "lineitem: l_orderkey -> l_suppkey",
                         ["l_orderkey"], "l_suppkey"),
            _q255_fd_sql("events", "events: user_id -> event_type",
                         ["user_id"], "event_type"),
        ]
    )
    + "\nORDER BY fd"
)


# ---------------------------------------------------------------------------
# q256 — column-entropy encodability profile (ext): the storage-
# planning readout behind every dictionary/RLE encoding decision
# (q253 assigns the dictionary; this measures whether one is worth
# it) — Shannon entropy, distinct count, and top-value share for the
# low-cardinality columns across four tables. H = −Σ p·ln p over each
# column's value histogram with per-value terms floor-scaled to exact
# integers (q236 pattern — groupBy sums have no deterministic float
# order); normalized entropy H/ln(k) says how far from uniform the
# column sits (≈1 ⇒ dictionary ids are incompressible; ≪1 ⇒ RLE/
# dictionary wins). One map-side-combinable rollup per column.
# ---------------------------------------------------------------------------
_Q256_SCALE = 1_000_000_000_000


def q256_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    def profile(df, table: str, col: str) -> DataFrame:
        cells = df.select(F.col(col).cast("string").alias("v")).groupBy("v").agg(
            F.count("*").alias("c")
        )
        tot = cells.agg(
            F.sum("c").cast("long").alias("n"),
            F.count("*").cast("long").alias("k"),
            F.max("c").cast("long").alias("top_c"),
        )
        p = F.col("c").cast("double") / F.col("n").cast("double")
        scaled = cells.crossJoin(F.broadcast(tot)).select(
            "n",
            "k",
            "top_c",
            F.floor(-p * F.log(p) * F.lit(float(_Q256_SCALE)))
            .cast("long")
            .alias("hs"),
        )
        agg = scaled.groupBy("n", "k", "top_c").agg(F.sum("hs").alias("h_sum"))
        h = F.col("h_sum").cast("double") / F.lit(float(_Q256_SCALE))
        r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
        return agg.select(
            F.lit(f"{table}.{col}").alias("column_name"),
            F.col("n").alias("n_rows"),
            F.col("k").alias("n_distinct"),
            r6(F.col("top_c").cast("double") / F.col("n").cast("double")).alias(
                "top_share"
            ),
            r6(h / F.log(F.lit(2.0))).alias("entropy_bits"),
            F.when(F.col("k") > 1, r6(h / F.log(F.col("k").cast("double"))))
            .otherwise(F.lit(0.0))
            .alias("norm_entropy"),
        )

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    ev = load(spark, sf_dir, "events")
    docs = load(spark, sf_dir, "documents")
    frames = [
        profile(orders, "orders", "o_orderpriority"),
        profile(orders, "orders", "o_orderstatus"),
        profile(cust, "customer", "c_mktsegment"),
        profile(cust, "customer", "c_nationkey"),
        profile(li, "lineitem", "l_returnflag"),
        profile(ev, "events", "event_type"),
        profile(docs, "documents", "lang"),
        profile(docs, "documents", "source"),
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.union(fr)
    return out.orderBy("column_name")


def _q256_profile_sql(table: str, col: str) -> str:
    return f"""SELECT '{table}.{col}' AS column_name,
       any_value(n) AS n_rows,
       any_value(k) AS n_distinct,
       floor(CAST(any_value(top_c) AS DOUBLE) / any_value(n) * 1000000 + 0.5)
           / 1000000.0 AS top_share,
       floor(CAST(sum(hs) AS DOUBLE) / {_Q256_SCALE} / ln(2.0)
             * 1000000 + 0.5) / 1000000.0 AS entropy_bits,
       CASE WHEN any_value(k) > 1
            THEN floor(CAST(sum(hs) AS DOUBLE) / {_Q256_SCALE}
                       / ln(CAST(any_value(k) AS DOUBLE))
                       * 1000000 + 0.5) / 1000000.0
            ELSE 0.0 END AS norm_entropy
FROM (
    SELECT ce.c, t.n, t.k, t.top_c,
           CAST(floor(-(CAST(ce.c AS DOUBLE) / t.n)
                      * ln(CAST(ce.c AS DOUBLE) / t.n)
                      * {_Q256_SCALE}) AS BIGINT) AS hs
    FROM (SELECT CAST({col} AS VARCHAR) AS v, count(*) AS c
          FROM {table} GROUP BY 1) ce
    CROSS JOIN (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(max(c) AS BIGINT) AS top_c
        FROM (SELECT {col} AS v, count(*) AS c FROM {table} GROUP BY 1)
    ) t
)"""


Q256_SQL = (
    "\nUNION ALL\n".join(
        _q256_profile_sql(t, c)
        for t, c in [
            ("orders", "o_orderpriority"),
            ("orders", "o_orderstatus"),
            ("customer", "c_mktsegment"),
            ("customer", "c_nationkey"),
            ("lineitem", "l_returnflag"),
            ("events", "event_type"),
            ("documents", "lang"),
            ("documents", "source"),
        ]
    )
    + "\nORDER BY column_name"
)


# ---------------------------------------------------------------------------
# q258 — quantile treatment effects (ext): the A/B family's
# distribution-level readout — Welch (q213) compares MEANS, CUPED
# (q185) adjusts them, Mann–Whitney (q233) tests dominance; QTE shows
# WHERE in the distribution the arms differ (a lift confined to the
# p90 tail is invisible in the mean). Per percentile p ∈ {10,25,50,
# 75,90}: the type-1 (lower) quantile of order price per arm, its gap
# and relative gap. Quantiles come from the CENTS-DOMAIN rollup + the
# cum ≥ ⌈p·n⌉ join (q214's selection pattern) — never an exact
# percentile over a corpus-scale group (that agg buffers the whole
# group; an OOM at 100 TB). All integers until the output ratios.
# ---------------------------------------------------------------------------
_Q258_SEG = "BUILDING"
_Q258_PCTS = (10, 25, 50, 75, 90)


def q258_quantile_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import exclusive_prefix_sum

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    obs = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        (F.col("c_mktsegment") == _Q258_SEG).cast("int").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    cells = obs.groupBy("g", "cents").agg(F.count("*").alias("c"))
    pre = exclusive_prefix_sum(cells, "g", "cents", "c", out_col="cumx", levels=3)
    cum = pre.select(
        "g", "cents", (F.col("cumx") + F.col("c")).alias("cum")
    ).localCheckpoint(eager=False)  # joined at |PCTS| rank targets
    ntot = cells.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    tgt = ntot.select(
        "g",
        "n",
        F.explode(F.array(*[F.lit(p) for p in _Q258_PCTS])).alias("pct"),
    ).withColumn("r", F.expr("CAST((n * pct + 99) div 100 AS BIGINT)"))
    quants = (
        tgt.join(cum, "g")
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("g", "pct")
        .agg(F.min("cents").alias("q"))
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    a = quants.filter(F.col("g") == 1).select("pct", F.col("q").alias("q_seg"))
    b = quants.filter(F.col("g") == 0).select("pct", F.col("q").alias("q_rest"))
    return (
        a.join(b, "pct")
        .select(
            F.col("pct").cast("int").alias("pct"),
            F.col("q_seg").cast("long").alias("q_seg_cents"),
            F.col("q_rest").cast("long").alias("q_rest_cents"),
            (F.col("q_seg") - F.col("q_rest")).cast("long").alias("diff_cents"),
            r6(
                (F.col("q_seg") - F.col("q_rest")).cast("double")
                / F.col("q_rest").cast("double")
            ).alias("rel_gap"),
        )
        .orderBy("pct")
    )


Q258_SQL = f"""
WITH obs AS (
    SELECT CASE WHEN c.c_mktsegment = '{_Q258_SEG}' THEN 1 ELSE 0 END AS g,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
cells AS (SELECT g, cents, count(*) AS c FROM obs GROUP BY 1, 2),
cum AS (
    SELECT g, cents,
           sum(c) OVER (PARTITION BY g ORDER BY cents
                        ROWS UNBOUNDED PRECEDING) AS cum
    FROM cells
),
ntot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1),
tgt AS (
    SELECT g, n, pct, CAST((n * pct + 99) // 100 AS BIGINT) AS r
    FROM ntot, unnest([{", ".join(str(p) for p in _Q258_PCTS)}]) AS t(pct)
),
quants AS (
    SELECT t.g, t.pct, min(c.cents) AS q
    FROM tgt t JOIN cum c ON c.g = t.g AND c.cum >= t.r
    GROUP BY 1, 2
)
SELECT CAST(a.pct AS INTEGER) AS pct,
       a.q AS q_seg_cents,
       b.q AS q_rest_cents,
       CAST(a.q - b.q AS BIGINT) AS diff_cents,
       floor(CAST(a.q - b.q AS DOUBLE) / CAST(b.q AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS rel_gap
FROM quants a JOIN quants b ON b.pct = a.pct AND b.g = 0
WHERE a.g = 1
ORDER BY pct
"""


# ---------------------------------------------------------------------------
# q259 — overdispersion / burstiness index (ext): is each event
# stream Poisson-steady or bursty? The variance-to-mean dispersion
# index D = s²/ȳ (D≈1 ⇒ Poisson; D≫1 ⇒ clumped arrivals) decides
# whether rate-based capacity models apply — the arrival-process
# complement of q246's value-tail Hill index. D and the χ² = D·(n−1)
# statistic are EXACT rationals from integer daily-count sums
# ((n·S₂−S₁²)/((n−1)·S₁)); the Poisson-rejection flag at the χ²
# 95th percentile is an exact cross-multiplied comparison.
# ---------------------------------------------------------------------------
def q259_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("t"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("y"))
    agg = daily.groupBy("t").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s2"),
    )
    nd = F.col("n").cast("double")
    d_num = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    disp = d_num / ((nd - F.lit(1.0)) * F.col("s1").cast("double"))
    chi = disp * (nd - F.lit(1.0))
    # normal-approximation 97.5% bound for chi2(n-1): (n-1) + 2*sqrt(2(n-1))
    bound = (nd - F.lit(1.0)) + F.lit(2.0) * F.sqrt(F.lit(2.0) * (nd - F.lit(1.0)))
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    return agg.select(
        F.col("t").alias("event_type"),
        F.col("n").alias("n_days"),
        F.col("s1").alias("total_events"),
        r4(disp).alias("dispersion"),
        r4(chi).alias("chi2"),
        (chi > bound).cast("int").alias("bursty"),
    ).orderBy("event_type")


Q259_SQL = """
WITH daily AS (
    SELECT event_type AS t, date_trunc('day', ts) AS day, count(*) AS y
    FROM events GROUP BY 1, 2
),
agg AS (
    SELECT t, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS s1,
           CAST(sum(y * y) AS BIGINT) AS s2
    FROM daily GROUP BY 1
)
SELECT t AS event_type,
       n AS n_days,
       s1 AS total_events,
       floor(CAST(n * s2 - s1 * s1 AS DOUBLE)
             / ((CAST(n AS DOUBLE) - 1.0) * CAST(s1 AS DOUBLE))
             * 10000 + 0.5) / 10000.0 AS dispersion,
       floor(CAST(n * s2 - s1 * s1 AS DOUBLE)
             / ((CAST(n AS DOUBLE) - 1.0) * CAST(s1 AS DOUBLE))
             * (CAST(n AS DOUBLE) - 1.0) * 10000 + 0.5) / 10000.0 AS chi2,
       CAST(CASE WHEN CAST(n * s2 - s1 * s1 AS DOUBLE)
                      / ((CAST(n AS DOUBLE) - 1.0) * CAST(s1 AS DOUBLE))
                      * (CAST(n AS DOUBLE) - 1.0)
                      > (CAST(n AS DOUBLE) - 1.0)
                        + 2.0 * sqrt(2.0 * (CAST(n AS DOUBLE) - 1.0))
                 THEN 1 ELSE 0 END AS INTEGER) AS bursty
FROM agg
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q262 — A/A-test calibration (ext): the experimentation platform's
# own health check — run the q213 Welch machinery over S INDEPENDENT
# null splits (md5-salted per-order arms of the SAME population) and
# report each split's t statistic plus the false-positive rate, which
# must sit near α (a platform whose A/A FP rate is 20% ships lies).
# One corpus pass, NO S× fan-out: all S seed-arms are computed as
# expression COLUMNS and folded in a single groupless aggregate
# (6·S exact DECIMAL sums); every downstream number is pure
# fixed-shape double algebra on that 1-row frame. Completes the
# experiment family (q213 Welch → q185 CUPED → q233 MW → q258 QTE →
# q240 log-rank) with the meta-test that validates them.
# ---------------------------------------------------------------------------
_Q262_SEEDS = 20
_Q262_TCRIT = 1.959964


def q262_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import sample_key_expr

    orders = load(spark, sf_dir, "orders")
    q = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    cols = []
    for s in range(_Q262_SEEDS):
        arm = F.pmod(sample_key_expr("o_orderkey", salt=f"aa{s}"), F.lit(2))
        qd = F.col("_q").cast("decimal(38,0)")
        cols += [
            F.sum(F.when(arm == 1, 1).otherwise(0)).alias(f"n1_{s}"),
            F.sum(F.when(arm == 1, qd).otherwise(F.lit(0).cast("decimal(38,0)"))).alias(f"s1_{s}"),
            F.sum(F.when(arm == 1, qd * qd).otherwise(F.lit(0).cast("decimal(38,0)"))).alias(f"ss1_{s}"),
            F.sum(F.when(arm == 0, 1).otherwise(0)).alias(f"n0_{s}"),
            F.sum(F.when(arm == 0, qd).otherwise(F.lit(0).cast("decimal(38,0)"))).alias(f"s0_{s}"),
            F.sum(F.when(arm == 0, qd * qd).otherwise(F.lit(0).cast("decimal(38,0)"))).alias(f"ss0_{s}"),
        ]
    base = orders.select(F.col("o_orderkey"), q.alias("_q")).agg(*cols)
    # One corpus pass total: the S per-seed rows are UNPACKED from the
    # single 1-row aggregate with explode(array(struct...)) — the old
    # S-way union of base.select(...) embedded S copies of the full
    # aggregation subtree (Catalyst does not dedupe them: 21 scheduler
    # jobs / 20 corpus aggregations to materialize). Same expressions,
    # same values per seed.
    seed_structs = []
    for s in range(_Q262_SEEDS):
        n1 = F.col(f"n1_{s}").cast("double")
        n0 = F.col(f"n0_{s}").cast("double")
        v1 = (
            n1 * F.col(f"ss1_{s}").cast("double")
            - F.col(f"s1_{s}").cast("double") * F.col(f"s1_{s}").cast("double")
        ) / (n1 * (n1 - F.lit(1.0)))
        v0 = (
            n0 * F.col(f"ss0_{s}").cast("double")
            - F.col(f"s0_{s}").cast("double") * F.col(f"s0_{s}").cast("double")
        ) / (n0 * (n0 - F.lit(1.0)))
        t = (
            F.col(f"s1_{s}").cast("double") / n1
            - F.col(f"s0_{s}").cast("double") / n0
        ) / F.sqrt(v1 / n1 + v0 / n0)
        seed_structs.append(
            F.struct(
                F.lit(s).alias("seed"),
                F.col(f"n1_{s}").cast("long").alias("n1"),
                F.col(f"n0_{s}").cast("long").alias("n0"),
                t.alias("_t"),
            )
        )
    out = (
        base.select(F.explode(F.array(*seed_structs)).alias("r"))
        .select("r.seed", "r.n1", "r.n0", "r._t")
    )
    out = out.localCheckpoint(eager=False)  # feeds rows + FP-rate rollup
    fp = out.agg(
        F.sum((F.abs(F.col("_t")) > _Q262_TCRIT).cast("long")).alias("n_fp")
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    return (
        out.crossJoin(F.broadcast(fp))
        .select(
            F.col("seed").cast("int").alias("seed"),
            "n1",
            "n0",
            r4(F.col("_t")).alias("t_stat"),
            (F.abs(F.col("_t")) > _Q262_TCRIT).cast("int").alias("false_positive"),
            r4(F.col("n_fp").cast("double") / F.lit(float(_Q262_SEEDS))).alias(
                "fp_rate"
            ),
        )
        .orderBy("seed")
    )


def _q262_seed_sql(s: int) -> str:
    arm = (
        f"CAST(CAST('0x' || substring(md5('aa{s}:' || CAST(o_orderkey AS"
        f" VARCHAR)), 1, 8) AS BIGINT) % 2 AS INTEGER)"
    )
    return f"""SELECT {s} AS seed,
       CAST(sum(CASE WHEN {arm} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(sum(CASE WHEN {arm} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
       CAST(sum(CASE WHEN {arm} = 1 THEN q ELSE 0 END) AS HUGEINT) AS s1,
       CAST(sum(CASE WHEN {arm} = 1 THEN q * q ELSE 0 END) AS HUGEINT) AS ss1,
       CAST(sum(CASE WHEN {arm} = 0 THEN q ELSE 0 END) AS HUGEINT) AS s0,
       CAST(sum(CASE WHEN {arm} = 0 THEN q * q ELSE 0 END) AS HUGEINT) AS ss0
FROM (SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS HUGEINT) AS q
      FROM orders)"""


Q262_SQL = (
    "WITH per_seed AS (\n"
    + "\nUNION ALL\n".join(_q262_seed_sql(s) for s in range(_Q262_SEEDS))
    + f"""
),
scored AS (
    SELECT seed, n1, n0,
           (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
           / sqrt((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))
                  / CAST(n1 AS DOUBLE)
                  + (CAST(n0 AS DOUBLE) * CAST(ss0 AS DOUBLE)
                     - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                    / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0))
                    / CAST(n0 AS DOUBLE)) AS t
    FROM per_seed
),
fp AS (
    SELECT CAST(sum(CASE WHEN abs(t) > {_Q262_TCRIT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fp
    FROM scored
)
SELECT CAST(s.seed AS INTEGER) AS seed,
       s.n1, s.n0,
       floor(s.t * 10000 + 0.5) / 10000.0 AS t_stat,
       CAST(CASE WHEN abs(s.t) > {_Q262_TCRIT} THEN 1 ELSE 0 END
            AS INTEGER) AS false_positive,
       floor(CAST(f.n_fp AS DOUBLE) / {float(_Q262_SEEDS)!r} * 10000 + 0.5)
           / 10000.0 AS fp_rate
FROM scored s CROSS JOIN fp f
ORDER BY seed
"""
)


# ---------------------------------------------------------------------------
# q264 — group-fairness audit (ext): the responsible-deployment
# readout no eval family is complete without — does a decision rule
# treat cohorts equally? Rule under audit: "expedite orders with
# URGENT/HIGH priority" (ŷ); realized outcome: "the order had a
# returned line item" (y, one semi-join flag). Per market segment:
# selection rate, TPR, FPR (exact integer ratios), demographic-parity
# ratio vs the overall selection rate with the EEOC 80%-rule flag,
# and the equalized-odds gaps (TPR/FPR deltas vs overall). Scale: one
# orders⋈customer join, one orderkey semi-join for the outcome flag,
# one groupBy — counts only.
# ---------------------------------------------------------------------------
def q264_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
        .withColumn("y", F.lit(1))
    )
    obs = (
        orders.join(
            cust.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(returned, "o_orderkey", "left")
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            .cast("long")
            .alias("yh"),
            F.coalesce("y", F.lit(0)).cast("long").alias("y"),
        )
    )
    g = obs.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yh").cast("long").alias("sel"),
        F.sum("y").cast("long").alias("pos"),
        F.sum(F.col("yh") * F.col("y")).cast("long").alias("tp"),
        F.sum(F.col("yh") * (1 - F.col("y"))).cast("long").alias("fp"),
    ).localCheckpoint(eager=False)  # rows + overall fold
    tot = g.agg(
        F.sum("n").alias("n_t"),
        F.sum("sel").alias("sel_t"),
        F.sum("pos").alias("pos_t"),
        F.sum("tp").alias("tp_t"),
        F.sum("fp").alias("fp_t"),
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    sr = F.col("sel").cast("double") / F.col("n").cast("double")
    sr_t = F.col("sel_t").cast("double") / F.col("n_t").cast("double")
    tpr = F.col("tp").cast("double") / F.col("pos").cast("double")
    tpr_t = F.col("tp_t").cast("double") / F.col("pos_t").cast("double")
    fpr = F.col("fp").cast("double") / (F.col("n") - F.col("pos")).cast("double")
    fpr_t = F.col("fp_t").cast("double") / (
        F.col("n_t") - F.col("pos_t")
    ).cast("double")
    dp = sr / sr_t
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "n",
            "sel",
            "pos",
            r6(sr).alias("sel_rate"),
            r6(tpr).alias("tpr"),
            r6(fpr).alias("fpr"),
            r4(dp).alias("dp_ratio"),
            (dp < F.lit(0.8)).cast("int").alias("fails_80pct_rule"),
            r4(tpr - tpr_t).alias("eo_tpr_gap"),
            r4(fpr - fpr_t).alias("eo_fpr_gap"),
        )
        .orderBy("seg")
    )


Q264_SQL = """
WITH returned AS (
    SELECT DISTINCT l_orderkey AS o_orderkey, 1 AS y
    FROM lineitem WHERE l_returnflag = 'R'
),
obs AS (
    SELECT c.c_mktsegment AS seg,
           CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END AS yh,
           coalesce(r.y, 0) AS y
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    LEFT JOIN returned r ON r.o_orderkey = o.o_orderkey
),
g AS (
    SELECT seg, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(yh) AS BIGINT) AS sel,
           CAST(sum(y) AS BIGINT) AS pos,
           CAST(sum(yh * y) AS BIGINT) AS tp,
           CAST(sum(yh * (1 - y)) AS BIGINT) AS fp
    FROM obs GROUP BY 1
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS n_t, CAST(sum(sel) AS BIGINT) AS sel_t,
           CAST(sum(pos) AS BIGINT) AS pos_t, CAST(sum(tp) AS BIGINT) AS tp_t,
           CAST(sum(fp) AS BIGINT) AS fp_t
    FROM g
)
SELECT g.seg, g.n, g.sel, g.pos,
       floor(CAST(g.sel AS DOUBLE) / CAST(g.n AS DOUBLE) * 1000000 + 0.5)
           / 1000000.0 AS sel_rate,
       floor(CAST(g.tp AS DOUBLE) / CAST(g.pos AS DOUBLE) * 1000000 + 0.5)
           / 1000000.0 AS tpr,
       floor(CAST(g.fp AS DOUBLE) / CAST(g.n - g.pos AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS fpr,
       floor((CAST(g.sel AS DOUBLE) / CAST(g.n AS DOUBLE))
             / (CAST(t.sel_t AS DOUBLE) / CAST(t.n_t AS DOUBLE))
             * 10000 + 0.5) / 10000.0 AS dp_ratio,
       CAST(CASE WHEN (CAST(g.sel AS DOUBLE) / CAST(g.n AS DOUBLE))
                      / (CAST(t.sel_t AS DOUBLE) / CAST(t.n_t AS DOUBLE))
                      < 0.8
                 THEN 1 ELSE 0 END AS INTEGER) AS fails_80pct_rule,
       floor((CAST(g.tp AS DOUBLE) / CAST(g.pos AS DOUBLE)
              - CAST(t.tp_t AS DOUBLE) / CAST(t.pos_t AS DOUBLE))
             * 10000 + 0.5) / 10000.0 AS eo_tpr_gap,
       floor((CAST(g.fp AS DOUBLE) / CAST(g.n - g.pos AS DOUBLE)
              - CAST(t.fp_t AS DOUBLE) / CAST(t.n_t - t.pos_t AS DOUBLE))
             * 10000 + 0.5) / 10000.0 AS eo_fpr_gap
FROM g CROSS JOIN tot t
ORDER BY g.seg
"""


# ---------------------------------------------------------------------------
# q266 — L-moments distribution profile (ext): the order-statistics
# alternative to classical moments — L-CV, L-skewness and L-kurtosis
# exist whenever the MEAN exists (q246's heavy tails break classical
# skew/kurtosis), are bounded in [−1,1], and are the standard
# regional-frequency-analysis fingerprint. Exact with NO global sort:
# probability-weighted moments b_r need Σᵢ C(i−1,r)·x₍ᵢ₎, and over a
# tie block of count c at rank offset u the hockey-stick identity
# gives Σ C(i−1,r) = C(u+c, r+1) − C(u, r+1) — so per-nation prefix
# offsets (exclusive_prefix_sum over the cents domain, the q243
# machinery) turn the whole thing into cell-local DECIMAL(38)
# binomial algebra (consecutive-integer products keep every `div`
# exact; C(n,4)·v stays within 38 digits for per-nation n up to
# ~10⁷ — documented bound). λ's and ratios are doubles at the end.
# ---------------------------------------------------------------------------
def q266_lmoments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import exclusive_prefix_sum

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    obs = orders.join(
        cust.select("c_custkey", "c_nationkey"),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    cells = (
        obs.groupBy("nat", "v")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # prefix hierarchy re-references
    )
    pre = exclusive_prefix_sum(cells, "nat", "v", "c", out_col="u", levels=3)

    def falling(m, k: int):
        # falling factorial P(m, k) = m(m-1)...(m-k+1) in DECIMAL(38,0):
        # NO division (Spark's decimal `div` narrows to LONG and
        # overflows) — the k! divisor moves into the final double b_r
        num = "CAST(" + m + " AS DECIMAL(38,0))"
        for j in range(1, k):
            num = f"({num} * ({m} - {j}))"
        return num

    terms = pre.selectExpr(
        "nat",
        "CAST(c AS DECIMAL(38,0)) * v AS s0",
        *[
            f"({falling('(u + c)', r + 1)} - {falling('u', r + 1)})"
            f" * v AS s{r}"
            for r in range(1, 4)
        ],
    )
    agg = terms.groupBy("nat").agg(
        F.sum("s0").alias("S0"),
        F.sum("s1").alias("S1"),
        F.sum("s2").alias("S2"),
        F.sum("s3").alias("S3"),
        F.count("*").alias("_cells"),
    )
    n_nat = cells.groupBy("nat").agg(F.sum("c").cast("long").alias("n"))
    j = agg.join(n_nat, "nat")
    nd = F.col("n").cast("double")

    # b_r = (S_r / (r+1)!) / (n·C(n−1,r)); folding the factorials gives
    # the flat divisors below (2, 3, 4 — not factorials: (r+1)!/r! ... )
    b0 = F.col("S0").cast("double") / nd
    b1 = F.col("S1").cast("double") / (
        F.lit(2.0) * nd * (nd - F.lit(1.0))
    )
    b2 = F.col("S2").cast("double") / (
        F.lit(3.0) * nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0))
    )
    b3 = F.col("S3").cast("double") / (
        F.lit(4.0) * nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0))
        * (nd - F.lit(3.0))
    )
    l1 = b0
    l2 = 2 * b1 - b0
    l3 = 6 * b2 - 6 * b1 + b0
    l4 = 20 * b3 - 30 * b2 + 12 * b1 - b0
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / F.lit(10000.0)
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    return j.select(
        F.col("nat").cast("int").alias("nat"),
        F.col("n"),
        r4(l1).alias("l1_cents"),
        r4(l2).alias("l2_cents"),
        r6(l2 / l1).alias("l_cv"),
        r6(l3 / l2).alias("l_skew"),
        r6(l4 / l2).alias("l_kurt"),
    ).orderBy("nat")


def _q266_falling(m: str, k: int) -> str:
    num = f"CAST({m} AS HUGEINT)"
    for j in range(1, k):
        num = f"({num} * ({m} - {j}))"
    return num


Q266_SQL = f"""
WITH obs AS (
    SELECT c.c_nationkey AS nat,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS v
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
cells AS (SELECT nat, v, count(*) AS c FROM obs GROUP BY 1, 2),
pre AS (
    SELECT nat, v, c,
           coalesce(sum(c) OVER (PARTITION BY nat ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS u
    FROM cells
),
agg AS (
    SELECT nat,
           sum(CAST(c AS HUGEINT) * v) AS S0,
           sum(({_q266_falling('(u + c)', 2)} - {_q266_falling('u', 2)}) * v)
               AS S1,
           sum(({_q266_falling('(u + c)', 3)} - {_q266_falling('u', 3)}) * v)
               AS S2,
           sum(({_q266_falling('(u + c)', 4)} - {_q266_falling('u', 4)}) * v)
               AS S3,
           CAST(sum(c) AS BIGINT) AS n
    FROM pre GROUP BY 1
),
lm AS (
    SELECT nat, n,
           CAST(S0 AS DOUBLE) / n AS b0,
           CAST(S1 AS DOUBLE)
               / (2.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
               AS b1,
           CAST(S2 AS DOUBLE)
               / (3.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                  * (CAST(n AS DOUBLE) - 2.0)) AS b2,
           CAST(S3 AS DOUBLE)
               / (4.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                  * (CAST(n AS DOUBLE) - 2.0)
                  * (CAST(n AS DOUBLE) - 3.0)) AS b3
    FROM agg
)
SELECT CAST(nat AS INTEGER) AS nat, n,
       floor(b0 * 10000 + 0.5) / 10000.0 AS l1_cents,
       floor((2 * b1 - b0) * 10000 + 0.5) / 10000.0 AS l2_cents,
       floor((2 * b1 - b0) / b0 * 1000000 + 0.5) / 1000000.0 AS l_cv,
       floor((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0) * 1000000 + 0.5)
           / 1000000.0 AS l_skew,
       floor((20 * b3 - 30 * b2 + 12 * b1 - b0) / (2 * b1 - b0)
             * 1000000 + 0.5) / 1000000.0 AS l_kurt
FROM lm
ORDER BY nat
"""


QUERIES = [
    Query("q266_lmoments", q266_lmoments, Q266_SQL,
          survey="ext:l-moments,ext:data-profiling,ext:robust-outlier-qa,"
                 "ext:prefix-scan"),
    Query("q264_fairness_audit", q264_fairness_audit, Q264_SQL,
          survey="ext:fairness-audit,ext:model-eval,ext:ab-experiment,"
                 "ext:data-profiling"),
    Query("q262_aa_calibration", q262_aa_calibration, Q262_SQL,
          survey="ext:aa-calibration,ext:ab-experiment,ext:hash-sampling,"
                 "ext:welch-ttest",
          tags=("bench",)),
    Query("q258_quantile_effects", q258_quantile_effects, Q258_SQL,
          survey="ext:quantile-effects,ext:ab-experiment,ext:percentiles,"
                 "ext:prefix-scan"),
    Query("q259_dispersion_index", q259_dispersion_index, Q259_SQL,
          survey="ext:dispersion-index,ext:data-profiling,"
                 "ext:rolling-anomaly"),
    Query("q256_column_entropy", q256_column_entropy, Q256_SQL,
          survey="ext:column-entropy,ext:dict-encoding,ext:data-profiling"),
    Query("q255_fd_audit", q255_fd_audit, Q255_SQL,
          survey="ext:fd-audit,ext:data-profiling,ext:referential-integrity"),
    Query("q252_spearman_matrix", q252_spearman_matrix, Q252_SQL,
          survey="ext:spearman-matrix,ext:correlation-matrix,"
                 "ext:robust-outlier-qa,ext:data-profiling"),
    Query("q72_profile_documents", q72_profile_documents, Q72_SQL,
          survey="ext:data-profiling,A13,S8"),
    Query("q73_event_type_drift", q73_event_type_drift, Q73_SQL,
          survey="ext:drift-psi,A2,W2"),
    Query("q196_ks_drift", q196_ks_drift, Q196_SQL,
          survey="ext:ks-drift,ext:drift-psi,ext:quantile-digest,A7"),
    Query("q209_stream_ks_drift", q209_stream_ks_drift, Q209_SQL,
          survey="ext:ks-drift,ext:drift-psi,ST6,ST1", tags=("bench",)),
    Query("q197_chisq_independence", q197_chisq_independence, Q197_SQL,
          survey="ext:chisq-independence,ext:data-profiling,J1,A4"),
    Query("q201_signtest_bh", q201_signtest_bh, Q201_SQL,
          survey="ext:signtest-bh-fdr,ext:forecast-backtest,ext:drift-psi"),
    Query("q202_skew_profiler", q202_skew_profiler, Q202_SQL,
          survey="ext:skew-profiler,ext:salted-aggregation,ext:data-profiling,A2"),
    Query("q213_welch_ttest", q213_welch_ttest, Q213_SQL,
          survey="ext:welch-ttest,ext:ab-experiment,ext:incremental-stats"),
    Query("q233_mannwhitney_auc", q233_mannwhitney_auc, Q233_SQL,
          survey="ext:mannwhitney-auc,ext:ab-experiment,ext:prefix-scan,"
                 "ext:model-eval", tags=("bench",)),
    Query("q235_tcloseness_audit", q235_tcloseness_audit, Q235_SQL,
          survey="ext:tcloseness-audit,ext:ldiversity-audit,"
                 "ext:kanonymity-audit,ext:pii-redaction"),
    Query("q237_isotonic_calibration", q237_isotonic_calibration, Q237_SQL,
          survey="ext:isotonic-calibration,ext:calibration-ece,"
                 "ext:model-eval,ext:prefix-scan"),
    Query("q242_benford_audit", q242_benford_audit, Q242_SQL,
          survey="ext:benford-audit,ext:data-profiling,ext:chisq-independence"),
    Query("q245_eb_shrinkage", q245_eb_shrinkage, Q245_SQL,
          survey="ext:eb-shrinkage,ext:quality-classifier,ext:model-eval,"
                 "ext:incremental-stats",
          tags=("bench",)),
    Query("q246_hill_tail_index", q246_hill_tail_index, Q246_SQL,
          survey="ext:hill-tail-index,ext:skew-profiler,ext:data-profiling"),
    Query("q243_gini_concentration", q243_gini_concentration, Q243_SQL,
          survey="ext:gini-concentration,ext:skew-profiler,ext:prefix-scan,"
                 "ext:data-profiling", tags=("bench",)),
    Query("q227_ldiversity_audit", q227_ldiversity_audit, Q227_SQL,
          survey="ext:ldiversity-audit,ext:kanonymity-audit,ext:pii-redaction"),
    Query("q232_retention_odds", q232_retention_odds, Q232_SQL,
          survey="ext:retention-odds,ext:retention,ext:ab-experiment"),
    Query("q204_conformal_intervals", q204_conformal_intervals, Q204_SQL,
          survey="ext:conformal-intervals,ext:calibration-ece,"
                 "ext:selection-quantile,ext:leakage-safe-split"),
    Query("q74_snapshot_diff", q74_snapshot_diff, Q74_SQL,
          survey="ext:snapshot-diff,J4,S9"),
    Query("q75_hourly_locf", q75_hourly_locf, Q75_SQL,
          survey="ext:gap-fill-locf,W4,J4", tags=("bench",)),
    Query("q76_weighted_sample", q76_weighted_sample, Q76_SQL,
          survey="ext:weighted-sampling,W3"),
    Query("q77_transition_matrix", q77_transition_matrix, Q77_SQL,
          survey="ext:transition-matrix,W1,A2"),
    Query("q85_winsorize_values", q85_winsorize_values, Q85_SQL,
          survey="ext:winsorization,A3"),
    Query("q90_quantile_drift", q90_quantile_drift, Q90_SQL,
          survey="ext:quantile-drift,A7,W2"),
    Query("q115_length_outliers", q115_length_outliers, Q115_SQL,
          survey="ext:robust-outlier-qa,A3"),
    Query("q270_classifier_training", q270_classifier_training, Q270_SQL,
          survey="ext:classifier-training,ext:quality-classifier,"
                 "ext:hashing-trick,ext:gradient-descent",
          tags=("bench",)),
    Query("q276_feature_mi", q276_feature_mi, Q276_SQL,
          survey="ext:feature-selection,ext:mutual-information,"
                 "ext:contingency-counts,ext:hashing-trick,"
                 "ext:quality-classifier",
          tags=("bench",)),
    Query("q278_classifier_cv", q278_classifier_cv, Q278_SQL,
          survey="ext:cross-validation,ext:classifier-training,"
                 "ext:leakage-safe-split,ext:quality-classifier",
          tags=("bench",)),
    Query("q117_hashed_classifier", q117_hashed_classifier, Q117_SQL,
          survey="ext:quality-classifier,ext:hash-sampling", tags=("bench",)),
    Query("q119_manifest_merge", q119_manifest_merge, Q119_SQL,
          survey="ext:incremental-stats,A3,A13"),
    Query("q131_moments_merge", q131_moments_merge, Q131_SQL,
          survey="ext:incremental-stats,ext:drift-psi,A3"),
    Query("q148_zorder_layout", q148_zorder_layout, Q148_SQL,
          survey="ext:zorder-layout,ext:data-skipping", tags=("bench",)),
    Query("q149_neyman_allocation", q149_neyman_allocation, Q149_SQL,
          survey="ext:stratified-sampling,ext:incremental-stats,ext:hash-sampling",
          tags=("bench",)),
    Query("q154_scd2_status_history", q154_scd2_status_history, Q154_SQL,
          survey="ext:scd2-history,ext:snapshot-diff,W1,W3"),
    Query("q158_kanonymity_audit", q158_kanonymity_audit, Q158_SQL,
          survey="ext:kanonymity-audit,ext:pii-redaction,A7,A13"),
    Query("q159_calibration_ece", q159_calibration_ece, Q159_SQL,
          survey="ext:calibration-ece,ext:quality-classifier,A7"),
    Query("q162_scd2_asof_join", q162_scd2_asof_join, Q162_SQL,
          survey="ext:scd2-history,ext:asof-join,J1,P9"),
    Query("q168_scd2_snapshot_apply", q168_scd2_snapshot_apply, Q168_SQL,
          survey="ext:scd2-history,ext:snapshot-diff,ext:hash-sampling,J3",
          tags=("bench",)),
    Query("q169_stream_scd2_apply", q169_stream_scd2_apply, Q169_SQL,
          survey="ext:scd2-history,ext:snapshot-diff,ST5,ST6,J3",
          tags=("bench",)),
    Query("q176_compaction_plan", q176_compaction_plan, Q176_SQL,
          survey="ext:compaction-planning,ext:range-join,"
                 "ext:incremental-stats",
          tags=("bench",)),
    Query("q182_salted_aggregation", q182_salted_aggregation, Q182_SQL,
          survey="ext:salted-aggregation,ext:global-shuffle,A2,A3",
          tags=("bench",)),
    Query("q191_referential_integrity", q191_referential_integrity,
          Q191_SQL,
          survey="ext:referential-integrity,ext:data-profiling,J2,P11"),
    Query("q187_backtest_folds", q187_backtest_folds, Q187_SQL,
          survey="ext:backtest-folds,ext:leakage-safe-split,P9,A13"),
    Query("q185_cuped_ab_test", q185_cuped_ab_test, Q185_SQL,
          survey="ext:ab-testing,ext:cuped-variance-reduction,"
                 "ext:hash-sampling,ext:incremental-stats",
          tags=("bench",)),
    Query("q183_correlation_matrix", q183_correlation_matrix, Q183_SQL,
          survey="ext:correlation-matrix,ext:data-profiling,"
                 "ext:trend-regression,ext:incremental-stats",
          tags=("bench",)),
    Query("q177_quantile_normalize", q177_quantile_normalize, Q177_SQL,
          survey="ext:quantile-normalization,ext:quantile-digest,"
                 "ext:percentiles,ext:feature-scaling",
          tags=("bench",)),
]
