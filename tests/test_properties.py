"""Property-based tests (SURVEY §5.2.5): dedup idempotency, label
totality, cleaning-chain equivalence to a pure-Python reimplementation
of the reference's regex sequence, count preservation through
annotate-joins. Hypothesis generates the data; Spark evaluates in ONE
batched pass per property (row-per-example, not session-per-example)."""

import re

from hypothesis import given, settings, strategies as st

from bbc_news_data_pipeline_spark.functions.cleaning import CLEAN_STEPS
from bbc_news_data_pipeline_spark.nlp.sentiment import (
    NEGATIVE_THRESHOLD,
    POSITIVE_THRESHOLD,
)

# --- pure-python twin of the reference chain (data_preparation.py:61-96) ---


def _clean_py(s: str) -> str:
    out = s.strip().lower()
    for pattern, repl in CLEAN_STEPS:
        out = re.sub(pattern, repl, out)
    return out.strip()


TEXTS = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"), max_codepoint=0x2FF
    ),
    max_size=80,
)


@settings(max_examples=25, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=30, unique=True))
def test_clean_chain_matches_python_twin(spark, texts):
    from bbc_news_data_pipeline_spark.functions.cleaning import clean_text_expr

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    got = {r.id: r.c for r in df.select("id", clean_text_expr("t").alias("c")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _clean_py(t), f"input {t!r}"


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.sampled_from(["aa bb", "cc dd", "ee ff"])),
        min_size=1,
        max_size=40,
    )
)
def test_exact_dedup_idempotent_and_minimal(spark, rows):
    """f(f(x)) == f(x); output has one row per distinct text, min id wins."""
    from bbc_news_data_pipeline_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(rows)], "doc_id long, text string"
    )
    once = exact_dedup(df, "text", "doc_id")
    twice = exact_dedup(once, "text", "doc_id")
    got_once = sorted(map(tuple, once.collect()))
    assert got_once == sorted(map(tuple, twice.collect()))
    expect = {}
    for i, (_, t) in enumerate(rows):
        expect.setdefault(t, i)
    assert got_once == sorted((i, t) for t, i in expect.items())


@settings(max_examples=200, deadline=None)
@given(st.floats(min_value=-1.0, max_value=1.0, allow_nan=False))
def test_sentiment_label_total_partition(score):
    """Every score maps to exactly one label (F26 totality) — evaluated on
    the plain-python twin of the when/otherwise chain."""
    labels = [
        "positive" if score >= POSITIVE_THRESHOLD else None,
        "negative" if score <= NEGATIVE_THRESHOLD else None,
        "neutral" if NEGATIVE_THRESHOLD < score < POSITIVE_THRESHOLD else None,
    ]
    assert sum(x is not None for x in labels) == 1


# --- custom join operators vs brute-force references -----------------------

from datetime import datetime, timedelta

_BASE = datetime(2024, 1, 1)

# (key, seconds-offset) pairs; small domains force key collisions and
# equal-timestamp ties — exactly the edge cases the window trick must get
# right.
_EVENTS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=25
)


@settings(max_examples=20, deadline=None)
@given(left=_EVENTS, right=_EVENTS)
def test_asof_join_matches_bruteforce(spark, left, right):
    from bbc_news_data_pipeline_spark.operators.curation import asof_join

    lrows = [(k, _BASE + timedelta(seconds=s), i) for i, (k, s) in enumerate(left)]
    # dedupe right on (key, ts): operator contract (deterministic winner)
    seen, rrows = set(), []
    for j, (k, s) in enumerate(right):
        if (k, s) not in seen:
            seen.add((k, s))
            rrows.append((k, _BASE + timedelta(seconds=s), j))
    ldf = spark.createDataFrame(lrows or [(0, _BASE, -1)], "k long, ts timestamp, lid long")
    rdf = spark.createDataFrame(rrows or [(99, _BASE, -1)], "k long, ts timestamp, rid long")
    for strict in (False, True):
        got = {
            r.lid: r.rid
            for r in asof_join(ldf, rdf, "k", "ts", "ts", ["rid"], strict=strict).collect()
        }
        for k, ts, lid in ([(0, _BASE, -1)] if not lrows else lrows):
            cand = [
                (rts, rid)
                for rk, rts, rid in (rrows or [(99, _BASE, -1)])
                if rk == k and (rts < ts if strict else rts <= ts)
            ]
            expect = max(cand)[1] if cand else None
            assert got[lid] == expect, (strict, k, ts, lid)


@settings(max_examples=20, deadline=None)
@given(left=_EVENTS, right=_EVENTS, window=st.integers(1, 40))
def test_range_join_matches_bruteforce(spark, left, right, window):
    from bbc_news_data_pipeline_spark.operators.timeseries import binned_range_join

    lrows = [(k, _BASE + timedelta(seconds=s), i) for i, (k, s) in enumerate(left)]
    rrows = [(k, _BASE + timedelta(seconds=s), j) for j, (k, s) in enumerate(right)]
    ldf = spark.createDataFrame(lrows or [(0, _BASE, -1)], "k long, ts timestamp, lid long")
    rdf = spark.createDataFrame(rrows or [(99, _BASE, -1)], "k long, rts timestamp, rid long")
    got = sorted(
        (r.lid, r.rid)
        for r in binned_range_join(ldf, rdf, "k", "ts", "rts", window).collect()
    )
    expect = sorted(
        (lid, rid)
        for lk, lts, lid in (lrows or [(0, _BASE, -1)])
        for rk, rts, rid in (rrows or [(99, _BASE, -1)])
        if lk == rk and timedelta(0) < lts - rts <= timedelta(seconds=window)
    )
    assert got == expect


def test_annotate_join_preserves_counts(spark):
    """J1 contract: attaching topic words via a left join must not drop or
    duplicate article rows, even with missing and duplicate dim keys."""
    from pyspark.sql import functions as F

    articles = spark.createDataFrame(
        [(i, i % 4) for i in range(100)], "doc_id long, topic_id int"
    )
    dim = spark.createDataFrame(
        [(0, "a b"), (1, "c d"), (2, "e f")], "topic_id int, words string"
    )  # topic 3 missing → null words, fillna("") reference semantics
    out = articles.join(F.broadcast(dim), "topic_id", "left").na.fill({"words": ""})
    assert out.count() == 100
    assert out.select("doc_id").distinct().count() == 100
    assert out.filter((F.col("topic_id") == 3) & (F.col("words") == "")).count() == 25


# --------------------------------------------------------------------------
# EWMA operator vs pandas' independent ewm implementation
# --------------------------------------------------------------------------
_SERIES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),              # key
        st.integers(min_value=0, max_value=50),             # order
        st.floats(min_value=-1e3, max_value=1e3,
                  allow_nan=False, allow_infinity=False),   # value
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: (t[0], t[1]),
)


@settings(max_examples=15, deadline=None)
@given(rows=_SERIES, alpha=st.floats(min_value=0.05, max_value=0.95))
def test_ewma_matches_pandas_ewm(spark, rows, alpha):
    import pandas as pd

    from bbc_news_data_pipeline_spark.operators.timeseries import ewma_by_key

    df = spark.createDataFrame(rows, "k int, t int, v double")
    got = {
        (r.k, r.t): r.ewma
        for r in ewma_by_key(df, ["k"], "t", "v", alpha=alpha).collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "t", "v"])
    for k, g in pdf.groupby("k"):
        g = g.sort_values("t")
        # adjust=False is exactly s_t = alpha*v + (1-alpha)*s_{t-1}
        expect = g["v"].ewm(alpha=alpha, adjust=False).mean()
        for t, e in zip(g["t"], expect):
            assert abs(got[(k, t)] - e) < 1e-9 * max(1.0, abs(e))


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),  # user
            st.integers(min_value=0, max_value=5 * 86400),  # offset seconds
        ),
        min_size=1,
        max_size=120,
    )
)
def test_bounded_sessionize_matches_python_twin(spark, events):
    """The two-level (user, day) sessionization must equal a direct
    Python gap-count over any event stream Hypothesis produces — ties,
    duplicate timestamps, midnight-adjacent gaps, multi-day holes."""
    from pyspark.sql import functions as F

    from bbc_news_data_pipeline_spark.operators.timeseries import bounded_sessionize

    anchor = 1_700_000_000
    rows = [(i, anchor + off, u) for i, (u, off) in enumerate(events)]

    expected = {}
    by_user = {}
    for eid, sec, u in sorted(rows, key=lambda r: (r[2], r[1], r[0])):
        by_user.setdefault(u, []).append(sec)
    for u, secs in by_user.items():
        breaks = sum(1 for a, b in zip(secs, secs[1:]) if b - a > 1800)
        expected[u] = (breaks + 1, len(secs))

    df = spark.createDataFrame(
        rows, "event_id long, sec long, user_id long"
    ).select("event_id", F.timestamp_seconds("sec").alias("ts"), "user_id")
    got = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in bounded_sessionize(df, gap_s=1800).collect()
    }
    assert got == expected


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 5),            # user id
            st.integers(0, 5 * 86400),    # seconds offset across ~5 days
        ),
        min_size=1,
        max_size=60,
    ),
    gap_s=st.sampled_from([600, 1800, 7200]),
)
def test_bounded_sessionize_random_gaps_twin(spark, rows, gap_s):
    """The fold-based two-level sessionization (round 4) must equal a
    plain per-user python gap count on arbitrary event sets — including
    duplicate timestamps, midnight-adjacent gaps, and single-event
    users."""
    from pyspark.sql import functions as F

    from bbc_news_data_pipeline_spark.operators.timeseries import bounded_sessionize

    t0 = 1_700_000_000
    ev = spark.createDataFrame(
        [(i, u, t0 + s) for i, (u, s) in enumerate(rows)],
        "event_id long, user_id long, sec long",
    ).select("event_id", "user_id", F.timestamp_seconds("sec").alias("ts"))

    expect: dict[int, tuple[int, int]] = {}
    by_user: dict[int, list[int]] = {}
    for u, s in rows:
        by_user.setdefault(u, []).append(t0 + s)
    for u, ts in by_user.items():
        ts.sort()
        n_sessions = 1 + sum(1 for a, b in zip(ts, ts[1:]) if b - a > gap_s)
        expect[u] = (n_sessions, len(ts))

    got = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in bounded_sessionize(ev, gap_s=gap_s).collect()
    }
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    postings=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 6)),  # (id, bucket key)
        min_size=2,
        max_size=80,
    ),
    cap=st.sampled_from([2, 4, 64]),
)
def test_capped_pairs_preserve_components(spark, postings, cap):
    """pairs_within_groups with ANY max_group must yield the same
    connected components as exact all-pairs (star expansion keeps every
    oversized bucket one component), and must equal all-pairs exactly
    when every bucket fits the cap."""
    from pyspark.sql import functions as F

    from bbc_news_data_pipeline_spark.operators.dedup import pairs_within_groups

    df = spark.createDataFrame(list(set(postings)), "id long, k int").select(
        F.struct(F.col("id")).alias("d"), "k"
    )

    def pair_set(max_group):
        return {
            (r.a, r.b)
            for r in pairs_within_groups(df, ["k"], max_group=max_group)
            .select(F.col("p.a.id").alias("a"), F.col("p.b.id").alias("b"))
            .distinct()
            .collect()
        }

    exact, capped = pair_set(None), pair_set(cap)

    def components(pairs):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        comp: dict[int, frozenset] = {}
        groups: dict[int, set] = {}
        for x in list(parent):
            groups.setdefault(find(x), set()).add(x)
        return {frozenset(g) for g in groups.values()}

    assert components(exact) == components(capped)
    max_bucket = max(
        (len({i for i, kk in set(postings) if kk == k}) for k in {k for _, k in postings}),
        default=0,
    )
    if max_bucket <= cap:
        assert exact == capped
    assert capped <= exact  # star pairs are a subset of all-pairs


# --- semantic_dedup vs a pure-python twin -----------------------------------
# Third independent implementation (beyond Spark and the DuckDB oracle):
# quantize → argmin-L2 assignment with (d, seed_id) tiebreak → within-
# cluster lower-id-wins cosine drops, all in plain python floats/ints.

_VEC = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


def _py_semantic_dedup(rows, seed_ids, min_cos):
    import math

    def q(v):
        return [int(math.floor(float(x) * 1_000_000 + 0.5)) for x in v]

    qv = {i: q(v) for i, v in rows}
    clusters = {}
    for i, _ in rows:
        if i in seed_ids:
            clusters[i] = i
            continue
        best = min(
            (sum((a - b) ** 2 for a, b in zip(qv[i], qv[s])), s) for s in seed_ids
        )
        clusters[i] = best[1]
    survivors = {}
    for i, _ in rows:
        dropped = False
        for j, _ in rows:
            if j >= i or clusters[j] != clusters[i]:
                continue
            dot = float(sum(a * b for a, b in zip(qv[i], qv[j])))
            na = math.sqrt(float(sum(a * a for a in qv[i])))
            nb = math.sqrt(float(sum(b * b for b in qv[j])))
            if na == 0.0 or nb == 0.0:
                continue
            cos = math.floor((dot / (na * nb)) * 1e4 + 0.5) / 1e4
            if cos >= min_cos:
                dropped = True
                break
        if not dropped:
            survivors[i] = clusters[i]
    return survivors


@settings(max_examples=15, deadline=None)
@given(
    vecs=st.lists(_VEC, min_size=3, max_size=14),
    n_seeds=st.integers(1, 3),
    min_cos=st.sampled_from([0.3, 0.8, 0.95]),
)
def test_semantic_dedup_matches_python_twin(spark, vecs, n_seeds, min_cos):
    from pyspark.sql import functions as F

    from bbc_news_data_pipeline_spark.operators.similarity import (
        _qint,
        semantic_dedup,
    )

    # zero-norm vectors are excluded: cosine is undefined (the q97 path
    # never sees them — real embedding tables are unit-normalized)
    rows = [(i, v) for i, v in enumerate(vecs) if any(abs(x) > 1e-3 for x in v)]
    if len(rows) < 2:
        return
    seed_ids = {rows[k][0] for k in range(min(n_seeds, len(rows)))}
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # quantize seed floats through Spark so both sides see the float32→
    # double value Spark reads (python floats here are float64)
    seeds = emb.filter(F.col("vec_id").isin(*seed_ids)).select(
        F.col("vec_id").alias("seed_id"), _qint("embedding").alias("seed_qv")
    )
    got = {
        r.vec_id: r.cluster_id
        for r in semantic_dedup(emb, seeds, min_cos=min_cos).collect()
    }
    spark_rows = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in emb.orderBy("vec_id").collect()
    ]
    assert got == _py_semantic_dedup(spark_rows, seed_ids, min_cos)


# --------------------------------------------------------------------------
# dup_spans / block_dedup vs pure-python twins — random corpora over a tiny
# word alphabet so repeated k-grams and blocks occur constantly, including
# in-doc repeats and cross-doc overlaps at arbitrary offsets.
# --------------------------------------------------------------------------
_CORPUS = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=25)
    .map(" ".join),
    min_size=1,
    max_size=6,
)


def _py_dup_spans(texts, k):
    from collections import Counter

    grams = Counter()
    toks = {}
    for i, t in enumerate(texts):
        ws = t.lower().split(" ")
        toks[i] = ws
        for p in range(len(ws) - k + 1):
            grams[" ".join(ws[p : p + k])] += 1
    out = {}
    for i, ws in toks.items():
        pos = [
            p + 1
            for p in range(len(ws) - k + 1)
            if grams[" ".join(ws[p : p + k])] >= 2
        ]
        if not pos:
            continue
        spans = []
        start = prev = pos[0]
        for p in pos[1:]:
            if p == prev + 1:
                prev = p
            else:
                spans.append(prev - start + k)
                start = prev = p
        spans.append(prev - start + k)
        out[i] = (len(spans), sum(spans), max(spans))
    return out


@settings(max_examples=10, deadline=None)
@given(texts=_CORPUS)
def test_dup_spans_matches_python_twin(spark, texts):
    from bbc_news_data_pipeline_spark.operators.dedup import dup_spans

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_spans, r.dup_tokens, r.max_span)
        for r in dup_spans(df, "doc_id", "text", k=3).collect()
    }
    assert got == _py_dup_spans(texts, 3)


def _py_block_dedup(texts, w):
    import math

    first = {}
    by_doc = {}
    for i, t in enumerate(texts):
        ws = t.lower().split(" ")
        bl = [
            " ".join(ws[j * w : (j + 1) * w]) for j in range(math.ceil(len(ws) / w))
        ]
        by_doc[i] = bl
        for b, blk in enumerate(bl):
            first.setdefault(blk, (i, b))
    out = {}
    for i, bl in by_doc.items():
        kept = [blk for b, blk in enumerate(bl) if first[blk] == (i, b)]
        out[i] = (len(bl), len(kept), " ".join(kept))
    return out


@settings(max_examples=10, deadline=None)
@given(texts=_CORPUS)
def test_block_dedup_matches_python_twin(spark, texts):
    from bbc_news_data_pipeline_spark.operators.dedup import block_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_blocks, r.n_kept, r.new_text)
        for r in block_dedup(df, "doc_id", "text", block_w=4).collect()
    }
    assert got == _py_block_dedup(texts, 4)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(0, 500), min_size=1, max_size=120),
    st.sampled_from([8, 16, 64]),
)
def test_grid_digest_interpolation_bound_property(values, width):
    """Pure-python twin of q138's finisher algebra: for ANY value set and
    grid width, the rank-r interpolated estimate off the bucket grid is
    within one bucket width of the exact order statistic, for every pct.
    (The Spark implementation of the same algebra is oracle-verified at
    three SFs; this pins the algorithm itself across random inputs.)"""
    from collections import Counter

    n = len(values)
    grid = Counter(v // width for v in values)
    rows = sorted(grid.items())
    svals = sorted(values)
    for pct in (50, 90, 99):
        r = (n * pct + 99) // 100
        cum = 0
        for bucket, cnt in rows:
            if cum + cnt >= r:
                est = width * (bucket + (r - cum) / cnt)
                break
            cum += cnt
        exact = svals[r - 1]
        assert abs(est - exact) <= width, (values, width, pct, est, exact)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 3), st.sampled_from("abcd")),
        min_size=1,
        max_size=25,
    )
)
def test_resolve_latest_matches_python_max(spark, rows):
    """streaming/upsert.resolve_latest == per-key max over (version,
    payload) tuples — the total-order resolution that makes the upsert
    deterministic under version ties."""
    from bbc_news_data_pipeline_spark.streaming.upsert import resolve_latest

    df = spark.createDataFrame(rows, "k long, v long, payload string")
    got = {
        r.k: (r.v, r.payload) for r in resolve_latest(df, "k", "v").collect()
    }
    expected = {}
    for k, v, p in rows:
        if k not in expected or (v, p) > expected[k]:
            expected[k] = (v, p)
    assert got == expected


# --- sixth-wave algebraic formulations: the math each plan relies on ---


@given(
    st.lists(
        st.tuples(st.integers(1, 50), st.integers(0, 50)).map(
            lambda t: (t[0], min(t[1], t[0]))
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_pav_minimax_equals_sequential_stack(cells):
    """q237's join formulation fitted_i = max_{j<=i} min_{k>=i}
    mean(y over j..k) must equal classic pool-adjacent-violators on
    ARBITRARY bucket tables (exact rational comparison)."""
    from fractions import Fraction

    # minimax
    D = len(cells)
    mm = []
    for i in range(D):
        best = None
        for j in range(i + 1):
            worst = None
            for k in range(i, D):
                n = sum(c[0] for c in cells[j : k + 1])
                y = sum(c[1] for c in cells[j : k + 1])
                v = Fraction(y, n)
                worst = v if worst is None or v < worst else worst
            best = worst if best is None or worst > best else best
        mm.append(best)
    # sequential PAV stack (pool while prev mean >= cur mean)
    stack = []
    for n, y in cells:
        stack.append([n, y, 1])
        while len(stack) > 1 and Fraction(stack[-2][1], stack[-2][0]) >= Fraction(
            stack[-1][1], stack[-1][0]
        ):
            b = stack.pop()
            stack[-1] = [stack[-1][0] + b[0], stack[-1][1] + b[1], stack[-1][2] + b[2]]
    pav = []
    for n, y, w in stack:
        pav.extend([Fraction(y, n)] * w)
    assert mm == pav


@given(
    st.lists(st.integers(0, 8), min_size=2, max_size=30),
    st.lists(st.booleans(), min_size=2, max_size=30),
)
@settings(max_examples=200, deadline=None)
def test_mannwhitney_prefix_formulation_equals_rank_formula(vals, flags):
    """q233's cell algebra 2U = sum na*(2*cum_nb_below + nb_here) must
    equal the textbook rank-sum U on arbitrary tied data."""
    n = min(len(vals), len(flags))
    vals, flags = vals[:n], flags[:n]
    if not any(flags) or all(flags):
        return
    # rank formula with average ranks (2*rank to stay integral)
    svals = sorted(vals)
    r2 = {}
    for v in set(vals):
        below = sum(1 for x in svals if x < v)
        t = sum(1 for x in svals if x == v)
        r2[v] = 2 * below + t + 1
    ra2 = sum(r2[v] for v, f in zip(vals, flags) if f)
    n1 = sum(flags)
    u2_rank = ra2 - n1 * (n1 + 1)  # 2*(R1 - n1(n1+1)/2)
    # q233's prefix-cell algebra
    cells = {}
    for v, f in zip(vals, flags):
        na, nb = cells.get(v, (0, 0))
        cells[v] = (na + 1, nb) if f else (na, nb + 1)
    u2_cells = 0
    for v in cells:
        na, nb = cells[v]
        cum_nb = sum(b for w, (_, b) in cells.items() if w < v)
        u2_cells += na * (2 * cum_nb + nb)
    assert u2_cells == u2_rank


@given(st.lists(st.integers(0, 1000), min_size=2, max_size=40))
@settings(max_examples=200, deadline=None)
def test_gini_tieblock_formula_equals_sorted_enumerate(xs):
    """q243's tie-block sum v*(2*c*u + c*(c+1)) must equal
    2*sum_i i*x_i over the sorted list, for any multiset."""
    from collections import Counter

    if sum(xs) == 0:
        return
    srt = sorted(xs)
    s2_direct = 2 * sum((i + 1) * x for i, x in enumerate(srt))
    cnt = Counter(xs)
    s2_block = 0
    for v in sorted(cnt):
        c = cnt[v]
        u = sum(cc for w, cc in cnt.items() if w < v)
        s2_block += v * (2 * c * u + c * (c + 1))
    assert s2_block == s2_direct


@given(st.integers(1, 10_000), st.integers(1, 10_000), st.integers(1, 10))
@settings(max_examples=500, deadline=None)
def test_heaps_decile_bucket_identity(x, dmax, k):
    """q260's b(x) = ceil(STEPS*x/dmax) satisfies b(x) <= k  <=>
    x <= (dmax*k) div STEPS for every integer triple."""
    steps = 10
    x = x % (dmax + 1)  # x in [0, dmax]
    b = (x * steps + dmax - 1) // dmax
    ck = (dmax * k) // steps
    assert (b <= k) == (x <= ck)


@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.booleans()), min_size=1, max_size=60
    )
)
@settings(max_examples=200, deadline=None)
def test_km_riskset_recursion_equals_brute(lives):
    """q234's risk-set recursion n_t = N - cum(prev d+c) must equal the
    brute 'count of lifetimes >= t' definition for any censoring
    pattern."""
    from collections import Counter

    d = Counter(t for t, c in lives if not c)
    c = Counter(t for t, cc in lives if cc)
    N = len(lives)
    cum = 0
    for t in sorted(set(d) | set(c)):
        n_risk = N - cum
        brute = sum(1 for tt, _ in lives if tt >= t)
        assert n_risk == brute
        cum += d.get(t, 0) + c.get(t, 0)


# --- round-8 codec round-trips (no Spark session needed) --------------------


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 255), min_size=16, max_size=16),
        min_size=16,
        max_size=16,
    )
)
def test_pgm_roundtrip_property(rows):
    """Any 16x16 byte grid encodes to a P5 stream the parser inverts
    exactly, and the aHash is invariant under the round trip."""
    from bbc_news_data_pipeline_spark.operators.multimodal import (
        _ahash_bands,
        _parse_pgm,
    )

    raw = bytes(p for r in rows for p in r)
    pgm = b"P5\n16 16\n255\n" + raw
    w, h, px = _parse_pgm(pgm)
    assert (w, h, px) == (16, 16, raw)
    assert _ahash_bands(px, w, h) == _ahash_bands(raw, 16, 16)
    assert all(0 <= b < 256 for b in _ahash_bands(px, w, h))


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=256, max_size=256))
def test_wav_roundtrip_property(pcm):
    """Any 256-sample 8-bit PCM payload survives the RIFF/WAVE encode →
    parse round trip, and the energy fingerprint is stable across it."""
    from bbc_news_data_pipeline_spark.operators.multimodal import (
        WAV_RATE,
        _energy_bands,
        _parse_wav_pcm,
    )

    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + WAV_RATE.to_bytes(4, "little") + WAV_RATE.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
    )
    data = b"data" + len(pcm).to_bytes(4, "little") + pcm
    body = b"WAVE" + fmt + data
    wav = b"RIFF" + len(body).to_bytes(4, "little") + body
    rate, got = _parse_wav_pcm(wav)
    assert rate == WAV_RATE and got == pcm
    assert _energy_bands(got) == _energy_bands(pcm)
    assert len(_energy_bands(got)) == 8


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 10**6), st.integers(0, 1))
def test_pgm_generator_matches_md5_formula(g, odd):
    """The synthetic bitmap generator (the Spark encode side) must agree
    with the md5 hex formula the DuckDB oracle computes, for any group."""
    import hashlib

    from bbc_news_data_pipeline_spark.operators.multimodal import _pgm_pixels

    px = _pgm_pixels(g, odd)
    for y in (0, 7, 15):
        hexd = hashlib.md5(f"pgm:{g}:{y}".encode()).hexdigest()
        for x in (0, 5, 15):
            want = int(hexd[2 * x : 2 * x + 2], 16)
            if odd and (x + y) % 5 == 0:
                want = min(255, want + 2)
            assert px[y * 16 + x] == want
