"""Unit tests for the corpus-curation operators (operators/curation.py):
PII redaction goldens, deterministic hash sampling (nesting + salt
independence), connected-components on known graphs, and as-of join
semantics (strict vs non-strict ties, no-match nulls)."""

from datetime import datetime

from pyspark.sql import functions as F

from bbc_news_data_pipeline_spark.operators.curation import (
    asof_join,
    connected_components,
    hash_sample,
    pii_counts,
    redact_pii,
    sample_key_expr,
    sample_threshold,
)


# --- PII redaction ---------------------------------------------------------


def test_redact_pii_goldens(spark):
    rows = [
        (0, "write to jane.doe+x@sub.example.co.uk today"),
        (1, "server 192.168.0.1 rebooted"),
        (2, "call +1 555 123 4567 or 020-7946-0958 now"),
        (3, "plain text, no pii at all"),
        (4, "a@b.io at 10.0.0.7 tel +44 20 7946 0958"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    c = pii_counts("t")
    got = {
        r.id: r
        for r in df.select(
            "id",
            redact_pii("t").alias("red"),
            c["n_emails"].alias("ne"),
            c["n_ips"].alias("ni"),
            c["n_phones"].alias("np"),
        ).collect()
    }
    assert got[0].red == "write to [EMAIL] today"
    assert (got[0].ne, got[0].ni, got[0].np) == (1, 0, 0)
    assert got[1].red == "server [IP] rebooted"
    assert got[2].red == "call [PHONE] or [PHONE] now"
    assert got[2].np == 2
    assert got[3].red == rows[3][1]
    assert (got[3].ne, got[3].ni, got[3].np) == (0, 0, 0)
    assert got[4].red == "[EMAIL] at [IP] tel [PHONE]"


# --- hash sampling ---------------------------------------------------------


def test_hash_sample_deterministic_and_nested(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    s30a = {r.id for r in hash_sample(df, "id", 0.3).collect()}
    s30b = {r.id for r in hash_sample(df, "id", 0.3).collect()}
    s10 = {r.id for r in hash_sample(df, "id", 0.1).collect()}
    assert s30a == s30b  # reproducible
    assert s10 <= s30a  # nested: lower rate is a subset at the same salt
    # rate roughly honored (md5 uniformity; generous tolerance)
    assert 0.2 < len(s30a) / 2000 < 0.4
    assert 0.05 < len(s10) / 2000 < 0.16
    # a different salt draws an independent sample
    other = {r.id for r in hash_sample(df, "id", 0.3, salt="other").collect()}
    assert other != s30a


def test_sample_threshold_bounds():
    assert sample_threshold(0.0) == 0
    assert sample_threshold(1.0) == 1 << 32
    import pytest

    with pytest.raises(ValueError):
        sample_threshold(1.5)


def test_sample_key_range(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "id long")
    mm = df.select(sample_key_expr("id").alias("k")).agg(
        F.min("k").alias("lo"), F.max("k").alias("hi")
    ).collect()[0]
    assert 0 <= mm.lo <= mm.hi < (1 << 32)


# --- row-local top-element count -------------------------------------------


def test_max_run_count_matches_exact_mode(spark):
    from bbc_news_data_pipeline_spark.functions.textstats import max_run_count_expr

    rows = [
        (0, ["a", "b", "a", "c", "a"]),       # mode a ×3
        (1, ["x"]),                            # singleton
        (2, ["q", "q", "q", "q"]),             # all equal
        (3, ["m", "n"]),                       # tie → 1
        (4, []),                               # empty → 0
    ]
    df = spark.createDataFrame(rows, "id long, arr array<string>")
    got = {r.id: r.c for r in df.select("id", max_run_count_expr("arr").alias("c")).collect()}
    assert got == {0: 3, 1: 1, 2: 4, 3: 1, 4: 0}


def test_stop_token_count_escapes_quote_and_backslash(spark):
    from bbc_news_data_pipeline_spark.functions.textstats import stop_token_count_expr

    words = ("it's", "a\\b")
    df = spark.createDataFrame(
        [(["it's", "a\\b", "it's", "its", "ab"],)], "toks array<string>"
    )
    got = df.select(stop_token_count_expr("toks", words).alias("n")).first().n
    assert got == 3


def _lambda_bodies(plan):
    """The text of every ``lambdafunction(...)`` in a plan string."""
    i = plan.find("lambdafunction(")
    while i >= 0:
        j, depth = i + len("lambdafunction"), 0
        while True:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
            if depth == 0:
                break
        yield plan[i:j]
        i = plan.find("lambdafunction(", i + 1)


def test_repetition_gate_lambdas_never_retokenize(spark, sf_dir):
    """A filter pushed below the projection that staged the tokens would
    inline split(text) into the ratio expressions. No lambda may split:
    a gram (or block) lambda that indexes the tokens re-splits the
    document once per gram, O(len²) per row. ``blockize`` (block dedup,
    batch and streaming) is held to the same rule. The gate itself
    splits each document exactly once: its filters read generator
    output, which no filter sinks below."""
    from bbc_news_data_pipeline_spark.operators.curation import gate_documents
    from bbc_news_data_pipeline_spark.operators.dedup import blockize
    from bbc_news_data_pipeline_spark.streaming.curation import curate_docs_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (gate_documents(docs), curate_docs_stream(docs), blockize(docs, "doc_id", "text")):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = list(_lambda_bodies(plan))
        assert bodies and "split(" in plan, plan
        assert not [b for b in bodies if "split(" in b], plan
    gate_plan = gate_documents(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert gate_plan.count("split(") == 1, gate_plan


# --- connected components --------------------------------------------------


def _clusters(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df)
    return {r.v: r.cluster_id for r in out.collect()}


def test_connected_components_two_components(spark):
    # {1,2,3,4} chained + {10,11}; 3-4 bridges via 2.
    got = _clusters(spark, [(1, 2), (2, 3), (2, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_chain_diameter(spark):
    # a pure chain is the worst case for propagation rounds
    n = 12
    got = _clusters(spark, [(i, i + 1) for i in range(n)])
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_idempotent_on_clique(spark):
    got = _clusters(spark, [(a, b) for a in range(5) for b in range(a + 1, 5)])
    assert got == {i: 0 for i in range(5)}


def test_connected_components_raises_on_round_cap(spark):
    import pytest

    # a 13-vertex path needs ~12 propagation rounds; 3 leave wrong labels
    df = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=3)


# --- large-star/small-star connected components ------------------------------


def test_cc_two_phase_path_needs_log_rounds(spark):
    """A 200-node path: min-label propagation would need ~200 rounds;
    star contraction must land the same labels in O(log n) (the reason
    the operator exists — chain-shaped graphs at 100 TB)."""
    from bbc_news_data_pipeline_spark.operators.curation import cc_two_phase

    n = 200
    edges = [(i, i + 1) for i in range(n - 1)] + [(1000, 1001), (1001, 1002)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    labels, rounds = cc_two_phase(df)
    got = {r.v: r.cluster_id for r in labels.collect()}
    assert got == {**{i: 0 for i in range(n)}, 1000: 1000, 1001: 1000, 1002: 1000}
    # diameter 199 >> rounds; empirical 9, bound leaves headroom without
    # normalizing a regression to linear behavior
    assert len(rounds) <= 14, rounds
    assert rounds[-1]["changed"] == 0
    # convergence trace is monotone-ish and ends at the fixpoint
    assert all(r["n_edges"] >= 1 for r in rounds)


def test_cc_two_phase_equals_propagation_on_random_graphs(spark):
    """Equivalence vs min-label propagation on seeded random graphs
    (mixed component shapes: chains, bushes, isolated pairs)."""
    import random

    from bbc_news_data_pipeline_spark.operators.curation import cc_two_phase

    for seed, n, m in ((3, 120, 80), (11, 200, 150), (42, 80, 200)):
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        fast, _ = cc_two_phase(df)
        base = connected_components(df, max_iter=100)
        a = {r.v: r.cluster_id for r in fast.collect()}
        b = {r.v: r.cluster_id for r in base.collect()}
        assert a == b, f"seed={seed}: {len(a)} vs {len(b)} labels"


def test_cc_two_phase_raises_on_round_cap(spark):
    import pytest

    from bbc_news_data_pipeline_spark.operators.curation import cc_two_phase

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        cc_two_phase(df, max_rounds=2)


# --- ancestor-chain resolution ---------------------------------------------


def _resolved(spark, pairs):
    from bbc_news_data_pipeline_spark.operators.curation import resolve_ancestors

    df = spark.createDataFrame(pairs, "child long, parent long")
    return {r.child: r.parent for r in resolve_ancestors(df).collect()}


def test_resolve_ancestors_chain_to_terminal(spark):
    # C(2)->B(1)->A(0): both flagged docs resolve to the surviving root
    assert _resolved(spark, [(1, 0), (2, 1)]) == {1: 0, 2: 0}


def test_resolve_ancestors_out_of_order_ids(spark):
    """Arrival order, not id order: doc 10 arrived first, 5 duplicates it,
    3 duplicates 5. The terminal is 10 — NOT the component's min id, which
    is why this is chain-following and not min-label CC."""
    assert _resolved(spark, [(5, 10), (3, 5)]) == {5: 10, 3: 10}


def test_resolve_ancestors_deep_chain_and_fanin(spark):
    # depth-9 chain exercises pointer doubling past several rounds; two
    # extra children share a mid-chain parent (fan-in)
    chain = [(i + 1, i) for i in range(9)]
    fanin = [(100, 4), (101, 4)]
    got = _resolved(spark, chain + fanin)
    assert got == {**{i + 1: 0 for i in range(9)}, 100: 0, 101: 0}


def test_resolve_ancestors_no_chains_is_identity(spark):
    # parents that are not themselves children pass through unchanged
    assert _resolved(spark, [(7, 2), (8, 3)]) == {7: 2, 8: 3}


def test_resolve_ancestors_raises_on_round_cap(spark):
    import pytest

    from bbc_news_data_pipeline_spark.operators.curation import resolve_ancestors

    # one doubling round cannot resolve a depth-9 chain
    df = spark.createDataFrame([(i + 1, i) for i in range(9)], "child long, parent long")
    with pytest.raises(RuntimeError, match="did not converge"):
        resolve_ancestors(df, max_iter=1)


# --- as-of join ------------------------------------------------------------


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_join_basic_and_null(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), "e1"), (1, _ts("2024-01-01 12:00:00"), "e2"),
         (2, _ts("2024-01-01 09:00:00"), "e3")],
        "k long, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:30:00"), 100), (1, _ts("2024-01-01 11:00:00"), 101),
         (2, _ts("2024-01-01 09:30:00"), 200)],
        "k long, ts timestamp, rid int",
    )
    got = {
        r.ev: r.rid
        for r in asof_join(left, right, "k", "ts", "ts", ["rid"]).collect()
    }
    # e1 sees 09:30 row; e2 sees 11:00 row; e3 predates every right row
    assert got == {"e1": 100, "e2": 101, "e3": None}


def test_asof_join_equal_ts_tie(spark):
    t = _ts("2024-01-01 10:00:00")
    left = spark.createDataFrame([(1, t, "e")], "k long, ts timestamp, ev string")
    right = spark.createDataFrame([(1, t, 7)], "k long, ts timestamp, rid int")
    nonstrict = asof_join(left, right, "k", "ts", "ts", ["rid"]).collect()[0]
    strict = asof_join(left, right, "k", "ts", "ts", ["rid"], strict=True).collect()[0]
    assert nonstrict.rid == 7  # <=: same-instant right row is admissible
    assert strict.rid is None  # <: it is not


def test_asof_join_preserves_left_rowcount(spark):
    left = spark.createDataFrame(
        [(i % 3, _ts(f"2024-01-01 10:00:{i:02d}"), i) for i in range(50)],
        "k long, ts timestamp, i long",
    )
    right = spark.createDataFrame(
        [(0, _ts("2024-01-01 10:00:10"), 1), (0, _ts("2024-01-01 10:00:20"), 2)],
        "k long, ts timestamp, rid int",
    )
    out = asof_join(left, right, "k", "ts", "ts", ["rid"])
    assert out.count() == 50
    assert out.select("i").distinct().count() == 50


def test_shuffle_shards_assignment_properties(spark):
    from bbc_news_data_pipeline_spark.operators.curation import shuffle_shards

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = shuffle_shards(df, "doc_id", n_shards=8).collect()
    assert len(out) == 2000
    # shard = fixed key range; every shard in [0, 8) and populated
    shards = {r.shard_id for r in out}
    assert shards == set(range(8))
    for r in out:
        assert r.shard_id == (r.shuffle_key * 8) >> 32
    # uniform key → roughly balanced shards (within 3x of ideal)
    from collections import Counter

    sizes = Counter(r.shard_id for r in out)
    assert max(sizes.values()) < 3 * (2000 / 8)
    # a different salt re-deals the epoch
    out2 = {r.doc_id: r.shard_id for r in shuffle_shards(df, "doc_id", 8, salt="ep1").collect()}
    moved = sum(1 for r in out if out2[r.doc_id] != r.shard_id)
    assert moved > 1000


def test_write_shuffle_shards_readback_order(spark, tmp_path):
    from bbc_news_data_pipeline_spark.operators.curation import (
        shuffle_shards,
        write_shuffle_shards,
    )

    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    path = str(tmp_path / "shards")
    write_shuffle_shards(df, path, "doc_id", n_shards=4)
    back = spark.read.parquet(path)
    assert back.count() == 300
    assert {r.shard_id for r in back.select("shard_id").distinct().collect()} == {
        0, 1, 2, 3,
    }
    # within one shard directory the rows come back in shuffle_key order
    # (single small file → one ordered split)
    rows = spark.read.parquet(f"{path}/shard_id=0").coalesce(1).collect()
    keys = [r.shuffle_key for r in rows]
    assert keys == sorted(keys)
    # the full assignment matches the row-local operator exactly
    expect = {
        (r.doc_id, r.shard_id)
        for r in shuffle_shards(df, "doc_id", 4).select("doc_id", "shard_id").collect()
    }
    got = {(r.doc_id, r.shard_id) for r in back.select("doc_id", "shard_id").collect()}
    assert got == expect


def test_golden_records_survivorship_on_engineered_corpus(spark, tmp_path):
    """q173 golden-record contract on a hand-built corpus: three
    near-identical docs (one longer) + two unrelated docs → exactly one
    multi-member entity; representative = the LONGEST member (min
    doc_id tiebreak), entity_id = min member id, sources/langs merged
    sorted, total_chars = sum over members."""
    from bbc_news_data_pipeline_spark.plans.curation_plans import q173_golden_records

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (10, base, "en", "srcB", len(base)),
        (11, base + " lambda", "en", "srcA", len(base) + 7),
        (12, base, "de", "srcB", len(base)),
        (90, "one two three four five six seven eight nine ten", "en", "srcC", 49),
        (91, "red green blue cyan magenta yellow black white gray pink", "fr", "srcD", 56),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = q173_golden_records(spark, str(tmp_path)).collect()
    assert len(out) == 1
    g = out[0]
    assert g.entity_id == 10
    assert g.n_members == 3
    assert g.rep_doc_id == 11 and g.rep_n_chars == len(base) + 7
    assert g.sources == "srcA,srcB"
    assert g.langs == "de,en"
    assert g.total_chars == 2 * len(base) + len(base) + 7


def test_golden_records_output_invariants(spark, sf_dir):
    """q173 on real testdata: entities are disjoint multi-member
    clusters; representative stats are internally consistent."""
    from bbc_news_data_pipeline_spark.plans.curation_plans import q173_golden_records

    rows = q173_golden_records(spark, sf_dir).collect()
    assert rows, "expected engineered near-dups in the synthetic corpus"
    ids = [r.entity_id for r in rows]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    for r in rows:
        assert r.n_members >= 2
        assert r.entity_id <= r.rep_doc_id
        assert 0 < r.rep_n_chars <= r.total_chars
        assert r.sources and r.langs


def test_incremental_cc_star_equivalence_and_round_advantage(spark):
    """q180's algebra in isolation: on a 64-node path graph, (a) merging
    a batch of edges into the stored labeling via star edges yields
    exactly the labels a from-scratch CC over the full edge set gives,
    and (b) the incremental contraction converges in strictly fewer
    rounds than scratch (the star is depth-1; the path is depth-n)."""
    from bbc_news_data_pipeline_spark.operators.curation import cc_two_phase

    n = 64
    full = [(i, i + 1) for i in range(n - 1)]
    batch = [e for e in full if e[0] % 5 == 0]
    base = [e for e in full if e[0] % 5 != 0]
    df = lambda es: spark.createDataFrame(es, "a long, b long")

    scratch_labels, scratch_rounds = cc_two_phase(df(full), "a", "b")
    base_labels, _ = cc_two_phase(df(base), "a", "b")
    star = base_labels.filter("v != cluster_id").selectExpr(
        "v AS a", "cluster_id AS b"
    )
    inc_labels, inc_rounds = cc_two_phase(star.unionByName(df(batch)), "a", "b")

    got = sorted((r.v, r.cluster_id) for r in inc_labels.collect())
    want = sorted((r.v, r.cluster_id) for r in scratch_labels.collect())
    assert got == want
    assert {c for _, c in got} == {0}  # one component rooted at min
    assert len(inc_rounds) < len(scratch_rounds)


def test_waterfill_quota_on_skewed_sources(spark, tmp_path):
    """q189 segment algebra on an engineered skew ladder [5,10,100,200,
    1000] with budget 40% of 1315 = 526: water level lands in the last
    segment, small sources are taken whole, only the hot source is
    capped (at 211), and the allocation closes exactly to the budget."""
    from bbc_news_data_pipeline_spark.plans.curation_plans import q189_waterfill_quota

    rows, did = [], 0
    for src, n in (("a", 5), ("b", 10), ("c", 100), ("d", 200), ("e", 1000)):
        for _ in range(n):
            rows.append((did, "w x", "en", src, 3)); did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in q189_waterfill_quota(spark, str(tmp_path)).collect()}
    assert {s: r.quota for s, r in out.items()} == {
        "a": 5, "b": 10, "c": 100, "d": 200, "e": 211
    }
    assert {s for s, r in out.items() if r.capped} == {"e"}
    assert all(r.budget == 526 and r.total_allocated == 526 for r in out.values())


def test_target_encoding_python_twin_and_leakage(spark, sf_dir):
    """q198 vs a hashlib/pandas twin: rebuild the md5 folds, the exact
    cent-quantized out-of-fold means, and the m-smoothed shrinkage;
    every encoding must agree at the 4dp the query emits, and no fold's
    own rows may enter its encoding (leakage check is the twin itself:
    it sums brand totals minus the fold cell)."""
    import hashlib

    from bbc_news_data_pipeline_spark.plans.curation_plans import (
        _Q198_K,
        _Q198_M,
        q198_target_encoding,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").toPandas()
    part = spark.read.parquet(f"{sf_dir}/part.parquet").toPandas()
    df = li.merge(part[["p_partkey", "p_brand"]], left_on="l_partkey",
                  right_on="p_partkey")

    def fold(ok, ln):
        h = hashlib.md5(f"tenc:{ok}#{ln}".encode()).hexdigest()
        return int(h[:8], 16) % _Q198_K

    df["fold"] = [fold(o, l) for o, l in zip(df.l_orderkey, df.l_linenumber)]
    df["cents"] = (df.l_extendedprice * 100 + 0.5).apply(int)  # floor(x+.5)>0
    cells = df.groupby(["p_brand", "fold"]).cents.agg(["sum", "size"])
    nb = df.groupby("p_brand").cents.agg(["sum", "size"])
    nf = df.groupby("fold").cents.agg(["sum", "size"])
    nt, st = len(df), int(df.cents.sum())

    def r4(num, den):
        return ((num * 20000 + den) // (2 * den)) / 10000.0

    out = q198_target_encoding(spark, sf_dir).collect()
    assert len(out) == df.p_brand.nunique() * _Q198_K
    for r in out:
        s = int(cells["sum"].get((r.brand, r.fold), 0))
        n = int(cells["size"].get((r.brand, r.fold), 0))
        sb, nbb = int(nb["sum"][r.brand]), int(nb["size"][r.brand])
        sf_, nff = int(nf["sum"][r.fold]), int(nf["size"][r.fold])
        s_oof, n_oof = sb - s, nbb - n
        s_gof, n_gof = st - sf_, nt - nff
        assert r.n_in_fold == n and r.n_oof == n_oof
        if n_oof:
            assert r.enc_oof == r4(s_oof, n_oof * 100)
        else:
            assert r.enc_oof == r4(s_gof, n_gof * 100)
        assert r.enc_smooth == r4(
            s_oof * n_gof + _Q198_M * s_gof, (n_oof + _Q198_M) * n_gof * 100
        )


def test_label_propagation_python_twin(spark, sf_dir):
    """q200 vs a pure-python LPA twin over the SAME candidate pairs:
    three synchronous rounds of neighbor-majority (count desc, min label
    tie-break) must reproduce every per-node label trajectory and the
    final community sizes."""
    from collections import Counter, defaultdict

    from bbc_news_data_pipeline_spark.operators.dedup import minhash_candidates
    from bbc_news_data_pipeline_spark.plans.curation_plans import (
        _MAX_GROUP,
        _Q200_K,
        q200_label_propagation,
    )
    from bbc_news_data_pipeline_spark.plans.dedup_plans import SHINGLE_K

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = (
        minhash_candidates(docs, "doc_id", "text", n_hashes=8, bands=4,
                           k=SHINGLE_K, max_group=_MAX_GROUP)
        .select("id_a", "id_b").distinct().collect()
    )
    adj = defaultdict(set)
    for p in pairs:
        adj[p.id_a].add(p.id_b)
        adj[p.id_b].add(p.id_a)
    lab = {v: v for v in adj}
    traj = []
    for _ in range(_Q200_K):
        new = {}
        for v, nbrs in adj.items():
            c = Counter(lab[u] for u in nbrs)
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        lab = new
        traj.append(dict(lab))
    sizes = Counter(traj[-1].values())
    out = q200_label_propagation(spark, sf_dir).collect()
    assert len(out) == len(adj)
    for r in out:
        assert (r.lbl1, r.lbl2, r.lbl3) == (
            traj[0][r.doc_id], traj[1][r.doc_id], traj[2][r.doc_id]
        )
        assert r.comm_size == sizes[r.lbl3]


def test_near_dup_graph_helpers_python_twin(spark):
    """The shared graph pieces vs python twins: _sym_edges emits each
    distinct pair in both orientations exactly once; one _lpa_round
    breaks a tie in neighbor-label counts toward the smaller label; and
    _chain_edges on 2 sources x 6 docs is the per-source path plus the
    md5-salted skip edges (doc -> doc two ahead)."""
    import hashlib

    from bbc_news_data_pipeline_spark.plans.curation_plans import (
        _chain_edges,
        _lpa_round,
        _lpa_start,
    )
    from bbc_news_data_pipeline_spark.plans.dedup_plans import _sym_edges

    ps = [(1, 2), (1, 3), (2, 3), (4, 5)]
    pairs = spark.createDataFrame(ps, "id_a long, id_b long")
    got = sorted(tuple(r) for r in _sym_edges(pairs).collect())
    assert got == sorted(ps + [(b, a) for a, b in ps])

    # node 10's neighbors carry labels 9, 9, 4, 4, 2: the count tie
    # between 9 and 4 resolves to 4, and 2 loses on count
    star = spark.createDataFrame(
        [(10, n) for n in range(11, 16)], "id_a long, id_b long"
    )
    edges = _sym_edges(star)
    start = {r.v: r.lbl for r in _lpa_start(edges).collect()}
    assert start == {v: v for v in range(10, 16)}
    lab = spark.createDataFrame(
        [(10, 1), (11, 9), (12, 9), (13, 4), (14, 4), (15, 2)], "v long, lbl long"
    )
    got = {r.v: r.lbl for r in _lpa_round(edges, lab).collect()}
    assert got == {10: 4, 11: 1, 12: 1, 13: 1, 14: 1, 15: 1}

    salt, mod = "ccskip", 2
    rows = [(i, "ab"[i % 2]) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    got = sorted(tuple(r) for r in _chain_edges(docs, salt, mod).collect())

    def key(i):
        return int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:8], 16)

    path, skip = [], []
    for src in "ab":
        ids = sorted(i for i, s in rows if s == src)
        path += list(zip(ids, ids[1:]))
        skip += [(a, c) for a, c in zip(ids, ids[2:]) if key(a) % mod == 0]
    assert 0 < len(skip) < 8  # the salt both keeps and drops skip edges
    assert got == sorted(path + skip)


def test_raking_weights_python_twin_and_lang_marginal_exact(spark, sf_dir):
    """q224 vs an integer-exact python IPF twin; after the final lang
    round the lang marginals are uniform up to integer-floor residue
    (max_lang_err ≈ 0), and the source residual matches the twin."""
    from collections import defaultdict
    from math import floor

    from bbc_news_data_pipeline_spark.plans.curation_plans import (
        _Q224_SCALE,
        q224_raking_weights,
    )

    pdf = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    cells = defaultdict(int)
    for s, l in zip(pdf.source, pdf.lang):
        cells[(s, l)] += 1
    w = {k: _Q224_SCALE for k in cells}

    def rake(dim_idx):
        mass = defaultdict(int)
        for k, n in cells.items():
            mass[k[dim_idx]] += w[k] * n
        m = sum(mass.values())
        kk = len(mass)
        for k in w:
            w[k] = (w[k] * m) // (kk * mass[k[dim_idx]])

    rake(0)
    rake(1)

    def max_err(dim_idx):
        mass = defaultdict(int)
        for k, n in cells.items():
            mass[k[dim_idx]] += w[k] * n
        m = sum(mass.values())
        kk = len(mass)
        return max(max(mass.values()) / m - 1 / kk,
                   1 / kk - min(mass.values()) / m)

    es, el = max_err(0), max_err(1)
    out = {(r.source, r.lang): r for r in q224_raking_weights(spark, sf_dir).collect()}
    assert set(out) == set(cells)
    for k, r in out.items():
        assert r.n_docs == cells[k]
        assert r.weight == w[k] / _Q224_SCALE
        assert r.max_source_err == floor(es * 1e6 + 0.5) / 1e6
        assert r.max_lang_err == floor(el * 1e6 + 0.5) / 1e6
    assert el < 1e-3  # final round fits its own marginal to floor residue


def test_surrogate_keys_python_twin(spark, sf_dir):
    """q253 vs an enumerate() over the same (md5-bucket, shingle) total
    order, plus the arithmetic bijection certificate (n ids, min 0,
    max n-1, sum n(n-1)/2)."""
    import hashlib

    from bbc_news_data_pipeline_spark.plans.curation_plans import (
        _Q253_BUCKETS,
        q253_surrogate_keys,
    )

    pdf = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    shingles = set()
    for t in pdf.text:
        toks = t.split(" ")
        for i in range(len(toks) - 2):
            shingles.add(" ".join(toks[i : i + 3]))
    keyed = sorted(
        (int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % _Q253_BUCKETS, w)
        for w in shingles
    )
    want = {w: i for i, (_, w) in enumerate(keyed)}
    got = {r.w: r.id for r in q253_surrogate_keys(spark, sf_dir).collect()}
    assert got == want
    n = len(got)
    ids = list(got.values())
    assert (min(ids), max(ids), sum(ids)) == (0, n - 1, n * (n - 1) // 2)


def test_doremi_weights_python_twin(spark, sf_dir):
    """q261 vs a Counter twin replicating the scaled-integer folds;
    weights stay a distribution and order by excess loss."""
    from collections import Counter
    from math import exp, floor, log

    from bbc_news_data_pipeline_spark.plans.curation_plans import (
        _Q261_ETA,
        _Q261_K,
        _Q261_SCALE,
        q261_doremi_weights,
    )

    pdf = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    sw = {}
    for r in pdf.itertuples():
        c = sw.setdefault(r.source, Counter())
        c.update(w for w in r.text.lower().split(" ") if w)
    vocab = Counter()
    for c in sw.values():
        vocab.update(c)
    t = sum(vocab.values())
    ls_scale = _Q261_SCALE / 1_000_000.0
    bits = {}
    for s, c in sw.items():
        s_ln = sum(floor(ci * log(vocab[w]) * ls_scale) for w, ci in c.items())
        nd = sum(c.values())
        bits[s] = (log(t) - s_ln / ls_scale / nd) / log(2)
    d = len(sw)
    w = {s: 1 / d for s in sw}
    traj = []
    for _ in range(_Q261_K):
        avg = sum(floor(w[s] * bits[s] * _Q261_SCALE) for s in sorted(sw)) / _Q261_SCALE
        u = {s: w[s] * exp(_Q261_ETA * (bits[s] - avg)) for s in sw}
        z = sum(floor(u[s] * _Q261_SCALE) for s in sorted(sw)) / _Q261_SCALE
        w = {s: u[s] / z for s in sw}
        traj.append(dict(w))
    out = {r.source: r for r in q261_doremi_weights(spark, sf_dir).collect()}
    assert set(out) == set(sw)
    for s, r in out.items():
        assert r.loss_bits == floor(bits[s] * 1e6 + 0.5) / 1e6
        for k in range(1, _Q261_K + 1):
            assert getattr(r, f"w{k}") == floor(traj[k - 1][s] * 1e6 + 0.5) / 1e6
    # final weights: a distribution, ordered like the losses
    w3 = sorted((r.w3, r.loss_bits) for r in out.values())
    assert abs(sum(r.w3 for r in out.values()) - 1.0) < 1e-3
    assert all(a[1] <= b[1] + 1e-9 for a, b in zip(w3, w3[1:]))


# --- delta corpus build (q267's operator core) -----------------------------


def _dc_docs(spark, ids, e, text_of=None):
    """Authored (doc_id, lang, text, e) frames: 12 distinct words per doc
    pass the quality gate (dup_word_ratio 0, top_bigram_ratio 1/11)."""
    text_of = text_of or (
        lambda i: " ".join(f"w{i}x{j}" for j in range(12))
    )
    return spark.createDataFrame(
        [(i, "en", text_of(i), e) for i in ids],
        "doc_id long, lang string, text string, e int",
    )


def test_delta_unchanged_shards_bit_stable(spark):
    """The r7 verdict task #3 contract: shards no batch doc landed in
    keep BIT-IDENTICAL manifest rows across the delta apply (exact
    integer checksums — not approximately, not re-derived). Batch ids
    1004/1005/1008/1013/1017 all hash to shard 0 under the 'dcshuf'
    salt (verified offline against md5), so shards 1-7 must not move."""
    from bbc_news_data_pipeline_spark.operators.curation import (
        delta_corpus_build,
    )

    base = _dc_docs(spark, range(1, 201), 0)
    batch = _dc_docs(spark, [1004, 1005, 1008, 1013, 1017], 1)
    # budget=1.0 -> rate 1.0 -> the mix keeps everything: the test pins
    # the shard/packing/manifest algebra, not the sampler
    man_base = {
        r.shard_id: r
        for r in delta_corpus_build(base, budget=1.0).collect()
    }
    man_full = {
        r.shard_id: r
        for r in delta_corpus_build(base.unionByName(batch), budget=1.0).collect()
    }
    assert set(man_base) == set(range(8)) == set(man_full)
    for s in range(1, 8):
        b, f = man_base[s], man_full[s]
        assert (f.n_docs, f.n_tokens, f.n_seqs, f.n_spanning, f.checksum) == (
            b.n_docs, b.n_tokens, b.n_seqs, b.n_spanning, b.checksum
        ), f"shard {s} moved without receiving a batch doc"
        assert (f.delta_docs, f.changed) == (0, 0)
    f0, b0 = man_full[0], man_base[0]
    assert f0.changed == 1 and f0.delta_docs == 5
    assert f0.n_docs == b0.n_docs + 5
    assert f0.n_tokens == b0.n_tokens + 5 * 12
    assert f0.checksum != b0.checksum  # delta docs fold into the checksum


def test_delta_dedup_first_epoch_wins(spark):
    """A batch doc whose text already exists in the stored corpus is
    dropped even when its doc_id is smaller than the stored survivor's;
    within the batch, min-id wins."""
    from bbc_news_data_pipeline_spark.operators.curation import (
        delta_corpus_build,
    )

    base = _dc_docs(spark, [100, 101], 0)
    # batch: id 1 duplicates base doc 100's text; ids 300/301 duplicate
    # each other (301 should lose)
    dup_of_100 = " ".join(f"w100x{j}" for j in range(12))
    fresh = " ".join(f"fresh{j}" for j in range(12))
    batch = spark.createDataFrame(
        [(1, "en", dup_of_100, 1), (300, "en", fresh, 1), (301, "en", fresh, 1)],
        "doc_id long, lang string, text string, e int",
    )
    man = delta_corpus_build(base.unionByName(batch), budget=1.0).collect()
    # exactly one batch doc (300) survives the epoch-aware dedup
    assert sum(r.delta_docs for r in man) == 1
    assert sum(r.n_docs for r in man) == 3  # 100, 101, 300


def test_q283_leakage_safe_split_twin(spark, sf_dir):
    """q283 vs a pure-Python twin of the NEW surface (union-find clusters
    over the candidate pairs, md5 split keys, brute-force leak audit) —
    the banding pipeline feeding it is independently twinned by the
    q46/q57 tests. Certifies the operator's reason to exist: the
    cluster-unit split leaks ZERO candidate pairs while the doc-unit
    counterfactual leaks >0 on this fixture."""
    import hashlib
    from math import floor

    from pyspark.sql import functions as F

    from bbc_news_data_pipeline_spark.operators.dedup import minhash_candidates
    from bbc_news_data_pipeline_spark.plans.curation_plans import (
        _Q283_SALT,
        _Q283_TRAIN,
        _Q283_VAL,
        q283_leakage_safe_split,
    )
    from bbc_news_data_pipeline_spark.plans.dedup_plans import SHINGLE_K

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = sorted(
        map(
            tuple,
            minhash_candidates(
                docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K
            ).collect(),
        )
    )
    chars = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}

    parent = {d: d for d in chars}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    cluster = {d: find(d) for d in chars}

    def key(v):
        return int(hashlib.md5(f"{_Q283_SALT}:{v}".encode()).hexdigest()[:8], 16)

    def split_of(v):
        k = key(v)
        return "train" if k < _Q283_TRAIN else ("val" if k < _Q283_VAL else "test")

    csplit = {d: split_of(cluster[d]) for d in chars}
    dsplit = {d: split_of(d) for d in chars}
    leak_c = sum(1 for a, b in pairs if csplit[a] != csplit[b])
    leak_d = sum(1 for a, b in pairs if dsplit[a] != dsplit[b])
    assert leak_c == 0  # clusters never straddle splits, by construction
    assert leak_d > 0  # the doc-level bug is visible on this fixture

    out = {r.split: r for r in q283_leakage_safe_split(spark, sf_dir).collect()}
    assert set(out) <= {"train", "val", "test"}
    nd = len(chars)
    for s, r in out.items():
        members = [d for d in chars if csplit[d] == s]
        assert r.n_docs == len(members)
        assert r.n_clusters == len({cluster[d] for d in members})
        assert r.n_chars_total == sum(chars[d] for d in members)
        assert r.doc_share == floor(len(members) / nd * 10000 + 0.5) / 10000
        assert r.leaked_pairs_cluster_split == 0
        assert r.leaked_pairs_doc_split == leak_d
    assert sum(r.n_docs for r in out.values()) == nd
