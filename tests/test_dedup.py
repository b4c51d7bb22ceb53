"""Dedup operator behaviors + property tests (SURVEY §5.2.5)."""

import pytest
from pyspark.sql import functions as F

from bbc_news_data_pipeline_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away tonight "
    "while stars shine brightly above the quiet town near the river bend"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate
        (2, BASE.replace("lazy", "sleepy")),  # near duplicate
        (3, "completely different words about spark engines and distributed "
            "query planning at massive scale with broadcast joins everywhere"),
        (4, "another unrelated document discussing weather patterns across "
            "northern regions during winter months with heavy snowfall"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(corpus):
    kept = sorted(r.doc_id for r in dedup.exact_dedup(corpus, "text", "doc_id").collect())
    assert kept == [0, 2, 3, 4]


def test_exact_dedup_idempotent(corpus):
    once = dedup.exact_dedup(corpus, "text", "doc_id")
    twice = dedup.exact_dedup(once, "text", "doc_id")
    assert sorted(r.doc_id for r in twice.collect()) == sorted(
        r.doc_id for r in once.collect()
    )


def test_first_wins(spark):
    df = spark.createDataFrame(
        [("u1", 3, "c"), ("u1", 1, "a"), ("u2", 2, "b")], "url string, ts long, v string"
    )
    out = dedup.first_wins(df, ["url"], [F.asc("ts")]).collect()
    got = {r.url: r.v for r in out}
    assert got == {"u1": "a", "u2": "b"}


def test_minhash_candidates_cluster(corpus):
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidates(corpus, "doc_id", "text", n_hashes=8, bands=4, k=3).collect()
    }
    assert (0, 1) in pairs  # exact dups always collide
    assert all(3 not in p and 4 not in p for p in pairs)  # unrelated docs never pair


def test_simhash_distances(corpus):
    sh = {r.doc_id: r.simhash for r in dedup.with_simhash(corpus, "doc_id", "text").collect()}
    assert sh[0] == sh[1]  # identical text → identical fingerprint
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[0], sh[2]) <= 12  # near dup → small distance
    assert ham(sh[0], sh[3]) > 12  # unrelated → large distance


def test_ngram_jaccard_values(corpus):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", k=3, min_jaccard=0.3).collect()
    }
    assert got[(0, 1)] == 1.0
    assert 0.5 < got[(0, 2)] < 1.0
    assert (0, 3) not in got


def test_ngram_jaccard_max_df_matches_python_reference(spark):
    """The df cap against a pure-Python reference: set sizes count every
    shingle, the intersection only shingles held by <= max_df docs, and
    a pair sharing only hot shingles is no pair (q39's oracle shape)."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    hot = "click here to read more"  # boilerplate in every document
    texts = {
        0: f"{BASE} {hot}",
        1: f"{BASE.replace('lazy', 'sleepy')} {hot}",
        2: f"{hot} alpha bravo charlie delta echo foxtrot",
        3: f"golf hotel india juliet kilo {hot} lima",
        4: f"{hot} alpha bravo charlie delta echo golf hotel",
        5: "too short",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    k = 3

    def shingles(t):
        ws = t.split(" ")
        return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}

    sets = {i: shingles(t) for i, t in texts.items() if len(t.split(" ")) >= k}
    dfreq = Counter(s for ss in sets.values() for s in ss)

    def reference(max_df):
        out = {}
        for a in sets:
            for b in sets:
                inter = {
                    s for s in sets[a] & sets[b] if max_df is None or dfreq[s] <= max_df
                }
                if a < b and inter:
                    j = len(inter) / (len(sets[a]) + len(sets[b]) - len(inter))
                    out[(a, b)] = float(
                        Decimal(repr(j)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
                    )
        return out

    assert max(dfreq.values()) == 5  # the hot shingles
    for max_df in (None, 2, 4):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=k, max_df=max_df).collect()
        }
        assert got == reference(max_df), max_df
    assert (2, 3) not in reference(4)  # shares only boilerplate


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame([("  Hello World ",), ("hello world",)], "text string")
    fps = df.select(dedup.fingerprint("text").alias("fp")).collect()
    assert fps[0].fp == fps[1].fp


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing's core guarantee (Schleimer et al. 2003): any shared run
    of >= k + window - 1 tokens produces at least one shared fingerprint;
    fingerprints are a subset of the doc's own k-gram hashes; and the
    scheme keeps roughly 1/window of the grams."""
    shared = "alpha bravo charlie delta echo foxtrot"  # 6 tokens = k+w-1
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"{shared} seven eight nine ten eleven twelve"),
        (3, "completely different text with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = dedup.winnow_fingerprints(df, "doc_id", "text", k=3, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # subset of own k-gram hashes
    from pyspark.sql import functions as F

    grams = dedup.with_shingles(df, "doc_id", "text", 3, out="g").select(
        "doc_id",
        F.explode(
            F.transform("g", lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"))
        ).alias("h"),
    )
    gram_sets = {}
    for r in grams.collect():
        gram_sets.setdefault(r.doc_id, set()).add(r.h)
    for d, fps in by_doc.items():
        assert fps <= gram_sets[d]
        assert len(fps) <= max(1, len(gram_sets[d]))


def test_with_shingles_matches_python_kgrams(spark):
    texts = {1: "a b c d e f g", 2: "a b", 3: "x y z x y", 4: "one"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    for k in (2, 5):
        got = {r.doc_id: r.g for r in dedup.with_shingles(df, "doc_id", "text", k, out="g").collect()}
        want = {
            i: [" ".join(t.split(" ")[j : j + k]) for j in range(len(t.split(" ")) - k + 1)]
            for i, t in texts.items()
            if len(t.split(" ")) >= k
        }
        assert got == want, k


def test_winnow_short_doc_single_window(spark):
    """Docs with >= k tokens but fewer than k+window-1 collapse to one
    window (the global min); docs under k tokens drop out."""
    df = spark.createDataFrame(
        [(1, "just three words"), (2, "too few")], "doc_id long, text string"
    )
    rows = dedup.winnow_fingerprints(df, "doc_id", "text", k=3, window=4).collect()
    assert {r.doc_id for r in rows} == {1}
    assert len(rows) == 1


def test_pairs_within_groups_equals_self_join(spark):
    """The shared row-local pair generator must reproduce the classic
    bucket self-join exactly — including ids in several groups, groups of
    1 (no pairs), duplicate (id, key) postings (collect_set dedup), and a
    large group (pair blow-up)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(11)
    rows = []
    for i in range(300):
        for k in rng.sample(range(40), rng.randint(0, 4)):
            rows.append((i, k))
    rows += [(999, 7)] * 3  # duplicate postings of one id under one key
    rows += [(i, 41) for i in range(60)]  # one hot group
    df = spark.createDataFrame(rows, "id long, k int")

    posting = df.select(F.struct(F.col("id")).alias("d"), "k")
    got = (
        dedup.pairs_within_groups(posting, ["k"])
        .select(F.col("p.a.id").alias("a"), F.col("p.b.id").alias("b"))
        .distinct()
    )
    uniq = df.distinct()
    l, r = uniq.alias("l"), uniq.alias("r")
    want = (
        l.join(r, (F.col("l.k") == F.col("r.k")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == want.count() > 1700  # the hot group alone is 1770


def test_pairs_within_groups_star_overflow(spark):
    """Groups over max_group divert to the streaming star expansion:
    (group-min, member) pairs only — g-1 pairs instead of g·(g-1)/2,
    connectivity preserved (one component either way). Groups at or
    under the cap stay byte-identical to the exact path."""
    from pyspark.sql import functions as F

    rows = [(i, 1) for i in range(10)]  # small group: exact all-pairs
    rows += [(100 + i, 2) for i in range(100)]  # hot group: star
    df = spark.createDataFrame(rows, "id long, k int")
    posting = df.select(F.struct(F.col("id")).alias("d"), "k")
    pairs = {
        (r.a, r.b)
        for r in dedup.pairs_within_groups(posting, ["k"], max_group=64)
        .select(F.col("p.a.id").alias("a"), F.col("p.b.id").alias("b"))
        .distinct()
        .collect()
    }
    small = {(a, b) for a, b in pairs if a < 100}
    star = {(a, b) for a, b in pairs if a >= 100 or b >= 100}
    assert len(small) == 45  # 10·9/2 exact pairs
    assert star == {(100, 100 + i) for i in range(1, 100)}  # g-1 star pairs
    # connectivity: every hot-group member reachable from the anchor
    touched = {x for p in star for x in p}
    assert touched == {100 + i for i in range(100)}


def test_minhash_adversarial_identical_corpus(spark):
    """VERDICT r3 finding #2: a degenerate corpus (thousands of identical
    docs → every doc shares every band key) must NOT explode into
    g·(g-1)/2 pairs or buffer a giant collect_set array. With the star
    cap the candidate set is exactly n-1 anchor pairs."""
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(BASE).alias("text")
    )
    pairs = dedup.minhash_candidates(df, "doc_id", "text", n_hashes=8, bands=4, k=5)
    rows = pairs.collect()
    assert len(rows) == n - 1
    assert all(r.id_a == 0 for r in rows)  # anchored at the min id
    assert {r.id_b for r in rows} == set(range(1, n))


def test_band_keys_incremental_flags_known_dup(corpus):
    """Incremental dedup via the persisted band-key index: a new batch
    doc that duplicates a corpus doc shares band keys; unrelated docs
    don't."""
    # corpus = docs 0-2 (BASE + near-dup), batch = copies/new material
    existing = corpus.filter(F.col("doc_id") <= 2)
    batch = corpus.sparkSession.createDataFrame(
        [
            (10, BASE),  # exact dup of doc 0
            (11, "fresh unseen sentences about tensors and gradient descent "
                 "optimizers stepping through loss landscapes very carefully"),
        ],
        "doc_id long, text string",
    )
    ck = dedup.band_keys(existing, "doc_id", "text", n_hashes=8, bands=4, k=5)
    bk = dedup.band_keys(batch, "doc_id", "text", n_hashes=8, bands=4, k=5)
    matched = {
        r.doc_id
        for r in ck.join(bk.select("doc_id", "band_key"), "band_key")
        .select(bk.doc_id)
        .distinct()
        .collect()
    }
    assert 10 in matched and 11 not in matched


def test_band_keys_consistent_with_candidates(corpus):
    """minhash_candidates must equal the pairs derivable from band_keys
    (the refactor invariant: one is defined through the other)."""
    bk = dedup.band_keys(corpus, "doc_id", "text", n_hashes=8, bands=4, k=5)
    l, r = bk.alias("l"), bk.alias("r")
    want = {
        (x.id_a, x.id_b)
        for x in l.join(
            r,
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
        .distinct()
        .collect()
    }
    got = {
        (x.id_a, x.id_b)
        for x in dedup.minhash_candidates(
            corpus, "doc_id", "text", n_hashes=8, bands=4, k=5
        ).collect()
    }
    assert got == want and (0, 1) in got


def test_bloom_no_false_negatives_and_fp_regime(spark):
    """bloom_build/bloom_probe (the q105 core): (1) NO false negative at
    any size — every present key hits; (2) at a saturating size (words=2
    -> 64 bits for 400 present keys) absent keys false-positive heavily,
    and every one of those FPs is exactly the kind the downstream
    exact-verify removes; (3) at a generous size (words=4096) absent
    keys mostly miss. All deterministic md5 arithmetic, mirrored by a
    pure-python twin."""
    import hashlib

    from pyspark.sql import functions as F

    from bbc_news_data_pipeline_spark.operators.dedup import bloom_build, bloom_probe

    present = [f"p{i}" for i in range(400)]
    absent = [f"a{i}" for i in range(200)]

    def md5hex(s):
        return hashlib.md5(s.encode()).hexdigest()

    def py_bloom(keys, words, k=4):
        m = words * 32
        bits = set()
        for key in keys:
            h = md5hex(key)
            h1, h2 = int(h[:8], 16), int(h[8:16], 16)
            bits.update((h1 + j * h2) % m for j in range(k))
        return bits

    def py_hit(key, bits, words, k=4):
        m = words * 32
        h = md5hex(key)
        h1, h2 = int(h[:8], 16), int(h[8:16], 16)
        return all((h1 + j * h2) % m in bits for j in range(k))

    pres_df = spark.createDataFrame(
        [(i, md5hex(s)) for i, s in enumerate(present)], "id long, key string"
    )
    abs_df = spark.createDataFrame(
        [(i, md5hex(s)) for i, s in enumerate(absent)], "id long, key string"
    )
    for words in (2, 4096):
        bloom = bloom_build(pres_df, "key", words=words)
        got_p = {r.key: r.bloom_hit for r in bloom_probe(pres_df, bloom, "id", "key", words=words).collect()}
        got_a = {r.key: r.bloom_hit for r in bloom_probe(abs_df, bloom, "id", "key", words=words).collect()}
        assert all(v == 1 for v in got_p.values()), f"false negative at words={words}"
        bits = py_bloom(present, words)
        expect_a = {md5hex(s): int(py_hit(s, bits, words)) for s in absent}
        assert got_a == expect_a, f"probe mismatch vs python twin at words={words}"
        fp = sum(got_a.values())
        if words == 2:
            assert fp == len(absent)  # saturated: every absent key FPs
        else:
            assert fp < len(absent) * 0.1  # generous sizing: <10% FP


def test_bloom_hit_expr_matches_probe_and_streams(spark, tmp_path):
    """The row-local literal-map probe must agree with the join-based
    bloom_probe on every key (present AND absent, across saturated and
    generous sizings), and must work as a plain filter on a REAL
    readStream — the zero-shuffle ingest-time membership check the
    groupBy-based probe cannot provide."""
    import hashlib

    from pyspark.sql import functions as F

    from bbc_news_data_pipeline_spark.operators.dedup import (
        bloom_build,
        bloom_collected,
        bloom_hit_expr,
        bloom_probe,
    )

    def md5hex(s):
        return hashlib.md5(s.encode()).hexdigest()

    present = [md5hex(f"p{i}") for i in range(300)]
    mixed = [(i, md5hex(f"p{i}")) for i in range(150)] + [
        (1000 + i, md5hex(f"x{i}")) for i in range(150)
    ]
    pres_df = spark.createDataFrame([(k,) for k in present], "key string")
    probe_df = spark.createDataFrame(mixed, "id long, key string")
    for words in (8, 2048):
        bloom = bloom_build(pres_df, "key", words=words)
        fmap = bloom_collected(bloom)
        via_join = {
            r.id: r.bloom_hit
            for r in bloom_probe(probe_df, bloom, "id", "key", words=words).collect()
        }
        via_expr = {
            r.id: r.hit
            for r in probe_df.select(
                "id", bloom_hit_expr(F.col("key"), fmap, words=words).alias("hit")
            ).collect()
        }
        assert via_expr == via_join, f"expr/probe divergence at words={words}"
        assert all(via_expr[i] == 1 for i, _ in mixed[:150])  # no false negatives

    # streaming: the expr is a plain row-local filter on readStream
    src = str(tmp_path / "src")
    probe_df.coalesce(1).write.parquet(src)
    bloom = bloom_build(pres_df, "key", words=2048)
    fmap = bloom_collected(bloom)
    stream = spark.readStream.schema("id long, key string").parquet(src)
    q = (
        stream.filter(bloom_hit_expr(F.col("key"), fmap, words=2048) == 1)
        .writeStream.format("memory")
        .queryName("bloom_stream_hits")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    hits = {r.id for r in spark.table("bloom_stream_hits").collect()}
    spark.catalog.dropTempView("bloom_stream_hits")
    expect = {i for i, _ in mixed if via_expr.get(i, 0) == 1}
    assert hits == {i for i, k in mixed if i in expect}


def test_q139_matches_python_integer_recurrence(spark, sf_dir):
    """Third independent derivation of the K=3 PageRank trajectory: pull
    the capped candidate-pair graph once, run the INTEGER recurrence
    (micro-unit ranks, floor-division damping/spread) in pure Python,
    and compare the full top-20 output of q139 — every rank at every
    step, exactly (the recurrence has no float anywhere, so equality is
    exact, not approximate)."""
    from collections import defaultdict

    from bbc_news_data_pipeline_spark.plans.dedup_plans import (
        _MAX_GROUP,
        _PR_TOPK,
        _Q139_K,
        _Q139_SCALE,
        SHINGLE_K,
        q139_pagerank_iterations,
    )
    from bbc_news_data_pipeline_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidates(
            docs, "doc_id", "text", n_hashes=8, bands=4, k=SHINGLE_K,
            max_group=_MAX_GROUP,
        ).select("id_a", "id_b").collect()
    }
    out_edges = defaultdict(list)
    for a, b in pairs:
        out_edges[a].append(b)
        out_edges[b].append(a)
    deg = {u: len(vs) for u, vs in out_edges.items()}
    rank = {u: _Q139_SCALE for u in deg}
    traj = []
    for _ in range(_Q139_K):
        s = defaultdict(int)
        for u, vs in out_edges.items():
            c = rank[u] // deg[u]
            for v in vs:
                s[v] += c
        rank = {v: 150_000 + (85 * sv) // 100 for v, sv in s.items()}
        traj.append(dict(rank))
    r1, r2, r3 = traj
    expected = sorted(
        (
            (v, deg[v], r1[v], r2[v], r3[v], abs(r3[v] - r2[v]))
            for v in r3
        ),
        key=lambda t: (-t[4], t[0]),
    )[:_PR_TOPK]

    got = [
        (
            r.doc_id,
            r.deg,
            round(r.rank1 * _Q139_SCALE),
            round(r.rank2 * _Q139_SCALE),
            round(r.rank3 * _Q139_SCALE),
            r.delta_micro,
        )
        for r in q139_pagerank_iterations(spark, sf_dir).collect()
    ]
    assert got == expected


def test_sorted_neighborhood_equals_global_sliding_window(spark, sf_dir):
    """q211's sharded pair set must EQUAL the single-machine definition:
    sort all docs by (key, doc_id), pair each with its W nearest
    followers — including pairs that straddle shard seams. Jaccard
    spot-checked against python on the 5 highest-overlap pairs."""
    from bbc_news_data_pipeline_spark.plans.dedup_plans import (
        _Q211_KEYLEN,
        _Q211_JK,
        _Q211_WIN,
        q211_sorted_neighborhood,
    )

    pdf = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    order = sorted(
        (t[:_Q211_KEYLEN].lower(), i) for i, t in zip(pdf.doc_id, pdf.text)
    )
    ids = [i for _, i in order]
    expect = set()
    for a in range(len(ids)):
        for b in range(a + 1, min(a + _Q211_WIN + 1, len(ids))):
            expect.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    out = q211_sorted_neighborhood(spark, sf_dir).collect()
    got = {(r.id_lo, r.id_hi) for r in out}
    assert got == expect
    assert len(out) == len(expect)  # no duplicate pair rows
    assert any(r.cross_seam == 1 for r in out)  # seams actually exercised

    text = {i: t for i, t in zip(pdf.doc_id, pdf.text)}

    def sh(t):
        toks = t.lower().split(" ")
        return {
            " ".join(toks[i:i + _Q211_JK])
            for i in range(max(len(toks) - _Q211_JK + 1, 1))
            if len(toks[i:i + _Q211_JK]) == _Q211_JK
        }

    for r in sorted(out, key=lambda r: -r.n_inter)[:5]:
        a, b = sh(text[r.id_lo]), sh(text[r.id_hi])
        assert r.n_inter == len(a & b) and r.n_union == len(a | b)


def test_bfs_distances_python_twin(spark, sf_dir):
    """q244 vs a pure-python BFS over the SAME capped LSH candidate
    graph (materialized via q46): distances agree exactly, seeds are
    the N smallest nodes, unreached report -1."""
    from collections import deque

    from bbc_news_data_pipeline_spark.plans.dedup_plans import (
        _Q244_K,
        _Q244_NSEEDS,
        q244_bfs_distances,
    )
    from bbc_news_data_pipeline_spark.plans.dedup_plans import (
        q46_minhash_band_candidates,
    )

    pairs = q46_minhash_band_candidates(spark, sf_dir).collect()
    adj = {}
    for r in pairs:
        adj.setdefault(r.id_a, set()).add(r.id_b)
        adj.setdefault(r.id_b, set()).add(r.id_a)
    nodes = sorted(adj)
    seeds = nodes[:_Q244_NSEEDS]
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] >= _Q244_K:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {r.doc_id: r.dist for r in q244_bfs_distances(spark, sf_dir).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == dist.get(v, -1), (v, got[v], dist.get(v))
    assert sorted(v for v, d in got.items() if d == 0) == seeds


def test_modularity_python_twin(spark, sf_dir):
    """q250 vs python modularity computed from the oracle-verified q46
    pair list and q200's (oracle-verified) round-3 labels — the exact
    integer numerators and the replicated total must agree."""
    from collections import Counter
    from math import floor

    from bbc_news_data_pipeline_spark.plans.curation_plans import (
        q200_label_propagation,
        q250_modularity,
    )
    from bbc_news_data_pipeline_spark.plans.dedup_plans import (
        q46_minhash_band_candidates,
    )

    pairs = [(r.id_a, r.id_b)
             for r in q46_minhash_band_candidates(spark, sf_dir).collect()]
    lbl = {r.doc_id: r.lbl3
           for r in q200_label_propagation(spark, sf_dir).collect()}
    m = len(pairs)
    deg = Counter()
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    d_c, n_nodes, m_c = Counter(), Counter(), Counter()
    for v, l in lbl.items():
        d_c[l] += deg[v]
        n_nodes[l] += 1
    for a, b in pairs:
        if lbl[a] == lbl[b]:
            m_c[lbl[a]] += 1
    rows = {r.community: r for r in q250_modularity(spark, sf_dir).collect()}
    assert set(rows) == set(n_nodes)
    q_num = 0
    for l in n_nodes:
        contrib = 4 * m * m_c.get(l, 0) - d_c[l] * d_c[l]
        r = rows[l]
        assert (r.n_nodes, r.m_c, r.d_c) == (n_nodes[l], m_c.get(l, 0), d_c[l])
        assert r.contrib_num == float(contrib)
        q_num += contrib
    want_q = floor(q_num / (4 * m * m) * 1e6 + 0.5) / 1e6
    for r in rows.values():
        assert r.modularity_q == want_q
    # communities from LPA on a near-dup graph must beat the null model
    assert want_q > 0


def test_q284_lsh_param_tune_twin(spark, sf_dir):
    """q284 vs a pure-Python twin of the full tune — md5 doc sample,
    exact shingle-set Jaccard, integer binning, CASE-bound repeated-
    squaring S-curve, 1e-12 per-bin quantization, integer fp/fn sums,
    argmin — plus the S-curve monotonicity invariant (at any fixed s,
    collision probability rises with more bands of fewer rows)."""
    import hashlib
    from math import floor

    from bbc_news_data_pipeline_spark.plans.dedup_plans import (
        _Q284_BINS,
        _Q284_CONFIGS,
        _Q284_PSCALE,
        _Q284_RATE,
        _Q284_T_DEN,
        _Q284_T_NUM,
        SHINGLE_K,
        q284_lsh_param_tune,
    )

    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    thr = int(_Q284_RATE * (1 << 32))

    def key(d):
        return int(hashlib.md5(f"lshtune:{d}".encode()).hexdigest()[:8], 16)

    sets = {}
    for r in rows:
        toks = r.text.split(" ")
        if len(toks) >= SHINGLE_K and key(r.doc_id) < thr:
            sets[r.doc_id] = {
                " ".join(toks[i : i + SHINGLE_K])
                for i in range(len(toks) - SHINGLE_K + 1)
            }
    ids = sorted(sets)
    hist = {}
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            bn = min((inter * _Q284_BINS) // uni, _Q284_BINS - 1)
            hist[bn] = hist.get(bn, 0) + 1
    n_pairs = sum(hist.values())

    def pi(bn, bcfg, rcfg):
        s = (2.0 * bn + 1.0) / (2.0 * _Q284_BINS)
        s2 = s * s
        s4 = s2 * s2
        sr = {8: s4 * s4, 4: s4, 2: s2, 1: s}[rcfg]
        q = 1.0 - sr
        q2 = q * q
        q4 = q2 * q2
        qb = {8: q4 * q4, 4: q4, 2: q2, 1: q}[bcfg]
        return int(floor((1.0 - qb) * float(_Q284_PSCALE)))

    expect = {}
    for bcfg, rcfg in _Q284_CONFIGS:
        fp = sum(
            c * pi(bn, bcfg, rcfg)
            for bn, c in hist.items()
            if bn * _Q284_T_DEN < _Q284_BINS * _Q284_T_NUM
        )
        fn = sum(
            c * (_Q284_PSCALE - pi(bn, bcfg, rcfg))
            for bn, c in hist.items()
            if bn * _Q284_T_DEN >= _Q284_BINS * _Q284_T_NUM
        )
        expect[bcfg] = (rcfg, fp, fn)
    best = min(expect, key=lambda b: (expect[b][1] + expect[b][2], b))

    out = {r.b: r for r in q284_lsh_param_tune(spark, sf_dir).collect()}
    assert sorted(out) == sorted(b for b, _ in _Q284_CONFIGS)
    for bcfg, r in out.items():
        rcfg, fp, fn = expect[bcfg]
        assert r.r == rcfg and r.n_pairs == n_pairs
        assert r.fp_mass == floor(fp / n_pairs / 1e6 + 0.5) / 1e6
        assert r.fn_mass == floor(fn / n_pairs / 1e6 + 0.5) / 1e6
        assert r.chosen == (bcfg == best)
    # S-curve monotonicity: more bands of fewer rows collide more
    for bn in range(_Q284_BINS):
        ps = [pi(bn, b, r) for b, r in _Q284_CONFIGS]  # (1,8) -> (8,1)
        assert ps == sorted(ps)
