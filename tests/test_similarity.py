"""Similarity-search operators vs numpy ground truth."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bbc_news_data_pipeline_spark.operators import similarity


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(42)
    base = rng.normal(size=8).astype("float32")
    rows = []
    for i in range(50):
        if i < 25:  # cluster around base
            v = base + rng.normal(scale=0.1, size=8).astype("float32")
        else:  # scattered
            v = rng.normal(size=8).astype("float32")
        rows.append((i, [float(x) for x in v]))
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_matches_numpy(spark, vectors):
    rows, df = vectors
    qv = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    got = {
        r.vec_id: r.cos_sim
        for r in similarity.cosine_topk(df.filter("vec_id != 0"), qv, k=49).collect()
    }
    q = np.array(rows[0][1], dtype="float64")
    for vid, vec in rows[1:]:
        ref = float(np.dot(q, vec) / (np.linalg.norm(q) * np.linalg.norm(vec)))
        assert got[vid] == pytest.approx(round(ref, 4), abs=2e-4)


def test_quantized_cosine_error_bound(spark, vectors):
    """The quantized-exact cosine (SCALE.md round-5 determinism note) may
    differ from the true float64 cosine by the 1e-6 component resolution
    — property-check the bound UNROUNDED across random pairs, including
    tiny-magnitude vectors where relative quantization error is worst."""
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(scale=s, size=16)])
            for i, s in enumerate([1.0] * 20 + [0.01] * 5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a, b = df.alias("a"), df.alias("b")
    got = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            similarity.cosine("a.embedding", "b.embedding").alias("c"),
        )
        .collect()
    )
    by_id = {i: np.array(v, dtype="float64") for i, v in rows}
    # float32 storage already quantizes at ~1e-7 relative; the 1e-6 grid
    # adds |Δcos| ≲ 2·dim·ε/|v| — loose bound 1e-3 for the 0.01-scale rows
    for r in got:
        va, vb = by_id[r.ia], by_id[r.ib]
        ref = float(np.dot(va, vb) / (np.linalg.norm(va) * np.linalg.norm(vb)))
        tol = 1e-4 if min(np.linalg.norm(va), np.linalg.norm(vb)) > 0.5 else 1e-3
        assert abs(r.c - ref) < tol, (r.ia, r.ib, r.c, ref)


def test_topk_order(spark, vectors):
    rows, df = vectors
    qv = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    top = similarity.cosine_topk(df.filter("vec_id != 0"), qv, k=10).collect()
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(r.vec_id < 25 for r in top)  # top-k all from the planted cluster


def _argmin_ref(p, cents):
    """(cell, d) of the exact int64 squared-L2 argmin, ties to the
    smallest cell id."""
    d = {c: int(((p - v) ** 2).sum()) for c, v in cents.items()}
    return min(d.items(), key=lambda cd: (cd[1], cd[0]))


def test_nearest_centroid_ties_exact_distance_and_subspaces(spark):
    """The one nearest-centroid argmin every k-means step, PQ codebook,
    IVF assignment and SemDeDup cluster uses: equidistant centroids
    resolve to the smaller cell id, ``d`` is the exact int64 squared L2
    (values past 2^31, as quantized vectors give), and the join-keyed
    per-subspace form matches a per-subspace argmin."""
    rng = np.random.default_rng(11)
    dim = 6
    pts = {i: rng.integers(-2_000_000, 2_000_000, dim) for i in range(1, 41)}
    cents = {c: rng.integers(-2_000_000, 2_000_000, dim) for c in (0, 2, 4)}
    # point 0 sits exactly midway between cells 3 and 1, far from the rest
    pts[0] = np.zeros(dim, dtype=np.int64)
    cents[3] = np.array([-10] + [0] * (dim - 1))
    cents[1] = np.array([10] + [0] * (dim - 1))
    as_rows = lambda m: [(k, [int(x) for x in v]) for k, v in m.items()]
    p_df = spark.createDataFrame(as_rows(pts), "vec_id long, qv array<long>")
    c_df = spark.createDataFrame(as_rows(cents), "cell long, cvec array<long>")

    got = {
        r.vec_id: (r.cell, r.d)
        for r in similarity.nearest_centroid(
            p_df, c_df, ["vec_id"], "qv", "cvec", "cell"
        ).collect()
    }
    assert got[0] == (1, 100)
    assert got == {i: _argmin_ref(p, cents) for i, p in pts.items()}
    assert max(d for _, d in got.values()) > 2**31

    # per-subspace form: subspace m of a point scores only codebook m
    half = dim // 2
    sub = lambda m, v: v[m * half:(m + 1) * half]
    sp_df = spark.createDataFrame(
        [(i, m, [int(x) for x in sub(m, p)]) for i, p in pts.items() for m in (0, 1)],
        "vec_id long, m int, sv array<long>",
    )
    cb_df = spark.createDataFrame(
        [(c, m, [int(x) for x in sub(m, v)]) for c, v in cents.items() for m in (0, 1)],
        "code long, m int, cw array<long>",
    )
    got_sub = {
        (r.vec_id, r.m): (r.code, r.d)
        for r in similarity.nearest_centroid(
            sp_df, cb_df, ["vec_id", "m"], "sv", "cw", "code", on=["m"]
        ).collect()
    }
    assert got_sub == {
        (i, m): _argmin_ref(sub(m, p), {c: sub(m, v) for c, v in cents.items()})
        for i, p in pts.items()
        for m in (0, 1)
    }


def test_lsh_bucket_ann_finds_cluster(spark, vectors):
    rows, df = vectors
    rng = np.random.default_rng(7)
    planes = [[float(x) for x in rng.normal(size=8)] for _ in range(6)]
    pairs = similarity.lsh_bucket_ann(df, planes, min_cos=0.95).collect()
    assert len(pairs) > 0
    # high-cosine pairs can only come from the planted cluster
    assert all(r.id_a < 25 and r.id_b < 25 for r in pairs)
    assert all(r.cos_sim >= 0.95 for r in pairs)


def test_embedding_neardup_survivors(spark, vectors):
    """Greedy first-wins dedup over LSH candidate edges: a vector survives
    iff no lower-id vector shares its bucket with cosine >= threshold."""
    rows, df = vectors
    rng = np.random.default_rng(7)
    planes = [[float(x) for x in rng.normal(size=8)] for _ in range(6)]
    pairs = similarity.lsh_bucket_ann(df, planes, min_cos=0.95)
    dropped = {r.id_b for r in pairs.select("id_b").distinct().collect()}
    survivors = {
        r.vec_id
        for r in df.join(
            F.broadcast(pairs.select(F.col("id_b").alias("vec_id")).distinct()),
            "vec_id",
            "left_anti",
        ).collect()
    }
    assert survivors == {i for i, _ in rows} - dropped
    # scattered vectors (no near neighbors at 0.95) all survive
    assert {i for i in range(25, 50)} <= survivors
    # the planted cluster collapses: at least one member dropped
    assert dropped and dropped <= set(range(25))


def _qint_py(v):
    import math

    return [int(math.floor(float(x) * similarity.QUANT_SCALE + 0.5)) for x in v]


@pytest.fixture(scope="module")
def semdedup_frames(spark):
    """Hand-built corpus (synthetic, authored for this test): two seed
    directions with near-duplicate satellites plus one orthogonal loner.

    ids 0/50: seeds (e_x, e_y). ids 1,2: ≈e_x (cluster 0 near-dups of the
    seed and each other). id 3: e_z, nearest seed 0 by L2 but orthogonal
    (no cosine hit). id 51: ≈e_y (cluster 50 near-dup of the seed).
    """
    dim = 4

    def unit(i, eps=0.0):
        v = [0.0] * dim
        v[i] = 1.0
        if eps:
            v[(i + 1) % dim] += eps
        return v

    rows = [
        (0, unit(0)),
        (1, unit(0, 1e-3)),
        (2, unit(0, 2e-3)),
        (3, unit(2)),
        (50, unit(1)),
        (51, unit(1, 1e-3)),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = spark.createDataFrame(
        [(i, _qint_py(v)) for i, v in rows if i % 50 == 0],
        "seed_id long, seed_qv array<long>",
    )
    return rows, emb, seeds


def test_semantic_dedup_drop_rule(spark, semdedup_frames):
    """Lower-id-wins within a cluster: the seed (lowest id) survives, every
    near-dup satellite drops, orthogonal members survive, and cluster
    assignment follows the exact-L2 argmin."""
    rows, emb, seeds = semdedup_frames
    out = {
        r.vec_id: r.cluster_id
        for r in similarity.semantic_dedup(emb, seeds, min_cos=0.9).collect()
    }
    # survivors: both seeds + the orthogonal loner; all satellites dropped
    assert out == {0: 0, 3: 0, 50: 50}


def test_semantic_dedup_chain_drops_all_lower_id_matches(spark, semdedup_frames):
    """ids 1 and 2 BOTH drop (each has a lower-id cosine match — 0 for
    both, and 1 for 2): the iff-lower-id rule, not a sequential greedy
    scan whose survivor set could differ under reordering."""
    rows, emb, seeds = semdedup_frames
    survivors = {
        r.vec_id for r in similarity.semantic_dedup(emb, seeds, min_cos=0.9).collect()
    }
    assert 1 not in survivors and 2 not in survivors


def test_semantic_dedup_cluster_cap(spark, semdedup_frames):
    """max_cluster below cluster-0's occupancy (4 members) disables pair
    generation there — all its members survive — while cluster 50 (2
    members, under the cap) still dedups. Mirrors q97's oracle HAVING."""
    rows, emb, seeds = semdedup_frames
    survivors = {
        r.vec_id
        for r in similarity.semantic_dedup(
            emb, seeds, min_cos=0.9, max_cluster=3
        ).collect()
    }
    assert survivors == {0, 1, 2, 3, 50}


def test_kmeans_two_steps_matches_numpy_twin(spark):
    """q127: both Lloyd iterations — including the 4dp-round +
    re-quantize centroid round-trip between them — recomputed in numpy
    from the parquet input."""
    import pyarrow.parquet as pq

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q83_SEED_MOD,
        q127_kmeans_two_steps,
    )

    sf = "/root/testdata/sf0.001"
    out = q127_kmeans_two_steps(spark, sf).toPandas()

    tbl = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
    ids = tbl.vec_id.to_numpy()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in tbl.embedding])
    q = np.floor(mat * 1_000_000 + 0.5).astype(np.int64)
    seed_mask = ids % _Q83_SEED_MOD == 0
    corpus_q, corpus_raw = q[~seed_mask], mat[~seed_mask]

    def lloyd(cent_ids, cent_q):
        # assignment: exact int64 squared L2, tiebreak lowest cluster id
        d = ((corpus_q[:, None, :] - cent_q[None, :, :]) ** 2).sum(axis=2)
        assign = cent_ids[np.argmin(d, axis=1)]  # argmin takes first = lowest id
        cents = {}
        for cid in sorted(set(assign)):
            members = corpus_raw[assign == cid]
            s = np.floor(members * 1_000_000 + 0.5).astype(np.int64).sum(axis=0)
            cv = s.astype(np.float64) / (1_000_000.0 * len(members))
            cv = np.floor(cv * 10_000 + 0.5) / 10_000  # qround 4dp
            cents[cid] = (cv, len(members))
        return cents

    c1 = lloyd(ids[seed_mask], q[seed_mask])
    cent_ids2 = np.array(sorted(c1))
    cent_q2 = np.stack(
        [np.floor(c1[c][0] * 1_000_000 + 0.5).astype(np.int64) for c in cent_ids2]
    )
    c2 = lloyd(cent_ids2, cent_q2)

    got = {
        (r.cluster_id, r.dim): (r.centroid_val, r.n_members) for r in out.itertuples()
    }
    want = {
        (cid, dim): (cv[dim], n)
        for cid, (cv, n) in c2.items()
        for dim in range(cv.shape[0])
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1], k
        assert abs(got[k][0] - want[k][0]) < 1e-12, k


def test_pq_codebook_dominates_full_vector_vq(spark, sf_dir):
    """q186's product structure: per-subspace independent argmin can
    never lose to assigning the WHOLE vector to its single nearest seed
    (the additive distortion decomposes and each term is minimized
    separately) — pq_total <= vq_total. Also: every (vector, subspace)
    is coded exactly once (member counts per subspace = corpus size)."""
    from pyspark.sql import functions as F

    from bbc_news_data_pipeline_spark.operators.similarity import _qint, sq_l2_q
    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q186_M,
        _Q186_SEED_MOD,
        q186_pq_codebook,
    )

    rows = q186_pq_codebook(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_corpus = emb.filter(F.col("vec_id") % _Q186_SEED_MOD != 0).count()
    per_sub = {}
    for r in rows:
        per_sub[r.subspace] = per_sub.get(r.subspace, 0) + r.n_members
    assert per_sub == {m: n_corpus for m in range(_Q186_M)}
    pq_total = sum(r.total_sqerr for r in rows)

    seeds = emb.filter(F.col("vec_id") % _Q186_SEED_MOD == 0).select(
        F.col("vec_id").alias("code"), _qint("embedding").alias("seed_qv")
    )
    vq_total = (
        emb.filter(F.col("vec_id") % _Q186_SEED_MOD != 0)
        .select("vec_id", _qint("embedding").alias("qv"))
        .crossJoin(F.broadcast(seeds))
        .select("vec_id", sq_l2_q("qv", "seed_qv").alias("d"))
        .groupBy("vec_id")
        .agg(F.min("d").alias("dm"))
        .agg(F.sum("dm"))
        .collect()[0][0]
    ) / 1e12
    assert pq_total <= vq_total + 1e-6
    assert pq_total > 0


def test_ivfpq_adc_numpy_twin(spark, sf_dir):
    """q199 vs numpy: rebuild the quantized vectors, the IVF probe list,
    the PQ codes, the ADC table, and the exact top-k; the returned rows
    must be the ADC top-k restricted to probed cells, every distance
    must match the int64 arithmetic, and recall@k must equal the
    actual overlap with the exact top-k."""
    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q186_M,
        _Q186_SEED_MOD,
        _Q186_SUB,
        _Q199_K,
        _Q199_NCELL,
        _Q199_NPROBE,
        _Q199_QID,
        q199_ivfpq_search,
    )

    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    ids = pdf.vec_id.to_numpy()
    mat = np.floor(
        np.stack(pdf.embedding.to_numpy()).astype(np.float64) * 1_000_000 + 0.5
    ).astype(np.int64)
    byid = {int(i): mat[k] for k, i in enumerate(ids)}
    cents = {i: v for i, v in byid.items() if i < _Q199_NCELL}
    corpus = {i: v for i, v in byid.items() if i >= _Q199_NCELL}
    q = byid[_Q199_QID]

    def sq(a, b):
        d = a - b
        return int(d @ d)

    assign = {
        i: min(cents, key=lambda c: (sq(v, cents[c]), c))
        for i, v in corpus.items()
    }
    probed = sorted(cents, key=lambda c: (sq(cents[c], q), c))[:_Q199_NPROBE]
    seeds = {i: v for i, v in byid.items() if i % _Q186_SEED_MOD == 0}

    def sub(v, m):
        return v[m * _Q186_SUB:(m + 1) * _Q186_SUB]

    codes = {
        (i, m): min(seeds, key=lambda s: (sq(sub(v, m), sub(seeds[s], m)), s))
        for i, v in corpus.items() for m in range(_Q186_M)
    }
    lut = {
        (m, s): sq(sub(q, m), sub(v, m))
        for s, v in seeds.items() for m in range(_Q186_M)
    }
    adc = {
        i: sum(lut[(m, codes[(i, m)])] for m in range(_Q186_M))
        for i in corpus if assign[i] in probed
    }
    top_adc = sorted(adc, key=lambda i: (adc[i], i))[:_Q199_K]
    exact = {i: sq(v, q) for i, v in corpus.items()}
    top_exact = set(sorted(exact, key=lambda i: (exact[i], i))[:_Q199_K])

    out = {r.vec_id: r for r in q199_ivfpq_search(spark, sf_dir).collect()}
    assert set(out) == set(top_adc)
    hits = sum(1 for i in top_adc if i in top_exact)
    for i, r in out.items():
        assert r.cell == assign[i] and r.cell in probed
        assert r.adc_sqdist == np.floor(adc[i] / 1e12 * 1e4 + 0.5) / 1e4
        assert r.exact_sqdist == np.floor(exact[i] / 1e12 * 1e4 + 0.5) / 1e4
        assert r.in_exact_topk == (1 if i in top_exact else 0)
        assert r.recall_at_k == round(hits / _Q199_K, 4)


def test_dim_truncation_numpy_twin(spark, sf_dir):
    """q216 vs numpy: per-prefix-dimension exact top-k, recall vs the
    full-dim baseline, top-1 ids; full-dim recall must be 1.0."""
    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q216_DIMS,
        _Q216_K,
        _Q216_QID,
        q216_dim_truncation,
    )

    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    ids = pdf.vec_id.to_numpy()
    mat = np.floor(
        np.stack(pdf.embedding.to_numpy()).astype(np.float64) * 1_000_000 + 0.5
    ).astype(np.int64)
    byid = {int(i): mat[k] for k, i in enumerate(ids)}
    q = byid[_Q216_QID]
    corpus = {i: v for i, v in byid.items() if i != _Q216_QID}

    def topk(d):
        dist = {i: int(((v[:d] - q[:d]) ** 2).sum()) for i, v in corpus.items()}
        return sorted(dist, key=lambda i: (dist[i], i))[:_Q216_K]

    base = set(topk(_Q216_DIMS[-1]))
    out = {r.dim: r for r in q216_dim_truncation(spark, sf_dir).collect()}
    assert set(out) == set(_Q216_DIMS)
    for d in _Q216_DIMS:
        t = topk(d)
        r = out[d]
        assert r.n_hits == len(set(t) & base)
        assert r.recall_at_k == len(set(t) & base) / _Q216_K
        assert r.top1_id == t[0]
    assert out[_Q216_DIMS[-1]].recall_at_k == 1.0


def test_sq8_recall_numpy_twin(spark, sf_dir):
    """q231 vs numpy: per-dim min/max codec, int code distances, exact
    baseline, recall and flags."""
    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q231_K,
        _Q231_LEVELS,
        _Q231_QID,
        q231_sq8_recall,
    )

    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    ids = pdf.vec_id.to_numpy()
    mat = np.floor(
        np.stack(pdf.embedding.to_numpy()).astype(np.float64) * 1_000_000 + 0.5
    ).astype(object)  # python ints for exact // arithmetic
    mat = np.vectorize(int)(mat)
    mn, mx = mat.min(axis=0), mat.max(axis=0)
    span = np.where(mx == mn, 1, mx - mn)
    codes = np.where(
        mx == mn, 0, (mat - mn) * _Q231_LEVELS // span
    )
    byid = {int(i): k for k, i in enumerate(ids)}
    qi = byid[_Q231_QID]
    corpus = [int(i) for i in ids if i != _Q231_QID]

    def sq(u, v):
        d = u - v
        return int((d * d).sum())

    cdist = {i: sq(codes[byid[i]], codes[qi]) for i in corpus}
    edist = {i: sq(mat[byid[i]], mat[qi]) for i in corpus}
    top_sq = sorted(corpus, key=lambda i: (cdist[i], i))[:_Q231_K]
    top_ex = set(sorted(corpus, key=lambda i: (edist[i], i))[:_Q231_K])
    out = {r.vec_id: r for r in q231_sq8_recall(spark, sf_dir).collect()}
    assert set(out) == set(top_sq)
    hits = sum(1 for i in top_sq if i in top_ex)
    for i, r in out.items():
        assert r.code_sqdist == cdist[i]
        assert r.exact_sqdist == np.floor(edist[i] / 1e12 * 1e4 + 0.5) / 1e4
        assert r.in_exact_topk == (1 if i in top_ex else 0)
        assert r.recall_at_k == round(hits / _Q231_K, 4)


def test_kcenter_python_twin(spark, sf_dir):
    """q248 vs a pure-python greedy farthest-point traversal with the
    identical int64 quantization and (distance desc, vec_id asc)
    tiebreak; radii must be non-increasing (the Gonzalez invariant)."""
    from math import floor

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q248_K,
        q248_kcenter_coreset,
    )

    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    vecs = {
        int(r.vec_id): [floor(float(x) * 1e6 + 0.5) for x in r.embedding]
        for r in pdf.itertuples()
    }

    def sqd(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    first = min(vecs)
    centers = [(0, first, 0)]
    mind = {v: sqd(vecs[v], vecs[first]) for v in vecs}
    for k in range(1, _Q248_K):
        best = max(mind.items(), key=lambda kv: (kv[1], -kv[0]))
        centers.append((k, best[0], best[1]))
        cv = vecs[best[0]]
        for v in vecs:
            d = sqd(vecs[v], cv)
            if d < mind[v]:
                mind[v] = d
    got = [(r.round, r.vec_id, r.radius_q)
           for r in q248_kcenter_coreset(spark, sf_dir).collect()]
    assert got == centers
    radii = [r for _, _, r in centers[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_ndcg_eval_python_twin(spark, sf_dir):
    """q265 vs a python quantized-search + nDCG recompute (identical
    weights/tiebreaks); truncation can only lose graded quality on
    average."""
    from math import floor

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q265_C,
        _Q265_K,
        _Q265_QMOD,
        _Q265_SCALE,
        _Q265_TRUNC_D,
        _Q265_W,
        q265_ndcg_eval,
    )

    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    vecs = {
        int(r.vec_id): (
            [floor(float(x) * 1e6 + 0.5) for x in r.embedding],
            int(r.label),
        )
        for r in pdf.itertuples()
    }
    from collections import Counter

    lc = Counter(l for _, l in vecs.values())

    def sqd(a, b, d=None):
        if d is not None:
            a, b = a[:d], b[:d]
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    out = {r.qid: r for r in q265_ndcg_eval(spark, sf_dir).collect()}
    want_q = {
        q for q in vecs if q % _Q265_QMOD == 0 and lc[vecs[q][1]] >= 2
    }
    assert set(out) == want_q
    mf_s = mt_s = 0
    for q in sorted(want_q):
        qv, ql = vecs[q]
        nd = {}
        for d in (None, _Q265_TRUNC_D):
            scored = sorted(
                (sqd(v, qv, d), vid)
                for vid, (v, _) in vecs.items()
                if vid != q
            )[:_Q265_K]
            dcg_s = sum(
                floor((1 if vecs[vid][1] == ql else 0) * w * _Q265_SCALE)
                for (_, vid), w in zip(scored, _Q265_W)
            )
            r_q = min(_Q265_K, lc[ql] - 1)
            nd[d] = dcg_s / _Q265_SCALE / _Q265_C[r_q - 1]
        r = out[q]
        assert r.ndcg_full == floor(nd[None] * 1e6 + 0.5) / 1e6
        assert r.ndcg_trunc == floor(nd[_Q265_TRUNC_D] * 1e6 + 0.5) / 1e6
        mf_s += floor(nd[None] * _Q265_SCALE)
        mt_s += floor(nd[_Q265_TRUNC_D] * _Q265_SCALE)
    n_q = len(want_q)
    any_r = next(iter(out.values()))
    assert any_r.mean_ndcg_full == floor(mf_s / _Q265_SCALE / n_q * 1e6 + 0.5) / 1e6
    assert any_r.mean_ndcg_trunc == floor(mt_s / _Q265_SCALE / n_q * 1e6 + 0.5) / 1e6
    assert 0.0 <= any_r.mean_ndcg_trunc <= any_r.mean_ndcg_full + 0.05


def test_ivfpq_residual_beats_raw_and_matches_numpy_twin(spark, sf_dir):
    """q268 (r7 verdict task #4): residual-encoded IVF-PQ with trained
    codebooks must (a) reproduce an independent numpy twin of the full
    chain — clustered construction, IVF assignment, 2 Lloyd iterations
    per subspace in BOTH coding spaces, per-cell residual LUT ADC — and
    (b) beat the identically-trained raw-subvector recall on this
    fixture (the Jégou §IV claim the query exists to certify)."""
    from math import floor

    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q186_M,
        _Q186_SEED_MOD,
        _Q186_SUB,
        _Q268_ASCALE,
        _Q268_ITERS,
        _Q268_K,
        _Q268_NCELL,
        _Q268_NPROBE,
        _Q268_QID,
        q268_ivfpq_residual_search,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    Q = {
        r.vec_id: np.floor(
            np.array(r.embedding, dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        for r in rows
    }
    M, SUB = _Q186_M, _Q186_SUB
    cents = {c: Q[c] * _Q268_ASCALE for c in range(_Q268_NCELL)}
    corpus = {i: cents[i % _Q268_NCELL] + Q[i] for i in Q if i >= _Q268_NCELL}

    def sq(a, b):
        d = (a - b).astype(np.float64)
        return float((d * d).sum())

    def subv(v, m):
        return v[m * SUB : (m + 1) * SUB]

    assign = {
        i: min(cents, key=lambda c: (sq(v, cents[c]), c))
        for i, v in corpus.items()
    }
    q = corpus[_Q268_QID]
    probed = sorted(cents, key=lambda c: (sq(cents[c], q), c))[:_Q268_NPROBE]
    exact = sorted(corpus, key=lambda i: (sq(corpus[i], q), i))[:_Q268_K]

    def pipeline(resid):
        base = {
            i: (corpus[i] - cents[assign[i]] if resid else corpus[i])
            for i in corpus
        }
        cbs = {
            m: {s: subv(base[s], m) for s in corpus if s % _Q186_SEED_MOD == 0}
            for m in range(M)
        }
        for _ in range(_Q268_ITERS):
            for m in range(M):
                sums, cnts = {}, {}
                for i in sorted(corpus):
                    c = min(cbs[m], key=lambda s: (sq(subv(base[i], m), cbs[m][s]), s))
                    if c not in sums:
                        sums[c] = np.zeros(SUB, dtype=np.int64)
                        cnts[c] = 0
                    sums[c] += subv(base[i], m)
                    cnts[c] += 1
                for c in list(cbs[m]):
                    if c in cnts:
                        cbs[m][c] = np.floor(
                            sums[c].astype(np.float64) / cnts[c] + 0.5
                        ).astype(np.int64)
        codes = {
            i: tuple(
                min(cbs[m], key=lambda s: (sq(subv(base[i], m), cbs[m][s]), s))
                for m in range(M)
            )
            for i in corpus
        }
        scores = {}
        for i in corpus:
            if assign[i] not in probed:
                continue
            qb = q - cents[assign[i]] if resid else q
            scores[i] = sum(
                sq(subv(qb, m), cbs[m][codes[i][m]]) for m in range(M)
            )
        top = sorted(scores, key=lambda i: (scores[i], i))[:_Q268_K]
        return top, {i: scores[i] for i in top}

    top_raw, _ = pipeline(False)
    top_res, sc_res = pipeline(True)
    recall_res = len(set(top_res) & set(exact)) / _Q268_K
    recall_raw = len(set(top_raw) & set(exact)) / _Q268_K

    out = {r.vec_id: r for r in q268_ivfpq_residual_search(spark, sf_dir).collect()}
    assert sorted(out) == sorted(top_res)
    any_r = next(iter(out.values()))
    assert any_r.recall_at_k == recall_res
    assert any_r.recall_raw_at_k == recall_raw
    # the certified claim: residual coding >= raw coding on this fixture
    assert any_r.recall_at_k >= any_r.recall_raw_at_k
    assert any_r.recall_at_k > 0
    for i, r in out.items():
        assert r.in_exact_topk == (1 if i in exact else 0)
        assert r.adc_sqdist == floor(sc_res[i] / 1e12 * 1e4 + 0.5) / 1e4
        assert r.exact_sqdist == floor(sq(corpus[i], q) / 1e12 * 1e4 + 0.5) / 1e4


def test_power_iteration_numpy_twin(spark, sf_dir):
    """q274: the quantized K-round power iteration must be bit-exact vs
    a numpy twin of the same lattice arithmetic, and the converged
    eigenpair must match numpy.linalg.eigh on the constructed corpus —
    lambda to 6dp and |cos(u, true eigvec)| ~ 1."""
    import math

    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q274_K,
        q274_power_iteration,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    Q = np.array(
        [np.floor(np.array(r.embedding) * 1e6 + 0.5) for r in rows],
        dtype=np.int64,
    )
    n = len(Q)
    g = Q[0]
    t = np.array([(r.vec_id % 7) - 3 for r in rows], dtype=np.int64)
    V = Q + (t[:, None] * 4) * g[None, :]
    u = V[[r.vec_id for r in rows].index(1)].copy()
    lam = cos = None
    for _ in range(_Q274_K):
        s = V @ u
        sq = np.floor(s / 1e6).astype(np.int64)
        w = V.T @ sq
        ssq = sum(int(x) * int(x) for x in w)
        norm = math.sqrt(float(ssq))
        u_new = np.floor(w / norm * 1e6 + 0.5).astype(np.int64)
        unorm = math.sqrt(float(sum(int(x) * int(x) for x in u)))
        lam = norm * 1e6 / (n * 1e12 * unorm)
        cos = float(u_new @ u) / (
            math.sqrt(float(u_new @ u_new)) * unorm
        )
        u = u_new

    out = q274_power_iteration(spark, sf_dir).collect()
    assert [r.dim for r in out] == list(range(64))
    got_u = np.array([r.loading for r in out])
    assert np.array_equal(got_u, u / 1e6)
    r0 = out[0]
    assert r0.lambda_est == round(lam, 6)
    assert r0.conv_cos == round(cos, 6)
    assert r0.conv_cos >= 0.9999  # converged on the dominant factor
    # against the true spectrum
    Vr = V / 1e6
    C = Vr.T @ Vr / n
    evals, evecs = np.linalg.eigh(C)
    assert abs(r0.lambda_est - evals[-1]) < 1e-4
    top = evecs[:, -1]
    assert abs(float(got_u / np.linalg.norm(got_u) @ top)) > 0.9999


def test_mmr_rerank_python_twin(spark, sf_dir):
    """q275 vs a from-first-principles MMR twin (top-20 relevance pool,
    greedy argmax of min_d_sel - d_q, lowest-id ties), plus the
    diversification property: the MMR list must diverge from the pure
    relevance top-K while keeping the most relevant item first."""
    from math import floor

    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q275_K,
        _Q275_POOL,
        _Q275_QID,
        q275_mmr_rerank,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    V = {
        r.vec_id: np.floor(np.array(r.embedding) * 1e6 + 0.5).astype(np.int64)
        for r in rows
    }

    def sq(a, b):
        d = (a - b).astype(float)
        return int((d * d).sum())

    q = V[_Q275_QID]
    pool = sorted(
        (i for i in V if i != _Q275_QID), key=lambda i: (sq(V[i], q), i)
    )[:_Q275_POOL]
    first = pool[0]
    picks = [(1, first, sq(V[first], q), None)]
    mind = {i: sq(V[i], V[first]) for i in pool if i != first}
    for r in range(2, _Q275_K + 1):
        nxt = max(mind, key=lambda i: (mind[i] - sq(V[i], q), -i))
        picks.append((r, nxt, sq(V[nxt], q), mind[nxt]))
        del mind[nxt]
        for i in mind:
            mind[i] = min(mind[i], sq(V[i], V[nxt]))

    out = q275_mmr_rerank(spark, sf_dir).collect()
    assert len(out) == _Q275_K
    r4 = lambda x: None if x is None else floor(x / 1e12 * 1e4 + 0.5) / 1e4
    got = [(r.rank, r.vec_id, r.rel_sqdist, r.div_sqdist) for r in out]
    want = [(rk, vid, r4(dq), r4(md)) for rk, vid, dq, md in picks]
    assert got == want
    # diversification: same first pick as pure relevance, different tail
    assert out[0].vec_id == first
    assert [r.vec_id for r in out] != pool[:_Q275_K]
    # later picks keep a positive diversity margin
    assert all(r.div_sqdist > 0 for r in out[1:])


def test_rbo_rankings_python_twin(spark, sf_dir):
    """q279 vs a from-first-principles RBO twin (exact int distances,
    prefix overlaps, geometric weights), plus the metric's invariants:
    rbo_prefix is non-decreasing in k, bounded by the full-agreement
    prefix sum, and agreement@k matches overlap/k."""
    from math import floor

    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q279_DEN6,
        _Q279_K,
        _Q279_KDIV,
        _Q279_QID,
        _Q279_TRUNC_D,
        _Q279_WNUM,
        q279_rbo_rankings,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    V = {
        r.vec_id: np.floor(np.array(r.embedding) * 1e6 + 0.5).astype(np.int64)
        for r in rows
    }
    q = V[_Q279_QID]

    def sq(a, b):
        d = (a - b).astype(float)
        return int((d * d).sum())

    ids = [i for i in V if i != _Q279_QID]
    full = sorted(ids, key=lambda i: (sq(V[i], q), i))[:_Q279_K]
    trunc = sorted(
        ids,
        key=lambda i: (sq(V[i][:_Q279_TRUNC_D], q[:_Q279_TRUNC_D]), i),
    )[:_Q279_K]
    # EXACT-INTEGER prefix (the r9 rework of the r8 driver red): each
    # term w_k·ov/k scaled by 2520·10^10 is an exact int64, summed as
    # integers and divided once — the twin carries the cum as a Python
    # int, so the expected value is exact by construction.
    want = []
    acc_int = 0
    for k in range(1, _Q279_K + 1):
        ov = len(set(full[:k]) & set(trunc[:k]))
        acc_int += _Q279_WNUM[k - 1] * ov * _Q279_KDIV[k - 1]
        want.append(
            (
                k,
                ov,
                floor(ov / k * 1e4 + 0.5) / 1e4,
                floor(acc_int / float(_Q279_DEN6) + 0.5) / 1e6,
            )
        )
    got = [
        (r.k, r.overlap, r.agreement, r.rbo_prefix)
        for r in q279_rbo_rankings(spark, sf_dir).collect()
    ]
    assert got == want
    # sanity vs the textbook float formula: same numbers to float noise
    acc = 0.0
    for (k, ov, _, rp) in got:
        acc += (0.1 * 0.9 ** (k - 1)) * ov / k
        assert abs(rp - acc) < 1e-6
    rbos = [r[3] for r in got]
    assert all(a <= b + 1e-12 for a, b in zip(rbos, rbos[1:]))
    # perfect-agreement ceiling: rbo_prefix@k <= sum of weights to k
    for (k, ov, _, rp) in got:
        ceil_int = sum(w * 2520 for w in _Q279_WNUM[:k])
        assert rp <= floor(ceil_int / float(_Q279_DEN6) + 0.5) / 1e6 + 1e-9
        assert 0 <= ov <= k


def test_projected_w1_drift_python_twin(spark, sf_dir):
    """q280 vs a Counter-based 1-D Wasserstein twin (exact int
    projections, full bucket-range CDF walk including gaps), plus the
    detector contract: the constructed drift reads an order of
    magnitude above the null split."""
    from collections import Counter
    from math import floor

    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q280_BW,
        _Q280_SHIFT_DIV,
        q280_projected_w1_drift,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    Q = {
        r.vec_id: np.floor(np.array(r.embedding) * 1e6 + 0.5).astype(np.int64)
        for r in rows
    }
    u = Q[0]
    proj = {
        i: int(sum(int(a) * int(b) for a, b in zip(v, u))) for i, v in Q.items()
    }
    shv = floor(sum(int(x) * int(x) for x in u) / _Q280_SHIFT_DIV)

    def w1(pa, pb):
        ca, cb = Counter(), Counter()
        for s in pa:
            ca[s // _Q280_BW] += 1
        for s in pb:
            cb[s // _Q280_BW] += 1
        ks = set(ca) | set(cb)
        na, nb = len(pa), len(pb)
        csa = csb = tot = 0
        for k in range(min(ks), max(ks) + 1):
            csa += ca.get(k, 0)
            csb += cb.get(k, 0)
            tot += abs(csa * nb - csb * na)
        return tot, tot / (na * nb * 100.0), na, nb

    A = [proj[i] for i in proj if i % 2 == 0]
    B = [proj[i] for i in proj if i % 2 == 1]
    tn, w1n, na, nb = w1(A, B)
    td, w1d, _, _ = w1(A, [s + shv for s in B])
    r = q280_projected_w1_drift(spark, sf_dir).collect()[0]
    assert (r.n_a, r.n_b) == (na, nb)
    assert r.w1_null == round(w1n, 6)
    assert r.w1_drift == round(w1d, 6)
    assert r.drift_ratio == floor(td / tn * 100 + 0.5) / 100
    # the detector contract
    assert r.w1_drift > 5 * r.w1_null
    assert r.drift_ratio >= 5


def test_q281_multiprobe_twin(spark, sf_dir):
    """q281 vs a from-first-principles numpy twin of the full multi-probe
    chain — clustered construction, IVF assignment, cell ordering by
    exact query→centroid distance, ADAPTIVE row-budget cut, exact rerank
    over the probed union — plus the certified claims: budgeted
    multi-probe recall >= single-probe recall, and >= the 0.5 residual-
    ADC recall q268 measures on this same fixture (exact rerank over an
    adaptively probed union dominates compressed fixed-nprobe search)."""
    from math import floor

    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q281_ASCALE,
        _Q281_BUDGET_DEN,
        _Q281_K,
        _Q281_NCELL,
        _Q281_QID,
        q281_ivf_multiprobe,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    Q = {
        r.vec_id: np.floor(
            np.array(r.embedding, dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        for r in rows
    }
    cents = {c: Q[c] * _Q281_ASCALE for c in range(_Q281_NCELL)}
    corpus = {i: cents[i % _Q281_NCELL] + Q[i] for i in Q if i >= _Q281_NCELL}

    def sq(a, b):
        d = (a - b).astype(np.float64)
        return float((d * d).sum())

    assign = {
        i: min(cents, key=lambda c: (sq(v, cents[c]), c))
        for i, v in corpus.items()
    }
    sizes = {c: sum(1 for i in assign if assign[i] == c) for c in cents}
    q = corpus[_Q281_QID]
    budget = floor(len(corpus) / _Q281_BUDGET_DEN) + 1
    order = sorted(cents, key=lambda c: (sq(cents[c], q), c))
    probed, covered = [], 0
    for c in order:
        if covered >= budget:
            break
        probed.append(c)
        covered += sizes[c]

    def topk(cells):
        pool = [i for i in corpus if assign[i] in cells]
        return sorted(pool, key=lambda i: (sq(corpus[i], q), i))[:_Q281_K]

    exact = sorted(corpus, key=lambda i: (sq(corpus[i], q), i))[:_Q281_K]
    multi = topk(set(probed))
    single = topk({order[0]})
    recall = len(set(multi) & set(exact)) / _Q281_K
    recall_1 = len(set(single) & set(exact)) / _Q281_K

    out = {r.vec_id: r for r in q281_ivf_multiprobe(spark, sf_dir).collect()}
    assert sorted(out) == sorted(multi)
    any_r = next(iter(out.values()))
    assert any_r.recall_at_k == recall
    assert any_r.recall_single_at_k == recall_1
    assert any_r.n_cells_probed == len(probed)
    assert any_r.rows_scanned == covered
    assert any_r.budget_rows == budget
    # adaptivity contract: the LAST probed cell is the one that crosses
    # the budget — rows covered before it are strictly under budget, and
    # the probe list never scans a cell past the crossing point.
    assert covered - sizes[probed[-1]] < budget
    assert covered >= budget or len(probed) == len(cents)
    # certified claims (r8 verdict task #6 "Done" bar)
    assert any_r.recall_at_k >= any_r.recall_single_at_k
    assert any_r.recall_at_k >= 0.5  # q268's residual-ADC recall here
    for i, r in out.items():
        assert r.in_exact_topk == (1 if i in exact else 0)
        assert r.cell == assign[i]
        assert r.sqdist == floor(sq(corpus[i], q) / 1e12 * 1e4 + 0.5) / 1e4


def test_q285_budget_curve_twin(spark, sf_dir):
    """q285 vs a numpy twin sweeping the four scan budgets, plus the
    curve's structural contracts: probe sets are NESTED in budget,
    recall/rows/cells are non-decreasing, and the n/4 point equals
    q281's single-budget answer."""
    from math import floor

    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q281_ASCALE,
        _Q281_K,
        _Q281_NCELL,
        _Q281_QID,
        _Q285_DENS,
        q281_ivf_multiprobe,
        q285_multiprobe_budget_curve,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    Q = {
        r.vec_id: np.floor(
            np.array(r.embedding, dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        for r in rows
    }
    cents = {c: Q[c] * _Q281_ASCALE for c in range(_Q281_NCELL)}
    corpus = {i: cents[i % _Q281_NCELL] + Q[i] for i in Q if i >= _Q281_NCELL}

    def sq(a, b):
        d = (a - b).astype(np.float64)
        return float((d * d).sum())

    assign = {
        i: min(cents, key=lambda c: (sq(v, cents[c]), c))
        for i, v in corpus.items()
    }
    sizes = {c: sum(1 for i in assign if assign[i] == c) for c in cents}
    q = corpus[_Q281_QID]
    order = sorted(cents, key=lambda c: (sq(cents[c], q), c))
    exact = set(
        sorted(corpus, key=lambda i: (sq(corpus[i], q), i))[:_Q281_K]
    )

    def point(den):
        budget = floor(len(corpus) / den) + 1
        probed, covered = [], 0
        for c in order:
            if covered >= budget:
                break
            probed.append(c)
            covered += sizes[c]
        pool = [i for i in corpus if assign[i] in probed]
        top = sorted(pool, key=lambda i: (sq(corpus[i], q), i))[:_Q281_K]
        return budget, set(probed), covered, len(set(top) & exact) / _Q281_K

    out = {r.budget_den: r for r in q285_multiprobe_budget_curve(spark, sf_dir).collect()}
    assert sorted(out) == sorted(_Q285_DENS)
    prev_cells = set()
    prev = None
    for den in sorted(_Q285_DENS, reverse=True):  # smallest budget first
        budget, probed, covered, rec = point(den)
        r = out[den]
        assert (r.budget_rows, r.n_cells_probed, r.rows_scanned, r.recall_at_k) == (
            budget, len(probed), covered, floor(rec * 1e4 + 0.5) / 1e4
        )
        assert prev_cells <= probed  # nested probe sets
        if prev is not None:
            assert r.rows_scanned >= prev.rows_scanned
            assert r.recall_at_k >= prev.recall_at_k  # monotone by nesting
        prev_cells, prev = probed, r
    # the n/4 point IS q281's answer
    q281r = q281_ivf_multiprobe(spark, sf_dir).collect()[0]
    assert (out[4].n_cells_probed, out[4].rows_scanned, out[4].recall_at_k) == (
        q281r.n_cells_probed, q281r.rows_scanned, q281r.recall_at_k
    )


def test_q286_recall_set_twin(spark, sf_dir):
    """q286 vs a numpy twin evaluating the adaptive multi-probe rule for
    EVERY sampled query at every budget, plus the set-level contracts:
    the sample is the 32 smallest corpus qids with vec_id % 13 == 5,
    per-query probe sets are nested in budget so MEAN and MIN recall are
    both non-decreasing, and every emitted stat is an exact integer
    (bp grid = hits·10000 div K — no floats in the schema)."""
    from math import floor

    import numpy as np

    from bbc_news_data_pipeline_spark.plans.embeddings_plans import (
        _Q281_ASCALE,
        _Q281_K,
        _Q281_NCELL,
        _Q285_DENS,
        _Q286_NQ,
        _Q286_QMOD,
        _Q286_QRES,
        q286_multiprobe_recall_set,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    Q = {
        r.vec_id: np.floor(
            np.array(r.embedding, dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        for r in rows
    }
    cents = {c: Q[c] * _Q281_ASCALE for c in range(_Q281_NCELL)}
    corpus = {i: cents[i % _Q281_NCELL] + Q[i] for i in Q if i >= _Q281_NCELL}

    def sq(a, b):
        d = (a - b).astype(np.float64)
        return float((d * d).sum())

    assign = {
        i: min(cents, key=lambda c: (sq(v, cents[c]), c))
        for i, v in corpus.items()
    }
    sizes = {c: sum(1 for i in assign if assign[i] == c) for c in cents}
    qids = sorted(i for i in corpus if i % _Q286_QMOD == _Q286_QRES)[:_Q286_NQ]
    exact = {
        qid: set(
            sorted(corpus, key=lambda i: (sq(corpus[i], corpus[qid]), i))[
                :_Q281_K
            ]
        )
        for qid in qids
    }

    def per_query(qid, den):
        qv = corpus[qid]
        budget = floor(len(corpus) / den) + 1
        order = sorted(cents, key=lambda c: (sq(cents[c], qv), c))
        probed, covered = [], 0
        for c in order:
            if covered >= budget:
                break
            probed.append(c)
            covered += sizes[c]
        pool = [i for i in corpus if assign[i] in probed]
        top = sorted(pool, key=lambda i: (sq(corpus[i], qv), i))[:_Q281_K]
        return set(probed), covered, len(set(top) & exact[qid])

    out = {
        r.budget_den: r
        for r in q286_multiprobe_recall_set(spark, sf_dir).collect()
    }
    assert sorted(out) == sorted(_Q285_DENS)
    prev = None
    prev_sets: dict = {}
    for den in sorted(_Q285_DENS, reverse=True):  # smallest budget first
        pts = {qid: per_query(qid, den) for qid in qids}
        hits = [h for _, _, h in pts.values()]
        r = out[den]
        assert r.n_queries == len(qids) == _Q286_NQ
        assert r.budget_rows == floor(len(corpus) / den) + 1
        assert r.n_cells_probed_total == sum(len(p) for p, _, _ in pts.values())
        assert r.rows_scanned_total == sum(c for _, c, _ in pts.values())
        assert r.mean_recall_bp == (sum(hits) * 10000) // (
            _Q281_K * len(qids)
        )
        assert r.min_recall_bp == (min(hits) * 10000) // _Q281_K
        assert isinstance(r.mean_recall_bp, int)
        assert isinstance(r.min_recall_bp, int)
        # per-query probe sets nested in budget → both stats monotone
        for qid in qids:
            assert prev_sets.get(qid, set()) <= pts[qid][0]
        if prev is not None:
            assert r.mean_recall_bp >= prev.mean_recall_bp
            assert r.min_recall_bp >= prev.min_recall_bp
            assert r.rows_scanned_total >= prev.rows_scanned_total
        prev = r
        prev_sets = {qid: p for qid, (p, _, _) in pts.items()}
