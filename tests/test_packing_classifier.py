"""Unit tests for the round-5 additions q116 (sequence packing), q117
(hashed linear classifier), q118 (bigram-LM score), q119 (manifest
merge), q120 (contrastive triples) — each checked against a pure-python
twin or structural invariants computed from the same parquet input,
independently of both the Spark plan and the DuckDB oracle (which the
parity suite covers).
"""

import hashlib
import math

import pyarrow.parquet as pq
import pytest

from bbc_news_data_pipeline_spark.plans.curation_plans import (
    _Q116_SEQLEN,
    q116_sequence_packing,
)
from bbc_news_data_pipeline_spark.plans.curation_plans import (
    _Q120_B,
    q120_contrastive_pairs,
)
from bbc_news_data_pipeline_spark.plans.quality_plans import (
    _Q117_D,
    _Q117_WMOD,
    _Q119_SHARDS,
    q117_hashed_classifier,
    q119_manifest_merge,
)
from bbc_news_data_pipeline_spark.plans.text_plans import (
    _Q118_LAMBDA,
    q118_bigram_logprob,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_pdf():
    return pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()


def test_sequence_packing_matches_python_twin(spark, docs_pdf):
    out = q116_sequence_packing(spark, SF_DIR).toPandas()
    rows = docs_pdf.sort_values("doc_id")
    pre = 0
    expected = {}
    for _, r in rows.iterrows():
        n = len(r["text"].split(" "))
        first = pre // _Q116_SEQLEN
        last = (pre + n - 1) // _Q116_SEQLEN
        expected[r["doc_id"]] = (n, first, last, pre % _Q116_SEQLEN, last - first + 1)
        pre += n
    assert len(out) == len(expected)
    for row in out.itertuples():
        assert expected[row.doc_id] == (
            row.n_tokens, row.first_seq, row.last_seq, row.seq_offset, row.n_seqs
        )


def test_sequence_packing_is_gapless(spark):
    """Consecutive docs tile the token stream with no gaps or overlaps:
    doc i+1's global start equals doc i's global start + n_tokens."""
    out = q116_sequence_packing(spark, SF_DIR).toPandas().sort_values("doc_id")
    start = out.first_seq * _Q116_SEQLEN + out.seq_offset
    assert (start.iloc[1:].values == (start + out.n_tokens).iloc[:-1].values).all()
    assert (out.seq_offset < _Q116_SEQLEN).all()
    assert (out.n_seqs >= 1).all()


def _py_w_sum(text: str) -> int:
    s = 0
    for t in text.lower().split(" "):
        h = int(hashlib.md5(f"ft:{t}".encode()).hexdigest()[:8], 16)
        s += (h % _Q117_D) * 2654435761 % _Q117_WMOD - 50000
    return s


def test_hashed_classifier_matches_python_twin(spark, docs_pdf):
    out = q117_hashed_classifier(spark, SF_DIR).toPandas()
    by_id = dict(zip(docs_pdf.doc_id, docs_pdf.text))
    for row in out.itertuples():
        w = _py_w_sum(by_id[row.doc_id])
        assert row.w_sum == w
        n = len(by_id[row.doc_id].split(" "))
        assert row.n_tokens == n
        score = 1.0 / (1.0 + math.exp(-(w / (100000.0 * n))))
        assert abs(row.score - score) < 1e-6
        assert row.label == ("keep" if w >= 0 else "drop")


def test_bigram_logprob_matches_python_twin(spark, docs_pdf):
    out = q118_bigram_logprob(spark, SF_DIR).toPandas()
    toks = {r.doc_id: r.text.lower().split(" ") for r in docs_pdf.itertuples()}
    bc: dict = {}
    uc: dict = {}
    for ts in toks.values():
        for w in ts:
            uc[w] = uc.get(w, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bc[(a, b)] = bc.get((a, b), 0) + 1
    c1: dict = {}
    for (a, _), c in bc.items():
        c1[a] = c1.get(a, 0) + c
    total = sum(uc.values())
    lam = _Q118_LAMBDA
    expected = {}
    for did, ts in toks.items():
        if len(ts) < 2:
            continue
        s = 0.0
        for a, b in zip(ts, ts[1:]):
            s += math.log(lam * bc[(a, b)] / c1[a] + (1.0 - lam) * uc[b] / total)
        n = len(ts) - 1
        expected[did] = (n, -s / n / math.log(2.0))
    assert len(out) == len(expected)
    for row in out.itertuples():
        n, bits = expected[row.doc_id]
        assert row.n_bigrams == n
        # python accumulates the per-doc sum in yet another order; the
        # 4dp round on the operator side bounds the comparison at ~1e-4
        assert abs(row.bits_per_bigram - bits) < 5e-4


def test_manifest_merge_equals_single_pass_python(spark, docs_pdf):
    """Merge-of-shard-partials must equal a direct single-pass profile —
    the algebraic property the incremental-manifest design rests on."""
    out = q119_manifest_merge(spark, SF_DIR).toPandas().set_index("lang")
    nt = docs_pdf.assign(nt=docs_pdf.text.str.split(" ").str.len())
    for lang, grp in nt.groupby("lang"):
        row = out.loc[lang]
        n, s = len(grp), int(grp.nt.sum())
        assert row.n_docs == n and row.total_tokens == s
        assert row.min_tokens == grp.nt.min() and row.max_tokens == grp.nt.max()
        assert abs(row.mean_tokens - round(s / n, 4)) < 1e-9
        ss = int((grp.nt.astype("int64") ** 2).sum())
        assert abs(row.std_tokens - round(math.sqrt(ss / n - (s / n) ** 2), 4)) < 1e-9
    # the shard split actually has >1 shard at this SF (merge is exercised)
    assert docs_pdf.doc_id.mod(_Q119_SHARDS).nunique() > 1


def test_contrastive_triples_invariants(spark, docs_pdf):
    out = q120_contrastive_pairs(spark, SF_DIR).toPandas()
    ids = set(docs_pdf.doc_id)
    assert len(out) > 0
    # negatives are real corpus docs, never the anchor or the positive
    assert set(out.neg_id).issubset(ids)
    assert (out.neg_id != out.anchor_id).all()
    assert (out.neg_id != out.positive_id).all()
    # deterministic: same anchor always draws the same negative
    assert (out.groupby("anchor_id").neg_id.nunique() == 1).all()
    # rerun is byte-identical (no rand() anywhere)
    again = q120_contrastive_pairs(spark, SF_DIR).toPandas()
    a = out.sort_values(["anchor_id", "positive_id"]).reset_index(drop=True)
    b = again.sort_values(["anchor_id", "positive_id"]).reset_index(drop=True)
    assert a.equals(b)


def test_classifier_training_loss_decreases_and_matches_twin(spark, sf_dir):
    """q270 (r7 verdict task #6): the K unrolled gradient steps must
    (a) strictly decrease the training logloss on the fixture and
    (b) reproduce a from-first-principles python twin of the exact
    integer-lattice GD bit-for-bit (weights, quantized sigmoids, loss
    grid, update floors)."""
    import hashlib
    import math
    from collections import defaultdict

    from bbc_news_data_pipeline_spark.plans.quality_plans import (
        _Q117_D,
        _Q270_ETA,
        _Q270_K,
        q270_classifier_training,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    feats = {}
    for r in rows:
        toks = r.text.lower().split(" ")
        n = len(toks)
        y = 1 if 2 * len(set(toks)) > n else 0
        c = defaultdict(int)
        for t in toks:
            b = int(hashlib.md5(("ft:" + t).encode()).hexdigest()[:8], 16) % _Q117_D
            c[b] += 1
        feats[r.doc_id] = (dict(c), n, y)
    N = len(feats)

    w = defaultdict(int)
    twin = []
    for k in range(_Q270_K + 1):
        lsum, ncorr, pq = 0, 0, {}
        for did, (c, n, y) in feats.items():
            s = sum(cnt * w[b] for b, cnt in c.items())
            p = 1 / (1 + math.exp(-(s / (1e6 * n))))
            q = max(1, min(999999, math.floor(p * 1e6 + 0.5)))
            pq[did] = q
            pp = q / 1e6
            lsum += math.floor(-(y * math.log(pp) + (1 - y) * math.log(1 - pp)) * 1e9)
            ncorr += 1 if (1 if q > 500000 else 0) == y else 0
        twin.append((k, round(lsum / 1e9 / N, 6), ncorr, N))
        if k == _Q270_K:
            break
        G = defaultdict(int)
        for did, (c, n, y) in feats.items():
            rs = pq[did] - y * 1000000
            for b, cnt in c.items():
                G[b] += math.floor(float(rs * cnt) * 1e6 / n)
        for b, g in G.items():
            w[b] -= math.floor(_Q270_ETA * float(g) / (1e6 * N))

    got = [
        (r.step, r.logloss, r.n_correct, r.n_docs)
        for r in q270_classifier_training(spark, sf_dir).collect()
    ]
    assert got == twin
    losses = [l for _, l, _, _ in got]
    assert all(a > b for a, b in zip(losses, losses[1:])), losses
    assert got[0][1] == 0.693147  # ln 2: the all-zero-weights start


def test_feature_mi_python_twin(spark, sf_dir):
    """q276 vs a Counter-based MI twin over the same hashed presence
    space, plus the filter-method sanity property: MI is non-negative
    and the top bucket's MI >= any non-selected bucket's (spot-checked
    against the full twin ranking)."""
    import hashlib
    from collections import defaultdict
    from math import floor, log

    from bbc_news_data_pipeline_spark.functions.detmath import det_ln_q36_py
    from bbc_news_data_pipeline_spark.plans.quality_plans import (
        _Q117_D,
        _Q276_SCALE,
        _Q276_TOPK,
        q276_feature_mi,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    labels = {}
    pres = defaultdict(set)
    for r in rows:
        ts = r.text.lower().split(" ")
        labels[r.doc_id] = 1 if 2 * len(set(ts)) > len(ts) else 0
        for t in set(ts):
            b = int(hashlib.md5(("ft:" + t).encode()).hexdigest()[:8], 16) % _Q117_D
            pres[b].add(r.doc_id)
    nn = len(labels)
    npos = sum(labels.values())

    def mi_float_of(b):
        n1 = len(pres[b])
        n11 = sum(labels[d] for d in pres[b])
        cells = [
            (n11, n1, npos),
            (n1 - n11, n1, nn - npos),
            (npos - n11, nn - n1, npos),
            (nn - n1 - npos + n11, nn - n1, nn - npos),
        ]
        return sum(
            (c / nn) * log(c * nn / (nx * nc))
            for c, nx, nc in cells
            if c > 0
        )

    def mi_nano_of(b):
        # r11 integer twin of _q276_mi_stages: Q36 fixed-point MI, pure
        # int ops end to end (exact — Python ints never overflow).
        n1 = len(pres[b])
        n11 = sum(labels[d] for d in pres[b])
        cells = [
            (n11, n1 * npos),
            (n1 - n11, n1 * (nn - npos)),
            (npos - n11, (nn - n1) * npos),
            (nn - n1 - npos + n11, (nn - n1) * (nn - npos)),
        ]
        s = 0
        for c, g in cells:
            if c <= 0:
                continue
            p = (c * (1 << 30)) // nn
            la, lb = det_ln_q36_py(c * nn), det_ln_q36_py(g)
            ta = (p * (la // 4096) + (p * (la % 4096)) // 4096) // 262144
            tb = (p * (lb // 4096) + (p * (lb % 4096)) // 4096) // 262144
            s += ta - tb
        soff = s + (256 << 36)
        hi, lo = soff // 262144, soff % 262144
        return (hi * 10**9 + (lo * 10**9) // 262144) // 262144 - 256 * 10**9

    ranked = sorted(pres, key=lambda b: (-mi_nano_of(b), b))
    out = q276_feature_mi(spark, sf_dir).collect()
    assert len(out) == _Q276_TOPK
    assert [r.bucket for r in out] == ranked[:_Q276_TOPK]
    for r in out:
        n1 = len(pres[r.bucket])
        n11 = sum(labels[d] for d in pres[r.bucket])
        assert r.n_docs_with == n1
        assert (r.n11, r.nn, r.npos) == (n11, nn, npos)
        # r10: pure-BIGINT emission (integer nano/bp numerators) — the
        # hashed schema carries no doubles at all.
        assert isinstance(r.pos_rate_bp, int) and isinstance(r.mi_nano, int)
        assert r.pos_rate_bp == (20000 * n11 + n1) // (2 * n1)
        assert r.pos_rate_bp == floor(n11 / n1 * 1e4 + 0.5)
        assert r.mi_nano == mi_nano_of(r.bucket)
        # fixed-point MI tracks the float MI to ~1e-9 + p-quantization
        assert abs(r.mi_nano / _Q276_SCALE - mi_float_of(r.bucket)) < 1e-6
        assert r.mi_nano >= 0
    # everything outside the top-K scores no higher than the cut
    cut = out[-1].mi_nano
    assert all(mi_nano_of(b) <= cut for b in ranked[_Q276_TOPK:])


def test_classifier_cv_twin_and_gap(spark, sf_dir):
    """q278: both folds must reproduce a python twin of the exact
    integer-lattice GD (train on the complement, score both folds under
    the trained weights), the val metrics must be computed on HELD-OUT
    docs only, and the generalization gap must equal val − train on the
    1e-6 grid."""
    import hashlib
    import math
    from collections import defaultdict

    from bbc_news_data_pipeline_spark.plans.quality_plans import (
        _Q117_D,
        _Q278_ETA,
        _Q278_FOLDS,
        _Q278_K,
        q278_classifier_cv,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    feats = {}
    for r in rows:
        ts = r.text.lower().split(" ")
        n = len(ts)
        y = 1 if 2 * len(set(ts)) > n else 0
        fold = (
            int(hashlib.md5(f"cvfold:{r.doc_id}".encode()).hexdigest()[:8], 16)
            % _Q278_FOLDS
        )
        c = defaultdict(int)
        for t in ts:
            c[int(hashlib.md5(("ft:" + t).encode()).hexdigest()[:8], 16) % _Q117_D] += 1
        feats[r.doc_id] = (dict(c), n, y, fold)

    def score(subset, w):
        lsum = ncorr = 0
        for did in subset:
            c, n, y, _ = feats[did]
            s = sum(cnt * w[b] for b, cnt in c.items())
            p = 1 / (1 + math.exp(-(s / (1e6 * n))))
            q = max(1, min(999999, math.floor(p * 1e6 + 0.5)))
            pp = q / 1e6
            lsum += math.floor(
                -(y * math.log(pp) + (1 - y) * math.log(1 - pp)) * 1e9
            )
            ncorr += 1 if (1 if q > 500000 else 0) == y else 0
        return lsum, ncorr, len(subset)

    twin = []
    for fold in range(_Q278_FOLDS):
        train = [d for d, (_, _, _, f) in feats.items() if f != fold]
        val = [d for d, (_, _, _, f) in feats.items() if f == fold]
        N = len(train)
        w = defaultdict(int)
        for _ in range(_Q278_K):
            pq = {}
            for did in train:
                c, n, y, _ = feats[did]
                s = sum(cnt * w[b] for b, cnt in c.items())
                p = 1 / (1 + math.exp(-(s / (1e6 * n))))
                pq[did] = max(1, min(999999, math.floor(p * 1e6 + 0.5)))
            G = defaultdict(int)
            for did in train:
                c, n, y, _ = feats[did]
                rs = pq[did] - y * 1000000
                for b, cnt in c.items():
                    G[b] += math.floor(float(rs * cnt) * 1e6 / n)
            for b, g in G.items():
                w[b] -= math.floor(_Q278_ETA * float(g) / (1e6 * N))
        tl, _, tn = score(train, w)
        vl, vc, vn = score(val, w)
        twin.append(
            (
                fold,
                tn,
                vn,
                round(tl / 1e9 / tn, 6),
                round(vl / 1e9 / vn, 6),
                round(vc / vn, 6),
                math.floor((vl / 1e9 / vn - tl / 1e9 / tn) * 1e6 + 0.5) / 1e6,
            )
        )
    got = [
        (
            r.fold,
            r.n_train,
            r.n_val,
            r.train_logloss,
            r.val_logloss,
            r.val_accuracy,
            r.generalization_gap,
        )
        for r in q278_classifier_cv(spark, sf_dir).collect()
    ]
    assert got == twin
    # folds partition the corpus
    assert got[0][1] + got[0][2] == len(feats)
    # training reduced loss below the ln2 start on every fold
    assert all(r[3] < 0.693147 for r in got)
