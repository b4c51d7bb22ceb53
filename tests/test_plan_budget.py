"""Registry-wide physical-plan budget gate (tools/plan_audit.py).

Builds every registered query's physical plan (no execution) and holds
each to its committed operator budget in tools/plan_budget.json:
shuffles, sorts, nested-loop joins, row-at-a-time Python UDFs. A query
that grows an unbudgeted shuffle or degrades a join to a nested loop
fails HERE — at plan time — not as a 100× surprise at cluster scale.

When a plan change is intentional, regenerate the snapshot:
    python tools/plan_audit.py /root/testdata/sf0.001 --write
and commit the diff (the review of that diff IS the design review).
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import plan_audit
from bbc_news_data_pipeline_spark.plans import all_queries

SF_DIR = "/root/testdata/sf0.001"


def test_every_query_within_plan_budget(spark):
    budget = plan_audit.load_budget()
    failures = []
    for q in all_queries():
        allowed = budget.get(q.name)
        if allowed is None:
            failures.append(f"{q.name}: no budget entry — run plan_audit.py --write")
            continue
        counts = plan_audit.audit_one(q.spark(spark, SF_DIR))
        for key, val in counts.items():
            if val > allowed.get(key, 0):
                failures.append(
                    f"{q.name}: {key} {val} > budgeted {allowed.get(key, 0)}"
                )
    assert not failures, "plan regressions:\n" + "\n".join(failures)


def test_no_row_python_udfs_budgeted():
    """The hot path must stay JVM-side or Arrow-vectorized: the committed
    budget itself must not normalize any BatchEvalPython operator."""
    budget = plan_audit.load_budget()
    offenders = {k: v for k, v in budget.items() if v.get("row_python_udfs", 0)}
    assert not offenders, f"row-at-a-time Python UDFs budgeted: {offenders}"


def test_corpus_broadcast_hint_sites_pinned():
    """Broadcast HINTS whose build side the static auditor cannot prove
    bounded (tools/plan_audit.py corpus_broadcast_hints) — a hint
    overrides autoBroadcastJoinThreshold, so a corpus-scale build side is
    an OOM by construction at 100x (the r6 q153 finding: the multiplicity
    rollup of the full distinct-name domain was hinted; fix was dropping
    the hint and letting AQE choose). Every site below is REVIEWED
    bounded-by-construction; genuinely corpus-scale hinted builds are
    pinned at ZERO. A new site fails here until reviewed (or, correctly,
    the hint is dropped — AQE broadcasts small sides on observed size).
    """
    budget = plan_audit.load_budget()
    got = {
        name: v["corpus_broadcast_hints"]
        for name, v in budget.items()
        if v.get("corpus_broadcast_hints", 0)
    }
    reviewed = {
        # topic top-words vocab: k_topics x 15 rows, model-bounded; the
        # lazy checkpoint hides the cap from the static walker
        "q49_npmi_cooccurrence": 2,
        # median-bucket survivors: <= one bucket row per event_type after
        # the rank-window filter
        "q130_selection_median": 1,
        # drained stream digest state read back: bucket-domain-bounded
        # (value_domain / GRID_W rows), opaque behind the drain's RDD scan
        "q140_stream_grid_digest": 1,
        # strata moment manifest joined to its own 1-row total: rows =
        # n_strata (source x length-band), domain-bounded
        "q149_neyman_allocation": 1,
        # skyline prefix-scan survivors: <= one representative row per
        # score bucket (B buckets) after the monotone-min filter
        "q161_pareto_frontier": 1,
        # bloom incremental neardup: the ≤2048-row bloom word table
        # (groupBy over a FIXED word space) and the bloom-hit batch-key
        # frame (≤ batch docs × bands — the incremental batch, small by
        # construction) — both sat above the corpus band-key frame
        # transparently until r10's width-pruned lazy checkpoint made
        # that subtree opaque to the walker
        "q105_bloom_incremental_neardup": 2,
        # phrase table: LIMIT-3 top-bigram frame (the lazy checkpoint
        # hides the limit from the static walker), broadcast into both
        # postings sides + the truth crossJoin
        "q175_phrase_search": 3,
        # global digest cumulative table: <= value_domain / GRID_W rows
        # by construction, joined at 100 grid points
        "q177_quantile_normalize": 2,
        # digest cum behind a lazy checkpoint (domain-bounded) / S-1
        # boundary rows from a literal explode
        "q188_range_partitioner": 1,
        # IVF-PQ residual search: every hinted build side is
        # construction-bounded — the 1-row query and recall frames, the
        # NPROBE(3)-row probe list, the NCELL(16)-row centroid table and
        # the M*k(32)-row LUTs/codebooks — but the corpus/withcell lazy
        # checkpoints make them opaque to the static walker (the q49/
        # q175 pattern). None derives unboundedly from a corpus scan.
        # (9 -> 6 when the two coding spaces merged into one tagged
        # training chain.)
        "q268_ivfpq_residual_search": 6,
        # power iteration: the broadcast 64-row vector frame (one row
        # per embedding dimension) sits behind the per-round eager
        # checkpoints, so the static walker can't see the dim bound
        "q274_power_iteration": 1,
        # projected-W1 drift: the broadcast 1-row drift frame derives
        # from the lazily-checkpointed bucket-cell rollup, hiding its
        # single-row bound from the walker
        "q280_projected_w1_drift": 1,
        # LSH param tune: the 4-row literal (b,r) config frame and the
        # 1-row argmin frame — both constant-size by construction; the
        # sample histogram they join is ≤20 bins
        "q284_lsh_param_tune": 2,
        # multiprobe budget curve: one ≤NCELL-row probe-set broadcast per
        # budget point (4 budgets), each derived from the lazily-
        # checkpointed 16-row cell table — bounded by construction
        "q285_multiprobe_budget_curve": 4,
        # query-set recall sweep: one (qid, cell) probe-list broadcast
        # per budget point (4 budgets), each ≤ NCELL(16)·NQ(32) = 512
        # rows from the lazily-checkpointed per-query dominance frame —
        # bounded by construction (the q285 pattern, per-query)
        "q286_multiprobe_recall_set": 4,
    }
    assert got == reviewed, (
        f"corpus-scale broadcast-hint inventory drifted:\ngot      {got}\n"
        f"reviewed {reviewed}\n— either drop the new hint (preferred: AQE "
        "picks broadcast from observed sizes) or review boundedness and "
        "add it here with a justification"
    )


def test_unpartitioned_window_sites_pinned():
    """Every ORDER BY-only (single-partition) window in package code must
    appear in this pinned inventory with a bounded-by-construction input
    — the SCALE.md audit as an executable invariant (round-6 fix: the
    prose claimed "exactly two places" after a third appeared). A new
    site fails here until it is reviewed for boundedness and added."""
    import re
    from pathlib import Path

    pkg = Path(__file__).parent.parent / "bbc_news_data_pipeline_spark"
    # site → occurrence count; every input bounded by CONSTRUCTION:
    expected = {
        "plans/relational.py": 2,       # q161 bucket prefix-min (<=64
                                        # score buckets); q208 quintile
                                        # digest cum (value-DOMAIN-bounded)
        "plans/embeddings_plans.py": 1, # q107 component-norm fold over the
                                        # 64-row (dim-bounded) table
        "plans/curation_plans.py": 3,   # q120 rep ring (B=64 bucket reps);
                                        # q189 source-size ladder
                                        # (<= #sources rows)
        "operators/curation.py": 1,     # temperature_rates (q103, q167,
                                        # the corpus builds) over
                                        # O(#langs) strata counts
        "plans/quality_plans.py": 6,    # q73 PSI totals (5 event types);
                                        # q159 ECE rollup (<=10 bin rows);
                                        # q177 global digest cumulative
                                        # (value-DOMAIN-bounded);
                                        # q204 selection cum (64 hist rows)
                                        # + final rank (n_cal/4096 slice);
                                        # q237 PAV bucket prefix
                                        # (≤ value_range/16 bucket rows)
        "plans/retrieval_plans.py": 2,  # q84 RRF ranks (top-100 pools)
        "plans/sketch_plans.py": 8,     # q138 + q181 grid / value-hist
                                        # cumulatives (value-DOMAIN-bounded,
                                        # not corpus); q188 digest cum +
                                        # S-row shard-audit lag; q207
                                        # maintained-digest cum (same
                                        # bucket-domain bound); q249
                                        # V-optimal DP prefix
                                        # (≤ value_range/12 cell rows)
        "plans/timeseries_plans.py": 4, # q203 latency-digest cumulative
                                        # (≤ max-latency/3600 bucket rows)
                                        # + q214 lateness-digest cumulative
                                        # (≤ time-range/60 bucket rows)
                                        # + q234 KM risk-set / survival
                                        # scans (≤ observation-window-days
                                        # lifetime rows) —
                                        # all value-DOMAIN-bounded
        "plans/dedup_plans.py": 1,      # q211 boundary-digest cumulative
                                        # (≤ 2^16 prefix-code buckets by
                                        # construction)
        "plans/text_plans.py": 1,       # q254 Zipf head rank over the
                                        # top-K LIMIT frame (≤ 200 rows)
    }
    # matches BOTH the plain name and the `Window as W` alias — the
    # alias spelling silently escaped this inventory until round 7
    # (relational q161, embeddings q107, curation q103 were uncounted)
    pat = re.compile(r"(?:Window|\bW)\.orderBy|(?:Window|\bW)\.partitionBy\(\)")
    got = {}
    for py in pkg.rglob("*.py"):
        n = len(pat.findall(py.read_text()))
        if n:
            got[str(py.relative_to(pkg))] = n
    assert got == expected, (
        f"unpartitioned-window inventory drifted:\ngot      {got}\n"
        f"expected {expected}\n— review the new site for bounded input, "
        "then update BOTH this test and SCALE.md"
    )
