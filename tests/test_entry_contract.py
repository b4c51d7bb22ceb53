"""Driver-contract integrity: __spark_entry__ exposes entry/queries/
oracle_sql coherently, every oracle parses in DuckDB, and entry() is
re-entrant on one session."""

import duckdb
import pytest

import __spark_entry__ as E
from bbc_news_data_pipeline_spark.sources.tables import TABLES


def test_registry_shape():
    qs, os_ = E.queries(), E.oracle_sql()
    assert len(qs) >= 50
    assert set(os_) <= set(qs)  # every oracle key is a real query
    missing = set(qs) - set(os_)
    assert missing == set(), f"queries without oracle (driver runs weaker check): {missing}"


def test_driver_window_prioritizes_unverified():
    """The driver-boundary ordering must present every registered query
    exactly once, with every query lacking a fully-green driver stamp
    (new, or red in the latest CORRECTNESS file) sorted ahead of queries
    that already have one — so the driver's 50-slot window re-verifies
    regressions and new operators first."""
    import glob as g
    import json
    import os as o

    from bbc_news_data_pipeline_spark.plans import all_queries

    canonical = [q.name for q in all_queries()]
    ordered = list(E.queries())
    assert sorted(ordered) == sorted(canonical)

    import re

    last_green: dict[str, int] = {}
    for path in g.glob(o.path.join(o.path.dirname(E.__file__), "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", o.path.basename(path)).group(1))
        with open(path) as f:
            for name, res in json.load(f).items():
                if (
                    isinstance(res, dict)
                    and res.get("err") is None
                    and res.get("rows_match") is not False
                    and res.get("schema_match") is not False
                    and res.get("hash_match") is not False
                ):
                    last_green[name] = max(last_green.get(name, 0), rnd)
    never_green = [n for n in canonical if n not in last_green]
    # Queries may ALSO sort to the front when their source fingerprint
    # changed after their stamp (rework-awareness, round-6): the front
    # block is never-green ∪ hash-demoted. The contract: no
    # green-AND-unchanged query (per the same at-or-after attestation
    # the priority function uses) ever sorts ahead of a never-green one.
    import sys

    sys.path.insert(0, o.path.join(o.path.dirname(E.__file__), "tools"))
    from query_hashes import current_hashes, hash_at_or_after, load_snapshots

    snaps = load_snapshots()
    cur = current_hashes()
    unchanged_green = {
        n
        for n, rnd in last_green.items()
        if hash_at_or_after(snaps, n, rnd) == cur.get(n)
        and hash_at_or_after(snaps, n, rnd) is not None
    }
    if never_green and unchanged_green:
        pos = {n: i for i, n in enumerate(ordered)}
        worst_new = max(pos[n] for n in never_green)
        best_settled = min(pos[n] for n in unchanged_green)
        assert worst_new < best_settled, (
            "a green-and-unchanged query sorts ahead of a never-green one: "
            f"{[n for n in unchanged_green if pos[n] < worst_new][:5]}"
        )


def test_driver_window_never_attempted_outrank_all_stamped():
    """Round-7 verdict task #2: a query with NO driver attempt at all
    (never in any CORRECTNESS file — the late-wave additions) must sort
    ahead of EVERY stamped query, green or red, unchanged or reworked —
    so a future registry reorder can never silently starve the
    never-verified tail out of the 50-slot window. Never-attempted and
    red share priority −2 (round-9: strictly ahead of reworked-green at
    −1); within that front block the canonical order decides, but no
    stamped-green-and-unchanged query may precede any never-attempted
    one."""
    from types import SimpleNamespace

    qs = [SimpleNamespace(name=n) for n in ("g1", "new1", "g2", "new2", "red1")]
    history = (
        {"g1": 5, "g2": 6},  # last_green
        {"g1": 5, "g2": 6, "red1": 6},  # last_attempt (red1 red at 6)
    )
    snapshots = {6: {"g1": "h1", "g2": "h2"}}
    current = {"g1": "h1", "g2": "h2", "new1": "x", "new2": "y", "red1": "z"}
    ordered = [
        q.name
        for q in E._driver_window_order(
            qs, history=history, snapshots=snapshots, current=current
        )
    ]
    front = ordered[:3]
    assert set(front) == {"new1", "new2", "red1"}  # all priority −2
    assert ordered[3:] == ["g1", "g2"]  # stamped-green sort by stamp age
    # canonical order breaks the −2 tie
    assert front == ["new1", "new2", "red1"]


def test_driver_window_rework_awareness():
    """A query whose plan source changed AFTER its last green stamp must
    sort ahead of intact green stamps (priority −1) — the round-5 judge
    finding: q40/q41/... were reworked after their r3–r4 stamps and
    waited out blind rotation. Round-9: red/never-green (−2) now sorts
    STRICTLY ahead of reworked (−1), so a rework wave cannot crowd out
    the never-verified tail. Synthetic history + hash snapshots exercise
    every branch of the priority function."""
    from types import SimpleNamespace

    qs = [SimpleNamespace(name=n) for n in ("a", "b", "c", "d", "e")]
    history = (
        # last_green: a@2, b@2, c@3, d never green, e@3
        {"a": 2, "b": 2, "c": 3, "e": 3},
        # last_attempt: d red at 3 (attempt newer than its green=never)
        {"a": 2, "b": 2, "c": 3, "d": 3, "e": 3},
    )
    # snapshots: round-3 snapshot attests a/b/c/e; b's hash changed since
    snapshots = {3: {"a": "h_a", "b": "h_b_OLD", "c": "h_c", "e": "h_e"}}
    current = {"a": "h_a", "b": "h_b_NEW", "c": "h_c", "d": "h_d", "e": "h_e"}

    ordered = [
        q.name
        for q in E._driver_window_order(
            qs, history=history, snapshots=snapshots, current=current
        )
    ]
    # d (red, −2) strictly first; then b (reworked since stamp, −1);
    # then a (green@2, unchanged), then c/e (green@3).
    assert ordered == ["d", "b", "a", "c", "e"]

    # a green stamp with NO covering snapshot is unknown provenance → −1;
    # d (never green) still strictly precedes at −2
    ordered2 = [
        q.name
        for q in E._driver_window_order(
            qs, history=history, snapshots={}, current=current
        )
    ]
    assert ordered2 == ["d", "a", "b", "c", "e"]

    # hash infrastructure absent entirely → degrade to stamp-age ordering
    ordered3 = [
        q.name
        for q in E._driver_window_order(qs, history=history, snapshots={}, current={})
    ]
    assert ordered3 == ["d", "a", "b", "c", "e"]


def test_query_hash_snapshot_current():
    """QUERY_HASHES.json must attest the registry at HEAD for the LATEST
    snapshot round... except for queries deliberately reworked mid-round
    (those must sort to the driver window front instead). This test pins
    the invariant the artifact-refresh checklist relies on: every
    registry query appears in the latest snapshot OR is prioritized
    into the window's −1 tier."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from query_hashes import current_hashes, load_snapshots

    snaps = load_snapshots()
    assert snaps, "QUERY_HASHES.json missing or empty"
    latest = snaps[max(snaps)]
    current = current_hashes()
    ordered = list(E.queries())
    # the latest snapshot must cover the whole registry (docs quote the
    # count — r6 verdict caught a stale "158" after the registry grew to
    # 162; enforcing count-parity here means prose can never drift silently)
    assert set(latest) == set(current), (
        f"latest QUERY_HASHES snapshot (r{max(snaps)}) covers "
        f"{len(latest)} queries but the registry has {len(current)} — "
        "run: python tools/query_hashes.py --write <round>"
    )
    stale = [n for n in current if latest.get(n) != current[n]]
    if stale:
        # Reworked/new queries must land inside the driver's 50-slot
        # verification window (they sort at −1/−2 behind only the
        # never-green stratum). If this ever fails, the urgent tiers
        # have outgrown the window — trim the rework wave, don't relax
        # the assert.
        front = ordered[:50]
        missing_from_front = [n for n in stale if n not in front]
        assert not missing_from_front, (
            f"queries reworked since snapshot r{max(snaps)} but not "
            f"inside the 50-slot driver window: {missing_from_front}"
        )


def test_every_oracle_parses_in_duckdb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, sql in E.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # pragma: no cover - failure path
            pytest.fail(f"oracle for {name} does not parse: {e}")


def test_entry_reentrant(spark):
    a = E.entry(spark)
    b = E.entry(spark)
    assert a.schema == b.schema
    assert a.count() == b.count() > 0


def test_every_query_analyzes(spark, sf_dir):
    """Registry-wide analysis smoke gate: build EVERY registered plan and
    force Catalyst analysis (schema resolution) without executing it.

    This is the cheap tripwire the round-2 regression showed we need: a
    single loader/type change (e.g. the events `ts` physical-format switch)
    must fail HERE, loudly, for all affected queries — not silently take
    out half the driver's correctness window."""
    failures = []
    for name, fn in E.queries().items():
        try:
            fn(spark, sf_dir).schema  # .schema triggers analysis only
        except Exception as e:
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:160]}")
    assert not failures, "queries failing analysis:\n" + "\n".join(failures)


def test_query_callables_accept_sf_dir(spark, sf_dir):
    """Spot-check the (spark, sf_dir) calling convention across surfaces."""
    qs = E.queries()
    for name in ("q01_pricing_summary", "q30_doc_stats", "q40_cosine_top10"):
        df = qs[name](spark, sf_dir)
        assert df.count() > 0


def test_cluster_conf_shape(spark):
    from bbc_news_data_pipeline_spark.session import cluster_conf

    conf = cluster_conf(executors=1000, cores_per_executor=4)
    assert conf["spark.sql.shuffle.partitions"] == str(2 * 1000 * 4)
    assert conf["spark.sql.adaptive.enabled"] == "true"
    # executors get the same generated-code cache size as get_spark's session
    key = "spark.sql.codegen.cache.maxEntries"
    assert conf[key] == spark.conf.get(key)
    assert int(conf[key]) > 100  # Spark's default; thrashes (session.py)
    # every value must be a string (SparkConf contract)
    assert all(isinstance(v, str) for v in conf.values())


def test_operator_facade_imports():
    from bbc_news_data_pipeline_spark import operators

    for mod in operators.__all__:
        assert hasattr(operators, mod)
