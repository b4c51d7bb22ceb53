"""tools/bench_compare._load: record salvage across the shapes a BENCH
artifact can take — raw single-line, r7+ two-line (full + compact tail
summary), driver wrapper with a parsed record, and the truncated-wrapper
case the compact line exists to survive (BENCH_r06's parsed:null)."""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from bench_compare import _load

FULL = {
    "metric": "headline_queries_total",
    "value": 10.0,
    "queries": {"q1": 4.0, "q2": 6.0},
    "calibration_sec": 0.2,
    "calibration_ref_sec": 0.182,
    "value_norm": 9.1,
    "queries_norm": {"q1": 3.64, "q2": 5.46},
}
COMPACT = {
    "metric": "headline_summary_compact",
    "value": 10.0,
    "value_norm": 9.1,
    "calibration_sec": 0.2,
    "calibration_ref_sec": 0.182,
    "top10_slowest_norm": {"q2": 5.46, "q1": 3.64},
}


def test_load_two_line_output_prefers_full_record(tmp_path):
    p = tmp_path / "bench.out"
    p.write_text(json.dumps(FULL) + "\n" + json.dumps(COMPACT) + "\n")
    rec = _load(str(p))
    assert rec["queries"] == FULL["queries"]


def test_load_wrapper_with_parsed_record(tmp_path):
    p = tmp_path / "BENCH.json"
    p.write_text(json.dumps({"n": 7, "parsed": FULL, "tail": "..."}))
    assert _load(str(p))["value_norm"] == 9.1


def test_load_truncated_wrapper_salvages_compact_tail(tmp_path):
    """The r6 failure mode: the driver's tail capture sliced the full
    record mid-JSON (parsed null), but the compact line prints LAST so
    the tail retains it — _load must recover the headline numbers."""
    tail = json.dumps(FULL)[:50] + "\n" + json.dumps(COMPACT)
    p = tmp_path / "BENCH.json"
    p.write_text(json.dumps({"n": 6, "parsed": None, "tail": tail}))
    rec = _load(str(p))
    assert rec["value_norm"] == 9.1 and rec["calibration_sec"] == 0.2


def test_load_raw_single_line(tmp_path):
    p = tmp_path / "bench.json"
    p.write_text(json.dumps(FULL))
    assert _load(str(p))["value"] == 10.0


def test_family_classifier_matches_drain_reality():
    """The 'stream' name contract: bench_compare/bench classify a query
    as drain-family iff its registry name contains 'stream', and that
    must coincide EXACTLY with the set of plans that run a Structured
    Streaming drain (readStream/writeStream/_drain_to_memory in the
    plan source) — a misclassified query would be normalized by the
    wrong probe."""
    import inspect

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import _family
    from bbc_news_data_pipeline_spark.plans import all_queries
    from bench_compare import _family as _family_cmp

    for q in all_queries():
        src = inspect.getsource(q.spark)
        is_drain = any(
            tok in src for tok in ("_drain_to_memory", "readStream", "writeStream")
        )
        want = "drain" if is_drain else "core"
        assert _family(q.name) == want, (q.name, want)
        assert _family_cmp(q.name) == want


def test_family_normalization_attributes_drain_skew(capsys, tmp_path):
    """A synthetic pair where the drain probe moved 4x but core stayed
    flat: family normalization must read the drain query as ~1.0x (load,
    not regression) while a naive raw ratio reads 4x."""
    import bench_compare

    old = {
        "value": 5.0,
        "queries": {"q1_core_thing": 1.0, "q2_stream_thing": 4.0},
        "calibration_sec": 0.2,
        "calibration_shuffle_sec": 0.4,
        "calibration_drain_sec": 1.5,
    }
    new = {
        "value": 17.0,
        "queries": {"q1_core_thing": 1.0, "q2_stream_thing": 16.0},
        "calibration_sec": 0.2,
        "calibration_shuffle_sec": 0.4,
        "calibration_drain_sec": 6.0,
    }
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    argv = sys.argv
    sys.argv = ["bench_compare.py", str(po), str(pn)]
    try:
        assert bench_compare.main() == 0
    finally:
        sys.argv = argv
    out = capsys.readouterr().out
    # the drain query's raw x4.00 normalizes to x1.00 by its family probe
    assert "q2_stream_thing" in out
    line = next(l for l in out.splitlines() if "q2_stream_thing" in l)
    assert "x 4.00" in line and "x 1.00" in line
    # and the family subtotal attributes the skew
    assert "family drain" in out and "family core" in out


def test_family_normalized_records_preferred(capsys, tmp_path):
    """Two r8 artifacts (same ref anchors) compare on the pre-computed
    queries_norm_family values."""
    import bench_compare

    rec = {
        "value": 2.0,
        "queries": {"q1_core_thing": 2.0},
        "queries_norm": {"q1_core_thing": 1.9},
        "value_norm": 1.9,
        "calibration_ref_sec": 0.182,
        "calibration_sec": 0.2,
        "calibration_shuffle_sec": 0.5,
        "calibration_shuffle_ref_sec": 0.42,
        "calibration_drain_sec": 1.7,
        "calibration_drain_ref_sec": 1.6,
        "queries_norm_family": {"q1_core_thing": 1.68},
        "value_norm_family": 1.68,
    }
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(rec))
    pn.write_text(json.dumps(rec))
    argv = sys.argv
    sys.argv = ["bench_compare.py", str(po), str(pn)]
    try:
        assert bench_compare.main() == 0
    finally:
        sys.argv = argv
    out = capsys.readouterr().out
    assert "FAMILY-NORMALIZED" in out
    assert "x 1.00" in out


def test_compact_summary_fits_tail_capture_with_per_query_map():
    """bench.py's last line must survive the driver's ~4 KB tail capture
    with the per-query map included: every bench-tagged query at a
    worst-case 99.999 s, keyed by its unique qNNN prefix, still parses
    and stays under 4,000 bytes."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import compact_summary
    from bbc_news_data_pipeline_spark.plans import all_queries

    names = [q.name for q in all_queries() if "bench" in q.tags]
    worst = {n: 99.999 for n in names}
    record = {
        "sf": 0.1,
        "queries": worst,
        "value": 99999.999,
        "value_norm": 99999.999,
        "value_norm_family": 99999.999,
        "calibration_sec": 99.999,
        "calibration_shuffle_sec": 99.999,
        "calibration_drain_sec": 99.999,
        "loadavg_1m": 99.99,
        "queries_norm_family": worst,
    }
    line = compact_summary(record)
    assert len(line.encode("utf-8")) < 4000, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_summary_compact"
    assert parsed["n_queries"] == len(names)
    per_query = parsed["per_query_sec"]
    assert len(per_query) == len(names)  # qNNN prefixes are unique
    assert set(per_query.values()) == {99.999}
