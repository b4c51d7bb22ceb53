"""End-to-end BBC pipeline on fixtures: sitemap → crawl → prep →
topics ∥ (sentiment → stats) ∥ emotion (the reference DAG
bbc_news_dag.py:360-362), plus runner control-flow semantics (retries,
ALL_DONE, skip-downstream, concurrent siblings, inherited job group)."""

import threading

from pyspark.sql import functions as F

from bbc_news_data_pipeline_spark.pipeline.bbc_news import build_pipeline
from bbc_news_data_pipeline_spark.pipeline.runner import Pipeline, Stage


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_full_pipeline(spark, news_pages, tmp_path):
    sitemap_df, pages_df = news_pages
    wd = str(tmp_path / "wd")
    persisted_before = _persisted_rdd_ids(spark)
    pipe = build_pipeline(spark, sitemap_df, pages_df, wd, lda_k=2)
    report = pipe.run()
    assert not report.failed, report.failed
    # the run leaves nothing cached in the session (fit_lda's tokens are released)
    assert _persisted_rdd_ids(spark) <= persisted_before
    assert report.results["discover_links"] == 20
    assert report.results["crawl_articles"] == 20
    assert report.results["prepare"] == 20
    assert report.results["sentiment"] == 20
    assert report.results["emotion"] == 20
    assert report.results["topics"]["n_topics"] == 2
    assert report.results["stats"] == {
        name: spark.read.parquet(f"{wd}/stats_{name}").count()
        for name in ("label_counts", "daily_mean", "daily_share")
    }

    emo = spark.read.parquet(f"{wd}/articles_emotion")
    assert {"emotion_label", "emotion_score"} <= set(emo.columns)

    scored = spark.read.parquet(f"{wd}/articles_sentiment")
    labels = {r.url: r.sentiment_label for r in scored.collect()}
    pos = [u for u, l in labels.items() if l == "positive"]
    neg = [u for u, l in labels.items() if l == "negative"]
    assert len(pos) == 10 and len(neg) == 10  # planted sentiment recovered

    share = spark.read.parquet(f"{wd}/stats_daily_share")
    # shares within a day sum to ~100
    total = share.groupBy("day").agg(F.round(F.sum("pct"), 1).alias("s")).collect()
    assert all(abs(r.s - 100.0) < 0.5 for r in total)

    # re-run is incremental: no new links/articles appended
    report2 = build_pipeline(spark, sitemap_df, pages_df, wd, lda_k=2).run()
    assert report2.results["discover_links"] == 0
    assert report2.results["crawl_articles"] == 0


def test_runner_retry_and_all_done():
    calls = {"flaky": 0}

    def flaky(_):
        calls["flaky"] += 1
        if calls["flaky"] < 2:
            raise RuntimeError("transient")
        return "ok"

    def boom(_):
        raise RuntimeError("permanent")

    pipe = Pipeline(
        [
            Stage("flaky", flaky, retries=1),
            Stage("optional_fail", boom, deps=("flaky",), optional=True),
            Stage("publish", lambda r: f"published after {r['flaky']}", deps=("flaky",)),
            Stage("needs_optional", lambda r: "ran", deps=("optional_fail",)),
        ]
    )
    report = pipe.run()
    assert report.results["flaky"] == "ok" and calls["flaky"] == 2  # O2 retry
    assert "optional_fail" in report.failed  # recorded
    assert report.results["publish"] == "published after ok"
    assert report.results.get("needs_optional") == "ran"  # ALL_DONE semantics (O3)


def test_runner_skips_downstream_of_required_failure():
    pipe = Pipeline(
        [
            Stage("a", lambda r: 1),
            Stage("b", lambda r: 1 / 0, retries=0),
            Stage("c", lambda r: "never", deps=("b",)),
        ]
    )
    report = pipe.run()
    assert "b" in report.failed
    assert "c" in report.failed and "skipped" in report.failed["c"]
    assert "c" not in report.results


def test_runner_runs_sibling_stages_concurrently():
    # Each sibling waits for the other at the barrier: run one after the
    # other, the first would time out and break it.
    barrier = threading.Barrier(2, timeout=30)

    def meet(_):
        barrier.wait()
        return "met"

    pipe = Pipeline(
        [
            Stage("root", lambda r: 0),
            Stage("left", meet, deps=("root",), retries=0),
            Stage("right", meet, deps=("root",), retries=0),
            Stage("join", lambda r: (r["left"], r["right"]), deps=("left", "right")),
        ]
    )
    report = pipe.run()
    assert not report.failed, report.failed
    assert report.results["join"] == ("met", "met")
    assert set(report.timings) == {"root", "left", "right", "join"}


def test_runner_stages_inherit_caller_job_group(spark):
    sc = spark.sparkContext
    # "own" sets its own job group before "count" runs a job: the caller's
    # group must reach "count" untouched by its sibling's setJobGroup.
    own_group_set = threading.Barrier(2, timeout=30)

    def own(_):
        sc.setJobGroup("runner-own", "sibling with its own group")
        own_group_set.wait()
        return spark.range(5).count()

    def count(_):
        own_group_set.wait()
        return spark.range(10).count()

    sc.setJobGroup("runner-caller", "caller of Pipeline.run")
    try:
        report = Pipeline(
            [Stage("own", own, retries=0), Stage("count", count, retries=0)]
        ).run()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert not report.failed, report.failed
    assert report.results == {"own": 5, "count": 10}
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    caller_jobs = set(tracker.getJobIdsForGroup("runner-caller"))
    own_jobs = set(tracker.getJobIdsForGroup("runner-own"))
    assert caller_jobs and own_jobs
    assert not caller_jobs & own_jobs


def test_runner_required_failure_keeps_running_sibling():
    sibling_running = threading.Event()
    failure_recorded = threading.Event()

    def slow(_):
        sibling_running.set()
        assert failure_recorded.wait(30)
        return "kept"

    def fail(_):
        assert sibling_running.wait(30)
        raise RuntimeError("required stage down")

    pipe = Pipeline(
        [
            Stage("root", lambda r: 0),
            Stage("slow", slow, deps=("root",), retries=0),
            Stage("slow_child", lambda r: r["slow"] + "!", deps=("slow",)),
            Stage("fail", fail, deps=("root",), retries=0),
            # optional stages still start after a failed dependency, so this
            # one only runs once the failure has been recorded
            Stage("observer", lambda r: failure_recorded.set(), deps=("fail",), optional=True),
            Stage("fail_child", lambda r: "never", deps=("fail",)),
            Stage("fail_grandchild", lambda r: "never", deps=("fail_child",)),
        ]
    )
    report = pipe.run()
    assert report.results["slow"] == "kept"
    assert report.results["slow_child"] == "kept!"
    assert report.failed["fail"] == "RuntimeError: required stage down"
    assert set(report.failed) == {"fail", "fail_child", "fail_grandchild"}
    assert report.failed["fail_child"] == "skipped: upstream failed ['fail']"
    assert report.failed["fail_grandchild"] == "skipped: upstream failed ['fail_child']"
    assert "fail_child" not in report.timings and "fail_grandchild" not in report.timings
