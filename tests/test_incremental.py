"""Incremental rollup maintenance (operators/incremental.py): folding
events in chunks must equal one full recompute, and a refresh must
rewrite ONLY the partitions its delta touches."""

import os
import time

from pyspark.sql import functions as F

from bbc_news_data_pipeline_spark.operators.incremental import (
    incremental_update,
    rollup_events,
)
from bbc_news_data_pipeline_spark.sources.tables import load


def _state(spark, path):
    return sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .select(
                "day",
                "event_type",
                "n",
                F.round("sum_value", 4),
                F.round("sum_sq", 4),
            )
            .collect(),
        )
    )


def test_chunked_updates_equal_full_recompute(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events")
    cut = ev.agg(F.min("ts")).first()[0]
    chunks = [
        ev.filter(F.dayofmonth("ts") <= 10),
        ev.filter((F.dayofmonth("ts") > 10) & (F.dayofmonth("ts") <= 20)),
        ev.filter(F.dayofmonth("ts") > 20),
    ]
    rollup_dir = str(tmp_path / "rollup")
    for c in chunks:
        incremental_update(spark, rollup_dir, c)

    expect = sorted(
        map(
            tuple,
            rollup_events(ev)
            .select(
                "day",
                "event_type",
                "n",
                F.round("sum_value", 4),
                F.round("sum_sq", 4),
            )
            .collect(),
        )
    )
    assert _state(spark, rollup_dir) == expect and len(expect) > 0
    assert cut is not None  # fixture sanity


def test_update_rewrites_only_affected_partitions(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events")
    rollup_dir = str(tmp_path / "rollup")
    incremental_update(spark, rollup_dir, ev.filter(F.dayofmonth("ts") <= 20))

    # snapshot partition mtimes, then fold in a delta touching ONE day
    def mtimes():
        return {
            d: max(
                (os.path.getmtime(os.path.join(rollup_dir, d, f))
                 for f in os.listdir(os.path.join(rollup_dir, d))
                 if f.endswith(".parquet")),
                default=0,
            )
            for d in os.listdir(rollup_dir)
            if d.startswith("day=")
        }

    before = mtimes()
    time.sleep(1.1)  # mtime granularity
    n_days = incremental_update(
        spark, rollup_dir, ev.filter(F.dayofmonth("ts") == 5)
    )
    after = mtimes()

    assert n_days == 1
    changed = {d for d in before if after[d] != before[d]}
    assert len(changed) == 1 and "05" in next(iter(changed))
    # merged day now counts day-5 events twice (folded in again)
    day5 = [d for d in after if "05" in d][0].split("=", 1)[1]
    got = (
        spark.read.parquet(rollup_dir)
        .filter(F.col("day").cast("string").startswith(day5[:10]))
        .agg(F.sum("n"))
        .first()[0]
    )
    expect = 2 * ev.filter(F.dayofmonth("ts") == 5).count()
    assert got == expect


def test_update_refuses_unbatched_backfill(spark, sf_dir, tmp_path, monkeypatch):
    """Above the affected-day cap the refresh refuses loudly (mirrors
    tests/test_scd2.py's cap test) instead of materializing a
    thousands-element driver-side isin list."""
    import pytest

    import bbc_news_data_pipeline_spark.operators.incremental as inc

    ev = load(spark, sf_dir, "events")
    rollup_dir = str(tmp_path / "rollup")
    incremental_update(spark, rollup_dir, ev.limit(50))  # seed existing state
    monkeypatch.setattr(inc, "MAX_AFFECTED_DAYS", 2)  # force the cap
    wide = ev  # the full month: > 2 distinct days
    with pytest.raises(ValueError, match="unbatched backfill"):
        inc.incremental_update(spark, rollup_dir, wide)
    # state is untouched by the refusal
    assert len(_state(spark, rollup_dir)) > 0


def test_update_fails_loudly_on_unreadable_state(spark, sf_dir, tmp_path):
    """An existing-but-corrupt rollup directory must raise on read, not
    be silently treated as a first refresh (which would overwrite
    accumulated state with just the delta)."""
    import pytest

    ev = load(spark, sf_dir, "events")
    rollup_dir = tmp_path / "rollup"
    rollup_dir.mkdir()
    (rollup_dir / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        incremental_update(spark, str(rollup_dir), ev.limit(10))


def test_partition_scoped_writes_leave_session_conf_alone(spark, tmp_path, monkeypatch):
    """The partition-scoped overwrites (a rollup refresh over an existing
    rollup, a partitioned merge_upsert) set dynamic mode per write, never
    on the session: a session-wide set/restore would race with another
    stage writing on the same session."""
    from pyspark.sql.conf import RuntimeConfig

    from bbc_news_data_pipeline_spark.sources.sinks import merge_upsert

    keys_set = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        keys_set.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1, "view", 1.0),
         (2, "2024-01-02 10:00:00", 1, "view", 2.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    rollup_dir = str(tmp_path / "rollup")
    incremental_update(spark, rollup_dir, ev)
    incremental_update(spark, rollup_dir, ev.limit(1))
    path = str(tmp_path / "t")
    for v in ("a", "b"):
        rows = spark.createDataFrame([(1, 0, v), (2, 1, v)], "k long, p long, v string")
        merge_upsert(spark, rows, path, "k", partition_col="p")

    assert "spark.sql.sources.partitionOverwriteMode" not in keys_set
    assert spark.read.parquet(path).count() == 2
    assert spark.read.parquet(rollup_dir).agg(F.sum("n")).first()[0] == 3
