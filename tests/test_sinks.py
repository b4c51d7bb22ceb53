"""Write-path semantics: S9 keyed append (insert-if-absent), S10
overwrite, S11/S12 CSV; idempotency properties (SURVEY §5.2.5)."""

import pytest

from bbc_news_data_pipeline_spark.sources import sinks


@pytest.fixture()
def links(spark):
    return spark.createDataFrame(
        [("u1", "2024-01-01"), ("u2", "2024-01-02"), ("u2", "2024-01-03")],
        "url string, lastmod string",
    )


def test_keyed_append_insert_if_absent(spark, links, tmp_path):
    path = str(tmp_path / "links")
    n1 = sinks.keyed_append(spark, links, path, key="url")
    assert n1 == 2  # within-batch dup on u2 collapsed
    n2 = sinks.keyed_append(spark, links, path, key="url")
    assert n2 == 0  # replay is a no-op (DuplicateKeyError-swallow semantics)
    assert spark.read.parquet(path).count() == 2

    more = spark.createDataFrame([("u3", None)], "url string, lastmod string")
    assert sinks.keyed_append(spark, more, path, key="url") == 1
    assert spark.read.parquet(path).count() == 3


def test_keyed_append_releases_cache_when_an_action_raises(spark, tmp_path):
    """keyed_append caches the deduped batch for its count + write; a
    raising action must still release that cache, or every stage retry
    would pile one more cached copy into the session."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    def boom(url):
        raise RuntimeError("udf failure")

    # the count raises: no cache entry is left for the deduped batch
    bad = spark.createDataFrame([("u1",)], "url string").withColumn(
        "x", F.udf(boom, "int")("url")
    )
    with pytest.raises(Exception, match="udf failure"):
        sinks.keyed_append(spark, bad, str(tmp_path / "links"), key="url")
    assert bad.dropDuplicates(["url"]).storageLevel == StorageLevel.NONE

    # the write raises after the count materialized the cache (the target's
    # parent is a regular file): no persisted RDD is left behind
    (tmp_path / "file").write_text("x")
    rows = spark.createDataFrame([("u1",)], "url string")
    persisted_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    with pytest.raises(Exception):
        sinks.keyed_append(spark, rows, str(tmp_path / "file" / "links"), key="url")
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) <= persisted_before


def test_merge_upsert_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    stats = sinks.merge_upsert(spark, base, path, "k")
    assert stats == {"inserted": 3, "updated": 0, "partitions_rewritten": None}

    delta = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    stats = sinks.merge_upsert(spark, delta, path, "k")
    assert stats == {"inserted": 1, "updated": 1, "partitions_rewritten": None}
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}

    # idempotent re-run: same batch → all keys now match, content stable
    stats = sinks.merge_upsert(spark, delta, path, "k")
    assert stats == {"inserted": 0, "updated": 2, "partitions_rewritten": None}
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == got


def test_merge_upsert_rejects_duplicate_keys(spark, tmp_path):
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    with pytest.raises(ValueError, match="duplicate"):
        sinks.merge_upsert(spark, dup, str(tmp_path / "t"), "k")


def test_merge_upsert_partition_scoped(spark, tmp_path):
    import glob
    import os

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "b"), (11, 1, "c"), (12, 1, "d")],
        "k long, p long, v string",
    )
    stats = sinks.merge_upsert(spark, base, path, "k", partition_col="p")
    assert stats["inserted"] == 4 and stats["partitions_rewritten"] == 2

    untouched_before = {
        f: os.path.getmtime(f) for f in glob.glob(os.path.join(path, "p=0", "*"))
    }
    delta = spark.createDataFrame([(11, 1, "C"), (13, 1, "e")], "k long, p long, v string")
    stats = sinks.merge_upsert(spark, delta, path, "k", partition_col="p")
    assert stats == {"inserted": 1, "updated": 1, "partitions_rewritten": 1}
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b", 11: "C", 12: "d", 13: "e"}
    # dynamic overwrite must leave the unaffected partition byte-identical
    untouched_after = {
        f: os.path.getmtime(f) for f in glob.glob(os.path.join(path, "p=0", "*"))
    }
    assert untouched_after == untouched_before

    # idempotent re-run
    stats = sinks.merge_upsert(spark, delta, path, "k", partition_col="p")
    assert stats == {"inserted": 0, "updated": 2, "partitions_rewritten": 1}
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == got


def test_merge_upsert_refuses_unbatched_backfill(spark, tmp_path, monkeypatch):
    """r10 (verdict chore): above the affected-partition cap the merge
    refuses loudly (mirrors tests/test_incremental.py's cap test)
    instead of materializing a thousands-element driver-side partition
    list — and the stored table is untouched by the refusal."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, 0, "a")], "k long, p long, v string")
    sinks.merge_upsert(spark, base, path, "k", partition_col="p")

    monkeypatch.setattr(sinks, "MAX_AFFECTED_PARTITIONS", 2)  # force the cap
    wide = spark.createDataFrame(
        [(10 + i, i, "x") for i in range(4)], "k long, p long, v string"
    )
    with pytest.raises(ValueError, match="unbatched backfill"):
        sinks.merge_upsert(spark, wide, path, "k", partition_col="p")
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == {1: "a"}


def test_merge_upsert_crash_recovery(spark, tmp_path):
    """A crash stranded between the two renames rolls FORWARD (tmp was a
    complete merged copy); recover_merge runs on entry of the next merge."""
    import os
    import shutil

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a")], "k long, v string")
    sinks.merge_upsert(spark, base, path, "k")
    # simulate: merged tmp fully written, path renamed to bak, then crash
    merged = spark.createDataFrame([(1, "A"), (2, "b")], "k long, v string")
    merged.write.mode("overwrite").parquet(f"{path}.merge.tmp")
    os.rename(path, f"{path}.merge.bak")
    assert sinks.recover_merge(path) == "rolled_forward"
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == {1: "A", 2: "b"}
    assert not os.path.exists(f"{path}.merge.bak")
    shutil.rmtree(path)


def test_merge_upsert_self_heals_stranded_swap(spark, tmp_path):
    """The REAL crash-recovery path: after a crash between the two
    renames (path absent, table stranded in tmp/bak), the next
    merge_upsert call itself must repair BEFORE its existence probe —
    probing first would take the create branch and overwrite the whole
    table with just the incoming batch (silent permanent loss)."""
    import os

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    sinks.merge_upsert(spark, base, path, "k")
    # simulate the crash: merged tmp fully written, path renamed away
    merged = spark.createDataFrame(
        [(1, "A"), (2, "b"), (3, "c")], "k long, v string"
    )
    merged.write.mode("overwrite").parquet(f"{path}.merge.tmp")
    os.rename(path, f"{path}.merge.bak")
    # next upsert (NOT a manual recover_merge) must roll forward, then merge
    delta = spark.createDataFrame([(4, "d")], "k long, v string")
    stats = sinks.merge_upsert(spark, delta, path, "k")
    assert stats == {"inserted": 1, "updated": 0, "partitions_rewritten": None}
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "A", 2: "b", 3: "c", 4: "d"}  # prior table survived
    assert not os.path.exists(f"{path}.merge.bak")
    assert not os.path.exists(f"{path}.merge.tmp")

    # roll-BACK variant: crash after first rename with tmp lost
    os.rename(path, f"{path}.merge.bak")
    stats = sinks.merge_upsert(spark, delta, path, "k")
    assert stats == {"inserted": 0, "updated": 1, "partitions_rewritten": None}
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == got


def test_merge_upsert_rejects_moved_key(spark, tmp_path):
    """Partition-stability contract is ENFORCED: a key arriving under a
    different partition value than its stored row raises before any
    write, and the table is untouched."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 0, "a"), (11, 1, "b")], "k long, p long, v string"
    )
    sinks.merge_upsert(spark, base, path, "k", partition_col="p")
    moved = spark.createDataFrame([(1, 1, "a-moved")], "k long, p long, v string")
    with pytest.raises(ValueError, match="partition-stability"):
        sinks.merge_upsert(spark, moved, path, "k", partition_col="p")
    got = {r.k: (r.p, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: (0, "a"), 11: (1, "b")}  # nothing written

    # same key in its OWN partition still updates fine
    ok = spark.createDataFrame([(1, 0, "a2")], "k long, p long, v string")
    stats = sinks.merge_upsert(spark, ok, path, "k", partition_col="p")
    assert stats == {"inserted": 0, "updated": 1, "partitions_rewritten": 1}


def test_overwrite_table(spark, links, tmp_path):
    path = str(tmp_path / "t")
    sinks.overwrite_table(links, path)
    sinks.overwrite_table(links.limit(1), path)
    assert spark.read.parquet(path).count() == 1  # truncate-and-load


def test_partitioned_csv(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, "alpha"), (0, "beta"), (1, "gamma")], "topic_id int, word string"
    )
    out = str(tmp_path / "csv")
    sinks.write_csv(df, out, partition_by="topic_id")
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 3
    assert sorted(back.columns) == ["topic_id", "word"]


def test_table_exists(spark, links, tmp_path):
    path = str(tmp_path / "x")
    assert not sinks.table_exists(spark, path)
    sinks.overwrite_table(links, path)
    assert sinks.table_exists(spark, path)


def test_table_exists_committed_entry_semantics(spark, links, tmp_path):
    """The round-9 probe contract: a crashed FIRST write (directory with
    only _temporary staging) is NOT an existing table — retries must
    self-heal — while a committed-but-corrupt part file IS one, so the
    subsequent read fails loudly instead of silently dropping state."""
    import pytest

    staged = tmp_path / "staged"
    (staged / "_temporary" / "0").mkdir(parents=True)
    assert not sinks.table_exists(spark, str(staged))
    # keyed_append on such a directory takes the create path and recovers
    n = sinks.keyed_append(spark, links, str(staged), "url")
    assert n > 0 and sinks.table_exists(spark, str(staged))

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not parquet")
    assert sinks.table_exists(spark, str(corrupt))
    with pytest.raises(Exception):
        sinks.keyed_append(spark, links, str(corrupt), "url")

    # a single parquet FILE (not a directory) is an existing table too
    f = tmp_path / "single.parquet"
    links.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "tmpw"))
    import glob as _glob
    import shutil

    shutil.copy(_glob.glob(str(tmp_path / "tmpw" / "part-*.parquet"))[0], f)
    assert sinks.table_exists(spark, str(f))


def test_run_metadata_table(spark, tmp_path):
    """M10/O6: append-only run registry replacing the reference's
    mtime-glob model discovery (topic_modeling.py:57-79)."""
    from bbc_news_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "runs")
    sinks.run_metadata_table(spark, path, {"run_id": "r1", "k": "12", "coherence": "-1.5"})
    sinks.run_metadata_table(spark, path, {"run_id": "r2", "k": "32", "coherence": "-1.2"})
    reg = spark.read.parquet(path)
    assert reg.count() == 2
    latest = reg.orderBy(reg.run_id.desc()).first()
    assert latest.run_id == "r2" and latest.k == "32"


def test_write_with_metrics_single_pass(spark, sf_dir, tmp_path):
    """observe()-based metrics must equal a separate aggregation, and the
    written data must be complete."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "metrics_out")
    got = sinks.write_with_metrics(
        docs,
        out,
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_text": F.count_if(F.col("text").isNull()),
            "avg_chars": F.round(F.avg("n_chars"), 4),
        },
    )
    exp = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("text").isNull()).alias("n_null_text"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    ).collect()[0]
    assert got["n_rows"] == exp.n_rows > 0
    assert got["n_null_text"] == exp.n_null_text
    assert abs(got["avg_chars"] - exp.avg_chars) < 1e-9
    assert spark.read.parquet(out).count() == exp.n_rows


def test_compact_parquet_merges_small_files(spark, sf_dir, tmp_path):
    from bbc_news_data_pipeline_spark.sources.sinks import compact_parquet
    from bbc_news_data_pipeline_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = str(tmp_path / "t")
    ev.repartition(32).write.parquet(path)  # simulate micro-batch accretion
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["compacted"] and stats["n_files_before"] >= 32
    import glob as g, os as o
    n_now = len([f for f in g.glob(o.path.join(path, "part-*")) if f.endswith(".parquet") or "." not in o.path.basename(f)])
    assert stats["n_files_after"] == 1
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before

    # second run is a no-op
    stats2 = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert not stats2["compacted"]
    assert n_now >= 1


def test_compact_parquet_recovers_from_crash_between_renames(spark, sf_dir, tmp_path):
    """Simulate every crash point of the two-rename swap; recover_compact
    (run on entry by compact_parquet) must restore the table directory
    with the full dataset each time."""
    import os as o
    import shutil

    from bbc_news_data_pipeline_spark.sources.sinks import (
        compact_parquet,
        recover_compact,
    )
    from bbc_news_data_pipeline_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select("event_id", "value")
    path = str(tmp_path / "t")
    ev.repartition(8).write.parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    tmp, bak = f"{path}.compact.tmp", f"{path}.compact.bak"

    # crash point 1: tmp written, first rename not yet done
    spark.read.parquet(path).repartition(1).write.mode("overwrite").parquet(tmp)
    assert recover_compact(path) == "clean"
    assert not o.path.exists(tmp)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before

    # crash point 2: between the renames (path gone, bak + complete tmp)
    spark.read.parquet(path).repartition(1).write.mode("overwrite").parquet(tmp)
    o.rename(path, bak)
    assert recover_compact(path) == "rolled_forward"
    assert o.path.exists(path) and not o.path.exists(bak) and not o.path.exists(tmp)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before

    # crash point 3: first rename done but tmp lost (roll back to bak)
    o.rename(path, bak)
    assert recover_compact(path) == "rolled_back"
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before

    # crash point 4: swap done, bak not yet deleted — next compact self-heals
    # (path is the 1-file copy left by the roll-forward, so it's a no-op run)
    shutil.copytree(path, bak)
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert not o.path.exists(bak)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    assert stats["n_files_before"] == 1 and not stats["compacted"]


def test_compact_parquet_partitioned_layout(spark, sf_dir, tmp_path):
    """Hive-partitioned table: each day=... leaf is compacted in place and
    the partition layout (and partition-pruned reads) survive."""
    import glob as g
    import os as o

    from bbc_news_data_pipeline_spark.sources.sinks import compact_parquet
    from bbc_news_data_pipeline_spark.sources.tables import load
    from pyspark.sql import functions as F

    ev = (
        load(spark, sf_dir, "events")
        .withColumn("day", F.to_date("ts").cast("string"))
        .select("event_id", "value", "day")
    )
    path = str(tmp_path / "pt")
    ev.repartition(6).write.partitionBy("day").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).select("event_id", "value").collect()))
    days = [d for d in o.listdir(path) if d.startswith("day=")]
    assert len(days) >= 2

    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["compacted"], "partitioned layout must actually compact, not no-op"
    assert stats["n_partitions"] == len(days)
    assert stats["bytes"] > 0 and stats["n_files_before"] > len(days)
    # layout preserved, one file per leaf now
    for d in days:
        leaf = o.path.join(path, d)
        assert len([f for f in g.glob(o.path.join(leaf, "part-*")) if o.path.isfile(f)]) == 1
    assert sorted(map(tuple, spark.read.parquet(path).select("event_id", "value").collect())) == before
