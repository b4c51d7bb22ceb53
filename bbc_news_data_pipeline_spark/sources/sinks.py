"""Table sinks — the reference's write semantics (SURVEY §2.1) on parquet.

  S9  insert-if-absent against a unique key (pipelines.py:38-44 swallows
      DuplicateKeyError; unique url index pipelines.py:33)
      → left-anti against the existing table, then append.
  S10 truncate-and-load (delete_many + insert_many, data_preparation.py:54-55)
      → mode("overwrite").
  S11/S12 CSV artifact sinks (topic_modeling.py:248-285)
      → header CSV, optionally partitioned by a key column instead of the
        reference's per-topic filter loop.

The state-table folds (operators/incremental.py, streaming/) share three
write decisions from here: ``overwrite_partitions`` (partition-scoped
overwrite as a per-write option — never session conf, which concurrent
stages on one session would race on), ``capped_distinct`` (the bounded
driver-side list of affected partitions) and the two-rename swap
(``_swap_write`` / ``_recover_swap``) behind merge_upsert and
compact_parquet.

Scale notes: keyed append reads only the KEY COLUMN of the existing table
(column pruning) for the anti-join; with AQE the freshly-arriving (small)
side broadcasts. True atomic upsert needs a table format (Delta/Iceberg —
jars not in this container; noted as the production path in SCALE.md).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def table_exists(spark: SparkSession, path: str) -> bool:
    """S7 collection-exists probe (stats.py:13,21) for path-based tables.

    A filesystem probe, NOT read-and-swallow (round-9 sweep): an
    existing-but-unreadable table must fail loudly on the subsequent
    read, never be mistaken for absent — keyed_append would otherwise
    skip its anti-join and violate the unique-key contract on the very
    table that is corrupt, and a state-table fold would rebuild its
    state from empty.

    "Exists" means the path holds at least one COMMITTED entry (a name
    not starting with ``_`` or ``.``): a directory containing only
    ``_temporary`` staging from a crashed FIRST write carries no state
    to protect, and counting it as present would wedge every retry of
    that first write behind a manual cleanup (review finding r9). A
    committed-but-corrupt part file still counts as present and fails
    loudly on the read, as intended.
    """
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    if fs.getFileStatus(jpath).isFile():
        return True
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (name.startswith("_") or name.startswith(".")):
            return True
    return False


def keyed_append(spark: SparkSession, df: DataFrame, path: str, key: str) -> int:
    """Insert-if-absent (S9): append only rows whose key is not already
    present. Returns the number of appended rows.

    Dedups the incoming batch on the key first (the reference's unique
    index enforced this across retries within a batch too).
    """
    incoming = df.dropDuplicates([key])
    if table_exists(spark, path):
        existing_keys = spark.read.parquet(path).select(key)
        incoming = incoming.join(existing_keys, key, "left_anti")
    # Two actions (count + write) are fine here: the anti-join result is
    # cached implicitly small; at production scale use Delta MERGE instead.
    # The cache is released even when an action raises, so a stage retry
    # does not pile a second copy on top of the first.
    incoming = incoming.cache()
    try:
        n = incoming.count()
        if n:
            incoming.write.mode("append").parquet(path)
    finally:
        incoming.unpersist()
    return n


def overwrite_table(df: DataFrame, path: str) -> None:
    """Truncate-and-load (S10)."""
    df.write.mode("overwrite").parquet(path)


def write_csv(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """CSV artifact sink (S11); with partition_by, one directory per key —
    replacing the reference's per-topic filter loop (S12,
    topic_modeling.py:277-281) with a single partitioned write."""
    writer = df.write.mode("overwrite").option("header", True)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.csv(path)


def write_parquet_layout(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
    num_files: int = 1,
) -> None:
    """Layout-aware parquet writer: directory partitioning for partition
    PRUNING plus sort-within-files clustering for row-group min/max
    SKIPPING on ``sort_by`` (the ZORDER-lite a plain parquet lake gets).

    With ``partition_by``, rows are hash-repartitioned on the partition
    keys so each directory is written by one task (one file per dir, no
    small-file spray — the classic 100 TB lake failure mode is a write
    where every task appends to every partition dir, yielding
    tasks×partitions tiny files). ``num_files`` controls fan-out for the
    unpartitioned case.
    """
    out = df.repartition(*partition_by) if partition_by else df.repartition(num_files)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def layout_audit(spark: SparkSession, path: str, col: str) -> DataFrame:
    """Data-skipping effectiveness audit for a parquet layout: per-FILE
    min/max of ``col`` plus the layout-level expected read fraction.

    ``read_fraction`` = E[files whose [min,max] straddles a uniform
    point predicate] / n_files = Σ file_range / (n_files × global
    range): ~1/n_files for a perfectly sort-clustered layout (each file
    owns a disjoint slice → scans skip everything else via row-group
    stats), → 1.0 for a random spray (every file straddles every
    value, nothing skips). The audit itself is one scan of only
    ``col`` + the file-path metadata column — no shuffle beyond the
    per-file aggregate (one group per file).
    """
    per_file = (
        spark.read.parquet(path)
        .select(F.col(col).alias("v"), F.col("_metadata.file_path").alias("file"))
        .groupBy("file")
        .agg(F.min("v").alias("min_v"), F.max("v").alias("max_v"),
             F.count("*").alias("n_rows"))
    )
    g = per_file.agg(
        F.count("*").alias("n_files"),
        F.min("min_v").alias("gmin"),
        F.max("max_v").alias("gmax"),
        F.sum(F.col("max_v") - F.col("min_v")).alias("range_sum"),
    ).select(
        "n_files",
        (F.col("range_sum") / (F.col("n_files") * (F.col("gmax") - F.col("gmin"))))
        .alias("read_fraction"),
    )
    return per_file.crossJoin(F.broadcast(g))


def write_with_metrics(
    df: DataFrame, path: str, metrics: dict[str, Column]
) -> dict[str, object]:
    """Write parquet and collect data-quality metrics in the SAME pass via
    ``DataFrame.observe`` — no second scan of the data.

    ``metrics`` maps names to aggregate Columns (count/sum/avg/...).
    Returns the observed values after the write completes. The pattern
    that replaces the reference's separate count queries
    (``bbc_news_dag.py:114-122`` — SURVEY A13/S8) with zero extra cost:
    at 100 TB a dedicated metrics pass is a full re-read; observe()
    piggybacks on the write's task execution.
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    observed.write.mode("overwrite").parquet(path)
    return obs.get


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    bucket_col: str,
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Bucketed (hash-clustered) parquet table: rows are pre-partitioned
    into ``n_buckets`` files by ``hash(bucket_col)`` at WRITE time, so any
    later equi-join or aggregation on ``bucket_col`` between tables with
    matching bucketing needs NO shuffle — the 100 TB strategy for a fact
    table joined on the same key every day. ``sort`` additionally orders
    each bucket file so sort-merge joins skip their sort phase.

    Registered in the session catalog as an EXTERNAL table at ``path``
    (bucketing metadata lives in the catalog, not the files — plain
    ``spark.read.parquet`` of the same files would not know the layout).
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(name)


def run_metadata_table(spark: SparkSession, path: str, record: dict) -> None:
    """M10/O4: the run registry replacing XCom + mtime-glob discovery
    (topic_modeling.py:57-79) — a small append-only parquet table."""
    spark.createDataFrame([record]).write.mode("append").parquet(path)


def _swap_paths(path: str, tag: str) -> tuple[str, str]:
    """The staging (``tmp``) and superseded (``bak``) siblings of a swap."""
    return f"{path}.{tag}.tmp", f"{path}.{tag}.bak"


def _swap_write(df: DataFrame, path: str, tag: str) -> None:
    """Replace the table at ``path`` with ``df`` by the two-rename swap:
    write ``tmp`` → rename path→``bak`` → rename tmp→path → delete
    ``bak``. A crash at any step is repaired by :func:`_recover_swap`."""
    tmp, bak = _swap_paths(path, tag)
    df.write.mode("overwrite").parquet(tmp)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)


def _recover_swap(path: str, tag: str) -> str:
    """Crash recovery for :func:`_swap_write`, shared by
    :func:`compact_parquet` and :func:`merge_upsert`.

    A crash can strand the table at any point of the swap; this inspects
    what survived and either rolls FORWARD (tmp held a complete rewritten
    copy) or rolls BACK (restore ``bak``), so the table directory always
    exists again afterwards. Returns what it did: ``clean`` /
    ``rolled_forward`` / ``rolled_back`` / ``missing``.
    """
    tmp, bak = _swap_paths(path, tag)
    if os.path.exists(path):
        # Crash before the first rename (tmp incomplete or complete — the
        # original is intact either way) or after the second (bak is the
        # superseded copy). Leftovers are safe to discard.
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        if os.path.exists(bak):
            shutil.rmtree(bak)
        return "clean"
    if os.path.exists(bak):
        if os.path.exists(tmp):
            # Crash between the renames: tmp is a complete compacted copy
            # (it is only ever renamed after a successful write).
            os.rename(tmp, path)
            shutil.rmtree(bak)
            return "rolled_forward"
        os.rename(bak, path)
        return "rolled_back"
    return "missing"


def recover_compact(path: str) -> str:
    """Crash recovery for :func:`compact_parquet` (see :func:`_recover_swap`)."""
    return _recover_swap(path, "compact")


def recover_merge(path: str) -> str:
    """Crash recovery for :func:`merge_upsert`'s unpartitioned swap."""
    return _recover_swap(path, "merge")


#: merge_upsert refuses batches touching more partitions than this —
#: the driver-side partition list must stay O(affected partitions),
#: never a full-history replay (see :func:`capped_distinct`).
MAX_AFFECTED_PARTITIONS = 1024


def capped_distinct(df: DataFrame, col: str, cap: int) -> list:
    """The distinct values of ``col`` in ``df`` as a driver-side list,
    refusing more than ``cap`` of them.

    A normal incremental batch touches a handful of partitions (days,
    snapshot dates); thousands mean an unbatched backfill replay, which
    must be split into bounded batches rather than drive a
    thousands-element isin() list or MERGE loop from the driver. The
    collect itself is LIMIT-bounded to ``cap + 1`` rows, so even the
    refused probe never materializes the full list. Callers pass their
    module-level cap at call time.
    """
    vals = [r[0] for r in df.select(col).distinct().limit(cap + 1).collect()]
    if len(vals) > cap:
        raise ValueError(
            f"batch carries more than {cap} distinct '{col}' values — this "
            "looks like an unbatched backfill replay; split it into bounded "
            "batches (e.g. one file per partition with maxFilesPerTrigger), "
            "or rebuild the table from scratch"
        )
    return vals


def overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Partition-scoped overwrite: rewrite only the ``partition_col``
    directories present in ``df``; every other partition of the table at
    ``path`` stays byte-identical. Dynamic mode is a per-write option,
    so concurrent writers on one session never see each other's mode."""
    (
        df.repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str,
    partition_col: str | None = None,
) -> dict:
    """Keyed MERGE (upsert): UPDATE rows whose ``key`` already exists in
    the table at ``path`` (incoming row replaces the stored one), INSERT
    rows whose key is new — SURVEY ST5's "allow updates via Delta MERGE"
    design decision, which :func:`keyed_append` (insert-if-absent, the
    reference's re-crawl skip at ``pipelines.py:38-44``) deliberately
    does not provide. Returns ``{"inserted": n, "updated": n,
    "partitions_rewritten": n | None}``.

    With ``partition_col`` the rewrite is PARTITION-SCOPED (the 100 TB
    path, :func:`overwrite_partitions`, shared with
    ``operators/incremental.py``'s rollup): only the directories named
    by the incoming batch's partition values are read back (partition
    pruning bounds the read to O(affected partitions)) and rewritten —
    every other partition stays byte-identical. CONTRACT (enforced): ``partition_col``
    must be stable per key (derived from the key or an immutable
    attribute); a key that "moves" partitions between snapshots would
    dodge its matched-row delete and duplicate, so incoming keys found in
    another stored partition RAISE before any write (Delta/Iceberg MERGE
    gets this from its global key match; here it costs one column-pruned
    (key, partition) scan of the cold partitions against the broadcast
    incoming keys).

    Without ``partition_col`` the whole table is rewritten through the
    crash-safe two-rename swap (write ``.merge.tmp`` → swap; a crash is
    repaired by :func:`recover_merge`, run here on entry) — correct at
    any scale but O(table); use the partitioned form beyond toy tables.

    The incoming batch must be unique on ``key`` (raises otherwise):
    ``dropDuplicates`` would pick an ARBITRARY survivor per key and an
    upsert that nondeterministically chooses which update wins is a
    silent corruption, not a convenience. The partition-stability
    contract above is likewise ENFORCED, not honor-system: incoming keys
    found in a stored partition other than their own raise before any
    write (a column-pruned key scan of the cold partitions against the
    broadcast incoming keys — the alternative is the silent duplicate).
    """
    # Repair any stranded swap BEFORE probing existence: a crash between
    # the two renames leaves `path` absent while the table lives on in
    # .merge.tmp/.merge.bak — probing first would take the create branch,
    # overwrite the table with just this batch, and a later recover would
    # discard the stranded copy as leftovers. recover_merge is a no-op
    # when nothing is stranded.
    recover_merge(path)

    # The incoming batch feeds up to FIVE actions below (dup check,
    # partition probe, stability probe, matched count, final write); lazy
    # localCheckpoint compiles it to one RDD so the first action
    # materializes it and the rest read the cache instead of re-running
    # the caller's full lineage (for SCD2 appliers that lineage is a
    # stored-table scan + outer join — 5x re-run was the dominant
    # per-merge cost). Batches here are change sets, bounded by design.
    df = df.localCheckpoint(eager=False)

    n_in, n_keys = df.agg(
        F.count("*").alias("n"), F.count_distinct(F.col(key)).alias("k")
    ).first()
    if n_in != n_keys:
        raise ValueError(
            f"incoming batch has {n_in - n_keys} duplicate '{key}' rows — "
            "resolve the winner upstream; merge_upsert will not pick one"
        )

    if not table_exists(spark, path):
        if partition_col:
            overwrite_partitions(df, path, partition_col)
        else:
            df.write.mode("overwrite").parquet(path)
        return {
            "inserted": n_in,
            "updated": 0,
            "partitions_rewritten": (
                df.select(partition_col).distinct().count() if partition_col else None
            ),
        }

    existing = spark.read.parquet(path)
    incoming_keys = df.select(key)

    if partition_col:
        # one value per affected partition directory
        parts = capped_distinct(df, partition_col, MAX_AFFECTED_PARTITIONS)
        # Enforce the partition-stability contract: a key arriving under a
        # NEW partition value would dodge its matched-row delete (the
        # rewrite is scoped to `parts`) and silently duplicate. The probe
        # reads only (key, partition) of the cold partitions, semi-joined
        # against the broadcast incoming keys.
        moved = (
            existing.filter(~F.col(partition_col).isin(parts))
            .select(key, partition_col)
            .join(F.broadcast(incoming_keys), key, "left_semi")
        )
        sample = moved.limit(3).collect()
        if sample:
            shown = ", ".join(
                f"{r[key]!r} (stored {partition_col}={r[partition_col]!r})"
                for r in sample
            )
            raise ValueError(
                f"partition-stability violation: incoming key(s) already "
                f"stored under a different '{partition_col}' — e.g. {shown}. "
                f"A partition-scoped upsert cannot move keys between "
                f"partitions; delete the old row first or upsert without "
                f"partition_col."
            )
        scoped = existing.filter(F.col(partition_col).isin(parts))
        matched = scoped.join(F.broadcast(incoming_keys), key, "left_semi").count()
        survivors = scoped.join(F.broadcast(incoming_keys), key, "left_anti")
        merged = survivors.unionByName(df.select(*existing.columns))
        overwrite_partitions(merged, path, partition_col)
        return {
            "inserted": n_in - matched,
            "updated": matched,
            "partitions_rewritten": len(parts),
        }

    matched = existing.join(F.broadcast(incoming_keys), key, "left_semi").count()
    survivors = existing.join(F.broadcast(incoming_keys), key, "left_anti")
    merged = survivors.unionByName(df.select(*existing.columns))
    _swap_write(merged, path, "merge")
    return {"inserted": n_in - matched, "updated": matched, "partitions_rewritten": None}


def _partition_subdirs(path: str) -> list[str]:
    """Hive-style ``key=value`` child directories of ``path``."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        os.path.join(path, n)
        for n in names
        if "=" in n and os.path.isdir(os.path.join(path, n))
    )


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Compact a small-file parquet directory to ~``target_file_bytes``
    files — the maintenance op every streaming/incremental sink needs
    (micro-batches and dynamic partition overwrites accrete files; at
    100 TB, millions of tiny files turn scan planning itself into the
    bottleneck).

    Hive-partitioned layouts (``key=value`` subdirectories, arbitrarily
    nested) are compacted LEAF-BY-LEAF, preserving the partition layout
    and bounding each rewrite to one partition — which is also the unit
    a scheduler would parallelize/restart at scale.

    Sizing is from the ACTUAL on-disk bytes (not row counts): n_out =
    ceil(total_bytes / target). Already-compact directories are a
    no-op — callers can run this on a schedule without thrashing. The
    rewrite stages to a sibling temp dir and swaps via two renames; a
    crash mid-swap is repaired by :func:`recover_compact` (run here on
    entry, so a scheduled re-run self-heals). The swap is still not
    atomic against CONCURRENT readers (a table format — Iceberg/Delta —
    is the production answer; this is the plain-lake fallback).
    """
    import glob as _glob
    import math

    recover_compact(path)

    parts = _partition_subdirs(path)
    if parts:
        agg = {"n_files_before": 0, "bytes": 0, "n_files_after": 0,
               "compacted": False, "n_partitions": 0}
        for sub in parts:
            s = compact_parquet(spark, sub, target_file_bytes)
            agg["n_files_before"] += s["n_files_before"]
            agg["bytes"] += s["bytes"]
            agg["n_files_after"] += s["n_files_after"]
            agg["compacted"] = agg["compacted"] or s["compacted"]
            agg["n_partitions"] += s.get("n_partitions", 1)
        return agg

    files = [
        f
        for f in _glob.glob(os.path.join(path, "*.parquet"))
        + _glob.glob(os.path.join(path, "part-*"))
        if os.path.isfile(f)
    ]
    files = sorted(set(files))
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    stats = {"n_files_before": len(files), "bytes": total, "n_files_after": n_out}
    if len(files) <= n_out:
        stats["n_files_after"] = len(files)
        stats["compacted"] = False
        return stats

    _swap_write(spark.read.parquet(path).repartition(n_out), path, "compact")
    stats["compacted"] = True
    return stats
