"""Sinks: the effectively-once keyed-upsert writer (K5/D3/W4).

The reference achieves effectively-once by bulk-writing to ES with an
explicit doc id (last write wins) after at-least-once delivery
(`util/MyEsUtils.scala:42-52`, `app/dwd_DauApp.scala:186-203`). The
Spark twin is a foreachBatch MERGE keyed by the same id on top of
checkpointed offsets.

This container has no Delta/Iceberg jars (TESTDATA env), so MERGE is
emulated: union existing+batch → window last-write-wins → atomic
directory swap. On a real cluster swap `upsert_parquet` for
``DeltaTable.merge`` — call sites don't change.

The merge persists its input for the length of the call. Spark's
``ForeachBatchSink`` hands the callback a ``LogicalRDD`` over the
micro-batch's uncached incremental plan, so every action on that frame
re-runs the post-shuffle stages — stateful dedup and stream-stream join
state stores included — and inflates their progress metrics. Cached,
the batch runs once: its days (or emptiness) and the merge both read
the cached rows. An empty batch is a no-op and creates no table.

Spark writes rows whose partition value is null (or the empty string)
to its default-partition directory (``__HIVE_DEFAULT_PARTITION__``);
the partitioned merge reads that directory for a null day like any
other day, so a later null-day batch keeps the earlier null-day rows
(they read back with a null day).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _day_dir(path: str, partition_by: str, value) -> str:
    # Spark writes a null or empty-string partition value to this directory
    name = "__HIVE_DEFAULT_PARTITION__" if value in (None, "") else value
    return f"{path}/{partition_by}={name}"


def upsert_parquet(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    key_cols: Sequence[str],
    seq_col: str,
    partition_by: str | None = None,
) -> None:
    """Idempotent keyed upsert: replayed batches overwrite instead of
    duplicating (doc-id semantics). Winner per key = max(seq_col),
    ties broken by latest write (batch rows win over existing).

    ``partition_by`` (typically 'dt') replicates the reference's
    index-per-day layout (`gmall_dau_info_$date`) as hive partitions:
    serving queries with a dt predicate scan only their day, and the
    merge itself touches only the partitions present in the batch —
    at 100 TB the rewrite cost is one day, not the table. A null (or
    empty-string) day is merged through the default-partition directory.

    ``batch_df`` is persisted until the call returns, so a streaming
    micro-batch's plan runs once (see the module docstring). An empty
    ``batch_df`` is a no-op: nothing is read, written or created.
    """
    batch_df = batch_df.persist()
    try:
        merged = batch_df.withColumn("__src", F.lit(1))
        if partition_by:
            days = [r[0] for r in batch_df.select(partition_by).distinct().collect()]
            if not days:
                return
            day_dirs = [_day_dir(path, partition_by, d) for d in days]
            day_dirs = [d for d in day_dirs if os.path.exists(d)]
            if day_dirs:
                existing = spark.read.option("basePath", path).parquet(*day_dirs)
                merged = existing.withColumn("__src", F.lit(0)).unionByName(merged)
        elif batch_df.isEmpty():
            return
        elif os.path.exists(path):
            existing = spark.read.parquet(path).withColumn("__src", F.lit(0))
            merged = existing.unionByName(merged)
        w = Window.partitionBy(*key_cols).orderBy(F.desc(seq_col), F.desc("__src"))
        result = (
            merged.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        if partition_by and os.path.exists(path):
            # dynamic partition overwrite: only the batch's days are replaced.
            # Writer-level option, NOT a session conf set — a shared session
            # must not keep 'dynamic' after the upsert returns (it silently
            # changes every later overwrite-write's semantics).
            (
                result.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_by)
                .parquet(path)
            )
            return
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        writer = result.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(tmp)
        if not os.path.exists(path):
            os.rename(tmp, path)
            return
        # swap like compact_partition: readers miss the table only between
        # the two renames, not for the whole delete of the old copy
        old = f"{path}.old-{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    finally:
        batch_df.unpersist()


def foreach_batch_upsert(
    spark: SparkSession,
    path: str,
    key_cols: Sequence[str],
    seq_col: str,
    partition_by: str | None = None,
):
    """foreachBatch hook: ``stream.writeStream.foreachBatch(this)``.

    Each epoch is one ``upsert_parquet`` call, so the micro-batch runs
    once and an empty epoch writes nothing."""

    def _inner(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_parquet(spark, batch_df, path, key_cols, seq_col, partition_by)

    return _inner


def compact_partition(
    spark: SparkSession,
    path: str,
    partition_by: str,
    value: str,
    target_files: int = 1,
) -> int:
    """Compact one hive partition's small files into ``target_files``.

    A 5 s-trigger upsert stream writes a few files per micro-batch; a
    day of streaming leaves thousands of small files that degrade every
    serving scan (footer/open cost dominates). Compaction is the
    amortizing counterpart: rewrite ONE day's directory — never the
    table — into scan-sized files, write-aside-and-swap. New listings
    never see both copies or a half-written partition; an in-flight
    read that listed the old files before the swap can fail with a
    vanished-file error and must retry (plain parquet has no
    transaction log — on a real cluster use Delta/Iceberg rewrites for
    reader-transparent compaction).

    Returns the number of data files after compaction. Run it on closed
    (previous-day) partitions from any scheduler; concurrent upserts to
    OTHER partitions are unaffected since only this directory moves.
    """
    part_dir = os.path.join(path, f"{partition_by}={value}")
    if not os.path.exists(part_dir):
        return 0
    df = spark.read.parquet(part_dir)
    # temp dirs live BESIDE the table root, never inside it: a
    # `dt=X.compact-*` sibling inside the root is visible to partition
    # discovery on the table path and can double-count the day mid-swap.
    # The only in-root mutation is the rename pair below.
    tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    os.rename(part_dir, old)
    os.rename(tmp, part_dir)
    shutil.rmtree(old)
    return len([f for f in os.listdir(part_dir) if f.endswith(".parquet")])
