"""Sinks: the effectively-once keyed-upsert writer (K5/D3/W4).

The reference achieves effectively-once by bulk-writing to ES with an
explicit doc id (last write wins) into one index per day, after
at-least-once delivery (`util/MyEsUtils.scala:42-52`,
`app/dwd_DauApp.scala:186-203`). The Spark twin is a foreachBatch MERGE
keyed by the same id on top of checkpointed offsets, into a store
partitioned by day.

This container has no Delta/Iceberg jars (TESTDATA env), so MERGE is
emulated in one path: read the batch's days that are already stored,
union the batch, keep the last write per key, and write those days back
with a dynamic partition overwrite. Days the batch does not touch are
never read or rewritten, and a missing store is created by the same
write. Each touched day is rewritten whole, into at most shuffle-width
files, so a day's files never pile up across micro-batches. On a real
cluster swap `upsert_parquet` for ``DeltaTable.merge`` — call sites
don't change.

The merge persists its input for the length of the call. Spark's
``ForeachBatchSink`` hands the callback a ``LogicalRDD`` over the
micro-batch's uncached incremental plan, so every action on that frame
re-runs the post-shuffle stages — stateful dedup and stream-stream join
state stores included — and inflates their progress metrics. Cached,
the batch runs once: its days (or emptiness) and the merge both read
the cached rows. An empty batch is a no-op and creates no table.

Spark writes rows whose partition value is null (or the empty string)
to its default-partition directory (``__HIVE_DEFAULT_PARTITION__``);
the merge reads that directory for a null day like any other day, so a
later null-day batch keeps the earlier null-day rows (they read back
with a null day).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark import cache


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
    partition_by: str,
) -> None:
    """Idempotent keyed upsert: replayed batches overwrite instead of
    duplicating (doc-id semantics). Winner per key = max(seq_col),
    ties broken by latest write (batch rows win over existing).

    ``partition_by`` (typically 'dt') replicates the reference's
    index-per-day layout (`gmall_dau_info_$date`) as hive partitions:
    serving queries with a dt predicate scan only their day, and the
    merge reads and rewrites only the days present in the batch — at
    100 TB the rewrite cost is one day, not the table. A null (or
    empty-string) day is merged through the default-partition directory.

    ``path`` is a local path or a ``file:`` URI; any other scheme raises
    ``ValueError`` before Spark is touched.

    ``batch_df`` is persisted until the call returns, so a streaming
    micro-batch's plan runs once (see the module docstring). An empty
    ``batch_df`` is a no-op: nothing is read, written or created.
    """
    local = cache.local_dir(path)
    if local is None:
        raise ValueError(
            f"cannot upsert into {path!r}: the {urlparse(path).scheme}: "
            "scheme is not a local path, and the merge lists its day dirs"
        )
    batch_df = batch_df.persist()
    try:
        days = [r[0] for r in batch_df.select(partition_by).distinct().collect()]
        if not days:
            return
        merged = batch_df.withColumn("__src", F.lit(1))
        day_dirs = [_day_dir(local, partition_by, d) for d in days]
        day_dirs = [d for d in day_dirs if os.path.exists(d)]
        if day_dirs:
            existing = spark.read.option("basePath", local).parquet(*day_dirs)
            merged = existing.withColumn("__src", F.lit(0)).unionByName(merged)
        w = Window.partitionBy(*key_cols).orderBy(F.desc(seq_col), F.desc("__src"))
        # dynamic partition overwrite: only the batch's days are replaced.
        # Writer-level option, NOT a session conf set — a shared session
        # must not keep 'dynamic' after the upsert returns (it silently
        # changes every later overwrite-write's semantics).
        (
            merged.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__src")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_by)
            .parquet(local)
        )
    finally:
        batch_df.unpersist()


def foreach_batch_upsert(
    spark: SparkSession,
    path: str,
    key_cols: Sequence[str],
    seq_col: str,
    partition_by: str,
):
    """foreachBatch hook: ``stream.writeStream.foreachBatch(this)``.

    Each epoch is one ``upsert_parquet`` call, so the micro-batch runs
    once and an empty epoch writes nothing."""

    def _inner(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_parquet(spark, batch_df, path, key_cols, seq_col, partition_by)

    return _inner
