"""SparkSession factory.

Mirrors the performance-relevant knobs of the reference (BASELINE.md §A:
`local[3]`, 5 s micro-batches — reference `app/ods_BaseLogApp.scala:29-31`)
but sized for the test host and, by configuration, for a real cluster.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast demotion/promotion replace all of the reference's manual
  tuning (it had none — SURVEY.md §4.1).
- Two shuffle widths, each read by one kind of query. Batch queries run
  under AQE with coalescing on, so their shuffles start at
  `spark.sql.adaptive.coalescePartitions.initialPartitionNum` (one per
  core by default) and AQE merges them down. Spark turns AQE off inside
  a streaming query, so every shuffle a stream runs (its stateful
  operators' — dedup, stream-stream join — and any on the frame a
  `foreachBatch` callback gets) takes `spark.sql.shuffle.partitions`.
  Its default here is 1, a default for small streams: every state
  partition costs a state-store load and commit task per operator per
  micro-batch whether it holds state or not, and on a 4-core host the
  realtime workload's latency fell 25 % going from 4 partitions to 1.
  A checkpoint fixes its count at its first start and keeps it for its
  whole life; it cannot be raised later without a new checkpoint. So a
  production stream whose state will outgrow one task must set
  `spark.sql.shuffle.partitions` (`extra_conf={...: N}`) before its
  first start. The registered stream twins replay whole tables
  (`sources/replay.replay_table`), which is batch-sized work, so
  `sources/replay.drain_to_memory` starts each of them at the batch
  width instead (at 1, the `applyInPandasWithState` sessionizer ran
  1.7x slower at sf0.1 on a 4-core host).
- `spark.sql.session.timeZone=UTC` is pinned so date/hour derivations
  (SURVEY.md §2.4 F1-F3) are deterministic and oracle-comparable; the
  reference used JVM-default TZ via SimpleDateFormat
  (`app/dwd_DauApp.scala:99-100`) which we deliberately pin down.
- Arrow enabled for the sanctioned Pandas-UDF extension point
  (SURVEY.md §2.10).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "bigdata-spark-realtime",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode defaults come from ``SPARK_GRAFT_CPUS``; on a real cluster
    pass ``master=None`` with an external spark-submit master and these
    confs still apply.

    ``shuffle_partitions`` (default: one per core) is the start width of
    batch shuffles, set as AQE's ``initialPartitionNum``; AQE and its
    coalescing stay on, since with coalescing off Spark would fall back
    to ``spark.sql.shuffle.partitions``. That setting defaults to 1, for
    small streams, and is read only by streaming queries, which run with
    AQE off: a new checkpoint starts with one state partition per
    stateful operator, and keeps that count for its life. A stream that
    will hold more state passes
    ``extra_conf={"spark.sql.shuffle.partitions": N}`` before its first
    start; the registered stream twins' whole-table drains start at the
    batch width (module docstring).
    """
    par = default_parallelism()
    if master is None:
        master = f"local[{par}]"
    if shuffle_partitions is None:
        shuffle_partitions = par

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs every executor thread inside the driver JVM,
        # so Spark's 1g default heap is the whole engine's memory — at
        # 32 concurrent tasks streaming Arrow batches it dies with
        # GCLocker allocation failures (measured at 10× sf0.1). Size it
        # like an executor; on a real cluster spark-submit overrides
        # this per-role. Only effective at JVM launch (getOrCreate
        # reusing a live session keeps its heap).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # determinism / oracle comparability
        .config("spark.sql.session.timeZone", "UTC")
        # serving tables partition by the STRING dt column (reference
        # semantics, `bean/DauInfo.scala:28`); don't re-infer it as DATE
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # batch shuffles start at ~1 partition per core; AQE coalesces
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions),
        )
        # new streams (AQE off): one state partition per stateful
        # operator, a default for small streams
        .config("spark.sql.shuffle.partitions", "1")
        # adaptive execution: coalesce + skew-join + dynamic broadcast
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas_udf / mapInPandas extension operators
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep scans pruned: 128 MB splits are right for the 100 TB target
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # quieter local runs
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
