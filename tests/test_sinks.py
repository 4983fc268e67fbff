"""Effectively-once upsert sink (K5/D3/W4): idempotence + last-write-wins,
session-conf hygiene, one execution per streaming epoch, null days, the
dt-partitioned serving store (the ES index-per-day replacement: partition
pruning + day-scoped merges), and compaction atomicity under concurrent
readers."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.streaming.sinks import (
    compact_partition,
    foreach_batch_upsert,
    upsert_parquet,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "mid string, dt string, ts long, v string")


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def test_upsert_idempotent_and_last_write_wins(spark, tmp_path):
    path = str(tmp_path / "dau_table")
    b1 = spark.createDataFrame(
        [("m1", "2024-03-01", 100, "a"), ("m2", "2024-03-01", 110, "b")],
        "mid string, dt string, ts long, payload string",
    )
    upsert_parquet(spark, b1, path, ["dt", "mid"], "ts")
    # replay of the same batch (at-least-once delivery) → no duplicates
    upsert_parquet(spark, b1, path, ["dt", "mid"], "ts")
    assert spark.read.parquet(path).count() == 2

    # newer write for m1 wins; stale write for m2 loses
    b2 = spark.createDataFrame(
        [("m1", "2024-03-01", 200, "a2"), ("m2", "2024-03-01", 50, "stale")],
        "mid string, dt string, ts long, payload string",
    )
    upsert_parquet(spark, b2, path, ["dt", "mid"], "ts")
    rows = {r.mid: r for r in spark.read.parquet(path).collect()}
    assert len(rows) == 2
    assert rows["m1"].payload == "a2" and rows["m1"].ts == 200
    assert rows["m2"].payload == "b" and rows["m2"].ts == 110
    # the swap's temp and old copies are gone
    assert os.listdir(tmp_path) == ["dau_table"]


def test_partitioned_upsert_does_not_leak_session_conf(spark, tmp_path):
    """The dynamic-partition-overwrite mode must be a writer-level option:
    a shared session left on 'dynamic' silently changes the semantics of
    every later overwrite write."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    path = str(tmp_path / "dau_by_day")
    b = spark.createDataFrame(
        [("m1", "2024-03-01", 100, "a"), ("m2", "2024-03-02", 110, "b")],
        "mid string, dt string, ts long, payload string",
    )
    upsert_parquet(spark, b, path, ["dt", "mid"], "ts", partition_by="dt")
    # second call takes the os.path.exists(path) branch that used to
    # flip the session conf
    b2 = spark.createDataFrame(
        [("m1", "2024-03-01", 200, "a2")], "mid string, dt string, ts long, payload string"
    )
    upsert_parquet(spark, b2, path, ["dt", "mid"], "ts", partition_by="dt")
    assert spark.conf.get(key) == before
    # and the merge itself only replaced the batch's day
    rows = {r.mid: r.payload for r in spark.read.parquet(path).collect()}
    assert rows == {"m1": "a2", "m2": "b"}


@pytest.mark.parametrize("partition_by", ["dt", None])
def test_stream_epoch_runs_once(spark, tmp_path, partition_by):
    """The sink runs each micro-batch's stateful plan once: ForeachBatchSink
    hands over an uncached LogicalRDD, so every extra action on it would
    re-run the dedup state store (and the tap) for that epoch."""
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    taps = spark.sparkContext.accumulator(0)

    def tap(dt):
        taps.add(1)
        return dt

    stream = spark.readStream.schema("k string, dt string, ts long").json(str(src))
    deduped = stream.dropDuplicates(["k"]).withColumn("dt", F.udf(tap, "string")("dt"))
    cached_before = _persistent_rdds(spark)
    q = (
        deduped.writeStream.foreachBatch(
            foreach_batch_upsert(spark, out, ["k"], "ts", partition_by)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for epoch in range(2):
            rows = [{"k": f"k{epoch}-{i}", "dt": f"2024-03-0{1 + i % 2}", "ts": i}
                    for i in range(50)]
            (src / f"f{epoch}.json").write_text("\n".join(map(json.dumps, rows)))
            q.processAllAvailable()
            assert taps.value == 50 * (epoch + 1)
            assert _persistent_rdds(spark) == cached_before
        progress = [p for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    assert [p["stateOperators"][0]["numRowsUpdated"] for p in progress] == [50, 50]
    assert spark.read.parquet(out).count() == 100


def test_empty_batch_creates_no_table(spark, tmp_path):
    empty = _df(spark, [])
    for partition_by in ("dt", None):
        upsert_parquet(spark, empty, str(tmp_path / f"direct_{partition_by}"),
                       ["dt", "mid"], "ts", partition_by=partition_by)
        sink = foreach_batch_upsert(spark, str(tmp_path / f"stream_{partition_by}"),
                                    ["dt", "mid"], "ts", partition_by)
        sink(empty, 0)
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("partition_by", ["dt", None])
def test_failed_upsert_unpersists_batch_and_keeps_store(spark, tmp_path, partition_by):
    path = str(tmp_path / "store")
    upsert_parquet(spark, _df(spark, [("m1", "2024-03-01", 1, "a")]), path,
                   ["dt", "mid"], "ts", partition_by=partition_by)
    cached_before = _persistent_rdds(spark)
    bad = spark.createDataFrame([("m1", "2024-03-01", 2, "b")],
                                "mid string, dt string, ts long, w string")
    with pytest.raises(AnalysisException):
        upsert_parquet(spark, bad, path, ["dt", "mid"], "ts", partition_by=partition_by)
    assert _persistent_rdds(spark) == cached_before
    assert [tuple(r) for r in spark.read.parquet(path).select("mid", "dt", "ts", "v").collect()] \
        == [("m1", "2024-03-01", 1, "a")]


@pytest.mark.parametrize("no_day", [None, ""])
def test_partitioned_upsert_keeps_null_day_rows(spark, tmp_path, no_day):
    """Spark writes a null (or empty) day to __HIVE_DEFAULT_PARTITION__; the
    merge must read that directory back before overwriting it."""
    path = str(tmp_path / "store")

    def upsert(rows):
        upsert_parquet(spark, _df(spark, rows), path, ["dt", "mid"], "ts", partition_by="dt")

    upsert([("m1", no_day, 1, "a"), ("m2", "2024-03-01", 1, "b")])
    upsert([("m3", no_day, 1, "c")])
    upsert([("m1", no_day, 5, "a2")])
    rows = {(r.mid, r.dt): (r.ts, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {
        ("m1", None): (5, "a2"),
        ("m2", "2024-03-01"): (1, "b"),
        ("m3", None): (1, "c"),
    }


def test_partitioned_upsert_and_pruning(spark, tmp_path):
    path = str(tmp_path / "dau_store")
    upsert_parquet(
        spark,
        _df(spark, [("m1", "2024-03-01", 1, "a"), ("m2", "2024-03-02", 2, "b")]),
        path, ["dt", "mid"], "ts", partition_by="dt",
    )
    parts = sorted(d for d in os.listdir(path) if d.startswith("dt="))
    assert parts == ["dt=2024-03-01", "dt=2024-03-02"]

    # day-scoped upsert: only 03-02 is rewritten, 03-01 rows survive
    upsert_parquet(
        spark,
        _df(spark, [("m2", "2024-03-02", 9, "b2"), ("m3", "2024-03-02", 3, "c")]),
        path, ["dt", "mid"], "ts", partition_by="dt",
    )
    rows = {(r.mid, r.dt): (r.ts, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {
        ("m1", "2024-03-01"): (1, "a"),
        ("m2", "2024-03-02"): (9, "b2"),
        ("m3", "2024-03-02"): (3, "c"),
    }

    # serving query with dt predicate prunes to one partition
    q = spark.read.parquet(path).where(F.col("dt") == "2024-03-01")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-03-01" in plan
    assert q.count() == 1


def test_compact_partition_preserves_rows_and_shrinks_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from bigdata_spark_realtime_spark.streaming.sinks import (
        compact_partition,
        upsert_parquet,
    )

    path = str(tmp_path / "dau")
    # simulate many micro-batch upserts -> many small files in one day
    for batch in range(6):
        df = spark.range(batch * 10, batch * 10 + 10).select(
            F.col("id").alias("mid"),
            F.lit("2024-03-01").alias("dt"),
            F.col("id").alias("ts"),
        ).repartition(4)
        upsert_parquet(spark, df, path, ["dt", "mid"], "ts", partition_by="dt")
    part_dir = tmp_path / "dau" / "dt=2024-03-01"
    before = spark.read.option("basePath", path).parquet(str(part_dir)).collect()

    n_files = compact_partition(spark, path, "dt", "2024-03-01", target_files=1)
    assert n_files == 1
    after = spark.read.option("basePath", path).parquet(str(part_dir)).collect()
    assert sorted((r.mid, r.ts) for r in after) == sorted(
        (r.mid, r.ts) for r in before
    )
    # compacting a missing partition is a no-op
    assert compact_partition(spark, path, "dt", "1999-01-01") == 0


def test_compact_keeps_temp_dirs_outside_table_root(spark, tmp_path):
    path = str(tmp_path / "store")
    b = spark.createDataFrame(
        [(f"m{i}", "2024-03-01", i, "x") for i in range(20)]
        + [(f"m{i}", "2024-03-02", i, "y") for i in range(20)],
        "mid string, dt string, ts long, payload string",
    )
    b.repartition(8).write.partitionBy("dt").parquet(path)
    seen_in_root: set[str] = set()
    stop = threading.Event()

    def watch_root():
        while not stop.is_set():
            seen_in_root.update(
                e for e in os.listdir(path) if not e.startswith("dt=") and
                not e.startswith("_") and not e.startswith(".")
            )

    t = threading.Thread(target=watch_root)
    t.start()
    try:
        n = compact_partition(spark, path, "dt", "2024-03-01", target_files=1)
    finally:
        stop.set()
        t.join()
    assert n == 1
    assert seen_in_root == set(), f"temp entries leaked into table root: {seen_in_root}"
    assert spark.read.parquet(path).count() == 40


def test_concurrent_reads_never_double_count_during_compaction(spark, tmp_path):
    path = str(tmp_path / "store2")
    b = spark.createDataFrame(
        [(f"m{i}", "2024-03-01", i, "x") for i in range(30)]
        + [(f"m{i}", "2024-03-02", i, "y") for i in range(10)],
        "mid string, dt string, ts long, payload string",
    )
    b.repartition(6).write.partitionBy("dt").parquet(path)
    errors: list[Exception] = []
    counts: list[int] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(spark.read.parquet(path).count())
            except Exception as e:  # a vanished-mid-swap dir is a failure
                errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(3):
            compact_partition(spark, path, "dt", "2024-03-01", target_files=1)
    finally:
        stop.set()
        t.join()
    # Plain parquet has no transaction log: an in-flight read that listed
    # the old files before the swap may fail with a vanished-file error
    # and must retry. What the swap DOES guarantee: no reader ever sees
    # both copies (double-count) or a half-written partition.
    for e in errors:
        msg = str(e)
        assert any(s in msg for s in ("FileNotFound", "does not exist", "PATH_NOT_FOUND")), msg
    assert set(counts) <= {40, 10}, sorted(set(counts))
    assert spark.read.parquet(path).count() == 40
