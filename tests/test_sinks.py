"""Effectively-once upsert sink (K5/D3/W4): idempotence + last-write-wins,
session-conf hygiene, one execution per streaming epoch, null days, the
dt-partitioned serving store (the ES index-per-day replacement: partition
pruning + day-scoped merges that leave other days' files alone), the first
write creating the store in place, a day's file count across upserts, and
the store path's scheme."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.streaming.sinks import (
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
    upsert_parquet(spark, b1, path, ["dt", "mid"], "ts", partition_by="dt")
    # replay of the same batch (at-least-once delivery) → no duplicates
    upsert_parquet(spark, b1, path, ["dt", "mid"], "ts", partition_by="dt")
    assert spark.read.parquet(path).count() == 2

    # newer write for m1 wins; stale write for m2 loses
    b2 = spark.createDataFrame(
        [("m1", "2024-03-01", 200, "a2"), ("m2", "2024-03-01", 50, "stale")],
        "mid string, dt string, ts long, payload string",
    )
    upsert_parquet(spark, b2, path, ["dt", "mid"], "ts", partition_by="dt")
    rows = {r.mid: r for r in spark.read.parquet(path).collect()}
    assert len(rows) == 2
    assert rows["m1"].payload == "a2" and rows["m1"].ts == 200
    assert rows["m2"].payload == "b" and rows["m2"].ts == 110
    # no temp or old copy beside the store
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
    # second call merges into the stored day, the path that used to
    # flip the session conf
    b2 = spark.createDataFrame(
        [("m1", "2024-03-01", 200, "a2")], "mid string, dt string, ts long, payload string"
    )
    upsert_parquet(spark, b2, path, ["dt", "mid"], "ts", partition_by="dt")
    assert spark.conf.get(key) == before
    # and the merge itself only replaced the batch's day
    rows = {r.mid: r.payload for r in spark.read.parquet(path).collect()}
    assert rows == {"m1": "a2", "m2": "b"}


def test_stream_epoch_runs_once(spark, tmp_path):
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
            foreach_batch_upsert(spark, out, ["k"], "ts", "dt")
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
    upsert_parquet(spark, empty, str(tmp_path / "direct"), ["dt", "mid"], "ts",
                   partition_by="dt")
    sink = foreach_batch_upsert(spark, str(tmp_path / "stream"), ["dt", "mid"], "ts", "dt")
    sink(empty, 0)
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "file_uri"])
def test_failed_upsert_unpersists_batch_and_keeps_store(spark, tmp_path, as_uri):
    store = tmp_path / "store"
    path = store.as_uri() if as_uri else str(store)
    upsert_parquet(spark, _df(spark, [("m1", "2024-03-01", 1, "a")]), path,
                   ["dt", "mid"], "ts", partition_by="dt")
    cached_before = _persistent_rdds(spark)
    bad = spark.createDataFrame([("m1", "2024-03-01", 2, "b")],
                                "mid string, dt string, ts long, w string")
    with pytest.raises(AnalysisException):
        upsert_parquet(spark, bad, path, ["dt", "mid"], "ts", partition_by="dt")
    assert _persistent_rdds(spark) == cached_before
    assert [tuple(r) for r in spark.read.parquet(path).select("mid", "dt", "ts", "v").collect()] \
        == [("m1", "2024-03-01", 1, "a")]
    assert os.listdir(tmp_path) == ["store"]


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


def test_upsert_leaves_untouched_days_files_alone(spark, tmp_path):
    """Only the batch's days are read and rewritten: a stored day that the
    batch does not touch keeps its very files (names, sizes, mtimes)."""
    path = str(tmp_path / "dau")
    upsert_parquet(spark, _df(spark, [("m1", "2024-03-01", 1, "a"), ("m2", "2024-03-02", 2, "b")]),
                   path, ["dt", "mid"], "ts", partition_by="dt")

    def files(day):
        d = os.path.join(path, f"dt={day}")
        return sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(d))

    day1, day2 = files("2024-03-01"), files("2024-03-02")
    upsert_parquet(spark, _df(spark, [("m2", "2024-03-02", 9, "b2")]),
                   path, ["dt", "mid"], "ts", partition_by="dt")
    assert files("2024-03-01") == day1
    assert files("2024-03-02") != day2


def test_repeated_upserts_keep_a_days_file_count(spark, tmp_path):
    """The merge rewrites every day it touches, so N upserts into one day
    leave it with the file count of a single upsert: small files never
    pile up across micro-batches."""
    path = str(tmp_path / "dau")
    day_dir = tmp_path / "dau" / "dt=2024-03-01"
    counts = []
    for batch in range(6):
        df = spark.range(batch * 10, batch * 10 + 10).select(
            F.col("id").alias("mid"),
            F.lit("2024-03-01").alias("dt"),
            F.col("id").alias("ts"),
        ).repartition(4)
        upsert_parquet(spark, df, path, ["dt", "mid"], "ts", partition_by="dt")
        counts.append(len([f for f in os.listdir(day_dir) if f.endswith(".parquet")]))
    assert counts == [counts[0]] * 6, counts
    assert sorted(r.mid for r in spark.read.parquet(path).collect()) == list(range(60))


def test_first_upsert_creates_the_store_in_place(spark, tmp_path):
    """A missing store is created by the same dynamic overwrite as every
    later merge: day dirs (null day included) land straight in the store,
    with no staging dir inside it and no temp copy beside it."""
    path = str(tmp_path / "dau")
    upsert_parquet(spark, _df(spark, [("m1", "2024-03-01", 1, "a"), ("m2", None, 2, "b")]),
                   path, ["dt", "mid"], "ts", partition_by="dt")
    assert os.listdir(tmp_path) == ["dau"]
    assert sorted(os.listdir(path)) == ["dt=2024-03-01", "dt=__HIVE_DEFAULT_PARTITION__"]
    rows = {(r.mid, r.dt): (r.ts, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {("m1", "2024-03-01"): (1, "a"), ("m2", None): (2, "b")}


def test_file_uri_store_behaves_like_its_path(spark, tmp_path):
    uri = (tmp_path / "dau").as_uri()
    upsert_parquet(spark, _df(spark, [("m1", "2024-03-01", 1, "a")]), uri,
                   ["dt", "mid"], "ts", partition_by="dt")
    upsert_parquet(spark, _df(spark, [("m2", "2024-03-01", 2, "b")]), uri,
                   ["dt", "mid"], "ts", partition_by="dt")
    rows = {r.mid: r.v for r in spark.read.parquet(str(tmp_path / "dau")).collect()}
    assert rows == {"m1": "a", "m2": "b"}
    assert os.listdir(tmp_path) == ["dau"]


def test_non_file_scheme_raises_before_spark(tmp_path, monkeypatch):
    """No session and no frame: the scheme is refused before either is used."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="s3a"):
        upsert_parquet(None, None, "s3a://bucket/dau", ["dt", "mid"], "ts", partition_by="dt")
    assert os.listdir(tmp_path) == []
