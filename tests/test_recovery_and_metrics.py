"""Checkpoint recovery (W4/S3/K7) + in-flight metrics (A7) + Kafka option
builders (S1/S2/K1-K4)."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.sources.kafka import (
    kafka_source_options,
    with_kafka_payload,
)
from bigdata_spark_realtime_spark.streaming.metrics import (
    DURATIONS,
    STATE_FIELDS,
    BatchMetrics,
    with_batch_counts,
)
from bigdata_spark_realtime_spark.streaming.sinks import foreach_batch_upsert


def _write_file(d: str, name: str, rows: list[dict]) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))


def test_checkpoint_recovery_no_dups_no_loss(spark, tmp_path):
    """Restart from checkpoint: already-committed files are not reprocessed
    (the reference needed Redis offsets + revertState for this; here it's
    the checkpoint, exercised for real)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_file(src, "f0.json", [{"k": "a", "seq": 1, "dt": "2024-03-01"},
                                 {"k": "b", "seq": 2, "dt": "2024-03-02"}])
    schema = "k string, seq long, dt string"

    def run_once():
        stream = spark.readStream.schema(schema).json(src)
        q = (
            stream.writeStream.foreachBatch(
                foreach_batch_upsert(spark, out, ["k"], "seq", "dt")
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    assert {(r.k, r.seq) for r in spark.read.parquet(out).collect()} == {
        ("a", 1), ("b", 2),
    }

    # restart with no new data → nothing reprocessed, output unchanged
    run_once()
    assert spark.read.parquet(out).count() == 2

    # new file after restart → only the new rows flow through
    _write_file(src, "f1.json", [{"k": "c", "seq": 3, "dt": "2024-03-02"},
                                 {"k": "a", "seq": 9, "dt": "2024-03-01"}])
    run_once()
    rows = {r.k: r.seq for r in spark.read.parquet(out).collect()}
    assert rows == {"a": 9, "b": 2, "c": 3}  # upsert: a advanced, no dups


def test_observe_metrics_per_batch(spark, tmp_path):
    src = str(tmp_path / "msrc")
    _write_file(src, "f0.json", [{"k": "a"}, {"k": "b"}])
    _write_file(src, "f1.json", [{"k": "c"}])

    listener = BatchMetrics()
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.schema("k string").option(
            "maxFilesPerTrigger", 1
        ).json(src)
        q = (
            with_batch_counts(stream, "ingest")
            .writeStream.format("noop")
            .trigger(processingTime="0 seconds")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # listener delivery is async
        for _ in range(50):
            batches = listener.metrics.get("ingest", [])
            if sum(b["rows"] for b in batches) >= 3:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    batches = listener.metrics["ingest"]
    assert sum(b["rows"] for b in batches) == 3
    assert len(batches) >= 2  # one observation per micro-batch

    # one progress summary per micro-batch: rates, phase times, state size
    summaries = listener.batches
    assert [s["batchId"] for s in summaries] == list(range(len(summaries)))
    assert sum(s["numInputRows"] for s in summaries) == 3
    for s in summaries:
        assert set(s) == {"batchId", "numInputRows", "inputRowsPerSecond",
                          "processedRowsPerSecond", "durationMs", *STATE_FIELDS}
        assert isinstance(s["inputRowsPerSecond"], float)
        assert isinstance(s["processedRowsPerSecond"], float)
        assert tuple(s["durationMs"]) == DURATIONS
        assert all(isinstance(v, int) and v >= 0 for v in s["durationMs"].values())
        assert s["durationMs"]["triggerExecution"] >= s["durationMs"]["addBatch"]
        assert {s[k] for k in STATE_FIELDS} == {0}  # no stateful operator here


def test_kafka_builders(spark):
    opts = kafka_source_options("broker:9092", "ODS_BASE_LOG", "g1")
    assert opts["subscribe"] == "ODS_BASE_LOG"
    assert opts["startingOffsets"] == "latest"  # S1 default
    opts2 = kafka_source_options(
        "broker:9092", "t", "g", starting_offsets='{"t":{"0":42}}'
    )
    assert opts2["startingOffsets"] == '{"t":{"0":42}}'  # S2 explicit

    df = spark.createDataFrame(
        [("DWD_A_INSERT", "payload1", "k1")], "topic string, value string, key string"
    )
    shaped = with_kafka_payload(df, "value", key_col="key")
    assert set(shaped.columns) == {"key", "value", "topic"}  # K2 + K4 routing
    row = shaped.first()
    assert row.topic == "DWD_A_INSERT" and row.key == "k1"
    fixed = with_kafka_payload(df.drop("topic"), "value", topic="DWD_FIXED")
    assert fixed.first().topic == "DWD_FIXED"  # K1 static topic


def test_stateful_dedup_state_survives_restart(spark, tmp_path):
    """dropDuplicatesWithinWatermark state is part of the checkpoint: keys
    seen before a restart stay deduplicated after it (the reference lost
    its Redis set on failure and needed a manual ES read-back —
    `revertState`, `app/dwd_DauApp.scala:209-233`)."""
    src = str(tmp_path / "ssrc")
    ckpt = str(tmp_path / "sckpt")
    out = str(tmp_path / "sout")
    base_ms = 1_709_000_000_000

    def write(name, rows):
        _write_file(src, name, rows)

    def run_once():
        stream = (
            spark.readStream.schema("k string, ts long")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        deduped = (
            stream.withColumn("event_time", F.timestamp_millis(F.col("ts")))
            .withWatermark("event_time", "1 hour")
            .dropDuplicatesWithinWatermark(["k"])
            .select("k", "ts")
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    write("f0.json", [{"k": "a", "ts": base_ms}, {"k": "b", "ts": base_ms + 1000}])
    run_once()
    first = sorted((r.k, r.ts) for r in spark.read.parquet(out).collect())
    assert [k for k, _ in first] == ["a", "b"]

    # RESTART, then replay a duplicate of 'a' (within the watermark) plus a
    # new key: recovered state must suppress the duplicate
    write("f1.json", [{"k": "a", "ts": base_ms + 60_000}, {"k": "c", "ts": base_ms + 61_000}])
    run_once()
    rows = sorted((r.k, r.ts) for r in spark.read.parquet(out).collect())
    ks = [k for k, _ in rows]
    assert ks == ["a", "b", "c"], rows
    # and 'a' kept its ORIGINAL timestamp — the first-seen row won
    assert dict(rows)["a"] == base_ms
