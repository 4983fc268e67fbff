"""Hypertable-style rollup cascade over the events table.

The continuous-aggregate maintenance pattern (TimescaleDB's hypertable
rollups, Druid's compaction): the DAILY aggregate is computed FROM the
HOURLY aggregate, not from raw events — at 100 TB the raw scan happens
once for the finest grain and every coarser grain re-aggregates
partials that are orders of magnitude smaller. The oracle computes the
daily answer DIRECTLY from raw events, so the hash match proves the
cascade is lossless (sums of sums == sum, counts of counts == count).

Exactness: `value` is a float column, and float sums are
accumulation-order-dependent — the cascade quantizes to integer cents
(``floor(value * 100)``) BEFORE the first aggregation, so both grains
and both engines sum the same int64s in any order.

Scale (100 TB): one raw shuffle (hour × type grain, map-side partials),
then a rollup shuffle over hour-count-bounded rows. The hourly frame is
what a production pipeline persists as the continuous aggregate; the
daily (and weekly, monthly, ...) grains never touch raw data again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

ROLLUP_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       CAST(count(*) AS BIGINT) AS ct,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
GROUP BY 1, 2
"""


@register("ext_rollup_cascade", oracle=ROLLUP_ORACLE)
def ext_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily totals per event type, computed VIA the hourly continuous
    aggregate (the oracle goes straight to raw — matching hashes prove
    the cascade re-aggregation is lossless)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias(
            "hour"
        ),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    hourly = ev.groupBy("hour", "day", "event_type").agg(
        F.count(F.lit(1)).alias("ct"),
        F.sum("cents").alias("value_cents"),
    )
    return hourly.groupBy("day", "event_type").agg(
        F.sum("ct").alias("ct"),
        F.sum("value_cents").alias("value_cents"),
    )


@register("stream_rollup_cascade", oracle=ROLLUP_ORACLE)
def stream_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rollup cascade as continuous intake — the live hypertable:
    the HOURLY grain accumulates in Spark's state store (complete
    mode, integer-cent sums quantized BEFORE the first aggregation so
    merge order is irrelevant); the DAILY grain re-aggregates the
    drained hourly frame exactly as the batch operator does, never
    touching raw events again. Hour-count-bounded state forever;
    oracle = the batch operator's SQL (which itself goes straight to
    raw — the stream must reproduce the lossless cascade)."""
    # event_time is replay_table's vintage-normalized TimestampType
    # column (raw `ts` may be int64 nanos in some testdata vintages)
    ev = replay_table(spark, sf_dir, "events").select(
        F.date_format(
            F.date_trunc("hour", "event_time"), "yyyy-MM-dd HH"
        ).alias("hour"),
        F.date_format(
            F.date_trunc("day", "event_time"), "yyyy-MM-dd"
        ).alias("day"),
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    hourly = ev.groupBy("hour", "day", "event_type").agg(
        F.count(F.lit(1)).alias("ct"),
        F.sum("cents").alias("value_cents"),
    )
    drained = drain_to_memory(hourly, output_mode="complete")
    return drained.groupBy("day", "event_type").agg(
        F.sum("ct").alias("ct"),
        F.sum("value_cents").alias("value_cents"),
    )
