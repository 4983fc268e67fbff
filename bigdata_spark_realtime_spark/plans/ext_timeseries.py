"""Time-series resampling and trend operators over the event feed.

Three shapes every metrics/hypertable workload needs that nothing in
the registry covered:

- **Gap-filled hourly resample** (`ext_timeseries_gapfill`): regularize
  the irregular event feed onto a dense per-type hourly grid, carrying
  the last observed hourly value forward across silent hours (the
  `locf`/`time_bucket_gapfill` shape from time-series stores). Without
  it, downstream lag/seasonality features silently skip gaps.
- **Integer least-squares trend** (`ext_trend_slope`): per-type linear
  regression of daily activity over time, done entirely in int64 so
  Spark and DuckDB agree bit-for-bit — the "is this metric rising or
  decaying" primitive behind alerting and mixture re-weighting.
- **Time-weighted average** (`ext_twa_value`): per-user mean of
  `value` weighted by how long each observation was "current" — the
  correct average for irregularly sampled gauges, where the plain mean
  over-weights chatty periods.

Scale (100 TB): all three reduce the raw feed ONCE with a map-side-
combined groupBy to calendar-bounded partials (hours/days × types —
~10⁵ rows no matter the input size); the grid explode, forward-fill
window, and regression sums then run on those tiny frames. The TWA
window partitions by user_id — per-user event cardinality, the same
key every sessionize/funnel operator already shuffles on. No global
sort, no driver collect.

Overflow bounds (documented contract): trend works on DAILY grain so
x = day index ≤ ~4×10³ for a decade of data; with per-day average
cents ≤ 10⁶ the n·Σxy term stays < 2⁶³ by ~4 orders of magnitude.
TWA sums v100·duration_ms; a 3-year single-user span at value ≈ 10⁴
keeps the sum < 10¹⁶. Both are stated limits, not silent truncation.

Reference parity: the reference has no time-series resample — its
hourly stats are plain group-bys (`realtime/app/DwsXxx*.scala`); these
extend that surface the way TimescaleDB's gapfill/locf and PostgreSQL
regr_slope do, re-expressed in exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

#: slope quantization: basis points of avg-cents-per-day
TREND_SCALE = 10_000

#: shared CTE — hourly partials with integer cents (per-row floor, so
#: the sum is exact int64 in both engines)
_HOURLY_CTE = """
hourly AS (
  SELECT event_type,
         date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v100
  FROM events
  GROUP BY event_type, date_trunc('hour', ts)
)
"""

GAPFILL_ORACLE = f"""
WITH {_HOURLY_CTE},
bounds AS (
  SELECT event_type, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY event_type
),
grid AS (
  SELECT event_type,
         unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
  FROM bounds
),
joined AS (
  SELECT g.event_type, g.h,
         coalesce(hr.cnt, 0) AS cnt,
         CASE WHEN hr.cnt IS NULL THEN 1 ELSE 0 END AS gap,
         hr.v100
  FROM grid g LEFT JOIN hourly hr
    ON g.event_type = hr.event_type AND g.h = hr.h
)
SELECT event_type,
       strftime(h, '%Y-%m-%d %H') AS hr,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(gap AS BIGINT) AS gap,
       CAST(coalesce(
         last_value(v100 IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         0) AS BIGINT) AS v100_ff
FROM joined
"""


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("v100"),
        )
    )


def _gapfill_from_hourly(hourly: DataFrame, scope: str) -> DataFrame:
    """Grid + LOCF projection over (event_type, h, cnt, v100) hourly
    partials — shared by the batch operator and the streaming twin."""
    from bigdata_spark_realtime_spark.plans.corpus import scoped_persist

    # both the grid bounds AND the left join consume `hourly`; without a
    # persist Catalyst replays the plan per consumer — two full raw
    # scans at 100 TB for a frame that is calendar-bounded tiny
    hourly = scoped_persist(hourly, scope, keep=1)
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    # rename the join side: grid derives from `hourly` itself, and when
    # `hourly` is a drained memory-sink table the self-join would hit
    # Spark's conflicting-attribute internal error (known pitfall of
    # frames derived from one v2 relation)
    h2 = (
        hourly.withColumnRenamed("event_type", "et2")
        .withColumnRenamed("h", "h2")
    )
    joined = grid.join(
        h2,
        (F.col("event_type") == F.col("et2")) & (F.col("h") == F.col("h2")),
        "left",
    ).select(
        "event_type",
        "h",
        F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"),
        F.when(F.col("cnt").isNull(), 1).otherwise(0).cast("bigint").alias("gap"),
        "v100",
    )
    ff = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH").alias("hr"),
        "cnt",
        "gap",
        F.coalesce(F.last("v100", ignorenulls=True).over(ff), F.lit(0))
        .cast("bigint")
        .alias("v100_ff"),
    )


@register("ext_timeseries_gapfill", oracle=GAPFILL_ORACLE)
def ext_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type hourly grid with last-observation-carried-forward
    value: one map-side-combined shuffle to hourly partials, a
    `sequence()` explode over the per-type [min, max] hour span (grid
    rows are calendar-bounded), a left join back, and an
    ignore-nulls `last()` window per type — never touches raw rows
    twice."""
    return _gapfill_from_hourly(_hourly(spark, sf_dir), "ts_gapfill")


#: daily partials + regression sums, shared verbatim by the batch
#: operator, its oracle, and the streaming twin (associative partials)
TREND_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS c,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events
  GROUP BY event_type, date_trunc('day', ts)
),
xy AS (
  SELECT event_type,
         CAST(datediff('day',
              min(day) OVER (PARTITION BY event_type), day) AS BIGINT) AS x,
         v // c AS y_avg,
         c AS y_cnt
  FROM daily
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y_avg) AS BIGINT) AS sy_val,
         CAST(sum(x * y_avg) AS BIGINT) AS sxy_val,
         CAST(sum(y_cnt) AS BIGINT) AS sy_cnt,
         CAST(sum(x * y_cnt) AS BIGINT) AS sxy_cnt
  FROM xy GROUP BY event_type
)
SELECT event_type,
       n AS n_days,
       n * sxy_val - sx * sy_val AS slope_num_val,
       n * sxy_cnt - sx * sy_cnt AS slope_num_cnt,
       n * sxx - sx * sx AS slope_den,
       CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
            ELSE ({TREND_SCALE} * (n * sxy_val - sx * sy_val))
                 // (n * sxx - sx * sx) END AS slope_val_q,
       CASE WHEN n * sxy_val - sx * sy_val > 0 THEN 'rising'
            WHEN n * sxy_val - sx * sy_val < 0 THEN 'falling'
            ELSE 'flat' END AS trend
FROM s
"""


def _trend_from_daily(daily: DataFrame) -> DataFrame:
    """Regression projection over (event_type, day, c, v) partials —
    shared by the batch operator and the streaming twin."""
    wmin = Window.partitionBy("event_type")
    xy = daily.select(
        "event_type",
        F.datediff("day", F.min("day").over(wmin)).cast("bigint").alias("x"),
        F.expr("v div c").alias("y_avg"),
        F.col("c").alias("y_cnt"),
    )
    s = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum("y_avg").cast("bigint").alias("sy_val"),
        F.sum(F.expr("x * y_avg")).cast("bigint").alias("sxy_val"),
        F.sum("y_cnt").cast("bigint").alias("sy_cnt"),
        F.sum(F.expr("x * y_cnt")).cast("bigint").alias("sxy_cnt"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr("n * sxy_val - sx * sy_val").alias("slope_num_val"),
        F.expr("n * sxy_cnt - sx * sy_cnt").alias("slope_num_cnt"),
        F.expr("n * sxx - sx * sx").alias("slope_den"),
        F.expr(
            f"CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE ({TREND_SCALE} * (n * sxy_val - sx * sy_val)) "
            f"div (n * sxx - sx * sx) END"
        ).alias("slope_val_q"),
        F.expr(
            "CASE WHEN n * sxy_val - sx * sy_val > 0 THEN 'rising' "
            "WHEN n * sxy_val - sx * sy_val < 0 THEN 'falling' "
            "ELSE 'flat' END"
        ).alias("trend"),
    )


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("v"),
        )
    )


@register("ext_trend_slope", oracle=TREND_ORACLE)
def ext_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend of daily average cents and daily
    event counts, exact int64 throughout: x = days since the type's
    first day, slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) kept as
    numerator/denominator pairs plus one truncating-DIV quantized
    slope. Raw events reduce once to daily partials; the regression
    runs on ≤ #days × #types rows."""
    return _trend_from_daily(_daily(spark, sf_dir))


@register("stream_trend_slope", oracle=TREND_ORACLE)
def stream_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend regression as continuous intake — the live "is this metric
    decaying" monitor: daily (count, cents-sum) partials accumulate in
    the state store as one complete-mode aggregation (addition is
    associative, any arrival order converges; state is calendar-bounded
    — #types × #days rows), then the x-rebase and regression sums run
    on the drained partials exactly like the batch operator. Oracle =
    the batch SQL."""
    daily_state = (
        replay_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("day", "event_time").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("v"),
        )
    )
    daily = drain_to_memory(daily_state, output_mode="complete").select(
        "event_type",
        "day",
        F.col("c").cast("bigint").alias("c"),
        F.col("v").cast("bigint").alias("v"),
    )
    return _trend_from_daily(daily)


TWA_ORACLE = """
WITH seg AS (
  SELECT user_id,
         CAST(floor(value * 100) AS BIGINT) AS v100,
         epoch_us(ts) // 1000 AS t_ms,
         lead(epoch_us(ts) // 1000) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS t_next_ms
  FROM events
  WHERE value IS NOT NULL
),
sums AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_segments,
         CAST(sum(v100 * (t_next_ms - t_ms)) AS BIGINT) AS twa_num,
         CAST(sum(t_next_ms - t_ms) AS BIGINT) AS twa_den
  FROM seg WHERE t_next_ms IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_segments, twa_num, twa_den,
       twa_num // twa_den AS twa_cents
FROM sums WHERE twa_den > 0
"""


@register("ext_twa_value", oracle=TWA_ORACLE)
def ext_twa_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of `value`: each observation is
    weighted by how long it stayed current (lead(ts) − ts in exact
    epoch-milliseconds), the gauge-average shape. Ties broken by
    event_id so the lead is deterministic; the final division is one
    truncating DIV on int64 cents·ms sums. One user-keyed window +
    one groupBy — the sessionize shuffle shape."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            "ts",
            F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
            F.expr("unix_micros(ts) div 1000").alias("t_ms"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.withColumn("t_next_ms", F.lead("t_ms").over(w)).where(
        F.col("t_next_ms").isNotNull()
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(F.expr("v100 * (t_next_ms - t_ms)"))
            .cast("bigint")
            .alias("twa_num"),
            F.sum(F.expr("t_next_ms - t_ms")).cast("bigint").alias("twa_den"),
        )
        .where(F.col("twa_den") > 0)
        .select(
            "user_id",
            "n_segments",
            "twa_num",
            "twa_den",
            F.expr("twa_num div twa_den").alias("twa_cents"),
        )
    )


@register("stream_timeseries_gapfill", oracle=GAPFILL_ORACLE)
def stream_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled resample as continuous intake — the live metrics
    dashboard's dense grid: hourly (count, cents-sum) partials
    accumulate as one complete-mode aggregation (associative,
    calendar-bounded state), then the sequence-explode grid and the
    LOCF window run on the drained partials exactly like the batch
    operator. Oracle = the batch SQL."""
    ev = replay_table(spark, sf_dir, "events")
    state = ev.groupBy(
        "event_type", F.date_trunc("hour", "event_time").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("v100"),
    )
    hourly = drain_to_memory(state, output_mode="complete").select(
        "event_type",
        "h",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("v100").cast("bigint").alias("v100"),
    )
    return _gapfill_from_hourly(hourly, "stream_gapfill")
