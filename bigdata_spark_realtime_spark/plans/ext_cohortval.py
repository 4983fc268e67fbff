"""Engagement-decile conversion and cohort value curves.

Two composition operators over shapes the engine already trusts — the
sort-free equi-depth binner (`plans/ext_binning`) and cohort offsets
(`plans/ext_funnel.ext_retention_cohorts`):

- **`ext_conversion_by_decile`** — the calibration-curve question "do
  heavier users convert more?": users bucket into engagement deciles
  by total event count through the octave-histogram binner (NO global
  user rank — the boundary map is built on the ≤ ~60-row bucket frame
  and broadcast back), and each decile reports users, converters and
  integer-ppm conversion. Decile id is (10·(cum−1)) DIV n — the
  equi-depth formula, identical in both engines.
- **`ext_cohort_value`** — retention weighted by money: per signup
  cohort (first-seen day) and day offset, the exact cents users of
  that cohort spent — the lifetime-value curve training-data teams
  read before re-weighting acquisition sources. CUMULATIVE cents come
  from a window over the (cohort × offset) partial frame, which is
  calendar²-bounded.

Scale: both reduce raw events ONCE per input to user-/cohort-keyed
partials; decile assignment is a broadcast lookup, and every window
runs on resolution-/calendar²-bounded frames. All arithmetic int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

PPM = 1_000_000
N_DECILES = 10

DECILE_CONVERSION_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
keyed AS (
  SELECT user_id, n_events, converted,
         CASE WHEN n_events < 8 THEN n_events
              ELSE (length(bin(n_events)) << 3)
                   | (n_events >> (length(bin(n_events)) - 3)) END AS bkt
  FROM per_user
),
hist AS (
  SELECT bkt, count(*) AS ct FROM keyed GROUP BY bkt
),
cum AS (
  SELECT bkt,
         sum(ct) OVER (ORDER BY bkt) AS c,
         sum(ct) OVER () AS n
  FROM hist
),
binmap AS (
  SELECT bkt, least({N_DECILES} - 1, ({N_DECILES} * (c - 1)) // n) AS decile
  FROM cum
)
SELECT CAST(m.decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(k.converted) AS BIGINT) AS n_converted,
       ({PPM} * CAST(sum(k.converted) AS BIGINT)) // count(*) AS conv_ppm,
       CAST(min(k.n_events) AS BIGINT) AS min_events,
       CAST(max(k.n_events) AS BIGINT) AS max_events
FROM keyed k JOIN binmap m ON k.bkt = m.bkt
GROUP BY m.decile
"""

#: integer octave bucket key over n_events — identical formula to
#: plans/ext_binning (≤ 1/8 relative width, so deciles can never split
#: a bucket: the binner's documented resolution trade)
_OCTAVE_N = (
    "CASE WHEN n_events < 8 THEN n_events "
    "ELSE shiftleft(CAST(length(bin(n_events)) AS BIGINT), 3)"
    " | shiftright(n_events, length(bin(n_events)) - 3) END"
)


@register("ext_conversion_by_decile", oracle=DECILE_CONVERSION_ORACLE)
def ext_conversion_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate per engagement decile WITHOUT a global user
    rank: per-user counts reduce once, the sort-free equi-depth binner
    (`plans/ext_binning` — octave-bucket histogram, cumulative counts
    on the ≤ ~60-row bucket frame, integer decile =
    ({N_DECILES}·(cum−1)) DIV n) assigns deciles through a broadcast
    bucket→decile map. Resolution: deciles never split an octave
    bucket — the binner's stated trade."""
    from bigdata_spark_realtime_spark.plans.corpus import scoped_persist

    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
        )
        .withColumn("bkt", F.expr(_OCTAVE_N))
    )
    # hist + the decile join both consume the per-user frame
    per_user = scoped_persist(per_user, "conv_decile", keep=1)
    hist = per_user.groupBy("bkt").agg(F.count(F.lit(1)).alias("ct"))
    wcum = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    # the cumulative + total windows run on the TINY histogram frame
    binmap = (
        hist.withColumn("c", F.sum("ct").over(wcum))
        .withColumn("n", F.sum("ct").over(wall))
        .select(
            "bkt",
            F.expr(
                f"least({N_DECILES} - 1, ({N_DECILES} * (c - 1)) div n)"
            ).alias("decile"),
        )
    )
    return (
        per_user.join(F.broadcast(binmap), "bkt")
        .groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            F.expr(f"({PPM} * sum(converted)) div count(1)").alias("conv_ppm"),
            F.min("n_events").cast("bigint").alias("min_events"),
            F.max("n_events").cast("bigint").alias("max_events"),
        )
    )


COHORT_VALUE_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(epoch_us(ts) // 86400000000) AS cohort_day
  FROM events GROUP BY user_id
),
spend AS (
  SELECT e.user_id,
         f.cohort_day,
         (epoch_us(e.ts) // 86400000000) - f.cohort_day AS day_offset,
         CAST(floor(e.value * 100) AS BIGINT) AS v100
  FROM events e JOIN firsts f ON f.user_id = e.user_id
  WHERE e.event_type = 'purchase'
),
grid AS (
  SELECT cohort_day, day_offset,
         CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(sum(v100) AS BIGINT) AS cents
  FROM spend GROUP BY cohort_day, day_offset
)
SELECT strftime(make_timestamp(cohort_day * 86400000000), '%Y-%m-%d')
         AS cohort_day,
       day_offset, n_purchases, cents,
       CAST(sum(cents) OVER (PARTITION BY cohort_day ORDER BY day_offset
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_cents
FROM grid
"""


@register("ext_cohort_value", oracle=COHORT_VALUE_ORACLE)
def ext_cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: purchase cents per (first-seen-day cohort, day
    offset) with the cumulative running total — first-seen reduction,
    one join back, cumulative window on the calendar²-bounded grid."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
    )
    from bigdata_spark_realtime_spark.plans.corpus import scoped_persist

    ev = scoped_persist(ev, "cohort_value", keep=1)
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    spend = (
        ev.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
            "v100",
        )
    )
    grid = spend.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("v100").cast("bigint").alias("cents"),
    )
    return _cohort_grid_cum(grid)


def _cohort_grid_cum(grid: DataFrame) -> DataFrame:
    """Cumulative + formatting projection over the aggregated
    (cohort_day, day_offset, n_purchases, cents) grid — shared by the
    batch operator and the streaming twin (which re-aggregates drained
    per-user partials into the same grid first)."""
    wcum = Window.partitionBy("cohort_day").orderBy("day_offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return grid.select(
        F.date_format(
            F.timestamp_micros(F.col("cohort_day") * 86_400_000_000),
            "yyyy-MM-dd",
        ).alias("cohort_day"),
        "day_offset",
        "n_purchases",
        "cents",
        F.sum("cents").over(wcum).cast("bigint").alias("cum_cents"),
    )


@register("stream_cohort_value", oracle=COHORT_VALUE_ORACLE)
def stream_cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV as continuous intake — the live acquisition-value
    curve: TWO complete-mode states, both associative — per-user
    first-seen day (a min) and per-(user, day) purchase count/cent
    sums (user × day bounded). The drained frames join batch-side (one
    side renamed: both derive from memory-sink relations), re-aggregate
    into the (cohort, offset) grid, and run the same cumulative
    projection. Oracle = the batch SQL."""
    ev = replay_table(spark, sf_dir, "events")
    firsts_state = ev.groupBy("user_id").agg(
        F.min(F.expr("unix_micros(event_time) div 86400000000")).alias(
            "cohort_day"
        )
    )
    spend_state = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr("unix_micros(event_time) div 86400000000").alias("day"),
            F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
        )
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v100").alias("cents"))
    )
    firsts = drain_to_memory(firsts_state, output_mode="complete").select(
        F.col("user_id").alias("uid_f"),
        F.col("cohort_day").cast("bigint").alias("cohort_day"),
    )
    spend = drain_to_memory(spend_state, output_mode="complete").select(
        "user_id",
        F.col("day").cast("bigint").alias("day"),
        F.col("n").cast("bigint").alias("n"),
        F.col("cents").cast("bigint").alias("cents"),
    )
    grid = (
        spend.join(firsts, spend["user_id"] == firsts["uid_f"])
        .select(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
            "n",
            "cents",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(
            F.sum("n").cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    return _cohort_grid_cum(grid)
