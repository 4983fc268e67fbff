"""Distribution drift (two-sample KS) and event-mix impurity (Gini).

Data-quality monitoring primitives the training-data pipeline runs on
every refresh:

- **`ext_distribution_drift`**: did the value distribution SHIFT
  between the first and second half of the feed? Two-sample
  Kolmogorov-Smirnov over the integer octave-bucket histogram (the
  `ext_quantile_sketch` key — ≤ 1/8 relative resolution, the
  documented sketch trade): the KS statistic's numerator
  max|cum₁·n₂ − cum₂·n₁| is computed entirely in int64 by
  cross-multiplying the two cumulative counts instead of dividing —
  no float CDF anywhere. Halves split on the integer midpoint of the
  observed epoch-day span, so the split is a pure function of the
  data both engines reproduce.
- **`ext_event_mix_gini`**: per-day Gini impurity of the event-type
  mix — the "did traffic composition change" one-number summary.
  Probabilities are quantized to integer permille BEFORE squaring
  (1000·c DIV n), a documented quantization that keeps both engines
  bit-identical and the arithmetic inside int64 at any scale.

Scale (100 TB): both reduce raw rows once to (type × ~60 octave
buckets) / (day × #types) partials; windows and maxima run on those
calendar-/resolution-bounded frames. Overflow contract: cum·n stays
below 2⁶³ to ~3×10⁹ rows per event type (same stated bound as the F₂
sketch); beyond that production widens to decimal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

PPM = 1_000_000

#: integer octave bucket of v100 — identical to ext_quantile_sketch /
#: ext_equidepth_bins (≤ 1/8 relative width)
_OCTAVE_SQL = (
    "CASE WHEN v100 < 8 THEN v100 "
    "ELSE (length(bin(v100)) << 3) | (v100 >> (length(bin(v100)) - 3)) END"
)
_OCTAVE_SPARK = (
    "CASE WHEN v100 < 8 THEN v100 "
    "ELSE shiftleft(CAST(length(bin(v100)) AS BIGINT), 3)"
    " | shiftright(v100, length(bin(v100)) - 3) END"
)

DRIFT_ORACLE = f"""
WITH v AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(floor(value * 100) AS BIGINT) AS v100
  FROM events WHERE value > 0
),
bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM v),
keyed AS (
  SELECT event_type,
         CASE WHEN 2 * day <= b.mn + b.mx THEN 1 ELSE 2 END AS half,
         {_OCTAVE_SQL} AS bkt
  FROM v, bounds b
),
hist AS (
  SELECT event_type, bkt,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM keyed GROUP BY event_type, bkt
),
cum AS (
  SELECT event_type,
         sum(c1) OVER (PARTITION BY event_type ORDER BY bkt) AS cum1,
         sum(c2) OVER (PARTITION BY event_type ORDER BY bkt) AS cum2,
         sum(c1) OVER (PARTITION BY event_type) AS n1,
         sum(c2) OVER (PARTITION BY event_type) AS n2
  FROM hist
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2,
       CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS ks_num,
       CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN {PPM}
                 ELSE ({PPM} * CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT))
                      // (n1 * n2) END AS BIGINT) AS drift_ppm
FROM cum
GROUP BY event_type, n1, n2
"""


def _drift_from_day_buckets(d: DataFrame) -> DataFrame:
    """KS projection over (event_type, day, bkt, c) partials — shared
    by the batch operator and the streaming twin. The midpoint split
    happens HERE, on the bounded partial frame (bounds come from the
    partials themselves — one tiny aggregate broadcast back), so the
    raw feed is scanned exactly once by whichever side built `d`."""
    from bigdata_spark_realtime_spark.plans.corpus import scoped_persist

    d = scoped_persist(d, "drift_partials", keep=1)
    bounds = d.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    keyed = d.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "bkt",
        F.expr("CASE WHEN 2 * day <= mn + mx THEN 1 ELSE 2 END").alias("half"),
        "c",
    )
    hist = keyed.groupBy("event_type", "bkt").agg(
        F.sum(F.when(F.col("half") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("half") == 2, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    wcum = Window.partitionBy("event_type").orderBy("bkt")
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        F.sum("c1").over(wcum).alias("cum1"),
        F.sum("c2").over(wcum).alias("cum2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    return cum.groupBy("event_type", "n1", "n2").agg(
        F.max(F.abs(F.expr("cum1 * n2 - cum2 * n1")))
        .cast("bigint")
        .alias("ks_num")
    ).select(
        "event_type",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        "ks_num",
        F.expr(
            f"CASE WHEN n1 = 0 OR n2 = 0 THEN CAST({PPM} AS BIGINT) "
            f"ELSE ({PPM} * ks_num) div (n1 * n2) END"
        ).alias("drift_ppm"),
    )


def _day_buckets(ev: DataFrame) -> DataFrame:
    """(event_type, day, bkt, c) partials from raw events — the one
    full scan behind the KS drift operator and its stream twin."""
    return (
        ev.where(F.col("value") > 0)
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
        )
        .withColumn("bkt", F.expr(_OCTAVE_SPARK))
        .groupBy("event_type", "day", "bkt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


@register("ext_distribution_drift", oracle=DRIFT_ORACLE)
def ext_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer two-sample KS between the first and second half of the
    feed, per event type: one raw reduction to (type, day, bucket)
    partials, midpoint split on the partials, cumulative
    cross-multiplied gap → ppm drift score."""
    return _drift_from_day_buckets(
        _day_buckets(load_table(spark, sf_dir, "events"))
    )


GINI_ORACLE = f"""
WITH d AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT day,
         sum(c) OVER (PARTITION BY day) AS n,
         count(*) OVER (PARTITION BY day) AS n_types,
         (1000 * c) // sum(c) OVER (PARTITION BY day) AS pq
  FROM d
)
SELECT day,
       CAST(n AS BIGINT) AS n_events,
       CAST(n_types AS BIGINT) AS n_types,
       CAST({PPM} - sum(pq * pq) AS BIGINT) AS gini_ppm
FROM p GROUP BY day, n, n_types
"""


def _gini_from_counts(d: DataFrame) -> DataFrame:
    """Gini projection over (day, event_type, c) partials — shared by
    the batch operator and the streaming twin."""
    wday = Window.partitionBy("day")
    p = d.select(
        "day",
        F.sum("c").over(wday).alias("n"),
        F.count(F.lit(1)).over(wday).cast("bigint").alias("n_types"),
        F.expr("(1000 * c)").alias("c1000"),
        "c",
    ).select(
        "day",
        "n",
        "n_types",
        F.expr("(c1000 div n) * (c1000 div n)").alias("p2"),
    )
    return p.groupBy("day", "n", "n_types").agg(
        F.sum("p2").cast("bigint").alias("sum_p2")
    ).select(
        "day",
        F.col("n").cast("bigint").alias("n_events"),
        "n_types",
        (F.lit(PPM) - F.col("sum_p2")).cast("bigint").alias("gini_ppm"),
    )


@register("ext_event_mix_gini", oracle=GINI_ORACLE)
def ext_event_mix_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Gini impurity of the event-type mix with permille-
    quantized probabilities (1000·c DIV n before squaring — exact in
    both engines, int64 at any scale); one reduction to day×type
    partials, one tiny re-aggregation."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return _gini_from_counts(d)


@register("stream_event_mix_gini", oracle=GINI_ORACLE)
def stream_event_mix_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix impurity as continuous intake — the live composition
    monitor: (day, type) counts accumulate as one complete-mode
    aggregation (calendar-bounded state), then the permille-quantized
    Gini projection runs on the drained partials exactly like the
    batch operator. Oracle = the batch SQL."""
    ev = replay_table(spark, sf_dir, "events")
    state = ev.groupBy(
        F.date_format(F.date_trunc("day", "event_time"), "yyyy-MM-dd").alias(
            "day"
        ),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("c"))
    d = drain_to_memory(state, output_mode="complete").select(
        "day", "event_type", F.col("c").cast("bigint").alias("c")
    )
    return _gini_from_counts(d)


@register("stream_distribution_drift", oracle=DRIFT_ORACLE)
def stream_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitoring as continuous intake — the live data-quality
    gate: (type, day, octave-bucket) counts accumulate as one
    complete-mode aggregation (bounded by days × types × ~60 buckets),
    then the midpoint split and cross-multiplied KS run on the drained
    partials exactly like the batch operator. Oracle = the batch SQL."""
    ev = replay_table(spark, sf_dir, "events")
    state = (
        ev.where(F.col("value") > 0)
        .select(
            "event_type",
            F.expr("unix_micros(event_time) div 86400000000").alias("day"),
            F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
        )
        .withColumn("bkt", F.expr(_OCTAVE_SPARK))
        .groupBy("event_type", "day", "bkt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d = drain_to_memory(state, output_mode="complete").select(
        "event_type", "day", "bkt", F.col("c").cast("bigint").alias("c")
    )
    return _drift_from_day_buckets(d)
