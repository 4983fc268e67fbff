"""Decayed leaderboard and per-group weighted sampling.

- **`ext_decayed_leaderboard`** — the recommender/trending staple
  "recent engagement counts more": every event contributes its cents
  halved once per day of age (v100 >> age_days — EXACT integer
  exponential decay with half-life = 1 day; float `pow(0.5, age)`
  would never hash-match across engines). Age anchors to the feed's
  max observed day, so the score is a pure function of the data. Raw
  events reduce ONCE to (item, day) partials; the decay shift and the
  re-aggregation run on those bounded rows; top-20 compiles to
  TakeOrderedAndProject.
- **`ext_weighted_sample_stratified`** — priority sampling
  (`plans/ext_sampling2.py`'s integer priority) drawn per event type:
  a rank window inside each stratum keeps the top-K priorities, so
  every stratum is represented no matter how skewed the traffic mix —
  the standard stratified variant of the weighted draw.

Both are int64 end-to-end; shifts beyond 62 bits clamp to zero
explicitly (DuckDB's `>>` and Spark's `shiftright` differ on
out-of-range shift amounts, so the clamp is part of the contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.ext_windows2 import _item_expr
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

LEADERBOARD_TOP_K = 20
STRATIFIED_K = 50

DECAY_ORACLE = f"""
WITH id_day AS (
  SELECT TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS item,
         epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v100
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase') AND props IS NOT NULL
    AND TRY_CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
  GROUP BY 1, 2
),
bounds AS (SELECT max(day) AS mx FROM id_day),
scored AS (
  SELECT item,
         CASE WHEN b.mx - day > 62 THEN 0
              ELSE v100 >> (b.mx - day) END AS dscore
  FROM id_day, bounds b
)
SELECT item, CAST(sum(dscore) AS BIGINT) AS score
FROM scored GROUP BY item
ORDER BY score DESC, item ASC
LIMIT {LEADERBOARD_TOP_K}
"""


def _leaderboard_from_partials(id_day: DataFrame) -> DataFrame:
    """Decay + top-K projection over (item, day, v100) partials —
    shared by the batch operator and the streaming twin."""
    bounds = id_day.agg(F.max("day").alias("mx"))
    scored = id_day.crossJoin(F.broadcast(bounds)).select(
        "item",
        F.expr(
            "CASE WHEN mx - day > 62 THEN CAST(0 AS BIGINT) "
            "ELSE shiftright(v100, CAST(mx - day AS INT)) END"
        ).alias("dscore"),
    )
    return (
        scored.groupBy("item")
        .agg(F.sum("dscore").cast("bigint").alias("score"))
        .orderBy(F.col("score").desc(), F.col("item").asc())
        .limit(LEADERBOARD_TOP_K)
    )


@register("ext_decayed_leaderboard", oracle=DECAY_ORACLE)
def ext_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LEADERBOARD_TOP_K} items by day-half-life decayed cents
    (v100 >> age_days, exact integer decay): (item, day) partials,
    broadcast max-day anchor, TakeOrderedAndProject."""
    id_day = (
        load_table(spark, sf_dir, "events")
        .where(
            F.col("event_type").isin("click", "view", "purchase")
            & F.col("props").isNotNull()
        )
        .select(
            F.get_json_object("props", "$.k").cast("bigint").alias("item"),
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
        )
        .where(F.col("item").isNotNull())
        .groupBy("item", "day")
        .agg(F.sum("v100").cast("bigint").alias("v100"))
    )
    return _leaderboard_from_partials(id_day)


STRATIFIED_PRIORITY_ORACLE = f"""
WITH w AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100) AS BIGINT) + 1 AS w_cents,
         {H.h32_sql("CAST(event_id AS VARCHAR)")} + 1 AS u
  FROM events
),
p AS (
  SELECT event_id, event_type, w_cents,
         (w_cents << 32) // u AS priority
  FROM w
)
SELECT event_id, event_type, w_cents, priority
FROM p
QUALIFY row_number() OVER (
  PARTITION BY event_type
  ORDER BY priority DESC, event_id ASC) <= {STRATIFIED_K}
"""


@register("ext_weighted_sample_stratified", oracle=STRATIFIED_PRIORITY_ORACLE)
def ext_weighted_sample_stratified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-{STRATIFIED_K} priority-sampled events PER event type — the
    stratified weighted draw: map-side integer priorities, one rank
    window per stratum."""
    p = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.floor(F.col("value") * 100).cast("bigint") + 1).alias("w_cents"),
        (H.h32(F.col("event_id").cast("string")) + 1).alias("u"),
    ).select(
        "event_id",
        "event_type",
        "w_cents",
        F.expr("shiftleft(w_cents, 32) div u").alias("priority"),
    )
    wrank = Window.partitionBy("event_type").orderBy(
        F.col("priority").desc(), F.col("event_id").asc()
    )
    return (
        p.withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") <= STRATIFIED_K)
        .select("event_id", "event_type", "w_cents", "priority")
    )


@register("stream_decayed_leaderboard", oracle=DECAY_ORACLE)
def stream_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decayed ranking as continuous intake — the live leaderboard:
    (item, day) cent sums accumulate in complete mode (associative,
    items × days state), then the integer decay shift against the
    drained max-day anchor and the top-K run exactly like the batch
    operator. Oracle = the batch SQL."""
    ev = replay_table(spark, sf_dir, "events")
    state = (
        ev.where(
            F.col("event_type").isin("click", "view", "purchase")
            & F.col("props").isNotNull()
        )
        .select(
            _item_expr(),
            F.expr("unix_micros(event_time) div 86400000000").alias("day"),
            F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
        )
        .where(F.col("item").isNotNull())
        .groupBy("item", "day")
        .agg(F.sum("v100").alias("v100"))
    )
    id_day = drain_to_memory(state, output_mode="complete").select(
        "item", "day", F.col("v100").cast("bigint").alias("v100")
    )
    return _leaderboard_from_partials(id_day)
