"""Z-order (Morton) clustering key — the multi-dimensional layout
primitive.

At 100 TB the dominant cost is the scan, and the lever on the scan is
LAYOUT: writing files clustered by a space-filling curve over the two
most-filtered dimensions lets min/max zone maps prune range predicates
on EITHER dimension (the Delta/Iceberg OPTIMIZE ZORDER idea, Morton
1966). This operator computes the 32-bit Morton key over (user_id,
epoch-hour) — bit i of each coordinate lands at bits 2i / 2i+1 — and
emits the per-bucket layout census (top-10-bit bucket: row count and
zkey span) that a writer would range-partition on.

Exactness: pure int64 shift/mask arithmetic, generated once and
rendered into BOTH dialects from the same bit recipe — no float, no
engine-specific hash. Scale: the key is a map-side expression; the
census is one map-side-combined groupBy on 1024 buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

#: bits per coordinate (zkey is 2×ZBITS wide)
ZBITS = 16
#: census bucket = top 10 bits of the 32-bit zkey
ZBUCKET_SHIFT = 2 * ZBITS - 10


def _morton_spark(x: str, y: str) -> str:
    terms = [
        f"shiftleft((shiftright({x}, {i}) & 1), {2 * i})" for i in range(ZBITS)
    ] + [
        f"shiftleft((shiftright({y}, {i}) & 1), {2 * i + 1})"
        for i in range(ZBITS)
    ]
    return " + ".join(terms)


def _morton_duck(x: str, y: str) -> str:
    terms = [f"((({x} >> {i}) & 1) << {2 * i})" for i in range(ZBITS)] + [
        f"((({y} >> {i}) & 1) << {2 * i + 1})" for i in range(ZBITS)
    ]
    return " + ".join(terms)


ZORDER_ORACLE = f"""
WITH coords AS (
  SELECT user_id % {1 << ZBITS} AS x,
         (epoch_us(ts) // 3600000000) % {1 << ZBITS} AS y
  FROM events
),
keyed AS (
  SELECT CAST({_morton_duck("x", "y")} AS BIGINT) AS zkey FROM coords
)
SELECT zkey >> {ZBUCKET_SHIFT} AS zbucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(zkey) AS BIGINT) AS z_min,
       CAST(max(zkey) AS BIGINT) AS z_max
FROM keyed GROUP BY 1
"""


@register("ext_zorder_key", oracle=ZORDER_ORACLE)
def ext_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key over (user_id, epoch-hour) and the 1024-bucket layout
    census a Z-order writer would range-partition files by — all
    map-side shift/mask codegen plus one tiny groupBy."""
    coords = load_table(spark, sf_dir, "events").select(
        F.expr(f"user_id % {1 << ZBITS}").alias("x"),
        F.expr(f"(unix_micros(ts) div 3600000000) % {1 << ZBITS}").alias("y"),
    )
    keyed = coords.select(
        F.expr(_morton_spark("x", "y")).cast("bigint").alias("zkey")
    )
    return keyed.groupBy(
        F.expr(f"shiftright(zkey, {ZBUCKET_SHIFT})").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("zkey").cast("bigint").alias("z_min"),
        F.max("zkey").cast("bigint").alias("z_max"),
    )


@register("stream_zorder_census", oracle=ZORDER_ORACLE)
def stream_zorder_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout census as continuous intake — the live writer's
    bucket planner: the Morton key is a stateless map-side expression
    on the stream, and count/min/max per bucket are associative, so
    the census accumulates as one complete-mode aggregation with
    1024-row state. Oracle = the batch SQL."""
    ev = replay_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.expr(f"user_id % {1 << ZBITS}").alias("x"),
        F.expr(
            f"(unix_micros(event_time) div 3600000000) % {1 << ZBITS}"
        ).alias("y"),
    ).select(F.expr(_morton_spark("x", "y")).cast("bigint").alias("zkey"))
    state = keyed.groupBy(
        F.expr(f"shiftright(zkey, {ZBUCKET_SHIFT})").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("zkey").alias("z_min"),
        F.max("zkey").alias("z_max"),
    )
    return drain_to_memory(state, output_mode="complete").select(
        "zbucket",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("z_min").cast("bigint").alias("z_min"),
        F.col("z_max").cast("bigint").alias("z_max"),
    )
