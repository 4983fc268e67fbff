"""Equi-depth feature binning (quantile discretization) without a sort.

Discretizing a numeric feature into B roughly-equal-population bins is
the standard preprocessing step for gradient-boosted trees, histogram
features, and monotonic-bucketing of model scores. The naive
formulation — ``ntile(B) OVER (ORDER BY value)`` — is a GLOBAL sort +
rank: the one plan shape this engine bans at 100 TB.

Scale-safe shape: reuse the deterministic integer quantile-sketch keys
(`plans/ext_sketch.py` — DDSketch-style octave buckets, no float
log anywhere). Per feature group: (1) one map-side-combined shuffle
builds the (group, bucket) histogram — register-sized, a few hundred
rows per group regardless of input size; (2) a window over that TINY
frame computes cumulative counts and the integer bin id
``bin = min(B-1, (B·(cum−1)) div n)``; (3) the bucket→bin table
broadcasts back onto the rows, so per-row work is an integer key
computation plus a broadcast hash lookup — no second shuffle of the
data, no sort, no rank. Resolution: bins can never split a sketch
bucket (≤1/8 relative width), the documented accuracy trade the
sketch already makes; every formula is integer, so Spark and DuckDB
agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

#: number of equi-depth bins per event_type
N_BINS = 16

BINNING_ORACLE = f"""
WITH v AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS v100
  FROM events WHERE value > 0
),
keyed AS (
  SELECT event_id, event_type, v100,
         CASE WHEN v100 < 8 THEN v100
              ELSE (length(bin(v100)) << 3)
                   | (v100 >> (length(bin(v100)) - 3)) END AS bkt
  FROM v
),
hist AS (
  SELECT event_type, bkt, count(*) AS ct
  FROM keyed GROUP BY event_type, bkt
),
cum AS (
  SELECT event_type, bkt,
         sum(ct) OVER (PARTITION BY event_type ORDER BY bkt) AS c,
         sum(ct) OVER (PARTITION BY event_type) AS n
  FROM hist
),
binmap AS (
  SELECT event_type, bkt,
         least({N_BINS} - 1, ({N_BINS} * (c - 1)) // n) AS bin
  FROM cum
)
SELECT k.event_id, k.event_type, k.v100,
       CAST(m.bin AS BIGINT) AS bin
FROM keyed k JOIN binmap m ON k.event_type = m.event_type AND k.bkt = m.bkt
"""

#: integer octave bucket key, identical to ext_quantile_sketch
_OCTAVE_KEY = (
    "CASE WHEN v100 < 8 THEN v100 "
    "ELSE shiftleft(CAST(length(bin(v100)) AS BIGINT), 3)"
    " | shiftright(v100, length(bin(v100)) - 3) END"
)


@register("ext_equidepth_bins", oracle=BINNING_ORACLE)
def ext_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type equi-depth bin id (0..{N_BINS}-1) for every
    positive `events.value`, from the integer-sketch histogram — one
    histogram shuffle + a broadcast bucket→bin map, never a sort."""
    keyed = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value") > 0)
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
        )
        .withColumn("bkt", F.expr(_OCTAVE_KEY))
    )
    hist = keyed.groupBy("event_type", "bkt").agg(F.count(F.lit(1)).alias("ct"))
    wcum = Window.partitionBy("event_type").orderBy("bkt")
    wall = Window.partitionBy("event_type")
    binmap = (
        hist.withColumn("c", F.sum("ct").over(wcum))
        .withColumn("n", F.sum("ct").over(wall))
        .select(
            "event_type",
            "bkt",
            # `div` = exact integer division, same as DuckDB's `//`
            F.expr(f"least({N_BINS} - 1, ({N_BINS} * (c - 1)) div n)").alias("bin"),
        )
    )
    return keyed.join(F.broadcast(binmap), ["event_type", "bkt"]).select(
        "event_id", "event_type", "v100", F.col("bin").cast("bigint").alias("bin")
    )
