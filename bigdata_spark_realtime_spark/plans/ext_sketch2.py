"""Self-join-size (F₂) estimation from Count-Min register state.

The missing member of the sketch family: the query optimizer /
skew-advisor question "how big would this self-join be?" is the second
frequency moment F₂ = Σ_k f(k)² — the exact quantity a per-key
equi-join on `user_id` would produce. Computing it exactly needs the
full frequency table; the CM-sketch estimate (Cormode & Muthukrishnan
2005 §4.2, after AGMS) needs only D×W integer counters: for each hash
row d, Σ_w c[d][w]² over-counts F₂ by the collision cross-terms, and
the minimum across the D independent rows is the estimate — always an
UPPER bound, a one-sided guarantee the property test pins.

Determinism: counters are exact integer counts keyed by the md5-derived
h32, so both engines build bit-identical register state and therefore
bit-identical estimates — the same discipline as `plans/ext_sketch.py`.

Scale (100 TB): the counter build is one map-side-combined groupBy to
(#types × D × W) rows — sketch-sized state, the whole point: the raw
feed never materializes a per-user frequency table. (The exact-F₂
column is test-scale verification, same caveat as ext_hll_distinct.)
Counter overflow: c ≤ rows-per-(type,bucket) ≈ N/W; c² < 2⁶³ holds to
N ≈ 2×10⁸ rows per type per bucket — beyond that production widens to
decimal, a stated limit.

The streaming twin accumulates the SAME (type, d, w) counters in
complete mode — addition is associative, state is register-bounded —
then applies the identical estimate projection on the drained frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

#: CMS geometry (independent of ext_sketch's token CMS)
F2_D = 4
F2_W = 64

_ROW_HASHES_SQL = " UNION ALL ".join(
    "SELECT event_type, {d} AS d, {h} % {w} AS w FROM events".format(
        d=d,
        h=H.h32_sql(f"'f2cms{d}|' || CAST(user_id AS VARCHAR)"),
        w=F2_W,
    )
    for d in range(F2_D)
)

SELFJOIN_SIZE_ORACLE = f"""
WITH rows_d AS ({_ROW_HASHES_SQL}),
cms AS (
  SELECT event_type, d, w, CAST(count(*) AS BIGINT) AS c
  FROM rows_d GROUP BY event_type, d, w
),
est_rows AS (
  SELECT event_type, d, CAST(sum(c * c) AS BIGINT) AS f2_d
  FROM cms GROUP BY event_type, d
),
est AS (
  SELECT event_type, CAST(min(f2_d) AS BIGINT) AS est_f2
  FROM est_rows GROUP BY event_type
),
ex AS (
  SELECT event_type, CAST(sum(f * f) AS BIGINT) AS exact_f2
  FROM (
    SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS f
    FROM events GROUP BY event_type, user_id
  ) GROUP BY event_type
)
SELECT est.event_type, est.est_f2, ex.exact_f2
FROM est JOIN ex USING (event_type)
"""


def _f2_rows(ev: DataFrame) -> DataFrame:
    """(event_type, d, w) hash-row expansion — D rows per event, fused
    map-side (the ×D blow-up never reaches the shuffle: the combine
    keys are register-sized)."""
    cols = F.array(
        *[
            (
                H.h32(
                    F.concat(
                        F.lit(f"f2cms{d}|"), F.col("user_id").cast("string")
                    )
                )
                % F2_W
            )
            for d in range(F2_D)
        ]
    )
    return ev.select("event_type", F.posexplode(cols).alias("d", "w"))


def _f2_estimate(cms: DataFrame) -> DataFrame:
    est = (
        cms.groupBy("event_type", "d")
        .agg(F.sum(F.expr("c * c")).cast("bigint").alias("f2_d"))
        .groupBy("event_type")
        .agg(F.min("f2_d").cast("bigint").alias("est_f2"))
    )
    return est


@register("ext_selfjoin_size_f2", oracle=SELFJOIN_SIZE_ORACLE)
def ext_selfjoin_size_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type self-join-size estimate min_d Σ_w c[d][w]² from D×W
    integer CMS counters, beside the exact Σ f(user)² — the join-size
    advisor primitive."""
    ev = load_table(spark, sf_dir, "events")
    cms = _f2_rows(ev).groupBy("event_type", "d", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    est = _f2_estimate(cms)
    ex = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .groupBy("event_type")
        .agg(F.sum(F.expr("f * f")).cast("bigint").alias("exact_f2"))
    )
    return est.join(ex, "event_type").select("event_type", "est_f2", "exact_f2")


@register("stream_selfjoin_size", oracle=SELFJOIN_SIZE_ORACLE)
def stream_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation as continuous intake: the (type, d, w)
    counters and the per-(type, user) frequencies both accumulate as
    complete-mode counts (associative; register-/user-bounded state),
    then the estimate and exact projections run on the drained frames
    exactly like the batch operator. Oracle = the batch SQL."""
    ev = replay_table(spark, sf_dir, "events")
    cms_state = _f2_rows(ev).groupBy("event_type", "d", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    freq_state = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("f")
    )
    cms = drain_to_memory(cms_state, output_mode="complete").select(
        "event_type", "d", "w", F.col("c").cast("bigint").alias("c")
    )
    freq = drain_to_memory(freq_state, output_mode="complete").select(
        "event_type", F.col("f").cast("bigint").alias("f")
    )
    est = _f2_estimate(cms)
    ex = freq.groupBy("event_type").agg(
        F.sum(F.expr("f * f")).cast("bigint").alias("exact_f2")
    )
    return est.join(ex, "event_type").select("event_type", "est_f2", "exact_f2")
