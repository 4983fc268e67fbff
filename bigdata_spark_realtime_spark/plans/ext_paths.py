"""Top session paths and deterministic A/B assignment metrics.

Two product-analytics staples over the event feed:

- **Session path census** (`ext_session_paths`): the "what do users
  actually do" query — the first three event types of every session
  (standard gap sessionization, `plans/sessionize.py` semantics),
  concatenated into a path string, counted, top-20. Unlike the
  pairwise transition matrix (`plans/ext_funnel.ext_event_transitions`)
  this preserves ORDER PREFIXES, the thing funnels are designed from.
- **A/B assignment** (`ext_ab_assignment`): deterministic md5 bucketing
  of users into two arms (the industry-standard hash split — no RNG,
  reproducible across engines and re-runs), with per-arm user counts,
  converters (≥1 purchase) and an integer-ppm conversion rate.

Determinism: path position is pinned by the (ts, event_id) tie-break;
the first-3 extraction is a conditional max per rank (never an
order-sensitive collect_list); concat_ws skips NULLs identically in
both engines, so 1- and 2-event sessions render the same. Arm
assignment is h32 parity; the rate is one truncating DIV.

Scale (100 TB): sessionization is the user-keyed window every other
session operator shares; the path census shuffles (path → count) on
path-cardinality rows (bounded by #event_type³); top-20 compiles to
TakeOrderedAndProject. The A/B aggregate is two map-side-combined
groupBys on user-cardinality rows. The base census partitions its sort
window by user_id alone — fine at this corpus (bounded per-user event
counts) and inherent to cross-day sessionization, but on an unbounded
event log a user's lifetime history would sit in one sort buffer;
`ext_session_paths_daily` is the production profile with the same
composite (user_id, day) retention horizon
`ext_event_transitions_daily` uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.plans.sessionize import SESSION_GAP_MIN
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

_GAP_MS = SESSION_GAP_MIN * 60 * 1000
#: path prefix length and census size
PATH_LEN = 3
PATH_TOP_K = 20

SESSION_PATHS_ORACLE = f"""
WITH marks AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {_GAP_MS}
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marks
),
ranked AS (
  SELECT user_id, session_id, event_type,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS rn
  FROM sess
),
paths AS (
  SELECT user_id, session_id,
         concat_ws('>',
           max(CASE WHEN rn = 1 THEN event_type END),
           max(CASE WHEN rn = 2 THEN event_type END),
           max(CASE WHEN rn = 3 THEN event_type END)) AS path
  FROM ranked WHERE rn <= {PATH_LEN}
  GROUP BY user_id, session_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {PATH_TOP_K}
"""


@register("ext_session_paths", oracle=SESSION_PATHS_ORACLE)
def ext_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PATH_TOP_K} first-{PATH_LEN}-step session paths: gap
    sessionization, rank window, conditional-max position extraction,
    path-keyed count, TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
    ns = F.when(F.lag("ts").over(w).isNull() | (gap > _GAP_MS), 1).otherwise(0)
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "session_id", F.sum(ns).over(run_w).cast("bigint")
    )
    rank_w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    ranked = sess.withColumn("rn", F.row_number().over(rank_w)).where(
        F.col("rn") <= PATH_LEN
    )
    paths = ranked.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            *[
                F.max(F.when(F.col("rn") == i, F.col("event_type")))
                for i in range(1, PATH_LEN + 1)
            ],
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(PATH_TOP_K)
    )


SESSION_PATHS_DAILY_ORACLE = f"""
WITH marks AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {_GAP_MS}
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
               ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, day, event_type, ts, event_id,
         CAST(sum(ns) OVER (PARTITION BY user_id, day ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marks
),
ranked AS (
  SELECT user_id, day, session_id, event_type,
         row_number() OVER (PARTITION BY user_id, day, session_id
                            ORDER BY ts, event_id) AS rn
  FROM sess
),
paths AS (
  SELECT user_id, day, session_id,
         concat_ws('>',
           max(CASE WHEN rn = 1 THEN event_type END),
           max(CASE WHEN rn = 2 THEN event_type END),
           max(CASE WHEN rn = 3 THEN event_type END)) AS path
  FROM ranked WHERE rn <= {PATH_LEN}
  GROUP BY user_id, day, session_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {PATH_TOP_K}
"""


@register("ext_session_paths_daily", oracle=SESSION_PATHS_DAILY_ORACLE)
def ext_session_paths_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-bounded variant of :func:`ext_session_paths` — the
    production profile for an unbounded event log: every window
    partitions by (user_id, event day), so a session never crosses
    midnight (explicit retention horizon, same contract as
    `ext_event_transitions_daily`) and per-partition sort state is
    bounded by a user's single-day event count, never their lifetime
    history. A midnight-spanning visit counts as two sessions — the
    deliberate, documented cost of the horizon.

    Scale (100 TB): the composite partition key keeps every window
    partition small, and partition pruning on the day column slices the
    scan when the census is computed incrementally per day."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", "ts"))
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    gap = F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
    ns = F.when(F.lag("ts").over(w).isNull() | (gap > _GAP_MS), 1).otherwise(0)
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id", day.alias("day"), "ts", "event_id", "event_type"
    ).withColumn("session_id", F.sum(ns).over(run_w).cast("bigint"))
    rank_w = Window.partitionBy("user_id", "day", "session_id").orderBy(
        "ts", "event_id"
    )
    ranked = sess.withColumn("rn", F.row_number().over(rank_w)).where(
        F.col("rn") <= PATH_LEN
    )
    paths = ranked.groupBy("user_id", "day", "session_id").agg(
        F.concat_ws(
            ">",
            *[
                F.max(F.when(F.col("rn") == i, F.col("event_type")))
                for i in range(1, PATH_LEN + 1)
            ],
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(PATH_TOP_K)
    )


PPM = 1_000_000

AB_ORACLE = f"""
WITH assigned AS (
  SELECT user_id,
         {H.h32_sql("CAST(user_id AS VARCHAR) || '|ab'")} % 2 AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events
  GROUP BY user_id
)
SELECT CAST(arm AS BIGINT) AS arm,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       ({PPM} * CAST(sum(converted) AS BIGINT)) // count(*) AS conv_ppm
FROM assigned GROUP BY arm
"""


@register("ext_ab_assignment", oracle=AB_ORACLE)
def ext_ab_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-arm hash split (h32(user||'|ab') % 2) with
    per-arm users, converters and integer-ppm conversion — the
    reproducible experiment-assignment primitive."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        (H.h32(F.concat(F.col("user_id").cast("string"), F.lit("|ab"))) % 2)
        .alias("arm"),
        "converted",
    )
    return (
        assigned.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
        )
        .select(
            F.col("arm").cast("bigint").alias("arm"),
            "n_users",
            "n_converted",
            F.expr(f"({PPM} * n_converted) div n_users").alias("conv_ppm"),
        )
    )


@register("stream_ab_assignment", oracle=AB_ORACLE)
def stream_ab_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion as continuous intake — the live experiment
    scoreboard: per-user converted-flags accumulate as a complete-mode
    max (associative, user-bounded state — the same cardinality any
    batch per-user aggregate materializes); arm assignment and the
    per-arm counts run on the drained frame exactly like the batch
    operator. Oracle = the batch SQL."""
    ev = replay_table(spark, sf_dir, "events")
    state = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    per_user = drain_to_memory(state, output_mode="complete").select(
        (H.h32(F.concat(F.col("user_id").cast("string"), F.lit("|ab"))) % 2)
        .alias("arm"),
        F.col("converted").cast("bigint").alias("converted"),
    )
    return (
        per_user.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
        )
        .select(
            F.col("arm").cast("bigint").alias("arm"),
            "n_users",
            "n_converted",
            F.expr(f"({PPM} * n_converted) div n_users").alias("conv_ppm"),
        )
    )
