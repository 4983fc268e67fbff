"""Trending detection, bounce rate, running-balance drawdown, and
rank-based normalization — four more window/aggregation shapes.

- **`ext_trending_items`** — the "what's hot RIGHT NOW" feed: per
  hour, rank items by the DELTA of their hourly count against their
  previous active hour (lag window), top-5 risers per hour. Raw
  events reduce once to (item × hour) partials; the lag and rank
  windows run on those bounded rows.
- **`ext_bounce_rate`** — sessions with exactly one event over total
  sessions per day, integer ppm; the standard engagement KPI, derived
  from the engine's gap sessionization.
- **`ext_inventory_drawdown`** — per part: running balance of shipped
  quantity over time (signed: returns add back) and the maximum
  drawdown from the running peak — the classic cumulative-window
  shape on the BIG fact table, partitioned by part (per-part
  cardinality is TPC-H-bounded ~ rows/#parts); quantities are exact
  integer units.
- **`ext_balance_percentile`** — each supplier's account balance as a
  ppm percentile WITHIN its nation: ppm = 10⁶·(rank−1) DIV (n−1) —
  rank-based normalization, no float percent_rank (whose division
  order is engine-private); cents are exact.

All windows are partitioned by bounded keys; no global sorts; every
number is int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.plans.sessionize import SESSION_GAP_MIN
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

PPM = 1_000_000
TRENDING_TOP_K = 5

TRENDING_ORACLE = f"""
WITH ih AS (
  SELECT TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS item,
         date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase') AND props IS NOT NULL
    AND TRY_CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
  GROUP BY 1, 2
),
delta AS (
  SELECT item, h, c,
         c - coalesce(lag(c) OVER (PARTITION BY item ORDER BY h), 0) AS rise
  FROM ih
)
SELECT strftime(h, '%Y-%m-%d %H') AS hr, item, c, CAST(rise AS BIGINT) AS rise
FROM delta
QUALIFY row_number() OVER (
  PARTITION BY h ORDER BY rise DESC, c DESC, item ASC) <= {TRENDING_TOP_K}
"""


def _trending_from_partials(ih: DataFrame) -> DataFrame:
    """Lag + rank projection over (item, h, c) partials — shared by the
    batch operator and the streaming twin."""
    wlag = Window.partitionBy("item").orderBy("h")
    delta = ih.withColumn(
        "rise", F.col("c") - F.coalesce(F.lag("c").over(wlag), F.lit(0))
    )
    wrank = Window.partitionBy("h").orderBy(
        F.col("rise").desc(), F.col("c").desc(), F.col("item").asc()
    )
    return (
        delta.withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") <= TRENDING_TOP_K)
        .select(
            F.date_format("h", "yyyy-MM-dd HH").alias("hr"),
            "item",
            "c",
            F.col("rise").cast("bigint").alias("rise"),
        )
    )


@register("ext_trending_items", oracle=TRENDING_ORACLE)
def ext_trending_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TRENDING_TOP_K} rising items per hour: (item × hour) count
    partials, per-item lag for the rise, per-hour rank — all windows
    on the bounded partial frame, deterministic (rise, c, item)
    tie-break."""
    ih = (
        load_table(spark, sf_dir, "events")
        .where(
            F.col("event_type").isin("click", "view", "purchase")
            & F.col("props").isNotNull()
        )
        .select(
            F.get_json_object("props", "$.k").cast("bigint").alias("item"),
            F.date_trunc("hour", "ts").alias("h"),
        )
        .where(F.col("item").isNotNull())
        .groupBy("item", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return _trending_from_partials(ih)


_GAP_MS = SESSION_GAP_MIN * 60 * 1000

BOUNCE_ORACLE = f"""
WITH marks AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {_GAP_MS}
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marks
),
per_sess AS (
  SELECT user_id, session_id,
         strftime(date_trunc('day', min(ts)), '%Y-%m-%d') AS day,
         count(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       ({PPM} * CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT))
         // count(*) AS bounce_ppm
FROM per_sess GROUP BY day
"""


@register("ext_bounce_rate", oracle=BOUNCE_ORACLE)
def ext_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per start-day bounce rate (single-event sessions / sessions) in
    integer ppm, from the engine's standard gap sessionization."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
    ns = F.when(F.lag("ts").over(w).isNull() | (gap > _GAP_MS), 1).otherwise(0)
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select("user_id", "ts", "event_id").withColumn(
        "session_id", F.sum(ns).over(run_w).cast("bigint")
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.date_format(F.date_trunc("day", F.min("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_sess.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
    ).select(
        "day",
        "n_sessions",
        "n_bounces",
        F.expr(f"({PPM} * n_bounces) div n_sessions").alias("bounce_ppm"),
    )


DRAWDOWN_ORACLE = """
WITH flow AS (
  SELECT l_partkey,
         l_shipdate, l_orderkey, l_linenumber,
         CASE WHEN l_returnflag = 'R'
              THEN CAST(l_quantity AS BIGINT)
              ELSE -CAST(l_quantity AS BIGINT) END AS qty
  FROM lineitem
),
bal_cte AS (
  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
         sum(qty) OVER (PARTITION BY l_partkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber
                        ROWS UNBOUNDED PRECEDING) AS bal
  FROM flow
),
run AS (
  SELECT l_partkey, bal,
         max(bal) OVER (PARTITION BY l_partkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber
                        ROWS UNBOUNDED PRECEDING) AS peak
  FROM bal_cte
)
SELECT l_partkey AS partkey,
       CAST(count(*) AS BIGINT) AS n_moves,
       CAST(max(peak) AS BIGINT) AS peak_balance,
       CAST(max(peak - bal) AS BIGINT) AS max_drawdown
FROM run GROUP BY l_partkey
"""


@register("ext_inventory_drawdown", oracle=DRAWDOWN_ORACLE)
def ext_inventory_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per part: running stock balance (returns add, shipments draw)
    over (shipdate, orderkey, linenumber) order, the running peak, and
    the maximum drawdown from that peak — the cumulative-window
    classic on the big fact table, one part-keyed shuffle."""
    flow = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_returnflag") == "R", F.col("l_quantity").cast("bigint")
        )
        .otherwise(-F.col("l_quantity").cast("bigint"))
        .alias("qty"),
    )
    worder = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    wrun = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = flow.withColumn("bal", F.sum("qty").over(wrun)).withColumn(
        "peak", F.max("bal").over(wrun)
    )
    return run.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_moves"),
        F.max("peak").cast("bigint").alias("peak_balance"),
        F.max(F.col("peak") - F.col("bal")).cast("bigint").alias("max_drawdown"),
    )


PERCENTILE_ORACLE = f"""
WITH b AS (
  SELECT s_suppkey, s_nationkey,
         CAST(floor(s_acctbal * 100) AS BIGINT) AS bal_cents,
         row_number() OVER (PARTITION BY s_nationkey
                            ORDER BY floor(s_acctbal * 100), s_suppkey) AS r,
         count(*) OVER (PARTITION BY s_nationkey) AS n
  FROM supplier
)
SELECT s_suppkey, s_nationkey, bal_cents,
       CAST(CASE WHEN n = 1 THEN 0
                 ELSE ({PPM} * (r - 1)) // (n - 1) END AS BIGINT) AS pct_ppm
FROM b
"""


@register("ext_balance_percentile", oracle=PERCENTILE_ORACLE)
def ext_balance_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier balance percentile within nation as integer ppm —
    rank-based normalization (10⁶·(rank−1) DIV (n−1), suppkey
    tie-break), never float percent_rank."""
    b = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.floor(F.col("s_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    wrank = Window.partitionBy("s_nationkey").orderBy("bal_cents", "s_suppkey")
    wall = Window.partitionBy("s_nationkey")
    return b.select(
        "s_suppkey",
        "s_nationkey",
        "bal_cents",
        F.row_number().over(wrank).alias("r"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).select(
        "s_suppkey",
        "s_nationkey",
        "bal_cents",
        F.expr(
            f"CAST(CASE WHEN n = 1 THEN 0 "
            f"ELSE ({PPM} * (r - 1)) div (n - 1) END AS BIGINT)"
        ).alias("pct_ppm"),
    )


def _item_expr():
    return F.get_json_object("props", "$.k").cast("bigint").alias("item")


@register("stream_trending_items", oracle=TRENDING_ORACLE)
def stream_trending_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending as continuous intake — the live risers board: (item,
    hour) counts accumulate as one complete-mode aggregation
    (associative; state bounded by items × hours), then the lag + rank
    projection runs on the drained partials exactly like the batch
    operator. Oracle = the batch SQL."""
    ev = replay_table(spark, sf_dir, "events")
    state = (
        ev.where(
            F.col("event_type").isin("click", "view", "purchase")
            & F.col("props").isNotNull()
        )
        .select(_item_expr(), F.date_trunc("hour", "event_time").alias("h"))
        .where(F.col("item").isNotNull())
        .groupBy("item", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ih = drain_to_memory(state, output_mode="complete").select(
        "item", "h", F.col("c").cast("bigint").alias("c")
    )
    return _trending_from_partials(ih)
