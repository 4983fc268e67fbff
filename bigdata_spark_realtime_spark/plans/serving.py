"""Serving-layer queries — the reference's REST API surface (SURVEY.md
§2.11), re-expressed as Spark SQL over the engine's tables.

The reference serves three endpoints from Elasticsearch via a Spring
publisher; here each endpoint is a deterministic query. Mapped onto the
star schema: `events` plays the page-log/dau stream (user_id = mid),
`orders ⋈ lineitem ⋈ part` plays order_wide (p_name = sku_name), and
`customer` plays the user dim.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import scalar as fns
from bigdata_spark_realtime_spark.plans.corpus import (
    AGE_REF_DATE,
    BIRTHDAY_SQL,
    GENDER_SQL,
    birthday_col,
    gender_col,
)
from bigdata_spark_realtime_spark.plans.hints import broadcast_bounded
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

TD = "2024-01-06"
_YD = (datetime.date.fromisoformat(TD) - datetime.timedelta(days=1)).isoformat()

# ---------------------------------------------------------------------------
# GET /dauRealtime?td= — {dauTotal, dauTd: hr→ct, dauYd: hr→ct}
# (`ia/PublisherController.java:47-51`, `ia/PublisherMapperImpl.java:163-239`)
# over the deduplicated DAU set (D1 first-seen per (dt, mid)).
# ---------------------------------------------------------------------------

DAU_CTE = f"""
WITH dau AS (
  SELECT dt, user_id, hr FROM (
    SELECT {fns.dt_sql('ts')} AS dt, user_id, {fns.hr_sql('ts')} AS hr,
           row_number() OVER (PARTITION BY {fns.dt_sql('ts')}, user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
    WHERE {fns.dt_sql('ts')} IN ('{TD}', '{_YD}')
  ) WHERE rn = 1
)
"""

DAU_REALTIME_ORACLE = (
    DAU_CTE
    + f"""
SELECT 'total' AS kind, NULL AS hr, count(*) AS ct FROM dau WHERE dt = '{TD}'
UNION ALL
SELECT 'td' AS kind, hr, count(*) AS ct FROM dau WHERE dt = '{TD}' GROUP BY hr
UNION ALL
SELECT 'yd' AS kind, hr, count(*) AS ct FROM dau WHERE dt = '{_YD}' GROUP BY hr
"""
)


def _dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        fns.dt_col("ts").alias("dt"),
        "user_id",
        fns.hr_col("ts").alias("hr"),
        "ts",
        "event_id",
    ).where(F.col("dt").isin(TD, _YD))
    w = Window.partitionBy("dt", "user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("dt", "user_id", "hr")
    )


@register("serving_dau_realtime", oracle=DAU_REALTIME_ORACLE)
def serving_dau_realtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 optimization: the previous three branches each re-ran the
    # window dedup (scan + (dt, user) exchange ×3). One dedup, one
    # (dt, hr) aggregation; both hourly kinds are a label over it and
    # the total is the sum of today's hour partials (hour-cardinality
    # rows, persisted) — coalesce keeps the guaranteed 1-row total on
    # an empty today, exactly like the old count() on zero rows.
    from bigdata_spark_realtime_spark.plans.corpus import scoped_persist

    dau = _dau(spark, sf_dir)
    hourly2 = scoped_persist(
        dau.groupBy("dt", "hr").agg(F.count(F.lit(1)).alias("ct")),
        "serving_dau_realtime",
        keep=1,
    )
    total = (
        hourly2.where(F.col("dt") == TD)
        .agg(F.coalesce(F.sum("ct"), F.lit(0).cast("long")).alias("ct"))
        .select(
            F.lit("total").alias("kind"),
            F.lit(None).cast("string").alias("hr"),
            "ct",
        )
    )
    kinds = hourly2.select(
        F.when(F.col("dt") == TD, "td").otherwise("yd").alias("kind"),
        "hr",
        "ct",
    )
    return total.unionByName(kinds)


# ---------------------------------------------------------------------------
# GET /statsByItem?itemName&date&t — filtered sum grouped by age bucket or
# decoded gender (`ia/publisherServiceImpl.java:29-91`)
# ---------------------------------------------------------------------------

ITEM = "widget"

_WIDE_CTE = f"""
WITH wide AS (
  SELECT l.l_extendedprice * (1 - l.l_discount) AS split_total_amount,
         {fns.age_years_sql(f'({BIRTHDAY_SQL})', f"DATE '{AGE_REF_DATE}'")} AS user_age,
         {GENDER_SQL} AS user_gender
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE {fns.match_all_tokens_sql('p.p_name', ITEM)}
)
"""


def _wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        fns.match_all_tokens(F.col("p_name"), ITEM)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        fns.age_years(birthday_col(), F.to_date(F.lit(AGE_REF_DATE))).alias("user_age"),
        gender_col().alias("user_gender"),
    )
    return (
        # part and customer are sf-proportional: no hint, AQE promotes the
        # filtered/pruned sides to broadcast only while they measure small
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "split_total_amount"
            ),
            "user_age",
            "user_gender",
        )
    )


STATS_AGE_ORACLE = (
    _WIDE_CTE
    + f"""
SELECT {fns.age_bucket_sql('user_age')} AS name,
       round(sum(amount), 2) AS value
FROM (SELECT user_age, sum(split_total_amount) AS amount FROM wide GROUP BY 1)
GROUP BY 1
"""
)


@register("serving_stats_by_item_age", oracle=STATS_AGE_ORACLE)
def serving_stats_by_item_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t=age: inner terms-agg on user_age, client-side re-bucket (A4+A5)."""
    wide = _wide(spark, sf_dir)
    inner = wide.groupBy("user_age").agg(F.sum("split_total_amount").alias("amount"))
    return inner.groupBy(fns.age_bucket(F.col("user_age")).alias("name")).agg(
        F.round(F.sum("amount"), 2).alias("value")
    )


STATS_GENDER_ORACLE = (
    _WIDE_CTE
    + f"""
SELECT {fns.gender_decode_sql('user_gender')} AS name,
       round(sum(amount), 2) AS value
FROM (SELECT user_gender, sum(split_total_amount) AS amount FROM wide GROUP BY 1)
GROUP BY 1
"""
)


@register("serving_stats_by_item_gender", oracle=STATS_GENDER_ORACLE)
def serving_stats_by_item_gender(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t=gender: terms-agg on gender, 女/男 decode on the way out (A4+A6)."""
    wide = _wide(spark, sf_dir)
    inner = wide.groupBy("user_gender").agg(F.sum("split_total_amount").alias("amount"))
    return inner.groupBy(
        fns.gender_decode(F.col("user_gender")).alias("name")
    ).agg(F.round(F.sum("amount"), 2).alias("value"))


# ---------------------------------------------------------------------------
# GET /detailByItem?date&itemName&pageNo&pageSize — paged 8-col detail with
# highlighted sku_name + total count
# (`ia/PublisherController.java:21-30`, `ia/PublisherMapperImpl.java:112-159`)
# ---------------------------------------------------------------------------

PAGE_NO, PAGE_SIZE = 2, 20

DETAIL_ORACLE = f"""
WITH filtered AS (
  SELECT l.l_orderkey AS order_id,
         l.l_linenumber AS detail_id,
         l.l_partkey AS sku_id,
         {fns.highlight_sql('p.p_name', ITEM)} AS sku_name,
         l.l_quantity AS sku_num,
         l.l_extendedprice AS order_price,
         l.l_extendedprice * (1 - l.l_discount) AS split_total_amount,
         strftime(l.l_shipdate, '%Y-%m-%d') AS create_date
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE {fns.match_all_tokens_sql('p.p_name', ITEM)}
)
SELECT f.*, t.total
FROM filtered f CROSS JOIN (SELECT count(*) AS total FROM filtered) t
ORDER BY order_id, detail_id
LIMIT {PAGE_SIZE} OFFSET {(PAGE_NO - 1) * PAGE_SIZE}
"""


@register("serving_detail_by_item", oracle=DETAIL_ORACLE)
def serving_detail_by_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        fns.match_all_tokens(F.col("p_name"), ITEM)
    )
    filtered = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("detail_id"),
        F.col("l_partkey").alias("sku_id"),
        fns.highlight(F.col("p_name"), ITEM).alias("sku_name"),
        F.col("l_quantity").alias("sku_num"),
        F.col("l_extendedprice").alias("order_price"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("split_total_amount"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("create_date"),
    )
    total = filtered.agg(F.count(F.lit(1)).alias("total"))
    return (
        filtered.crossJoin(broadcast_bounded(total))  # 1-row aggregate
        .orderBy("order_id", "detail_id")
        .offset((PAGE_NO - 1) * PAGE_SIZE)
        .limit(PAGE_SIZE)
    )


# The stream twins of the two stats queries. ``_wide_stream`` stays
# separate from ``_wide``: a streaming plan gets no AQE join promotion,
# so the stream side broadcasts the filtered part dim explicitly, while
# the batch side leaves that choice to AQE.
def _wide_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem replayed as a file-source stream, enriched in-stream
    with the three static dims (same join graph as ``_wide``,
    stream-static instead of batch-batch)."""
    li = replay_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .where(fns.match_all_tokens(F.col("p_name"), ITEM))
        .select("p_partkey")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        fns.age_years(birthday_col(), F.to_date(F.lit(AGE_REF_DATE))).alias(
            "user_age"
        ),
        gender_col().alias("user_gender"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "split_total_amount"
            ),
            "user_age",
            "user_gender",
        )
    )


@register("stream_stats_by_item_age", oracle=STATS_AGE_ORACLE)
def stream_stats_by_item_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """statsByItem?t=age as continuous intake: stream-static dim
    enrichment, running per-user_age sum in the state store, A5
    re-bucket on the drained frame."""
    inner = _wide_stream(spark, sf_dir).groupBy("user_age").agg(
        F.sum("split_total_amount").alias("amount")
    )
    drained = drain_to_memory(inner, output_mode="complete")
    return drained.groupBy(
        fns.age_bucket(F.col("user_age")).alias("name")
    ).agg(F.round(F.sum("amount"), 2).alias("value"))


@register("stream_stats_by_item_gender", oracle=STATS_GENDER_ORACLE)
def stream_stats_by_item_gender(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """statsByItem?t=gender as continuous intake: same intake chain,
    running per-gender sum, A6 decode on the drained frame."""
    inner = _wide_stream(spark, sf_dir).groupBy("user_gender").agg(
        F.sum("split_total_amount").alias("amount")
    )
    drained = drain_to_memory(inner, output_mode="complete")
    return drained.groupBy(
        fns.gender_decode(F.col("user_gender")).alias("name")
    ).agg(F.round(F.sum("amount"), 2).alias("value"))
