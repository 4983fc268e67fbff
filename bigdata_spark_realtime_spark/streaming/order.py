"""Order pipeline — dwd_OrderApp re-expressed (SURVEY.md §3.2 stages 5-9;
reference `app/dwd_OrderApp.scala`).

dim-enrich order_info (J1/J2/F3) → cross-batch stream-stream inner join
with 24 h TTL (J4) → OrderWide merge (J5).

J4 fidelity (SURVEY §7.3): the reference caches unmatched rows in Redis
with a 24 h SETEX and probes the other side's cache, emitting each
(info, detail) pair exactly once and silently losing >24 h stragglers.
Spark's stream-stream inner join with watermarks + a time-range join
condition replicates all three behaviors in the state store: the range
condition bounds state exactly like the TTL, and late extra details
still match a cached info (the reference caches info even after a match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import scalar as fns
from bigdata_spark_realtime_spark.plans.hints import broadcast_bounded

JOIN_TTL_HOURS = 24


def enrich_order_info(
    info: DataFrame, dim_user: DataFrame, dim_province: DataFrame
) -> DataFrame:
    """J1/J2/F3 over the order-header stream: user gender/age, province
    attrs, create_date/create_hour from the create_time string
    (`app/dwd_OrderApp.scala:98-153`). Age is calendar-exact at the
    order's own create date (deterministic; the reference used wall-clock
    today)."""
    user = dim_user.select(
        F.col("id").alias("u_id"),
        F.col("gender").alias("user_gender"),
        F.to_date("birthday").alias("birthday"),
    )
    prov = dim_province.select(
        F.col("id").alias("p_id"),
        F.col("name").alias("province_name"),
        F.col("iso_code").alias("province_iso_code"),
        F.col("iso_3166_2").alias("province_3166_2"),
        F.col("area_code").alias("province_area_code"),
    )
    create_date = F.split(F.col("create_time"), " ").getItem(0)
    create_hour = F.split(F.split(F.col("create_time"), " ").getItem(1), ":").getItem(0)
    return (
        # stream-static joins are re-planned per micro-batch: the
        # sf-proportional user dim gets no hint, so Spark's JoinSelection
        # broadcasts it while its plan-time size estimate fits the
        # session's threshold (see plans/hints.py); the province dim is
        # bounded by the data model (34 provinces)
        info.join(user, info.user_id == user.u_id, "left")
        .join(broadcast_bounded(prov), info.province_id == prov.p_id, "left")
        .withColumn("create_date", create_date)
        .withColumn("create_hour", create_hour)
        .withColumn(
            "user_age",
            fns.age_years(F.col("birthday"), F.to_date(create_date)),
        )
        .drop("u_id", "p_id", "birthday")
    )


def order_wide_join(
    info: DataFrame, detail: DataFrame, streaming: bool, how: str = "inner"
) -> DataFrame:
    """J4+J5: 1:N inner join on order id within a ±24 h arrival window.

    Streaming: watermarks on both sides + the time-range condition let
    Spark evict join state exactly at the reference's TTL boundary —
    without the range condition the state store would grow forever (the
    silent killer at 100 TB).
    Batch: the identical expression evaluates as a plain range join.

    ``how="left_outer"`` is a beyond-reference upgrade the reference's
    Redis cache could not express: orphaned details (no header within
    the TTL) still emit — exactly once, with null header columns — when
    the watermark proves no match can arrive. The reference silently
    dropped them; an outer row per orphan is what a data-quality monitor
    needs at scale.
    """
    i = info.withColumn("info_time", F.timestamp_millis("event_ts"))
    d = detail.withColumn("detail_time", F.timestamp_millis("event_ts"))
    if streaming:
        i = i.withWatermark("info_time", f"{JOIN_TTL_HOURS} hours")
        d = d.withWatermark("detail_time", f"{JOIN_TTL_HOURS} hours")
    cond = (
        (d.order_id == i.id)
        & (d.detail_time >= i.info_time - F.expr(f"INTERVAL {JOIN_TTL_HOURS} HOURS"))
        & (d.detail_time <= i.info_time + F.expr(f"INTERVAL {JOIN_TTL_HOURS} HOURS"))
    )
    joined = d.join(i, cond, how)
    # J5 column-union merge (`bean/OrderWide.scala:40-58`): detail wins on
    # create_time (copied last); order_id ← info.id, detail_id ← detail.id
    return joined.select(
        i.id.alias("order_id"),
        d.id.alias("detail_id"),
        F.col("province_id"),
        F.col("order_status"),
        F.col("user_id"),
        F.col("total_amount"),
        F.col("activity_reduce_amount"),
        F.col("coupon_reduce_amount"),
        F.col("original_total_amount"),
        F.col("feight_fee"),
        F.col("sku_id"),
        F.col("order_price"),
        F.col("sku_num"),
        F.col("sku_name"),
        d.create_time.alias("create_time"),
        F.col("split_total_amount"),
        F.col("split_activity_amount"),
        F.col("split_coupon_amount"),
        F.col("create_date"),
        F.col("create_hour"),
        F.col("user_gender"),
        F.col("user_age"),
        F.col("province_name"),
        F.col("province_iso_code"),
        F.col("province_3166_2"),
        F.col("province_area_code"),
    )
