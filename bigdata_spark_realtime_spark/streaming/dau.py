"""DAU pipeline — dwd_DauApp re-expressed (SURVEY.md §3.1 stages 7-10;
reference `app/dwd_DauApp.scala`).

filter entry pages (T10) → first-seen-per-(date, mid) dedup (D1) →
broadcast dim joins (J1/J2) → dt/hr/age derivations (F2/F4) → DauInfo.

The reference needed a Redis SADD per record plus a manual state-restore
path (`revertState`); the Spark state store + checkpoint subsumes both
(W7 — the biggest architectural simplification of the rewrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import scalar as fns
from bigdata_spark_realtime_spark.plans.hints import broadcast_bounded

#: watermark covering a full event day plus slack, so every same-day
#: duplicate is in-state while the day is live (W3: the reference kept
#: DAU sets per event-date with no TTL; 25 h bounds the same state)
DEDUP_WATERMARK = "25 hours"


def entry_pages(page_log: DataFrame) -> DataFrame:
    """T10/D2: keep session entry pages (`last_page_id == null`,
    `app/dwd_DauApp.scala:74-76`) — the cheap pre-filter before stateful
    dedup."""
    return page_log.where(F.col("last_page_id").isNull())


def dedup_first_seen(page_log: DataFrame, streaming: bool) -> DataFrame:
    """D1: first PageLog per (event-date, mid).

    Streaming: dropDuplicatesWithinWatermark keyed by (dt, mid) — same
    first-wins semantics as the reference's Redis SADD, state evicted by
    the watermark instead of by daily key rollover.
    Batch: deterministic window rank (earliest ts wins) for replays and
    backfills.
    """
    df = page_log.withColumn("event_time", F.timestamp_millis("ts")).withColumn(
        "dt", fns.dt_col("event_time")
    )
    if streaming:
        return df.withWatermark("event_time", DEDUP_WATERMARK).dropDuplicatesWithinWatermark(
            ["dt", "mid"]
        )
    from pyspark.sql import Window

    w = Window.partitionBy("dt", "mid").orderBy("ts", "page_id")
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


def enrich_dau(
    deduped: DataFrame,
    dim_user: DataFrame,
    dim_province: DataFrame,
    age_ref_date: str,
) -> DataFrame:
    """J1/J2 + F2/F4: broadcast dim joins and derived columns → DauInfo
    (23 fields, `bean/DauInfo.scala:3-36`).

    age_ref_date replaces the reference's `new Date()` (processing-time
    age, `app/dwd_DauApp.scala:137-140`) so results are deterministic —
    pass the business date.
    """
    user = dim_user.select(
        F.col("id").cast("string").alias("uid"),
        F.col("gender").alias("user_gender"),
        fns.age_years(F.to_date("birthday"), F.to_date(F.lit(age_ref_date))).alias(
            "user_age"
        ),
    )
    prov = dim_province.select(
        F.col("id").cast("string").alias("pid"),
        F.col("name").alias("province_name"),
        F.col("iso_code").alias("province_iso_code"),
        F.col("iso_3166_2").alias("province_3166_2"),
        F.col("area_code").alias("province_area_code"),
    )
    return (
        # user dim grows with sf → no hint: Spark's JoinSelection
        # broadcasts it per micro-batch while it fits the session's
        # threshold (see plans/hints.py); province dim is bounded by the
        # data model → explicit broadcast
        deduped.join(user, deduped.user_id == user.uid, "left")
        .join(broadcast_bounded(prov), deduped.province_id == prov.pid, "left")
        .select(
            "mid", "user_id", "province_id", "channel", "is_new", "model",
            "operate_system", "version_code", "brand", "page_id", "page_item",
            "page_item_type", "during_time", "sourceType", "ts",
            "user_gender", "user_age",
            "province_name", "province_iso_code", "province_3166_2",
            "province_area_code",
            "dt",
            fns.hr_col("event_time").alias("hr"),
        )
    )


def build_dau(
    page_log: DataFrame,
    dim_user: DataFrame,
    dim_province: DataFrame,
    age_ref_date: str,
    streaming: bool,
) -> DataFrame:
    """Full DAU dataflow: entry filter → dedup → enrich."""
    return enrich_dau(
        dedup_first_seen(entry_pages(page_log), streaming),
        dim_user,
        dim_province,
        age_ref_date,
    )
