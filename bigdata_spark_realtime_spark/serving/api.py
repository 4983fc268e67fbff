"""The reference's three REST endpoints as a parameterized Python API
(SURVEY.md §2.11; `ia/PublisherController.java`).

A user of the reference's publisher service calls:
  GET /dauRealtime?td=...
  GET /statsByItem?itemName=..&date=..&t=age|gender
  GET /detailByItem?date=..&itemName=..&pageNo=..&pageSize=..
This class serves the same three shapes from the engine's tables
(`dau`, `order_wide` — any DataFrames with those columns, e.g. the
outputs of the streaming pipelines or the parquet serving store).

Each call runs one Spark job, as the reference answers each call with
one Elasticsearch query (`ia/PublisherMapperImpl.java`):
- Size rule: at each call the stored frame is coalesced to one
  partition when Catalyst's size estimate fits Spark's own target
  partition size (``spark.sql.adaptive.advisoryPartitionSizeInBytes``).
  A single-partition child satisfies every group-by's distribution, so
  no Exchange is planned (under AQE each shuffle stage would be a job of
  its own). A larger store, or one of unknown size, keeps its
  partitioning and its shuffles.
- ``detail_by_item`` collects its page and its total in one action: the
  total rides along as one extra row.

Response shapes mirror the Java DTOs 1:1; results are small by
construction (aggregates / one page), so the final collect is the
serving boundary, not a data move.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import scalar as fns
from bigdata_spark_realtime_spark.plans import hints


def one_partition_if_small(frame: DataFrame) -> DataFrame:
    """``frame`` coalesced to one partition when Catalyst's size estimate
    fits Spark's own target partition size
    (``spark.sql.adaptive.advisoryPartitionSizeInBytes``), else ``frame``.

    Sized per call on the coalesced frame's new plan (the stored frame's
    own plan is memoized with the stats of its first planning), so a
    store that grows past the target fans back out by itself; the
    estimate runs no job. A frame of unknown size (e.g. a ``LogicalRDD``)
    reports ``Long.MaxValue`` and is left as it is.
    """
    one = frame.coalesce(1)
    target = hints.parse_size_bytes(
        frame.sparkSession.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return one if hints.estimated_size_bytes(one) <= target else frame


class ServingAPI:
    """dau: DataFrame with (mid, dt, hr, ...); order_wide: DataFrame with
    (detail_id, sku_name, user_age, user_gender, split_total_amount,
    create_date, order_id, sku_id, sku_num, order_price, ...)."""

    def __init__(self, dau: DataFrame, order_wide: DataFrame) -> None:
        self.dau = dau
        self.order_wide = order_wide

    # -- GET /dauRealtime (`ia/PublisherMapperImpl.java:163-239`) ----------

    def dau_realtime(self, td: str) -> dict:
        import datetime

        yd = (datetime.date.fromisoformat(td) - datetime.timedelta(days=1)).isoformat()
        day = one_partition_if_small(self.dau).where(F.col("dt").isin(td, yd))
        rows = (
            day.groupBy("dt", "hr").agg(F.count(F.lit(1)).alias("ct")).collect()
        )
        dau_td = {r.hr: r.ct for r in rows if r.dt == td}
        dau_yd = {r.hr: r.ct for r in rows if r.dt == yd}
        return {
            "dauTotal": sum(dau_td.values()),
            "dauTd": dau_td,
            "dauYd": dau_yd,
        }

    # -- GET /statsByItem (`ia/publisherServiceImpl.java:29-91`) -----------

    def stats_by_item(self, item_name: str, date: str, t: str) -> list[dict]:
        if t == "age":
            field = F.col("user_age")
        elif t == "gender":
            field = F.col("user_gender")
        else:
            # the reference NPEs on a bad t; we return a client error
            raise ValueError(f"unsupported t={t!r}: expected 'age' or 'gender'")
        # ES terms aggs order buckets by doc count desc
        # (`ia/PublisherMapperImpl.java:79`); the gated a4 plan
        # (plans/aggregations.py) does the same — keep the REST layer
        # bit-faithful to both, not amount-desc
        base = (
            one_partition_if_small(self.order_wide)
            .where(F.col("create_date") == date)
            .where(fns.match_all_tokens(F.col("sku_name"), item_name))
            .groupBy(field.alias("k"))
            .agg(
                F.sum("split_total_amount").alias("amount"),
                F.count(F.lit(1)).alias("ct"),
            )
            .orderBy(F.desc("ct"), "k")
            .limit(100)
        )
        if t == "gender":
            out = base.select(
                fns.gender_decode(F.col("k")).alias("name"),
                F.round("amount", 2).alias("value"),
            )
            return [r.asDict() for r in out.collect()]
        # age: client-side re-bucket of the terms agg (A5)
        out = base.groupBy(fns.age_bucket(F.col("k")).alias("name")).agg(
            F.round(F.sum("amount"), 2).alias("value")
        )
        return [r.asDict() for r in out.collect()]

    # -- GET /detailByItem (`ia/PublisherMapperImpl.java:112-159`) ---------

    DETAIL_COLS = (
        "create_date", "order_id", "detail_id", "sku_id", "sku_name",
        "sku_num", "order_price", "split_total_amount",
    )

    def detail_by_item(
        self, date: str, item_name: str, page_no: int = 1, page_size: int = 20
    ) -> dict:
        filtered = one_partition_if_small(self.order_wide).where(
            F.col("create_date") == date
        ).where(fns.match_all_tokens(F.col("sku_name"), item_name))
        page = (
            filtered.select(
                *[c for c in self.DETAIL_COLS if c != "sku_name"],
                fns.highlight(F.col("sku_name"), item_name).alias("sku_name"),
            )
            .orderBy("order_id", "detail_id")
            .offset((page_no - 1) * page_size)
            .limit(page_size)
        )
        # one action: the total rides along as one extra row whose detail
        # columns are null; the page rows carry a null __total. The
        # coalesce runs both union sides in one task, not one each.
        total_row = filtered.agg(F.count(F.lit(1)).alias("__total"))
        rows = page.unionByName(total_row, allowMissingColumns=True).coalesce(1).collect()
        return {
            "total": next(r["__total"] for r in rows if r["__total"] is not None),
            "detail": [
                {c: r[c] for c in page.columns} for r in rows if r["__total"] is None
            ],
        }
