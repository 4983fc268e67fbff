"""Full pipeline loop — SURVEY.md §3.1 stages 2-11 in one test:

raw log files (streamed) → base_log split → DAU pipeline →
dt-partitioned serving store (foreachBatch upsert) → ServingAPI answers
/dauRealtime from the store.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_spark_realtime_spark import schemas as S
from bigdata_spark_realtime_spark.serving import ServingAPI
from bigdata_spark_realtime_spark.sources import fixtures as FX
from bigdata_spark_realtime_spark.streaming.base_log import split_base_log
from bigdata_spark_realtime_spark.streaming.dau import build_dau
from bigdata_spark_realtime_spark.streaming.sinks import foreach_batch_upsert

TD = "2024-03-02"


def test_stream_to_store_to_serving(spark, tmp_path):
    FX.gen_raw_log(str(tmp_path / "raw_log"), n_rows=1200, n_files=3)
    FX.gen_dims(str(tmp_path / "dims"))
    dim_user = spark.read.schema(S.DIM_USER_SCHEMA).json(
        str(tmp_path / "dims" / "user_info")
    )
    dim_prov = spark.read.schema(S.DIM_PROVINCE_SCHEMA).json(
        str(tmp_path / "dims" / "base_province")
    )

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(tmp_path / "raw_log"))
    )
    dau_stream = build_dau(
        split_base_log(raw)["page"], dim_user, dim_prov, TD, streaming=True
    )
    store = str(tmp_path / "dau_store")
    q = (
        dau_stream.writeStream.foreachBatch(
            foreach_batch_upsert(spark, store, ["dt", "mid"], "ts", partition_by="dt")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    stored = spark.read.parquet(store)
    # store is deduped per (dt, mid)
    assert stored.count() == stored.select("dt", "mid").distinct().count()

    api = ServingAPI(stored, order_wide=None)
    res = api.dau_realtime(TD)
    assert res["dauTotal"] > 0
    assert res["dauTotal"] == sum(res["dauTd"].values())
    # serving numbers equal direct store aggregation
    direct = (
        stored.where(F.col("dt") == TD).groupBy("hr").agg(F.count(F.lit(1)).alias("ct"))
    )
    assert {r.hr: r.ct for r in direct.collect()} == res["dauTd"]


def test_order_stream_to_store_to_serving(spark, tmp_path):
    """§3.2 stages 5-10: order streams → stream-stream join →
    create_date-partitioned store (doc-id = detail_id) → statsByItem /
    detailByItem served from the store."""
    from bigdata_spark_realtime_spark.streaming.order import (
        enrich_order_info,
        order_wide_join,
    )

    FX.gen_order_streams(str(tmp_path / "orders"), n_orders=200, n_files=3)
    FX.gen_dims(str(tmp_path / "dims"))
    dim_user = spark.read.schema(S.DIM_USER_SCHEMA).json(
        str(tmp_path / "dims" / "user_info")
    )
    dim_prov = spark.read.schema(S.DIM_PROVINCE_SCHEMA).json(
        str(tmp_path / "dims" / "base_province")
    )
    info = (
        spark.readStream.schema(S.ORDER_INFO_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "orders" / "order_info"))
    )
    det = (
        spark.readStream.schema(S.ORDER_DETAIL_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "orders" / "order_detail"))
    )
    wide = order_wide_join(
        enrich_order_info(info, dim_user, dim_prov), det, streaming=True
    )
    store = str(tmp_path / "order_wide_store")
    q = (
        wide.withColumn("event_seq", F.col("detail_id"))
        .writeStream.foreachBatch(
            foreach_batch_upsert(
                spark, store, ["detail_id"], "event_seq", partition_by="create_date"
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_o"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    stored = spark.read.parquet(store)
    assert stored.count() == stored.select("detail_id").distinct().count()

    api = ServingAPI(dau=None, order_wide=stored)
    date = stored.groupBy("create_date").count().orderBy(F.desc("count")).first()[0]
    stats = api.stats_by_item("Apple", date, "gender")
    assert stats and {r["name"] for r in stats} <= {"女", "男"}
    page = api.detail_by_item(date, "iPhone", 1, 10)
    assert page["total"] >= len(page["detail"]) > 0
    assert all("<em>iPhone</em>" in r["sku_name"] for r in page["detail"])
