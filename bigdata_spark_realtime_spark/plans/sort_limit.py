"""Sort / limit / pagination operators — SURVEY.md §2.8 (L1-L5).

ES from/size pagination (`ia/publisherServiceImpl.java:36-42`) becomes a
deterministic ORDER BY + LIMIT/OFFSET. These queries use the Spark SQL
string API over temp views (the engine's second query surface, same
Catalyst plan as the DataFrame API).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# L1 — pagination: page 2, size 20, deterministic order
# (`ia/PublisherMapperImpl.java:122-125`: from=(pageNo-1)*pageSize)
# ---------------------------------------------------------------------------

L1_SQL = """
SELECT l_orderkey AS order_id, l_linenumber AS detail_id, l_partkey AS sku_id,
       l_quantity AS sku_num, l_extendedprice AS order_price
FROM {lineitem}
ORDER BY order_id, detail_id
LIMIT 20 OFFSET 20
"""


@register("l1_pagination_page2", oracle=L1_SQL.format(lineitem="lineitem"))
def l1_pagination_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(L1_SQL, lineitem=load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# L2 — total-hits count returned alongside the page
# (`ia/PublisherMapperImpl.java:133,147`)
# ---------------------------------------------------------------------------

L2_SQL = """
WITH filtered AS (
  SELECT o_orderkey, o_totalprice
  FROM {orders}
  WHERE o_orderstatus = 'F'
)
SELECT f.o_orderkey AS order_id, f.o_totalprice AS total_amount, t.total
FROM filtered f CROSS JOIN (SELECT count(*) AS total FROM filtered) t
ORDER BY order_id
LIMIT 20
"""


@register("l2_page_with_total", oracle=L2_SQL.format(orders="orders"))
def l2_page_with_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page + total over the same predicate; the count side is a 1-row
    broadcast cross join, not a second scan of the full table."""
    return spark.sql(L2_SQL, orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# L4 — single-field fetch with a hard cap (`util/MyEsUtils.scala:63-67`:
# searchField size 10000). DISTINCT + ORDER BY makes the cap deterministic.
# ---------------------------------------------------------------------------

L4_SQL = """
SELECT DISTINCT user_id
FROM {events}
ORDER BY user_id
LIMIT 10000
"""


@register("l4_field_fetch_cap", oracle=L4_SQL.format(events="events"))
def l4_field_fetch_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(L4_SQL, events=load_table(spark, sf_dir, "events"))
