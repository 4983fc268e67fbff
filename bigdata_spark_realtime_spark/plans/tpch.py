"""Flagship analytical queries over the star schema.

These exercise the engine's core batch path: pruned parquet scans →
whole-stage-codegen filters/projections → partial+final hash aggregation
→ ordered output. The reference delegates all aggregation to
Elasticsearch (SURVEY.md §2.7); here the engine computes it natively.

Float policy (SURVEY.md §7.3): money columns are doubles to match the
reference beans (`bean/OrderInfo.scala:8-13`); every aggregate is
rounded (2 dp money, 4 dp ratios) so distributed summation order cannot
flip the oracle hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.hints import broadcast_bounded
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table, load_tables

Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                        AS sum_qty,
  round(sum(l_extendedprice), 2)                                   AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
  round(avg(l_quantity), 2)                                        AS avg_qty,
  round(avg(l_extendedprice), 2)                                   AS avg_price,
  round(avg(l_discount), 4)                                        AS avg_disc,
  count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: filter → 2-key group → 8 aggregates.

    Scale: the shipdate filter is pushed to the parquet scan; the group-by
    runs as partial (map-side) + final hash aggregation over only the 8
    needed columns, so the shuffle carries |groups|·cores rows, not the
    table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1999-12-31 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q3_ORACLE = """
SELECT l.l_orderkey AS order_id,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       o.o_orderpriority AS priority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1999-06-30 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
GROUP BY 1, 3, 4
ORDER BY revenue DESC, order_id
LIMIT 10
"""


@register("q3_shipping_priority", oracle=Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style: 3-way join with selective filters on every input →
    group → top-10 by revenue.

    Scale: all three filters push into their scans; customer is
    sf-proportional so it carries NO broadcast hint — AQE promotes the
    join to broadcast at runtime when the filtered side measures small,
    and keeps a shuffled join at 100 TB where a forced broadcast would
    OOM the driver. TakeOrderedAndProject avoids a global sort.
    """
    t = load_tables(spark, sf_dir)
    c = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].where(
        F.col("o_orderdate") < F.lit("1999-06-30 00:00:00").cast("timestamp")
    )
    li = t["lineitem"].where(
        F.col("l_shipdate") > F.lit("1996-06-30 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("order_id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "order_id")
        .limit(10)
        .select("order_id", "revenue", "order_date", "priority")
    )


Q5_ORACLE = """
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM region r
JOIN nation n ON r.r_regionkey = n.n_regionkey
JOIN customer c ON n.n_nationkey = c.c_nationkey
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY 1
ORDER BY revenue DESC, nation
"""


@register("q5_local_supplier_volume", oracle=Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style: 6-way join incl. the correlated supplier-nation
    condition. Only the genuinely bounded dims (nation=25, region=5)
    carry explicit broadcast hints; customer and supplier are
    sf-proportional, so they go unhinted and AQE picks broadcast vs
    shuffle from their measured size."""
    t = load_tables(spark, sf_dir)
    r = t["region"].where(F.col("r_name") == "ASIA")
    n, c, o, li, s = t["nation"], t["customer"], t["orders"], t["lineitem"], t["supplier"]
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast_bounded(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast_bounded(r), n.n_regionkey == r.r_regionkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == n.n_nationkey),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "nation")
    )


Q6_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_revenue_forecast", oracle=Q6_ORACLE)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-style: pure scan-side aggregate, zero joins, zero wide
    shuffles. All four predicates push into the parquet scan; the global
    sum reduces partials straight on the map side — the plan a 100 TB
    what-if revenue scan should produce (scan cost only)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q10_ORACLE = """
SELECT c.c_custkey AS cust_id,
       c.c_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       n.n_name AS nation
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 4
ORDER BY revenue DESC, cust_id
LIMIT 20
"""


@register("q10_returned_items", oracle=Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-style returned-item report: who returned the most value
    last quarter. The returnflag + date filters prune both fact scans
    before the one orders⋈lineitem shuffle; nation (bounded, 25 rows)
    broadcasts explicitly, customer is sf-proportional so AQE decides;
    top-20 runs as TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(t["customer"], o.o_custkey == F.col("c_custkey"))
        .join(broadcast_bounded(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("c_custkey").alias("cust_id"),
            F.col("c_name"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "cust_id")
        .limit(20)
        .select("cust_id", "c_name", "revenue", "nation")
    )


Q14_ORACLE = """
SELECT round(
         100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
         / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@register("q14_promo_revenue", oracle=Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-style promo-revenue ratio. part is pruned to
    (p_partkey, p_type) but is still sf-proportional, so it carries no
    hint — AQE broadcasts the pruned projection while it measures small
    and shuffles at scale; the month filter prunes lineitem before the
    join. One conditional sum, no second pass."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc_price).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(disc_price), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


Q17_ORACLE = """
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13'
  AND l.l_quantity < (
    SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
  )
"""


@register("q17_small_quantity_revenue", oracle=Q17_ORACLE)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-style correlated scalar subquery: lines whose quantity is
    below half their part's average. Catalyst decorrelates the subquery
    into one aggregate-then-join pass over lineitem — no per-row rescan
    (the naive plan is O(n²) at 100 TB). The brand filter shrinks the
    probe side before the join."""
    # the genuinely correlated form: Catalyst's DecorrelateInnerQuery
    # rewrites it to aggregate-then-join (verify with .explain — one
    # Aggregate over lineitem, no per-row subquery)
    return spark.sql(
        """
        SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM {lineitem} l
        JOIN {part} p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#13'
          AND l.l_quantity < (
            SELECT 0.5 * avg(l2.l_quantity) FROM {lineitem} l2
            WHERE l2.l_partkey = l.l_partkey
          )
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
        part=load_table(spark, sf_dir, "part"),
    )


Q19_ORACLE = """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 5 AND l.l_quantity <= 25)
   OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity >= 15 AND l.l_quantity <= 35)
   OR (p.p_brand = 'Brand#7'  AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity >= 25 AND l.l_quantity <= 45)
"""


@register("q19_disjunctive_predicates", oracle=Q19_ORACLE)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-style OR-of-ANDs across both join sides. Catalyst
    factors the single-side conjuncts out of the disjunction: part gets
    `p_brand IN (...)` + a size envelope, lineitem gets a quantity
    envelope — both pushed to the scans — while the exact disjunction
    evaluates after the join (unhinted: part is sf-proportional, AQE
    picks the strategy from the filtered size)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    branch = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(5, 25))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(15, 35))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(25, 45))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(branch)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q18_QTY = 120

Q18_ORACLE = f"""
SELECT c.c_name, o.o_orderkey AS order_id,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       o.o_totalprice AS total_amount,
       big.sum_qty
FROM (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > {Q18_QTY}
) big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, order_id
LIMIT 100
"""


@register("q18_large_volume_customer", oracle=Q18_ORACLE)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-style: aggregate → HAVING → join the survivors back to
    their headers. The HAVING output is small *proportionally* but still
    grows with sf (it is a filtered subset of order keys), so neither it
    nor customer carries a hint — the aggregation still prunes before
    any wide join, and AQE broadcasts the survivors while they measure
    under threshold."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .where(F.col("_raw_qty") > Q18_QTY)
        .drop("_raw_qty")
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            F.col("o_orderkey").alias("order_id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_totalprice").alias("total_amount"),
            "sum_qty",
        )
        .orderBy(F.desc("total_amount"), "order_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Widened TPC-H-style coverage (adapted to the driver schema: no partsupp,
# no commit/receipt dates — each adaptation is noted on the query)
# ---------------------------------------------------------------------------

def _cent_sum(col: F.Column) -> F.Column:
    """Order-independent money sum: round each row to exact integer
    cents (IEEE product is bit-identical in Spark and DuckDB, and both
    round halves away from zero for positives), sum as BIGINT — immune
    to distributed summation order, unlike a double sum that can land on
    a half-cent rounding boundary."""
    return F.sum(F.round(col * 100, 0).cast("bigint")) / F.lit(100.0)


Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q4_priority_exists", oracle=Q4_ORACLE)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-style order-priority check (adapted: the driver schema
    has no commit/receipt dates, so the EXISTS predicate is "some line
    shipped after the order date").

    Scale: LEFT SEMI join — the orders side never widens, lineitem is
    reduced to matching keys before the shuffle; the date filter on
    orders is pushed to the scan."""
    o, li = load_tables(spark, sf_dir, "orders", "lineitem")
    o = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q7_NATIONS = ("NATION_1", "NATION_2")

Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       round(sum(CAST(round(volume * 100, 0) AS BIGINT)) / 100.0, 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = '{Q7_NATIONS[0]}' AND n2.n_name = '{Q7_NATIONS[1]}')
      OR (n1.n_name = '{Q7_NATIONS[1]}' AND n2.n_name = '{Q7_NATIONS[0]}'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("q7_volume_shipping", oracle=Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-style cross-nation trade volume with the disjunctive
    two-nation predicate.

    Scale: both nation lookups broadcast (25 rows); the nation-pair
    filter applies right after each broadcast join, so the expensive
    lineitem↔orders shuffle join only carries the two nations' rows —
    at 1000 executors that's the difference between shuffling ~8% of
    lineitem and all of it."""
    s, li, o, cu, n = load_tables(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    n1 = broadcast_bounded(
        n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    )
    n2 = broadcast_bounded(
        n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    )
    a, b = Q7_NATIONS
    sup = s.join(n1, F.col("s_nationkey") == F.col("s_nk")).where(
        F.col("supp_nation").isin(a, b)
    )
    cust = cu.join(n2, F.col("c_nationkey") == F.col("c_nk")).where(
        F.col("cust_nation").isin(a, b)
    )
    li = li.where(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    joined = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(_cent_sum(F.col("volume")), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q8_ORACLE = """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1997-12-31 00:00:00'
    AND p_type = 'ECONOMY'
)
GROUP BY o_year
ORDER BY o_year
"""


@register("q8_market_share", oracle=Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-style national market share: one nation's fraction of a
    region's ECONOMY-part import volume per year.

    Scale: part is filtered to one p_type BEFORE joining (the selective
    edge of the join graph — Catalyst starts the join tree there);
    nation/region broadcast; the conditional share is one pass —
    sum(CASE)/sum, no second aggregation or self-join."""
    p, li, s, o, cu, n, r = load_tables(
        spark, sf_dir, "part", "lineitem", "supplier", "orders", "customer",
        "nation", "region",
    )
    p = p.where(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = o.where(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    cust_region = cu.join(
        broadcast_bounded(
            n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))
            .where(F.col("r_name") == "ASIA")
            .select(F.col("n_nationkey").alias("c_nk"))
        ),
        F.col("c_nationkey") == F.col("c_nk"),
    ).select("c_custkey")
    supp_nation = s.join(
        broadcast_bounded(
            n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation"))
        ),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", "nation")
    joined = (
        li.join(broadcast_bounded(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust_region, F.col("c_custkey") == F.col("o_custkey"))
        .join(supp_nation, F.col("s_suppkey") == F.col("l_suppkey"))
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q9_ORACLE = """
SELECT nation, o_year,
       round(sum(CAST(round(amount * 100, 0) AS BIGINT)) / 100.0, 2) AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@register("q9_product_profit", oracle=Q9_ORACLE)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-style product profit by supplier nation and year
    (adapted: no partsupp table, so profit is discounted revenue
    without the supplycost term; part filter is a LIKE on p_name).

    Scale: the LIKE-filtered part set joins first (broadcast if it
    fits — AQE decides from runtime stats); nation broadcast; one
    shuffle agg on (nation, year)."""
    p, li, s, o, n = load_tables(
        spark, sf_dir, "part", "lineitem", "supplier", "orders", "nation"
    )
    p = p.where(F.col("p_name").like("%widget%")).select("p_partkey")
    joined = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            broadcast_bounded(
                n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation"))
            ),
            F.col("s_nationkey") == F.col("s_nk"),
        )
    )
    return (
        joined.select(
            "nation",
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(_cent_sum(F.col("amount")), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_customer_distribution", oracle=Q13_ORACLE)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-style customer order-count distribution (adapted: the
    excluded-order predicate is on o_orderpriority, the schema's stand-in
    for the spec's comment LIKE filter).

    Scale: the outer join carries only two key columns; count(col)
    skips the nulls the outer join manufactures, so zero-order
    customers land in the c_count=0 bucket without a special case. Two
    shuffles (join + per-customer count); the second agg is on the tiny
    distinct-count domain."""
    cu, o = load_tables(spark, sf_dir, "customer", "orders")
    per_cust = (
        cu.select("c_custkey")
        .join(
            o.where(F.col("o_orderpriority") != "5-LOW").select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("q15_top_supplier", oracle=Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-style top supplier: quarterly revenue per supplier, keep
    the max-revenue supplier(s). Revenue is rounded BEFORE the max
    comparison on both sides so engine summation order can't split ties.

    Scale: the window-max over an unpartitioned window runs on the
    aggregated per-supplier frame (|suppliers| rows, single partition is
    fine there — it's post-reduction); supplier join is key-equi and AQE
    will broadcast the small aggregated side."""
    li, s = load_tables(spark, sf_dir, "lineitem", "supplier")
    from pyspark.sql import Window

    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                _cent_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    ranked = revenue.withColumn(
        "max_rev", F.max("total_revenue").over(Window.partitionBy())
    )
    return (
        ranked.where(F.col("total_revenue") == F.col("max_rev"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q16_SIZES = (1, 4, 9, 14, 19, 24, 29, 34)

Q16_ORACLE = f"""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN {Q16_SIZES}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("q16_supplier_cnt", oracle=Q16_ORACLE)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-style supplier counts per part group (adapted: the
    part↔supplier association comes from lineitem — there is no
    partsupp table — and the excluded-supplier predicate is a low
    account balance).

    Scale: the exclusion list is a LEFT ANTI join against a small
    filtered supplier set (broadcastable); part filters cut before the
    join; count(DISTINCT) runs as the standard two-phase expand+agg."""
    li, p, s = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    p = p.where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(*Q16_SIZES))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excluded = s.where(F.col("s_acctbal") < 1000).select("s_suppkey")
    return (
        li.select("l_partkey", "l_suppkey")
        .join(broadcast_bounded(excluded), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q22_ORACLE = """
SELECT n_name AS cntry, count(*) AS numcust,
       round(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / 100.0, 2) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY n_name
ORDER BY n_name
"""


@register("q22_sales_opportunity", oracle=Q22_ORACLE)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-style sales opportunity (adapted: grouped by nation —
    the schema has no phone column to take country codes from):
    above-average-balance customers with no URGENT-priority order.
    (Every customer in the generated data has ≥1 order, so the spec's
    "never ordered" anti-join is empty at every SF; restricting the
    anti-join to URGENT orders keeps the identical plan shape — LEFT
    ANTI on the customer key over a filtered orders scan — while
    returning real rows for the correctness gate.)

    Scale: the global average collapses to a 1-row frame cross-joined in
    (broadcast by construction); the never-ordered test is a LEFT ANTI
    join on the customer key — no correlated per-row subquery survives
    into the physical plan."""
    cu, o, n = load_tables(spark, sf_dir, "customer", "orders", "nation")
    avg_bal = cu.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cu.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .join(
            broadcast_bounded(
                n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cntry"))
            ),
            F.col("c_nationkey") == F.col("c_nk"),
        )
        .groupBy("cntry")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(_cent_sum(F.col("c_acctbal")), 2).alias("totacctbal"),
        )
        .orderBy("cntry")
    )


Q20_ORACLE = """
WITH per AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'PROMO'
  GROUP BY 1, 2
),
w AS (
  SELECT l_suppkey, qty, sum(qty) OVER (PARTITION BY l_partkey) AS total_qty
  FROM per
)
SELECT s_name, count(*) AS n_dominant_parts
FROM w JOIN supplier ON s_suppkey = l_suppkey
WHERE qty > 0.1 * total_qty
GROUP BY s_name
ORDER BY s_name
"""


@register("q20_dominant_supplier", oracle=Q20_ORACLE)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-style dominant supplier (adapted: no partsupp — the
    supply share comes from shipped lineitem quantities): suppliers
    providing >10% of a PROMO part's total shipped quantity, counted.
    (The 10% threshold is reachable at every test SF — the uniform
    generator tops out near a 21% share at sf0.01 — so the gate checks
    real rows, not a vacuous empty-vs-empty hash.)

    Scale: two-level aggregation with the part total as a WINDOW over
    the already-reduced per-(part,supplier) frame — no second shuffle
    of lineitem, no self-join; exchange reuse keeps one scan. The share
    predicate compares integer-valued double sums (exact < 2^53), so
    both engines agree bit-for-bit.

    From the window the plan re-shuffles only |per| rows. The final
    count groups by supplier name after a key-equi join AQE can
    broadcast (suppliers are the small side post-filter)."""
    li, p, s = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    from pyspark.sql import Window

    per = (
        li.join(
            broadcast_bounded(p.where(F.col("p_type") == "PROMO").select("p_partkey")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = per.withColumn(
        "total_qty", F.sum("qty").over(Window.partitionBy("l_partkey"))
    )
    return (
        w.where(F.col("qty") > 0.1 * F.col("total_qty"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
        .orderBy("s_name")
    )


Q11_ORACLE = """
WITH sup AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_5'
),
val AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
           AS cents
  FROM lineitem JOIN sup ON l_suppkey = s_suppkey
  GROUP BY l_suppkey
)
SELECT l_suppkey AS s_suppkey, round(cents / 100.0, 2) AS total_value
FROM (SELECT l_suppkey, cents, sum(cents) OVER () AS total_cents FROM val)
WHERE cents > 0.04 * total_cents
ORDER BY total_value DESC, s_suppkey
"""


@register("q11_important_value_share", oracle=Q11_ORACLE)
def q11_important_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-style important stock (adapted: supplier shipped value
    from lineitem stands in for partsupp stock value): one nation's
    suppliers whose value exceeds 4% of that nation's total.

    Scale: the HAVING-against-global-total is a window over the
    already-reduced per-supplier frame — no second scan, no driver
    round-trip; cent-exact sums make the 4% threshold engine-agnostic."""
    li, s, n = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    from pyspark.sql import Window

    sup = s.join(
        broadcast_bounded(
            n.where(F.col("n_name") == "NATION_5").select("n_nationkey")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("bigint")
    val = (
        li.join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(cents).alias("cents"))
    )
    w = val.withColumn("total_cents", F.sum("cents").over(Window.partitionBy()))
    return (
        w.where(F.col("cents") > 0.04 * F.col("total_cents"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            F.round(F.col("cents") / 100.0, 2).alias("total_value"),
        )
        .orderBy(F.desc("total_value"), "s_suppkey")
    )


Q12_ORACLE = """
SELECT year(l_shipdate) AS l_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
ORDER BY 1
"""


@register("q12_late_shipment_priority", oracle=Q12_ORACLE)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-style shipping-mode check (adapted: no shipmode/commit/
    receipt columns — "late" is shipped >60 days after the order date):
    high- vs low-priority line counts per ship year.

    Scale: one key-equi shuffle join carrying three columns; the
    conditional counts are a single partial+final aggregation — the
    CASE pair never materializes two passes."""
    li, o = load_tables(spark, sf_dir, "lineitem", "orders")
    late = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).where(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy(F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_year")
    )


Q21_LATE_DAYS = 90
Q21_TOPK = 20

Q21_ORACLE = f"""
SELECT s_name, count(DISTINCT l1.l_orderkey) AS numwait
FROM lineitem l1
JOIN orders   ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT {Q21_TOPK}
"""


@register("q21_waiting_supplier", oracle=Q21_ORACLE)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-style suppliers-who-kept-orders-waiting (adapted:
    "late" is shipped >90 days after the order date — the schema has no
    commit/receipt dates): for finished multi-supplier orders, the
    supplier who was the ONLY late one, counted and top-20.

    Scale: both correlated subqueries compile to key-equi semi/anti
    joins on the order key — the lineitem self-references shuffle on
    the same key as the main join, so AQE can reuse co-partitioning;
    nothing is ever quadratic in lines per order."""
    li, o, s = load_tables(spark, sf_dir, "lineitem", "orders", "supplier")
    o_f = o.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late_cut = F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
    l1 = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o_f, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > late_cut)
    )
    other = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
        F.col("l_shipdate").alias("o2_shipdate"),
    )
    multi = l1.join(
        other,
        (F.col("o2_orderkey") == F.col("l_orderkey"))
        & (F.col("o2_suppkey") != F.col("l_suppkey")),
        "left_semi",
    )
    sole_late = multi.join(
        other,
        (F.col("o2_orderkey") == F.col("l_orderkey"))
        & (F.col("o2_suppkey") != F.col("l_suppkey"))
        & (F.col("o2_shipdate") > late_cut),
        "left_anti",
    )
    return (
        sole_late.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(Q21_TOPK)
    )


Q2_ORACLE = """
WITH pu AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cents,
         sum(l_quantity) AS qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_size = 15
  GROUP BY 1, 2
),
u AS (
  -- unit price in integer basis points (price x 10^4, truncated):
  -- cents x 100 // whole-unit quantity. l_quantity is integral in
  -- this schema (asserted by the Spark side), so the quotient is
  -- exact int64 in both engines -- a round(x, 4) on the float
  -- quotient flipped the last digit between engines at sf0.1
  SELECT l_partkey, l_suppkey,
         CAST((cents * 100) // CAST(qty AS BIGINT) AS BIGINT)
           AS unit_price_bp
  FROM pu
),
m AS (
  SELECT l_partkey, l_suppkey, unit_price_bp,
         min(unit_price_bp) OVER (PARTITION BY l_partkey) AS min_bp
  FROM u
)
SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, unit_price_bp
FROM m
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE unit_price_bp = min_bp
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register("q2_min_cost_supplier", oracle=Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-style minimum-cost supplier (adapted: no partsupp — the
    per-(part,supplier) unit price is shipped value / shipped quantity
    from lineitem): for size-15 parts, the supplier(s) achieving each
    part's minimum unit price, richest-supplier-first top-100.

    Scale: the correlated min is a window over the per-(part,supplier)
    aggregate — |pu| rows, not lineitem; unit prices are integer
    basis points ((cents x 100) DIV whole-unit qty -- l_quantity is
    integral in this schema), so the min-equality predicate is exact
    int64 and cannot drift (a float round(x, 4) here flipped the last
    digit between engines at sf0.1); top-100 compiles to
    TakeOrderedAndProject."""
    li, p, s, n = load_tables(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    from pyspark.sql import Window

    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    pu = (
        li.join(
            broadcast_bounded(p.where(F.col("p_size") == 15).select("p_partkey")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(cents).alias("cents"), F.sum("l_quantity").alias("qty"))
    )
    u = pu.select(
        "l_partkey",
        "l_suppkey",
        # integer basis points; qty is integral (whole units) so the
        # cast is exact -- float round() here diverged cross-engine
        F.expr("(cents * 100) DIV CAST(qty AS BIGINT)").alias(
            "unit_price_bp"
        ),
    )
    m = u.withColumn(
        "min_bp", F.min("unit_price_bp").over(Window.partitionBy("l_partkey"))
    )
    return (
        m.where(F.col("unit_price_bp") == F.col("min_bp"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            broadcast_bounded(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "unit_price_bp",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )
