"""OLAP breadth: rollup hierarchies and approximate aggregates.

Rollup/cube don't exist in the reference (SURVEY.md §2.7: "no grouping
sets / rollup / cube") — engine-native extras.

`approx_aggregates` is the user-facing approximate-aggregates surface
(distinct users + median value per event type). Through round 8 it
wrapped Spark's built-in approx_count_distinct / percentile_approx,
whose sketch state is engine-internal — the registry's only rows-only
gate entry. Round 9 rebased it on the engine's OWN deterministic
sketches (the HLL of plans/ext_sketch.py and the DDSketch-style
integer-bucket histogram of plans/ext_sketch.py), so the
estimates themselves are now bit-exact cross-engine and the gate entry
is hash-checked like every other query:

- approx_users: the HLL harmonic estimate ``α·m²·2^S / sum_scaled``
  evaluated as ONE double division of a shared literal numerator by
  the integer register state (identical int64 → double conversion and
  one IEEE op ⇒ bit-identical in both engines), floored to an integer;
  the small-range linear-counting branch ``m·ln(m/V)`` is a 255-entry
  precomputed integer literal table indexed by the zero-register count
  (V ∈ 1..255), so no runtime ``ln`` is ever taken.
- approx_median_value: the midpoint of the quantile-sketch bucket
  holding the rank-⌈n/2⌉ value — bucket choice is pure integer
  (2·cum ≥ total over the cumulative bucket counts), the midpoint is
  one double division of an integer by 200.0.

Accuracy vs exact (±5%) stays pinned in tests/test_olap_extras.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.ext_sketch import M, S
from bigdata_spark_realtime_spark.plans.hints import broadcast_bounded
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

ROLLUP_ORACLE = """
SELECT r.r_name AS region, n.n_name AS nation,
       round(sum(CAST(round(c.c_acctbal * 100, 0) AS BIGINT)) / 100.0, 2)
         AS balance,
       count(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (region, nation)
"""


@register("rollup_region_nation", oracle=ROLLUP_ORACLE)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region→nation rollup: subtotals + grand total in one corpus
    aggregation pass (grouping-sets expansion, still partial+final hash
    agg).

    The ``()`` grouping set is NOT left to Spark's rollup: ANSI says the
    empty set aggregates like an ungrouped query — exactly one grand-
    total row even over zero input rows — but Spark's expand+hash-agg
    emits nothing on empty input (DuckDB emits the row; the empty-input
    sweep caught the divergence). Instead the grand total is derived by
    re-aggregating the region-level subtotal rows — a second agg over
    ~#regions rows, not a second corpus pass — which returns its one
    row unconditionally.

    Money sums are integer cents end-to-end (the ``_cent_sum`` pattern
    of plans/tpch.py: both engines round each leaf value to exact cents
    and sum BIGINT), so the per-level sums AND the re-aggregated grand
    total are order-independent integer arithmetic — the round(x, 2)
    half-cent boundary the r13 advisor flagged is unreachable by
    construction instead of merely unobserved at the swept sfs."""
    from bigdata_spark_realtime_spark.plans.corpus import scoped_persist

    def build_lvl() -> DataFrame:
        c = load_table(spark, sf_dir, "customer")
        n = load_table(spark, sf_dir, "nation")
        r = load_table(spark, sf_dir, "region")
        joined = c.join(
            broadcast_bounded(n), c.c_nationkey == n.n_nationkey
        ).join(broadcast_bounded(r), n.n_regionkey == r.r_regionkey)
        # set exprs and grouping cols must be the SAME names — distinct
        # Column objects register as extra grouping columns
        return joined.groupingSets(
            [["r_name", "n_name"], ["r_name"]], "r_name", "n_name"
        ).agg(
            F.sum(
                F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
            ).alias("cents"),
            F.count(F.lit(1)).alias("n_customers"),
            F.grouping_id().alias("gid"),
        )

    # lvl feeds both the output projection and the grand-total re-agg;
    # it is subtotal-cardinality (≤ regions×nations + regions rows).
    # The total branch is built from a SECOND canonically-identical
    # plan, not from `lvl` itself: a self-union of one frame trips
    # deduplicateRelations, whose re-aliased second branch no longer
    # matches the cache and silently recomputes the corpus aggregation
    # (verified via .explain: one InMemoryTableScan vs two).
    lvl = scoped_persist(build_lvl(), "rollup_region_nation", keep=1)
    lvl2 = build_lvl()
    detail = lvl.select(
        F.col("r_name").alias("region"),
        F.col("n_name").alias("nation"),
        F.round(F.col("cents") / 100.0, 2).alias("balance"),
        "n_customers",
    )
    total = (
        lvl2.where(F.col("gid") == 1)  # region-level rows (nation bit set)
        .agg(
            F.round(F.sum("cents") / 100.0, 2).alias("balance"),
            F.coalesce(F.sum("n_customers"), F.lit(0))
            .cast("bigint")
            .alias("n_customers"),
        )
        .select(
            F.lit(None).cast("string").alias("region"),
            F.lit(None).cast("string").alias("nation"),
            "balance",
            "n_customers",
        )
    )
    return detail.unionByName(total)


#: HLL numerator α·m²·2^S as a shared float64 literal — repr round-trips
#: exactly, so both engines parse the identical double and the single
#: division below is bit-identical
_HLL_NUM = 0.7213 / (1 + 1.079 / M) * M * M * float(1 << S)
#: linear counting applies when raw ≤ 2.5·m ⇔ sum_scaled ≥ NUM/(2.5·m);
#: the integer threshold keeps the branch condition float-free
_LC_THRESH = math.ceil(_HLL_NUM / (2.5 * M))
#: ⌊m·ln(m/V)⌋ for V = 1..255 — pure literal data (no runtime ln)
_LC_TABLE = tuple(int(math.floor(M * math.log(M / v))) for v in range(1, M))

_LC_LIST_SQL = "[" + ", ".join(str(v) for v in _LC_TABLE) + "]"

APPROX_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         {H.h32_sql("CAST(user_id AS VARCHAR)")} AS hv
  FROM events
),
ranked AS (
  SELECT event_type,
         hv % {M} AS bucket,
         CASE WHEN hv // {M} = 0 THEN 25
              ELSE 25 - length(bin(hv // {M})) END AS rank
  FROM h
),
regs AS (
  SELECT event_type, bucket, max(rank) AS reg
  FROM ranked GROUP BY event_type, bucket
),
st AS (
  SELECT event_type,
         CAST(sum(1::BIGINT << ({S} - reg))
              + ({M} - count(*)) * (1::BIGINT << {S}) AS BIGINT)
           AS sum_scaled,
         count(*) AS nonzero
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type,
         CASE WHEN sum_scaled >= {_LC_THRESH} AND nonzero < {M}
              THEN CAST(list_extract({_LC_LIST_SQL}, {M} - nonzero) AS BIGINT)
              ELSE CAST(floor({_HLL_NUM!r} / sum_scaled) AS BIGINT)
         END AS approx_users
  FROM st
),
v AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v100
  FROM events WHERE value > 0
),
keyed AS (
  SELECT event_type,
         CASE WHEN v100 < 8 THEN v100
              ELSE (length(bin(v100)) << 3)
                   | (v100 >> (length(bin(v100)) - 3)) END AS bkt
  FROM v
),
qs AS (
  SELECT event_type, bkt, count(*) AS ct
  FROM keyed GROUP BY event_type, bkt
),
cum AS (
  SELECT event_type, bkt,
         sum(ct) OVER (PARTITION BY event_type ORDER BY bkt) AS cum,
         sum(ct) OVER (PARTITION BY event_type) AS total
  FROM qs
),
med AS (
  SELECT event_type, min(bkt) AS mbkt
  FROM cum WHERE 2 * cum >= total GROUP BY event_type
),
mv AS (
  SELECT event_type,
         CASE WHEN mbkt < 8 THEN 2 * mbkt + 1
              ELSE (2 * (mbkt & 7) + 1) << ((mbkt >> 3) - 3)
         END AS m2
  FROM med
)
SELECT est.event_type, est.approx_users,
       CAST(mv.m2 AS DOUBLE) / 200.0 AS approx_median_value
FROM est LEFT JOIN mv USING (event_type)
"""


@register("approx_aggregates", oracle=APPROX_ORACLE)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users + median value per event type, from
    the engine's own deterministic sketches (see module doc): HLL
    registers → one shared-literal double division (with the
    linear-counting literal table for the small range); quantile-sketch
    buckets → integer median-bucket walk → one double division.

    Scale (100 TB): both sketch builds are the canonical shape — one
    (group, bucket) shuffle with map-side partials, state bounded by
    registers × groups regardless of corpus size; the estimate
    derivation runs on sketch-sized rows. Replaces the round-8 wrapper
    over Spark's approx_count_distinct/percentile_approx, whose
    engine-internal state forced a rows-only gate check."""
    ev = load_table(spark, sf_dir, "events")

    # --- HLL distinct-users estimate (register build mirrors
    # plans/ext_sketch.ext_hll_distinct) ---
    hv = H.h32(F.col("user_id").cast("string"))
    w = F.expr(f"hv DIV {M}")
    rank = F.when(w == 0, 25).otherwise(25 - F.length(F.bin(w)))
    ranked = ev.select("event_type", hv.alias("hv")).select(
        "event_type", F.expr(f"hv % {M}").alias("bucket"), rank.alias("rank")
    )
    regs = ranked.groupBy("event_type", "bucket").agg(F.max("rank").alias("reg"))
    st = regs.groupBy("event_type").agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {S} - reg)"))
            + (M - F.count(F.lit(1))) * F.lit(1 << S)
        ).cast("bigint").alias("sum_scaled"),
        F.count(F.lit(1)).alias("nonzero"),
    )
    lc_arr = F.array(*[F.lit(v) for v in _LC_TABLE])
    est = st.select(
        "event_type",
        F.when(
            (F.col("sum_scaled") >= _LC_THRESH) & (F.col("nonzero") < M),
            F.element_at(lc_arr, (F.lit(M) - F.col("nonzero")).cast("int")),
        )
        .otherwise(F.floor(F.lit(_HLL_NUM) / F.col("sum_scaled")))
        .cast("bigint")
        .alias("approx_users"),
    )

    # --- quantile-sketch median (bucket build mirrors
    # plans/ext_sketch.ext_quantile_sketch) ---
    cents = ev.where(F.col("value") > 0).select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
    )
    octave_key = F.expr(
        "shiftleft(CAST(length(bin(v100)) AS BIGINT), 3)"
        " | shiftright(v100, length(bin(v100)) - 3)"
    )
    qs = (
        cents.select(
            "event_type",
            F.when(F.col("v100") < 8, F.col("v100"))
            .otherwise(octave_key)
            .cast("bigint")
            .alias("bkt"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    wcum = Window.partitionBy("event_type").orderBy("bkt")
    wtot = Window.partitionBy("event_type")
    cum = qs.select(
        "event_type",
        "bkt",
        F.sum("ct").over(wcum).alias("cum"),
        F.sum("ct").over(wtot).alias("total"),
    )
    med = (
        cum.where(2 * F.col("cum") >= F.col("total"))
        .groupBy("event_type")
        .agg(F.min("bkt").alias("mbkt"))
    )
    mv = med.select(
        "event_type",
        F.when(F.col("mbkt") < 8, 2 * F.col("mbkt") + 1)
        .otherwise(
            F.expr(
                "shiftleft(2 * (mbkt & 7) + 1, CAST((mbkt >> 3) - 3 AS INT))"
            )
        )
        .alias("m2"),
    )
    return est.join(mv, "event_type", "left").select(
        "event_type",
        "approx_users",
        (F.col("m2").cast("double") / F.lit(200.0)).alias(
            "approx_median_value"
        ),
    )
