"""Funnel and retention analysis over the events stream table.

The two product-analytics operators every OLAP engine grows
specialized machinery for (ClickHouse `windowFunnel` /
`retention`, Druid/Amplitude cohort charts), expressed Spark-first as
staged aggregations — each stage is a user-keyed groupBy with
map-side partials, so the plan is a chain of small exchanges on the
same key, never a per-user sort of the raw stream.

* ``ext_funnel_steps`` — ordered signup → click → purchase
  completion: step 2 must happen strictly after the user's first
  signup, step 3 strictly after the earliest qualifying click, and
  the whole chain inside 7 days. min()-aggregations compose the
  sequence: t1 = first signup, t2 = first click after t1, t3 = first
  purchase after t2 — each a conditional min over one more join
  against the (tiny) per-user step table.
* ``ext_retention_cohorts`` — the signup-cohort activity matrix:
  cohort = each user's first-seen day, one row per (cohort_day,
  day_offset) counting distinct users active that day.
* ``stream_funnel_steps`` — the funnel as continuous intake: the
  stream keeps only the three step event types, and the staged
  conditional mins run on the drained rows as window expressions over
  one user_id partition. Step times are data timestamps, so any
  micro-batch schedule converges to FUNNEL_ORACLE's three counts.

Exactness: all comparisons are integer epoch-microseconds / DATE
arithmetic; counts are exact. Timestamps never pass through floats.

Scale (100 TB): the raw scan happens once per operator; everything
after runs on user-cardinality rows (t1/t2/t3 tables, distinct
(user, day) pairs). The step joins broadcast nothing corpus-sized —
they are user-keyed equi-joins the AQE planner handles; the funnel
output is 3 rows, the retention matrix cohort × offset rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

#: funnel completion window (microseconds): 7 days
FUNNEL_WINDOW_US = 7 * 24 * 3_600_000_000

FUNNEL_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
s1 AS (
  SELECT user_id, min(us) AS t1 FROM ev
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.us) AS t2
  FROM ev e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.us > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.us) AS t3
  FROM ev e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.us > s2.t2
  GROUP BY e.user_id
),
done AS (
  SELECT s3.user_id
  FROM s3 JOIN s1 ON s1.user_id = s3.user_id
  WHERE s3.t3 - s1.t1 <= {FUNNEL_WINDOW_US}
)
SELECT * FROM (
  SELECT 1 AS step, 'signup' AS step_name,
         CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
  UNION ALL
  SELECT 2, 'click_after_signup',
         CAST((SELECT count(*) FROM s2) AS BIGINT)
  UNION ALL
  SELECT 3, 'purchase_in_window',
         CAST((SELECT count(*) FROM done) AS BIGINT)
)
"""


@register("ext_funnel_steps", oracle=FUNNEL_ORACLE)
def ext_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel with a 7-day completion window."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    from bigdata_spark_realtime_spark.plans.corpus import scoped_persist

    # s1 has three consumers (its own step row, the s2 join, the done
    # join) and s2 two (step row, s3 join) — persist both (user-
    # cardinality, 2 int64s/row) so each step's event scan + min-agg
    # runs once instead of once per consumer (r15 optimization round)
    s1 = scoped_persist(
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1")),
        "funnel_steps",
        keep=2,
    )
    s2 = scoped_persist(
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2")),
        "funnel_steps",
        keep=2,
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    done = s3.join(s1, "user_id").where(
        F.col("t3") - F.col("t1") <= FUNNEL_WINDOW_US
    )

    def step_row(df: DataFrame, step: int, name: str) -> DataFrame:
        # lazy scalar aggregate — no builder-side action
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users")
        ).select(
            F.lit(step).cast("int").alias("step"),
            F.lit(name).alias("step_name"),
            "n_users",
        )

    return (
        step_row(s1, 1, "signup")
        .unionByName(step_row(s2, 2, "click_after_signup"))
        .unionByName(step_row(done, 3, "purchase_in_window"))
    )


RETENTION_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
cohort AS (
  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(d.day - c.cohort_day AS BIGINT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM days d JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""


@register("ext_retention_cohorts", oracle=RETENTION_ORACLE)
def ext_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen-day cohorts × activity-day offsets — the retention
    matrix. distinct (user, day) happens once; the cohort table is
    user-cardinality; the final count groups cohort × offset rows."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").cast("bigint").alias(
                "day_offset"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


#: skew guard: at most this many distinct items per user enter the pair
#: expansion, so one bot/power user contributes at most C(256,2) ≈ 33k
#: pairs instead of a quadratic blow-up inside a single join key. Picked
#: by deterministic hash order (an unbiased draw both engines and every
#: retry reproduce) — the quota is part of the operator's declared
#: contract, mirrored in the oracle.
COOC_MAX_ITEMS_PER_USER = 256

#: the quota-capped distinct (user, item) CTEs — shared verbatim by the
#: co-occurrence oracle and the co-visitation graph oracles
#: (plans/ext_graphrank.py) so both engines' graphs derive from the
#: identical capped set
COOC_CAPPED_CTE = """
ui AS (
  SELECT DISTINCT user_id,
         TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase') AND props IS NOT NULL
),
capped AS (
  SELECT user_id, item FROM ui
  WHERE item IS NOT NULL
  QUALIFY row_number() OVER (
    PARTITION BY user_id
    ORDER BY {h}, item
  ) <= {cap}
)
""".format(
    h=H.h32_sql("user_id::VARCHAR || ':' || item::VARCHAR"),
    cap=COOC_MAX_ITEMS_PER_USER,
)

COOC_ORACLE = f"""
WITH {COOC_CAPPED_CTE}
SELECT a.item AS item_a, b.item AS item_b,
       CAST(count(*) AS BIGINT) AS n_users
FROM capped a JOIN capped b
  ON a.user_id = b.user_id AND a.item < b.item
GROUP BY a.item, b.item
"""


def _cooc_capped_items(ev: DataFrame, cap: int) -> DataFrame:
    """Distinct (user_id, item) pairs with the per-user skew quota
    applied: keep the first `cap` items per user in deterministic
    (md5-hash, item) order — the `ext_sample_source_cap` window shape."""
    ui = (
        ev.where(
            F.col("event_type").isin("click", "view", "purchase")
            & F.col("props").isNotNull()
        )
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        )
        .where(F.col("item").isNotNull())
        .distinct()
    )
    order = H.h32(
        F.concat_ws(
            ":", F.col("user_id").cast("string"), F.col("item").cast("string")
        )
    )
    win = Window.partitionBy("user_id").orderBy(order.asc(), F.col("item").asc())
    return (
        ui.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= cap)
        .select("user_id", "item")
    )


def _cooc_capped_pairs(
    ev: DataFrame, cap: int, capped: DataFrame | None = None
) -> DataFrame:
    """(user_id, item_a, item_b) — every unordered within-user pair of
    the quota-capped item set, expanded ARRAY-SIDE (r15 optimization
    round, guide §2.4): collect_list per user reuses the quota window's
    hashpartitioning(user_id) — no exchange — and the pair expansion is
    a per-row array transform, so the previous self-join (which scanned
    the capped subtree twice and, at scale, either broadcast the whole
    capped set or sort-merge-shuffled it again) disappears outright.
    The per-user array is bounded by the quota (≤ cap items → ≤
    C(cap, 2) ≈ 33k pairs), the same bound the join path had.
    ``capped`` lets a caller that also consumes the capped set itself
    (ext_item_communities' nodes) share one frame."""
    if capped is None:
        capped = _cooc_capped_items(ev, cap)
    lists = capped.groupBy("user_id").agg(F.collect_list("item").alias("items"))
    return lists.select(
        "user_id",
        F.expr(
            "explode(filter(flatten(transform(items, x -> transform(items, "
            "y -> struct(x AS a, y AS b)))), p -> p.a < p.b)) AS p"
        ),
    ).select(
        "user_id", F.col("p.a").alias("item_a"), F.col("p.b").alias("item_b")
    )


@register("ext_item_cooccurrence", oracle=COOC_ORACLE)
def ext_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item co-occurrence counts — the collaborative-filtering /
    item-graph prep step (the input to ALS similarity, co-visitation
    recommenders, and graph clustering): for every item pair, how many
    users interacted with both.

    Scale (100 TB): distinct (user, item) happens once (one shuffle
    with map-side partials), then pairs expand ARRAY-SIDE per user
    (`_cooc_capped_pairs`) — pairs only ever materialize within a
    user's own item set and the expansion adds NO exchange (the
    collect_list reuses the quota window's user_id partitioning). The
    per-user blow-up is quadratic in item cardinality, which AQE's
    skew split cannot cap (it splits partitions, not the per-key
    blow-up), so the quota window (`COOC_MAX_ITEMS_PER_USER`,
    deterministic hash order) hard-bounds any single user's
    contribution — the declared contract, mirrored in the oracle and
    stress-tested with an adversarial power user in
    tests/test_funnel_retention.py. The final (item_a, item_b) count
    groupBy runs on item-pair-cardinality rows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        _cooc_capped_pairs(ev, COOC_MAX_ITEMS_PER_USER)
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


TRANSITIONS_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id)
           AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM ordered
WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


@register("ext_event_transitions", oracle=TRANSITIONS_ORACLE)
def ext_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive event-type transition counts — the Markov
    census behind user-flow sankeys and next-action models. One lead
    window per user over (epoch-micros, event_id) — the integer
    composite key makes the ordering deterministic cross-engine even
    under timestamp ties — then a types² count groupBy.

    Scale (100 TB): the window shuffles on user_id (per-user event
    counts bound each partition's sort); the transition matrix output
    is event-type-cardinality squared. A production variant bounds the
    window per day to keep per-user state from growing unboundedly —
    same plan with the date in the partition key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    ordered = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        ordered.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


TRANSITIONS_DAILY_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
           ORDER BY epoch_us(ts), event_id)
           AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM ordered
WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


@register("ext_event_transitions_daily", oracle=TRANSITIONS_DAILY_ORACLE)
def ext_event_transitions_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-bounded variant of :func:`ext_event_transitions` — the
    production profile the base query's docstring prescribes: the lead
    window partitions by (user_id, event day), so transitions never
    cross a day boundary and per-partition sort state is bounded by a
    user's single-day event count, not their lifetime history.

    Scale (100 TB): this is the variant to run on an unbounded event
    log — the composite partition key keeps every window partition
    small and lets partition pruning on the day column slice the scan
    when the census is computed incrementally per day."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(
        "user_id", F.to_date(F.date_trunc("day", "ts"))
    ).orderBy(F.unix_micros("ts"), "event_id")
    ordered = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        ordered.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


CONVERSION_ORACLE = f"""
WITH funnel AS (
  {FUNNEL_ORACLE}
)
SELECT step, step_name, n_users,
       CAST(coalesce(
         1000000 * n_users // nullif(lag(n_users) OVER (ORDER BY step), 0),
         1000000) AS BIGINT) AS conv_from_prev_ppm
FROM funnel
"""


@register("ext_funnel_conversion", oracle=CONVERSION_ORACLE)
def ext_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-over-step funnel conversion rates in integer ppm — the
    number product analytics actually reads off the funnel (step 1
    reports 1e6 by convention; a zero previous step reports 1e6 rather
    than dividing by zero). Runs on the 3-row funnel frame; the raw
    scan cost is the funnel's own."""
    funnel = ext_funnel_steps(spark, sf_dir)
    # integer DIV via expr so truncation mirrors the oracle exactly;
    # the 3-row ordered window runs on the funnel frame, not raw data
    return funnel.select(
        "step",
        "step_name",
        "n_users",
        F.coalesce(
            F.expr(
                "1000000 * n_users DIV nullif(lag(n_users) "
                "OVER (ORDER BY step), 0)"
            ),
            F.lit(1_000_000),
        )
        .cast("bigint")
        .alias("conv_from_prev_ppm"),
    )


@register("stream_funnel_steps", oracle=FUNNEL_ORACLE)
def stream_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (7-day completion window) as continuous
    intake: stateless in-stream filter+projection, staged
    conditional-min aggregation on the drained step events."""
    ev_stream = replay_table(spark, sf_dir, "events")
    proj = ev_stream.where(
        F.col("event_type").isin("signup", "click", "purchase")
    ).select("user_id", "event_type", F.unix_micros("event_time").alias("us"))
    ev = drain_to_memory(proj)

    # Join-free staging (the batch plan's per-stage joins would self-join
    # the memory-sink View, which defeats Spark's self-join attribute
    # dedup — INTERNAL_ERROR "conflicting references"): the conditional
    # mins chain as window expressions over ONE user partition instead.
    # t2's predicate reads the t1 column the previous Window produced, so
    # Catalyst stacks three Window nodes over a single user_id exchange —
    # one scan, one shuffle, no per-user sort (unbounded frames need no
    # orderBy). Semantics identical to FUNNEL_ORACLE's staged mins.
    w = Window.partitionBy("user_id")
    typed = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "signup", F.col("us"))).over(w),
    )
    typed = typed.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("us") > F.col("t1")),
                F.col("us"),
            )
        ).over(w),
    )
    typed = typed.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("us") > F.col("t2")),
                F.col("us"),
            )
        ).over(w),
    )
    per_user = typed.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").cast("bigint").alias("n1"),
        F.count("t2").cast("bigint").alias("n2"),
        F.count(
            F.when(F.col("t3") - F.col("t1") <= FUNNEL_WINDOW_US, F.lit(1))
        )
        .cast("bigint")
        .alias("n3"),
    )
    return counts.selectExpr(
        "stack(3, 1, 'signup', n1,"
        "         2, 'click_after_signup', n2,"
        "         3, 'purchase_in_window', n3)"
        " AS (step, step_name, n_users)"
    ).select(
        F.col("step").cast("int").alias("step"), "step_name", "n_users"
    )
