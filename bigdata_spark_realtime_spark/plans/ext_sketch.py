"""Deterministic mergeable HyperLogLog over the `events` table.

`approx_aggregates` (plans/analytic.py) exposes Spark's built-in
approx_count_distinct, which is rows-only-checked: its HLL++ registers
are engine-internal. This operator is the ORACLE-EXACT sibling — a
hand-rolled HLL (Flajolet et al. 2007) whose register state both
engines derive bit-identically:

- element hash = portable md5-derived h32 (functions/hashing.py);
- bucket = low 8 bits (m = 256 registers), w = high 24 bits;
- rank = leading-zeros(w) + 1 computed as ``25 - length(bin(w))`` —
  both engines' ``bin()`` renders the same minimal binary string, so
  no float ``log2`` is ever taken;
- register = max(rank) per bucket — the max is what makes the sketch
  MERGEABLE: map-side partial maxes combine associatively, which is
  the whole point of a sketch at 100 TB (distinct-count state is 256
  bytes per group, not |distinct| rows);
- the harmonic-mean denominator is kept integer: ``sum_scaled =
  Σ 2^(50−reg)`` over all 256 registers (absent buckets count as
  reg = 0), computed with integer shifts. Max term 2^50, 256 terms
  < 2^58 — safely inside int64.

The float HLL estimate ``α·m²/Σ2^(−reg)`` is deliberately NOT a query
column (the α multiply/divide would reintroduce cross-engine float
drift); it is derived from sum_scaled in one driver-side expression,
and its accuracy against the exact count is pinned by
tests/test_ext_corpus_ops.py. The query emits the integer sketch state
plus the exact distinct count for side-by-side comparison.

Scale (100 TB): one shuffle on (group, bucket) with map-side partial
max — the classic sketch shape; the exact count_distinct column is for
test-scale verification and would be dropped in production (it is the
expensive thing the sketch replaces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

#: registers (m); 8-bit bucket index
M = 256
#: integer scale exponent for the harmonic denominator
S = 50

HLL_ORACLE = f"""
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
         CAST(sum(1::BIGINT << ({S} - reg)) AS BIGINT) AS sum_present,
         count(*) AS n_buckets
  FROM regs GROUP BY event_type
),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT st.event_type,
       CAST(st.sum_present
            + ({M} - st.n_buckets) * (1::BIGINT << {S}) AS BIGINT)
         AS hll_sum_scaled,
       CAST(st.n_buckets AS BIGINT) AS hll_nonzero_regs,
       ex.exact_distinct
FROM st JOIN ex USING (event_type)
"""


def hll_estimate(sum_scaled: int, nonzero_regs: int) -> float:
    """HLL estimate from the integer sketch state with the standard
    small-range linear-counting correction (Flajolet §4: when the raw
    estimate is below 2.5·m and empty registers remain, ``m·ln(m/V)``
    over V zero registers is the unbiased estimator). Driver-side —
    deliberately outside the oracle-checked query; see module doc."""
    import math

    alpha = 0.7213 / (1 + 1.079 / M)
    raw = alpha * M * M * (1 << S) / sum_scaled
    zeros = M - nonzero_regs
    if raw <= 2.5 * M and zeros > 0:
        return M * math.log(M / zeros)
    return raw


@register("ext_hll_distinct", oracle=HLL_ORACLE)
def ext_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: integer HLL sketch state (256 registers folded
    to the scaled harmonic denominator) beside the exact distinct
    user count."""
    ev = load_table(spark, sf_dir, "events")
    hv = H.h32(F.col("user_id").cast("string"))
    w = F.expr(f"hv DIV {M}")
    rank = F.when(w == 0, 25).otherwise(25 - F.length(F.bin(w)))
    ranked = ev.select("event_type", hv.alias("hv")).select(
        "event_type", F.expr(f"hv % {M}").alias("bucket"), rank.alias("rank")
    )
    regs = ranked.groupBy("event_type", "bucket").agg(F.max("rank").alias("reg"))
    st = regs.groupBy("event_type").agg(
        # SQL shiftleft takes a column shift amount (the python
        # F.shiftleft helper only accepts an int literal)
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {S} - reg)")).alias(
            "sum_present"
        ),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    ex = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return st.join(ex, "event_type").select(
        "event_type",
        (
            F.col("sum_present")
            + (F.lit(M) - F.col("n_buckets")) * F.lit(1 << S)
        ).cast("long").alias("hll_sum_scaled"),
        F.col("n_buckets").cast("long").alias("hll_nonzero_regs"),
        "exact_distinct",
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch over document token frequencies
# ---------------------------------------------------------------------------

#: CMS geometry: D independent hash rows × W counters
CMS_D = 4
CMS_W = 64
#: fixed probe tokens (drawn from the synthetic vocab so every SF has
#: real counts to compare against)
CMS_PROBES = (
    "spark", "table", "join", "window", "customer",
    "query", "hash", "order", "scan", "value",
)

_PROBE_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS token" for t in CMS_PROBES
)


def _cms_hash_sql(d: int, token_expr: str) -> str:
    """Row-d bucket of a token: h32('cms{d}|' || token) % W."""
    keyed = f"'cms{d}|' || {token_expr}"
    return f"{H.h32_sql(keyed)} % {CMS_W}"


_CMS_ROWS_SQL = " UNION ALL ".join(
    f"SELECT {d} AS d, {_cms_hash_sql(d, 'token')} AS w, cnt FROM tokc"
    for d in range(CMS_D)
)

CMS_ORACLE = f"""
WITH tokc AS (
  SELECT token, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
cms AS (
  SELECT d, w, CAST(sum(cnt) AS BIGINT) AS c
  FROM ({_CMS_ROWS_SQL})
  GROUP BY d, w
),
probes AS ({_PROBE_SQL}),
est AS (
  SELECT p.token,
         min(cms.c) AS est_count
  FROM probes p
  JOIN cms ON ({" OR ".join(f"(cms.d = {d} AND cms.w = {_cms_hash_sql(d, 'p.token')})" for d in range(CMS_D))})
  GROUP BY p.token
),
ex AS (
  SELECT p.token, COALESCE(t.cnt, 0) AS exact_count
  FROM probes p LEFT JOIN tokc t USING (token)
)
SELECT ex.token, CAST(est.est_count AS BIGINT) AS est_count, ex.exact_count
FROM ex JOIN est USING (token)
"""


@register("ext_cms_freq", oracle=CMS_ORACLE)
def ext_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (Cormode & Muthukrishnan 2005) over document
    token frequencies: D=4 hash rows × W=64 counters, probe-token
    estimates beside exact counts.

    CMS is the frequency-sketch sibling of the HLL above and the
    easiest of all sketches to verify cross-engine: every cell is an
    integer SUM (mergeable by plain addition — partials from any
    partitioning combine exactly) and the point estimate is an integer
    MIN over D cells, so the oracle matches bit-for-bit with no float
    anywhere. The estimate over-counts, never under-counts
    (est ≥ exact always — pinned in tests).

    Scale (100 TB): the kernel-side shape aggregates per-token counts
    first (one shuffle of the vocabulary-sized token counts — already
    required by any df/tf computation and shared with tf-idf/BM25),
    then folds them into D×W = 256 cells; the sketch table itself is
    256 rows regardless of corpus size, and production would maintain
    it incrementally by adding per-batch partial sketches."""
    docs = load_table(spark, sf_dir, "documents")
    tokc = (
        docs.select(F.explode(F.split("text", " ", -1)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rows = None
    for d in range(CMS_D):
        bucket = H.h32(F.concat(F.lit(f"cms{d}|"), F.col("token"))) % CMS_W
        part = tokc.select(
            F.lit(d).alias("d"), bucket.alias("w"), F.col("cnt")
        )
        rows = part if rows is None else rows.unionByName(part)
    cms = rows.groupBy("d", "w").agg(F.sum("cnt").alias("c"))

    probes = spark.createDataFrame(
        [(t,) for t in CMS_PROBES], "token string"
    )
    probe_cells = None
    for d in range(CMS_D):
        bucket = H.h32(F.concat(F.lit(f"cms{d}|"), F.col("token"))) % CMS_W
        part = probes.select(
            "token", F.lit(d).alias("d"), bucket.alias("w")
        )
        probe_cells = part if probe_cells is None else probe_cells.unionByName(part)
    est = (
        probe_cells.join(F.broadcast(cms), ["d", "w"])
        .groupBy("token")
        .agg(F.min("c").alias("est_count"))
    )
    # filter the vocabulary-sized counts down to the probe set BEFORE
    # joining: the IN-literal predicate pushes through the aggregation
    # to the scan, and the ≤|probes|-row result broadcasts — a plain
    # probes-LEFT-JOIN-tokc would SortMergeJoin the whole vocabulary
    probe_counts = tokc.where(F.col("token").isin(list(CMS_PROBES)))
    ex = probes.join(F.broadcast(probe_counts), "token", "left").select(
        "token", F.coalesce("cnt", F.lit(0)).alias("exact_count")
    )
    return ex.join(F.broadcast(est), "token").select(
        "token", "est_count", "exact_count"
    )


# ---------------------------------------------------------------------------
# HLL set algebra: audience overlap from max-merged register state
# ---------------------------------------------------------------------------
# |A ∩ B| is estimated as |A| + |B| − |A∪B| per event-type pair, every
# term from HLL registers; the union sketch is the ELEMENTWISE MAX of
# the two register arrays, so union state never touches raw data and
# any number of audiences combine associatively. The query emits the
# pure-integer sketch state (scaled harmonic denominators of A, B and
# A∪B) beside the exact intersection for test-scale verification; the
# float inclusion-exclusion estimate stays driver-side
# (`hll_intersection_estimate`). At 100 TB the pair expansion runs on
# the types × 256-row register table, never on events, and the exact
# column would be dropped.

_REGS_CTE = f"""
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
         CAST(count(*) AS BIGINT) AS nonzero
  FROM regs GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM st a JOIN st b ON a.event_type < b.event_type
),
u AS (
  SELECT p.type_a, p.type_b, r.bucket, max(r.reg) AS reg
  FROM pairs p JOIN regs r
    ON r.event_type = p.type_a OR r.event_type = p.type_b
  GROUP BY p.type_a, p.type_b, r.bucket
),
stu AS (
  SELECT type_a, type_b,
         CAST(sum(1::BIGINT << ({S} - reg))
              + ({M} - count(*)) * (1::BIGINT << {S}) AS BIGINT)
           AS union_scaled,
         CAST(count(*) AS BIGINT) AS union_nonzero
  FROM u GROUP BY type_a, type_b
),
users AS (
  SELECT DISTINCT event_type, user_id FROM events
),
ex AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS exact_intersection
  FROM users a JOIN users b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
"""

HLL_SET_ORACLE = (
    _REGS_CTE
    + """
SELECT stu.type_a, stu.type_b,
       sa.sum_scaled AS scaled_a, sa.nonzero AS nonzero_a,
       sb.sum_scaled AS scaled_b, sb.nonzero AS nonzero_b,
       stu.union_scaled, stu.union_nonzero,
       CAST(coalesce(ex.exact_intersection, 0) AS BIGINT)
         AS exact_intersection
FROM stu
JOIN st sa ON sa.event_type = stu.type_a
JOIN st sb ON sb.event_type = stu.type_b
LEFT JOIN ex ON ex.type_a = stu.type_a AND ex.type_b = stu.type_b
"""
)


def hll_intersection_estimate(
    scaled_a: int, nonzero_a: int,
    scaled_b: int, nonzero_b: int,
    union_scaled: int, union_nonzero: int,
) -> float:
    """Inclusion-exclusion over the three sketch estimates —
    driver-side, outside the oracle-checked integers; each term gets
    the standard small-range linear-counting correction via
    hll_estimate."""
    est_a = hll_estimate(scaled_a, nonzero_a)
    est_b = hll_estimate(scaled_b, nonzero_b)
    est_u = hll_estimate(union_scaled, union_nonzero)
    return est_a + est_b - est_u


@register("ext_hll_set_algebra", oracle=HLL_SET_ORACLE)
def ext_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type pair: the integer HLL state of both audiences
    and of their max-merged union, beside the exact intersection."""
    ev = load_table(spark, sf_dir, "events")
    hv = H.h32(F.col("user_id").cast("string"))
    w = F.expr(f"hv DIV {M}")
    rank = F.when(w == 0, 25).otherwise(25 - F.length(F.bin(w)))
    ranked = ev.select("event_type", hv.alias("hv")).select(
        "event_type", F.expr(f"hv % {M}").alias("bucket"), rank.alias("rank")
    )
    regs = ranked.groupBy("event_type", "bucket").agg(
        F.max("rank").alias("reg")
    )
    scaled = F.sum(
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {S} - reg)")
    ) + (M - F.count(F.lit(1))) * F.lit(1 << S)
    st = regs.groupBy("event_type").agg(
        scaled.cast("bigint").alias("sum_scaled"),
        F.count(F.lit(1)).cast("bigint").alias("nonzero"),
    )
    a = st.select(
        F.col("event_type").alias("type_a"),
        F.col("sum_scaled").alias("scaled_a"),
        F.col("nonzero").alias("nonzero_a"),
    )
    b = st.select(
        F.col("event_type").alias("type_b"),
        F.col("sum_scaled").alias("scaled_b"),
        F.col("nonzero").alias("nonzero_b"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("type_a") < F.col("type_b")
    )
    # union registers: elementwise max across the two audiences — the
    # merge property; runs on the types x 256-row register table
    u = (
        pairs.join(
            regs,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    stu = u.groupBy("type_a", "type_b").agg(
        scaled.cast("bigint").alias("union_scaled"),
        F.count(F.lit(1)).cast("bigint").alias("union_nonzero"),
    )
    users = ev.select("event_type", "user_id").distinct()
    ua = users.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("uid_a")
    )
    ub = users.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("uid_b")
    )
    ex = (
        ua.join(
            ub,
            (F.col("uid_a") == F.col("uid_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return (
        stu.join(pairs, ["type_a", "type_b"])
        .join(ex, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "scaled_a",
            "nonzero_a",
            "scaled_b",
            "nonzero_b",
            "union_scaled",
            "union_nonzero",
            F.coalesce(F.col("exact_intersection"), F.lit(0))
            .cast("bigint")
            .alias("exact_intersection"),
        )
    )


# ---------------------------------------------------------------------------
# quantile sketch: log-bucketed histogram with pure-integer, log-free keys
# ---------------------------------------------------------------------------

QSKETCH_ORACLE = """
WITH v AS (
  SELECT event_type,
         CAST(floor(value * 100) AS BIGINT) AS v100
  FROM events WHERE value > 0
),
keyed AS (
  SELECT event_type,
         CASE WHEN v100 < 8 THEN v100
              ELSE (length(bin(v100)) << 3)
                   | (v100 >> (length(bin(v100)) - 3)) END AS bkt
  FROM v
)
SELECT event_type, CAST(bkt AS BIGINT) AS bkt,
       CAST(count(*) AS BIGINT) AS ct
FROM keyed GROUP BY event_type, bkt
"""


def qsketch_bucket_bounds(bkt: int) -> tuple[float, float]:
    """[lo, hi) of a bucket key in ORIGINAL value units (v100 / 100)."""
    if bkt < 8:
        return bkt / 100.0, (bkt + 1) / 100.0
    octave, top3 = bkt >> 3, bkt & 7
    shift = octave - 3
    return (top3 << shift) / 100.0, ((top3 + 1) << shift) / 100.0


def qsketch_quantile(buckets: dict[int, int], q: float) -> float:
    """Quantile estimate = midpoint of the bucket holding the q-th
    ranked value. Driver-side float; the oracle-checked surface is the
    integer bucket counts."""
    total = sum(buckets.values())
    target = q * total
    seen = 0.0
    for bkt in sorted(buckets):
        seen += buckets[bkt]
        if seen >= target:
            lo, hi = qsketch_bucket_bounds(bkt)
            return (lo + hi) / 2
    lo, hi = qsketch_bucket_bounds(max(buckets))
    return (lo + hi) / 2


@register("ext_quantile_sketch", oracle=QSKETCH_ORACLE)
def ext_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch over `events.value` per event type —
    the DDSketch idea (log-spaced buckets -> bounded RELATIVE error)
    built from pure integer ops so the state is bit-exact
    cross-engine: cents = floor(value*100); bucket = the cents'
    octave (``length(bin(x))`` — bit length, no float log anywhere)
    plus its top-3 mantissa bits, packed as ``(L << 3) | top3``.
    That's <= 1/8 relative bucket width: p50/p95/p99 estimates land
    within ~6% of exact.

    Why a sketch at 100 TB: exact percentiles need a global sort or
    rank; this state is ~500 bytes per group, merges by ADDING bucket
    counts (across partitions, days, or micro-batches — same property
    as the CMS cells), and the quantile read is a driver-side walk.
    One (group, bucket) shuffle with map-side partials, same shape as
    HLL/CMS. The float quantile derivation stays outside the checked
    query (`qsketch_quantile`), accuracy pinned in tests."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    cents = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
    )
    # shiftleft/shiftright need a column shift amount -> SQL expr (the
    # python helpers only take int literals)
    octave_key = F.expr(
        "shiftleft(CAST(length(bin(v100)) AS BIGINT), 3)"
        " | shiftright(v100, length(bin(v100)) - 3)"
    )
    return (
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


@register("stream_quantile_sketch", oracle=QSKETCH_ORACLE)
def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch as continuous intake — real-time latency/
    value percentiles, the metric every streaming SLO dashboard needs:
    per-(event_type, bucket) counts accumulate in Spark's state store
    in complete mode. Integer bucket counts merge by ADDITION, which
    is associative and order-independent, so ANY micro-batch arrival
    order produces the same state and the drained result hash-matches
    the batch operator's oracle exactly. State is bucket-count-bounded
    (~hundreds of rows per group), never value-count-bounded; the
    p50/p95/p99 read stays a driver-side walk over the drained frame
    (`qsketch_quantile`)."""
    ev = replay_table(spark, sf_dir, "events").where(F.col("value") > 0)
    cents = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
    )
    octave_key = F.expr(
        "shiftleft(CAST(length(bin(v100)) AS BIGINT), 3)"
        " | shiftright(v100, length(bin(v100)) - 3)"
    )
    keyed = cents.select(
        "event_type",
        F.when(F.col("v100") < 8, F.col("v100"))
        .otherwise(octave_key)
        .cast("bigint")
        .alias("bkt"),
    )
    state = keyed.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).alias("ct")
    )
    return drain_to_memory(state, output_mode="complete")
