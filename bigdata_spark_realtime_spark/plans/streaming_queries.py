"""Streaming operators surfaced in the driver correctness gate.

Each query here actually executes a Structured Streaming dataflow
(readStream → stateful op → memory sink, drained synchronously) and
returns the sink's rows. A table twin reads its input through
`sources.replay.replay_table`, the stream side of `load_table`; the
order, raw-log and CDC twins read generated JSON fixtures. Every twin
drains through `sources.replay.drain_to_memory`, which leaves nothing
in the session catalog. Each twin is oracle-checked: its result does
not depend on micro-batch arrival order, so it hash-matches the batch
SQL (`stream_dedup_dau_keys`, for one, matches SELECT DISTINCT).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import scalar as fns
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.streaming.dau import DEDUP_WATERMARK

#: deterministic fixture root shared by the streaming gate queries AND
#: their DuckDB oracles. ``ensure_fixtures()`` (called at module import,
#: i.e. registry load) generates everything idempotently, so evaluation
#: order — oracle before query, or a fresh environment — can never hit a
#: read_json file-not-found. The version suffix retires stale fixture
#: trees whenever generator parameters change.
FIXTURE_BASE = os.path.join(tempfile.gettempdir(), "bsr_stream_fixtures_v2")


def ensure_fixtures() -> str:
    """Generate (once; seeded, idempotent) every fixture file the
    streaming gate queries and their oracles read."""
    from bigdata_spark_realtime_spark.sources import fixtures as FX

    if not os.path.exists(os.path.join(FIXTURE_BASE, "orders")):
        FX.gen_order_streams(
            os.path.join(FIXTURE_BASE, "orders"), n_orders=150, n_files=3
        )
    if not os.path.exists(os.path.join(FIXTURE_BASE, "dims")):
        FX.gen_dims(os.path.join(FIXTURE_BASE, "dims"))
    if not os.path.exists(os.path.join(FIXTURE_BASE, "raw_log")):
        FX.gen_raw_log(os.path.join(FIXTURE_BASE, "raw_log"), n_rows=800, n_files=2)
    if not os.path.exists(os.path.join(FIXTURE_BASE, "cdc")):
        FX.gen_cdc(os.path.join(FIXTURE_BASE, "cdc"), n_rows=600, n_files=2)
    return FIXTURE_BASE


ensure_fixtures()

_ORDER_INFO_COLS = (
    "{'id': 'BIGINT', 'province_id': 'BIGINT', 'order_status': 'VARCHAR', "
    "'user_id': 'BIGINT', 'total_amount': 'DOUBLE', "
    "'activity_reduce_amount': 'DOUBLE', 'coupon_reduce_amount': 'DOUBLE', "
    "'original_total_amount': 'DOUBLE', 'feight_fee': 'DOUBLE', "
    "'create_time': 'VARCHAR', 'event_ts': 'BIGINT'}"
)
_ORDER_DETAIL_COLS = (
    "{'id': 'BIGINT', 'order_id': 'BIGINT', 'sku_id': 'BIGINT', "
    "'order_price': 'DOUBLE', 'sku_num': 'BIGINT', 'sku_name': 'VARCHAR', "
    "'create_time': 'VARCHAR', 'split_total_amount': 'DOUBLE', "
    "'split_activity_amount': 'DOUBLE', 'split_coupon_amount': 'DOUBLE', "
    "'event_ts': 'BIGINT'}"
)

_TTL_MS = 24 * 3600_000


#: the streaming tumbling-window agg is batch-equivalent once every real
#: window is past the watermark (the sentinel file guarantees that), so
#: the batch time_bucket aggregation is a full oracle
STREAM_WINDOW_ORACLE = """
SELECT strftime(time_bucket(INTERVAL 6 HOURS, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS ct,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


#: the flush row's non-``ts`` values; ``event_type`` marks it for removal
_FLUSH_EVENT = {
    "event_id": -1,
    "user_id": -1,
    "event_type": "__flush",
    "value": 0.0,
    "props": "{}",
}


@register("stream_windowed_counts", oracle=STREAM_WINDOW_ORACLE)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W6 as a real streaming op: the events replay aggregated into
    6-hour event-time tumbling windows behind a 1-hour watermark,
    append-mode — exactly the batch w6 expression running as a stream.
    The replay's far-future flush row arrives alone in the last
    micro-batch and pushes the watermark past every real window so
    append mode emits them all; its own window never finalizes, and it
    is excluded from the returned frame."""
    stream = (
        replay_table(spark, sf_dir, "events", flush=_FLUSH_EVENT)
        .withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("ct"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "ct",
            "total_value",
        )
    )
    return drain_to_memory(stream).where(F.col("event_type") != "__flush")


STREAM_DEDUP_ORACLE = f"""
SELECT DISTINCT {fns.dt_sql('ts')} AS dt, user_id FROM events
"""


@register("stream_dedup_dau_keys", oracle=STREAM_DEDUP_ORACLE)
def stream_dedup_dau_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 as a real streaming op: events replayed through
    dropDuplicatesWithinWatermark keyed by (event-date, user) — the
    DAU dedup state machine — then projected to its deterministic key
    set."""
    stream = replay_table(spark, sf_dir, "events")
    deduped = (
        stream.withColumn("dt", fns.dt_col("event_time"))
        .withWatermark("event_time", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["dt", "user_id"])
        .select("dt", "user_id")
    )
    return drain_to_memory(deduped)



# ---------------------------------------------------------------------------
# custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_GAP_MS = 30 * 60 * 1000

#: sessions closed by a subsequent event (the operator run below uses a
#: watermark far larger than the fixture's time span, so timeout flushes
#: never fire and the emitted set is exactly "every session except each
#: user's final open one" — SQL-expressible, hence oracle-checked even
#: though the operator itself is custom stateful code)
STREAM_SESSIONIZE_ORACLE = f"""
WITH sess AS (
  SELECT user_id, session_id,
         count(*) AS n_events,
         max(epoch_ms(ts)) - min(epoch_ms(ts)) AS duration_ms
  FROM (
    SELECT user_id, ts,
           CAST(sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                   OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
                                                            ORDER BY ts, event_id))
                      > {_GAP_MS}
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
    )
  )
  GROUP BY 1, 2
)
SELECT user_id, session_id, n_events, duration_ms
FROM (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS max_sid FROM sess)
WHERE session_id < max_sid
"""


@register("stream_sessionize_gap", oracle=STREAM_SESSIONIZE_ORACLE)
def stream_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user gap sessionization
    with session ordinals via applyInPandasWithState
    (streaming/sessionize.py). Oracle covers the arrival-closed
    sessions; the timeout-flush path is exercised in tests."""
    from bigdata_spark_realtime_spark.streaming.sessionize import sessionize_stream

    stream = replay_table(spark, sf_dir, "events")
    # watermark >> fixture span: timeout flushes suppressed for a
    # deterministic, oracle-checkable emitted set
    sessions = sessionize_stream(stream, watermark="3650 days")
    return drain_to_memory(sessions)


def _stream_sample_oracle() -> str:
    """Built from ext_sampling's shared SQL fragments so the streamed
    twin can never silently desynchronize from the batch operator's
    bucket/rate definitions (one source of truth for both engines)."""
    from bigdata_spark_realtime_spark.plans.ext_sampling import (
        _BUCKET_SQL,
        _RATE_CASE_SQL,
    )

    return f"""
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source, {_BUCKET_SQL} AS b, {_RATE_CASE_SQL} AS rate
  FROM documents
) WHERE b < rate
"""


@register("stream_stratified_sample", oracle=_stream_sample_oracle())
def stream_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stratified rate sampler running as a Structured Streaming
    map-side pipeline: the documents table replayed as a file-source
    stream, each micro-batch filtered by the identical hash-rate
    predicate the batch operator uses (plans/ext_sampling.py), drained
    append-mode. Because the decision is a pure function of the row,
    the streamed sample equals the batch sample exactly — the oracle is
    the batch SQL. This is the shape a continuous ingest pipeline uses:
    stateless curation needs no watermarks and no state store, so it
    rides the stream at full map throughput."""
    from bigdata_spark_realtime_spark.plans.ext_sampling import (
        DEFAULT_RATE,
        STRATA_RATES,
        _sample_bucket,
    )

    stream = replay_table(spark, sf_dir, "documents")
    bucket = _sample_bucket(F.col("doc_id"), F.col("lang"))
    rate = F.lit(DEFAULT_RATE)
    for k, v in STRATA_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    sampled = stream.where(bucket < rate).select("doc_id", "lang", "source")
    return drain_to_memory(sampled)


def _stream_decontam_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.ext_decontam import DECONTAM_ORACLE

    return DECONTAM_ORACLE


@register("stream_decontaminate", oracle=_stream_decontam_oracle())
def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination on a live ingest stream — the production
    shape for continuous corpus intake: the eval set is FIXED (batch
    side, its distinct 8-gram shingles broadcast), the corpus STREAMS.
    Each micro-batch runs the identical map-side shingle kernel
    (operators/shingling.shingle_rows works unchanged on a streaming
    frame — it is a stateless mapInPandas), hits survive the broadcast
    stream-static join, and per-doc hit counts accumulate in complete
    mode. Oracle = the batch operator's SQL: a pure-function pipeline
    gives the same answer streamed or batched."""
    from bigdata_spark_realtime_spark.operators.shingling import shingle_rows
    from bigdata_spark_realtime_spark.plans.ext_decontam import (
        CONTAM_W,
        EVAL_SOURCE,
    )
    from bigdata_spark_realtime_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "documents").where(
        F.col("source") == EVAL_SOURCE
    )
    ev_shingles = shingle_rows(ev, CONTAM_W).select("shingle").distinct()
    corpus = replay_table(spark, sf_dir, "documents").where(
        F.col("source") != EVAL_SOURCE
    )
    hits = shingle_rows(corpus, CONTAM_W).join(
        F.broadcast(ev_shingles), "shingle"
    )
    counts = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return drain_to_memory(counts, output_mode="complete")


def _stream_minhash_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.ext_dedup import MINHASH_ORACLE

    return MINHASH_ORACLE


@register("stream_dedup_minhash", oracle=_stream_minhash_oracle())
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous near-dup intake — the LLM-pipeline shape for MinHash
    dedup at ingest time: incoming documents stream through the SAME
    map-side band-key kernel as the batch path and stream-static join
    against the standing corpus index on the band bucket; each arriving
    doc surfaces its candidate pairs immediately instead of waiting for
    a nightly batch. Replaying the whole corpus as the stream against
    its own static index yields exactly the batch operator's candidate
    set (each unordered pair once via doc_a < doc_b), so the oracle is
    the batch SQL.

    Scale notes: the static index side is the materialized band-key
    table a production deployment maintains (64 ints/doc); the
    per-micro-batch join shuffles only band rows of the batch plus the
    matching buckets. Degenerate buckets need the batch path's skew
    fallback (operators/shingling.bucket_pairs) — at ingest time a hot
    bucket inflates a single micro-batch, which back-pressures rather
    than OOMs. Pair dedup across micro-batches is the complete-mode
    aggregation (state = |candidate pairs|, bounded by LSH design)."""
    from bigdata_spark_realtime_spark.operators.shingling import (
        minhash_band_keys,
    )
    from bigdata_spark_realtime_spark.sources.tables import load_table

    corpus = minhash_band_keys(
        load_table(spark, sf_dir, "documents"),
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    arriving = minhash_band_keys(replay_table(spark, sf_dir, "documents"))
    cand = (
        arriving.alias("a")
        .join(corpus.alias("b"), ["band", "k1", "k2"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    # DISTINCT across bands and micro-batches: complete-mode aggregation
    pairs = cand.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n"))
    return drain_to_memory(pairs, output_mode="complete").select(
        "doc_a", "doc_b"
    )


def _stream_lm_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.ext_lm import LM_ORACLE

    return LM_ORACLE


@register("stream_lm_bucket", oracle=_stream_lm_oracle())
def stream_lm_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing on a live ingest stream — the
    production shape for scoring documents at intake: the bigram LM is
    FIXED (trained batch-side on the deterministic 10% hash-slice, its
    vocabulary-sized count tables broadcast), the corpus STREAMS. Each
    micro-batch runs the identical map-side pair kernel
    (operators/shingling.token_pair_rows is a stateless mapInPandas, so
    it works unchanged on a streaming frame), pairs join the broadcast
    counts, and per-doc surprise totals accumulate in complete mode;
    score and bucket are derived from the final totals. Oracle = the
    batch operator's SQL: integer arithmetic is associative across
    micro-batches, so streamed and batched answers are identical."""
    from bigdata_spark_realtime_spark.operators.shingling import token_pair_rows
    from bigdata_spark_realtime_spark.plans.ext_lm import (
        HEAD_MAX,
        MIDDLE_MAX,
        SCALE,
        TRAIN_PCT,
        _bigram_rows,
    )
    from bigdata_spark_realtime_spark.functions import hashing as H
    from bigdata_spark_realtime_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    train_key = H.h32(F.concat(F.lit("lm|"), F.col("doc_id").cast("string"))) % 100
    # filter before the kernel: mapInPandas blocks predicate pushdown
    train = _bigram_rows(docs.where(train_key < TRAIN_PCT))
    big = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    n_vocab = uni.count()  # vocabulary size: a bounded model constant

    pairs = token_pair_rows(replay_table(spark, sf_dir, "documents"))
    surprise = F.expr(
        f"(COALESCE(c1, 0) + {n_vocab}) * {SCALE} DIV (COALESCE(c12, 0) + 1)"
    )
    scored = (
        pairs.join(F.broadcast(big), ["w1", "w2"], "left")
        .join(F.broadcast(uni), ["w1"], "left")
        .select("doc_id", surprise.alias("surprise"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("surprise").alias("total"),
    )
    final = drain_to_memory(agg, output_mode="complete")
    bucket = (
        F.when(F.col("lm_score") < HEAD_MAX, "head")
        .when(F.col("lm_score") < MIDDLE_MAX, "middle")
        .otherwise("tail")
    )
    return (
        final.select(
            "doc_id", "n_bigrams", F.expr("total DIV n_bigrams").alias("lm_score")
        )
        .select("doc_id", "n_bigrams", "lm_score", bucket.alias("lm_bucket"))
    )


def _stream_hll_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.ext_sketch import HLL_ORACLE

    return HLL_ORACLE


@register("stream_hll_distinct", oracle=_stream_hll_oracle())
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL sketch as continuous intake — the modern shape of the
    reference's flagship DAU metric (`app/dwd_DauApp.scala`: distinct
    actives): approximate distinct users per event type, live. Register
    maxes are associative, so the complete-mode (event_type, bucket)
    max aggregation merges sketch state ACROSS micro-batches — 256
    int64s of state per group forever, no per-user state, no distinct
    shuffle — and after draining the replay the register table is
    bit-identical to the batch operator's, so the oracle is the batch
    SQL. The exact-count comparison column comes from the (identical)
    batch table, as in the other stream twins."""
    from bigdata_spark_realtime_spark.functions import hashing as H
    from bigdata_spark_realtime_spark.plans.ext_sketch import M, S
    from bigdata_spark_realtime_spark.sources.tables import load_table

    ev = replay_table(spark, sf_dir, "events")
    hv = H.h32(F.col("user_id").cast("string"))
    w = F.expr(f"hv DIV {M}")
    rank = F.when(w == 0, 25).otherwise(25 - F.length(F.bin(w)))
    ranked = ev.select("event_type", hv.alias("hv")).select(
        "event_type", F.expr(f"hv % {M}").alias("bucket"), rank.alias("rank")
    )
    regs_stream = ranked.groupBy("event_type", "bucket").agg(
        F.max("rank").alias("reg")
    )
    regs = drain_to_memory(regs_stream, output_mode="complete")
    st = regs.groupBy("event_type").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {S} - reg)")).alias(
            "sum_present"
        ),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    ex = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
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


def _stream_cms_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.ext_sketch import CMS_ORACLE

    return CMS_ORACLE


@register("stream_cms_freq", oracle=_stream_cms_oracle())
def stream_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sketch as continuous intake: per micro-batch the
    stream contributes token counts into the D×W cells via a
    complete-mode sum — CMS cells merge by plain ADDITION, so the
    drained cell table equals the batch sketch exactly and the probe
    estimates hash-match the batch oracle. Streaming cell state is
    D×W = 256 int64s forever (the sketch's whole point: frequency
    tracking with O(1) state on an unbounded stream)."""
    from bigdata_spark_realtime_spark.functions import hashing as H
    from bigdata_spark_realtime_spark.plans.ext_sketch import (
        CMS_D,
        CMS_PROBES,
        CMS_W,
    )
    from bigdata_spark_realtime_spark.sources.tables import load_table

    tok = replay_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ", -1)).alias("token")
    )
    rows = None
    for d in range(CMS_D):
        bucket = H.h32(F.concat(F.lit(f"cms{d}|"), F.col("token"))) % CMS_W
        part = tok.select(F.lit(d).alias("d"), bucket.alias("w"))
        rows = part if rows is None else rows.unionByName(part)
    cells_stream = rows.groupBy("d", "w").agg(F.count(F.lit(1)).alias("c"))
    cms = drain_to_memory(cells_stream, output_mode="complete")

    probes = spark.createDataFrame([(t,) for t in CMS_PROBES], "token string")
    probe_cells = None
    for d in range(CMS_D):
        bucket = H.h32(F.concat(F.lit(f"cms{d}|"), F.col("token"))) % CMS_W
        part = probes.select("token", F.lit(d).alias("d"), bucket.alias("w"))
        probe_cells = (
            part if probe_cells is None else probe_cells.unionByName(part)
        )
    est = (
        probe_cells.join(F.broadcast(cms), ["d", "w"])
        .groupBy("token")
        .agg(F.min("c").alias("est_count"))
    )
    tokc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ", -1)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # probe-filter before joining (see ext_sketch.ext_cms_freq: the
    # vocabulary-sized side must not SortMergeJoin a 10-row probe set)
    probe_counts = tokc.where(F.col("token").isin(list(CMS_PROBES)))
    ex = probes.join(F.broadcast(probe_counts), "token", "left").select(
        "token", F.coalesce("cnt", F.lit(0)).alias("exact_count")
    )
    return ex.join(F.broadcast(est), "token").select(
        "token", "est_count", "exact_count"
    )


def _retention_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.ext_funnel import RETENTION_ORACLE

    return RETENTION_ORACLE


@register("stream_retention_cohorts", oracle=_retention_oracle())
def stream_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts as continuous intake — the live product-
    analytics shape: the distinct (user, activity-day) set accumulates
    in Spark's state store (a groupBy count in complete mode is the
    streaming DISTINCT — the count itself is discarded), then the
    cohort derivation (first-seen day per user) and the cohort ×
    day-offset matrix run batch-side on the drained user×day frame,
    exactly like plans/ext_funnel.ext_retention_cohorts. Raw events
    are never re-scanned after intake.

    Scale (100 TB): state is one row per distinct (user, day) — the
    same cardinality ANY retention computation must materialize, kept
    incrementally instead of re-derived per report; production bounds
    it with a watermark-driven retention horizon (e.g. 90 days), which
    drops state exactly as the cohort window slides. The post-drain
    matrix runs on user-cardinality rows. Any micro-batch arrival
    order yields the same distinct set, so the result hash-matches the
    batch oracle."""
    ev = replay_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.to_date(F.date_trunc("day", "event_time")).alias("day"),
    )
    distinct_state = days.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("_seen")
    )
    drained = drain_to_memory(
        distinct_state, output_mode="complete"
    ).select("user_id", "day")
    # rename the grouping key: both sides descend from the same drained
    # memory-sink frame, and Spark rejects the ambiguous self-join on a
    # shared attribute id
    cohort = (
        drained.groupBy("user_id")
        .agg(F.min("day").alias("cohort_day"))
        .withColumnRenamed("user_id", "cohort_user")
    )
    return (
        drained.join(cohort, F.col("user_id") == F.col("cohort_user"))
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def _snapshot_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.ext_snapshot import (
        SNAPSHOT_DIFF_ORACLE,
    )

    return SNAPSHOT_DIFF_ORACLE


@register("stream_snapshot_diff", oracle=_snapshot_oracle())
def stream_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot diff as continuous intake — live CDC recovery: the
    state store maintains each user's LATEST event as
    ``max(struct(us, event_id, event_type, value))`` (lexicographic
    struct max over the integer composite order — associative and
    order-independent, so any micro-batch arrival order converges to
    the same last-write-wins state; the same composite the batch
    operator ranks by). The diff against the 60%-span batch snapshot
    then runs on the drained user-cardinality frame, exactly like
    plans/ext_snapshot.ext_snapshot_diff.

    Scale (100 TB): state is ONE struct per user key — the minimal
    state any last-write-wins view needs (same as the reference's
    Redis DAU state, SURVEY §2.5), merged not appended; the historical
    snapshot enters once as a batch side. Oracle = the batch SQL."""
    ev = replay_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.unix_micros("event_time").alias("us"),
            F.col("event_id"),
            F.col("event_type"),
            F.col("value"),
        ).alias("st"),
    )
    latest = ev.groupBy("user_id").agg(F.max("st").alias("st"))
    drained = drain_to_memory(latest, output_mode="complete")
    s2 = drained.select(
        "user_id",
        F.col("st.event_type").alias("new_type"),
        F.col("st.value").alias("new_value"),
    )

    from bigdata_spark_realtime_spark.plans.ext_snapshot import _state_at
    from bigdata_spark_realtime_spark.sources.tables import load_table

    evb = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    span = evb.agg(F.min("us").alias("lo"), F.max("us").alias("hi")).select(
        (F.col("lo") + F.expr("(hi - lo) * 6 DIV 10")).alias("t1")
    )
    s1 = _state_at(evb.crossJoin(F.broadcast(span)), "t1").select(
        F.col("user_id").alias("old_user"),
        F.col("event_type").alias("old_type"),
        F.col("value").alias("old_value"),
    )
    return (
        s2.join(s1, F.col("user_id") == F.col("old_user"), "left")
        .where(
            F.col("old_type").isNull()
            | (F.col("old_type") != F.col("new_type"))
            | (F.col("old_value") != F.col("new_value"))
        )
        .select(
            "user_id",
            F.when(F.col("old_type").isNull(), F.lit("insert"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            "old_type",
            "new_type",
            "old_value",
            "new_value",
        )
    )


def _multitouch_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.ext_attrib import (
        MULTITOUCH_ORACLE,
    )

    return MULTITOUCH_ORACLE


@register("stream_multitouch_attribution", oracle=_multitouch_oracle())
def stream_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution as continuous intake — the canonical
    Structured Streaming STREAM-STREAM INTERVAL JOIN (the reference's
    J4 24 h-TTL join generalized to an event-time range predicate):
    the click and purchase streams join on user plus
    ``purchase_time ∈ (click_time, click_time + 1h]`` with 1-hour
    watermarks on both sides, so Spark's join state holds exactly one
    window's worth of each stream and evicts it as the watermark
    passes — the state bound IS the attribution window. Matched pairs
    append as they arrive (inner-join results never wait on the
    watermark); the per-purchase credit split and per-click totals run
    batch-side on the drained pair frame exactly like
    plans/ext_attrib.ext_multitouch_attribution. Oracle = the batch
    SQL."""
    from bigdata_spark_realtime_spark.plans.ext_attrib import (
        credit_from_pairs,
    )
    from bigdata_spark_realtime_spark.sources.tables import load_table

    clicks = (
        replay_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("event_time").alias("c_time"),
        )
        .withWatermark("c_time", "1 hour")
    )
    purchases = (
        replay_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("event_time").alias("p_time"),
        )
        .withWatermark("p_time", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_time") > F.col("c_time"))
        & (F.col("p_time") <= F.col("c_time") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", F.unix_micros("c_time").alias("c_us"))
    drained = drain_to_memory(pairs)
    # recency touch cap + linear split, shared with the batch operator
    credit = credit_from_pairs(drained)
    all_clicks = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"))
    )
    return (
        all_clicks.join(credit, "click_id", "left")
        .select(
            "click_id",
            F.coalesce("credit_ppm", F.lit(0)).cast("bigint").alias(
                "credit_ppm"
            ),
            F.coalesce("n_conversions", F.lit(0)).cast("bigint").alias(
                "n_conversions"
            ),
        )
    )


def _skew_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.ext_skewcheck import (
        SKEW_AUDIT_ORACLE,
    )

    return SKEW_AUDIT_ORACLE


@register("stream_skew_audit", oracle=_skew_oracle())
def stream_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew audit as continuous monitoring — the live hot-key
    dashboard behind rebalancing decisions: per-key counts accumulate
    in the state store (complete mode; addition is associative, so any
    arrival order converges) and the top-K + ppm-share read runs on the
    drained key-cardinality frame. State is one int per active key —
    the exact-count regime; when the key space itself is unbounded,
    production switches the state to the CMS cells
    (`stream_cms_freq`) and audits a candidate key list instead.
    Oracle = the batch skew audit SQL."""
    from bigdata_spark_realtime_spark.plans.ext_skewcheck import SKEW_TOP_K

    ev = replay_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    kc = drain_to_memory(counts, output_mode="complete")
    tot = kc.agg(F.sum("cnt").cast("bigint").alias("total"))
    return (
        kc.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            F.expr("CAST(1000000 * cnt DIV total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(SKEW_TOP_K)
    )


# ---------------------------------------------------------------------------
# fixture-replay twins (Group-2 order streams / base-log / CDC envelopes)
# ---------------------------------------------------------------------------
# Defined LAST so the module's registration order front-loads the
# DRIFT-prone twins (those reading the sf tables through the shared
# replay builders) into refresh windows; these four read generated
# JSON fixtures whose bodies change rarely, so they take the tail
# slots (R15 rotation planning, round 14).

#: the drained stream-stream join is batch-equivalent (SURVEY §5.2): the
#: watermark range condition is exactly a ±24 h event-time band, so a
#: DuckDB range join over the same fixture files is a full oracle
STREAM_WIDE_ORACLE = f"""
WITH i AS (
  SELECT * FROM read_json('{FIXTURE_BASE}/orders/order_info/*.jsonl',
                          format='newline_delimited', columns={_ORDER_INFO_COLS})
),
d AS (
  SELECT * FROM read_json('{FIXTURE_BASE}/orders/order_detail/*.jsonl',
                          format='newline_delimited', columns={_ORDER_DETAIL_COLS})
),
u AS (
  SELECT * FROM read_json('{FIXTURE_BASE}/dims/user_info/*.jsonl',
        format='newline_delimited',
        columns={{'id': 'BIGINT', 'gender': 'VARCHAR', 'birthday': 'VARCHAR'}})
),
p AS (
  SELECT * FROM read_json('{FIXTURE_BASE}/dims/base_province/*.jsonl',
        format='newline_delimited',
        columns={{'id': 'BIGINT', 'name': 'VARCHAR', 'iso_code': 'VARCHAR',
                  'iso_3166_2': 'VARCHAR', 'area_code': 'VARCHAR'}})
),
ie AS (
  SELECT i.*,
         split_part(i.create_time, ' ', 1) AS create_date,
         split_part(split_part(i.create_time, ' ', 2), ':', 1) AS create_hour,
         u.gender AS user_gender,
         {fns.age_years_sql("CAST(u.birthday AS DATE)",
                            "CAST(split_part(i.create_time, ' ', 1) AS DATE)")} AS user_age,
         p.name AS province_name, p.iso_code AS province_iso_code,
         p.iso_3166_2 AS province_3166_2, p.area_code AS province_area_code
  FROM i LEFT JOIN u ON i.user_id = u.id LEFT JOIN p ON i.province_id = p.id
)
SELECT ie.id AS order_id, d.id AS detail_id, ie.province_id, ie.order_status,
       ie.user_id, ie.total_amount, ie.activity_reduce_amount,
       ie.coupon_reduce_amount, ie.original_total_amount, ie.feight_fee,
       d.sku_id, d.order_price, d.sku_num, d.sku_name, d.create_time,
       d.split_total_amount, d.split_activity_amount, d.split_coupon_amount,
       ie.create_date, ie.create_hour, ie.user_gender, ie.user_age,
       ie.province_name, ie.province_iso_code, ie.province_3166_2,
       ie.province_area_code
FROM d JOIN ie ON d.order_id = ie.id
   AND d.event_ts BETWEEN ie.event_ts - {_TTL_MS} AND ie.event_ts + {_TTL_MS}
"""


def _order_fixtures(spark: SparkSession):
    """Load the shared order-stream fixtures + dims (generated by
    :func:`ensure_fixtures` at import)."""
    from bigdata_spark_realtime_spark import schemas as S

    base = ensure_fixtures()
    dim_user = spark.read.schema(S.DIM_USER_SCHEMA).json(
        os.path.join(base, "dims", "user_info")
    )
    dim_prov = spark.read.schema(S.DIM_PROVINCE_SCHEMA).json(
        os.path.join(base, "dims", "base_province")
    )
    return base, dim_user, dim_prov


@register("stream_order_wide_join", oracle=STREAM_WIDE_ORACLE)
def stream_order_wide_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5 as a real streaming op: Group-2 order streams (generated
    fixtures — the driver tables have no dual-stream shape) joined
    stream-stream with 24 h TTL watermarks, checked against a DuckDB
    range-join oracle over the drained sink's input files."""
    from bigdata_spark_realtime_spark import schemas as S
    from bigdata_spark_realtime_spark.streaming.order import (
        enrich_order_info,
        order_wide_join,
    )

    base, dim_user, dim_prov = _order_fixtures(spark)
    info = spark.readStream.schema(S.ORDER_INFO_STREAM_SCHEMA).json(
        os.path.join(base, "orders", "order_info")
    )
    det = spark.readStream.schema(S.ORDER_DETAIL_STREAM_SCHEMA).json(
        os.path.join(base, "orders", "order_detail")
    )
    wide = order_wide_join(
        enrich_order_info(info, dim_user, dim_prov), det, streaming=True
    )
    return drain_to_memory(wide)


#: per-branch row counts of the 1→5 multiplex are a full oracle for the
#: split's routing predicates (branch membership is order-independent)
STREAM_SPLIT_ORACLE = f"""
WITH raw AS (
  SELECT * FROM read_json('{FIXTURE_BASE}/raw_log/*.jsonl',
        format='newline_delimited',
        columns={{'err': 'JSON', 'page': 'JSON', 'displays': 'JSON[]',
                  'actions': 'JSON[]', 'start': 'JSON'}})
)
SELECT 'err' AS branch, count(*)::BIGINT AS n FROM raw WHERE err IS NOT NULL
UNION ALL
SELECT 'page', count(*)::BIGINT FROM raw WHERE err IS NULL AND page IS NOT NULL
UNION ALL
SELECT 'display', coalesce(sum(len(displays)), 0)::BIGINT FROM raw
WHERE err IS NULL AND page IS NOT NULL
UNION ALL
SELECT 'action', coalesce(sum(len(actions)), 0)::BIGINT FROM raw
WHERE err IS NULL AND page IS NOT NULL
UNION ALL
SELECT 'start', count(*)::BIGINT FROM raw WHERE err IS NULL AND "start" IS NOT NULL
"""


@register("stream_base_log_split", oracle=STREAM_SPLIT_ORACLE)
def stream_base_log_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 multiplex as a real streaming op over the generated raw-log
    fixture: all five branches of the 1→5 split drained to sinks, gated
    on per-branch row counts vs a DuckDB filtered-count oracle (the
    split's routing predicates; exact branch contents are asserted in
    tests/test_streaming_pipelines.py)."""
    from functools import reduce

    from bigdata_spark_realtime_spark.streaming.base_log import split_base_log

    raw_dir = os.path.join(ensure_fixtures(), "raw_log")
    raw = spark.readStream.format("text").load(raw_dir)
    branches = split_base_log(raw)
    counts = [
        drain_to_memory(df)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(name).alias("branch"), "n")
        for name, df in branches.items()
    ]
    return reduce(DataFrame.unionByName, counts)



#: reference semantics (`app/dwd_OrderApp.scala:166-224`): a detail with
#: no header within the TTL was silently dropped; the outer-join upgrade
#: emits it once. NOT EXISTS over the same ±24 h band is the full oracle
#: (sentinel flush rows are excluded by detail_id > 0 on both sides).
STREAM_ORPHANS_ORACLE = f"""
WITH i AS (
  SELECT * FROM read_json('{FIXTURE_BASE}/orders/order_info/*.jsonl',
                          format='newline_delimited', columns={_ORDER_INFO_COLS})
),
d AS (
  SELECT * FROM read_json('{FIXTURE_BASE}/orders/order_detail/*.jsonl',
                          format='newline_delimited', columns={_ORDER_DETAIL_COLS})
)
SELECT d.id AS detail_id, d.sku_name, d.split_total_amount
FROM d
WHERE d.id > 0 AND NOT EXISTS (
  SELECT 1 FROM i
  WHERE i.id = d.order_id
    AND d.event_ts BETWEEN i.event_ts - {_TTL_MS} AND i.event_ts + {_TTL_MS}
)
"""


@register("stream_order_outer_orphans", oracle=STREAM_ORPHANS_ORACLE)
def stream_order_outer_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The left-outer stream-stream join's orphan channel as a real
    streaming op: details with no header inside the ±24 h TTL emit
    exactly once with null header columns after far-future sentinel
    rows push the watermark past every real row's horizon (same
    technique as the replay test). Gated against a DuckDB
    NOT-EXISTS-within-TTL oracle over the same fixture files."""
    import json as _json
    import shutil

    from bigdata_spark_realtime_spark import schemas as S
    from bigdata_spark_realtime_spark.streaming.order import (
        enrich_order_info,
        order_wide_join,
    )

    base, dim_user, dim_prov = _order_fixtures(spark)
    work = os.path.join(base, "orders_outer")
    if os.path.exists(work):
        shutil.rmtree(work)
    shutil.copytree(os.path.join(base, "orders"), work)

    rows = []
    for fn in os.listdir(os.path.join(work, "order_info")):
        with open(os.path.join(work, "order_info", fn)) as f:
            rows += [_json.loads(x) for x in f if x.strip()]
    for fn in os.listdir(os.path.join(work, "order_detail")):
        with open(os.path.join(work, "order_detail", fn)) as f:
            rows += [_json.loads(x) for x in f if x.strip()]
    max_ts = max(r["event_ts"] for r in rows)
    for k, bump in ((1, 60), (2, 120)):
        flush = max_ts + bump * 3600_000
        with open(os.path.join(work, "order_info", f"zz_flush_{k}.json"), "w") as f:
            f.write(_json.dumps({"id": -100 - k, "user_id": 1, "province_id": 1,
                                 "create_time": "2030-01-01 00:00:00",
                                 "event_ts": flush}) + "\n")
        with open(os.path.join(work, "order_detail", f"zz_flush_{k}.json"), "w") as f:
            f.write(_json.dumps({"id": -200 - k, "order_id": -999, "sku_id": 1,
                                 "create_time": "2030-01-01 00:00:00",
                                 "event_ts": flush}) + "\n")

    info = (
        spark.readStream.schema(S.ORDER_INFO_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .json(os.path.join(work, "order_info"))
    )
    det = (
        spark.readStream.schema(S.ORDER_DETAIL_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .json(os.path.join(work, "order_detail"))
    )
    wide = order_wide_join(
        enrich_order_info(info, dim_user, dim_prov), det,
        streaming=True, how="left_outer",
    )
    drained = drain_to_memory(wide)
    return (
        drained.where(F.col("detail_id") > 0)
        .where(F.col("order_id").isNull())
        .select("detail_id", "sku_name", "split_total_amount")
    )


#: per-route counts over the drained CDC split are a full oracle for the
#: envelope parse (T8 normalization) + set-membership routing (T9/K4/K6):
#: route membership is arrival-order-independent
STREAM_CDC_ORACLE = f"""
WITH raw AS (
  SELECT * FROM read_json('{FIXTURE_BASE}/cdc/*.jsonl',
        format='newline_delimited',
        columns={{'type': 'VARCHAR', 'table': 'VARCHAR', 'data': 'JSON'}})
),
norm AS (
  SELECT CASE WHEN "type" = 'bootstrap-insert' THEN 'insert'
              WHEN "type" IN ('insert', 'update', 'delete') THEN "type"
         END AS op,
         "table"
  FROM raw
  WHERE "type" IN ('bootstrap-insert', 'insert', 'update', 'delete')
)
SELECT 'DWD_' || upper("table") || '_' || upper(op) AS route,
       count(*)::BIGINT AS n
FROM norm WHERE "table" IN ('order_info', 'order_detail')
GROUP BY 1
UNION ALL
SELECT 'DIM:' || upper("table") AS route, count(*)::BIGINT AS n
FROM norm WHERE "table" IN ('user_info', 'base_province')
GROUP BY 1
"""


@register("stream_cdc_routing", oracle=STREAM_CDC_ORACLE)
def stream_cdc_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The base_db CDC pipeline as a real streaming op: Maxwell
    envelopes replayed file-by-file → op normalization (T8) →
    fact/dim set-membership routing (T9) with dynamic Kafka topics
    (K4) and dim upsert keys (K6), both branches drained and reduced
    to per-route counts against a DuckDB filtered-count oracle.
    Garbage ops and unlisted tables must vanish, not crash."""
    from bigdata_spark_realtime_spark.streaming.base_db import (
        parse_cdc,
        route_dims,
        route_facts,
    )

    cdc_dir = os.path.join(ensure_fixtures(), "cdc")
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(cdc_dir)
    )
    cdc = parse_cdc(raw)
    facts = drain_to_memory(route_facts(cdc))
    dims = drain_to_memory(route_dims(cdc))
    fact_counts = facts.groupBy(F.col("topic").alias("route")).agg(
        F.count(F.lit(1)).alias("n")
    )
    dim_counts = dims.groupBy(
        F.concat(F.lit("DIM:"), F.upper("table")).alias("route")
    ).agg(F.count(F.lit(1)).alias("n"))
    return fact_counts.unionByName(dim_counts)


