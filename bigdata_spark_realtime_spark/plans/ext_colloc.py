"""Collocation mining: bigram lift (quantized PMI) over the corpus.

The phrase-detection statistic (Mikolov 2013 word2vec phrases; NLTK
collocations): bigrams whose observed frequency beats the independence
expectation from their parts' unigram frequencies. It is the analysis
that builds multi-word tokenizer entries and stopword-pair lists —
the statistical sibling of the BPE census (`plans/ext_bpe.py`), which
counts raw adjacency; this normalizes by the parts' popularity.

Exactness: true PMI takes a log; ranking doesn't need it (log is
monotone), so the score is the quantized LIFT
``SCALE · c(ab) · N DIV (c(a) · c(b))`` with N = total token count —
pure int64 arithmetic, truncating division identical in both engines.
Magnitudes: SCALE=10⁴, counts ≤ N ≈ 10⁶ at test scale keep products
< 2⁶³; at petabyte token counts drop SCALE or pre-divide N.

Scale (100 TB): token and bigram counts are the two canonical
vocabulary-sized shuffles with map-side partials (the token count is
shared with tf-idf/vocab ops); the lift join runs on
bigram-vocabulary rows against the (broadcastable after a min-count
floor) unigram table; top-K is TakeOrderedAndProject, never a global
sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

#: lift quantization scale
PMI_SCALE = 10_000
#: noise floor: bigrams rarer than this never rank
PMI_MIN_COUNT = 5
#: result size
PMI_TOP_K = 20

BIGRAM_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
-- linear zip-unnest token stream: BOTH the lateral range-join with
-- list indexing AND the plain lateral from-clause unnest join
-- carry the full token list per output row — quadratic in document
-- width (the lateral-unnest uni measured 49 GB on 24 widened docs,
-- OOM-killing the wide-record sweep; see plans/ext_lm.py LM_ORACLE).
-- unnest in the SELECT list is DuckDB's linear explode.
tok AS (
  SELECT doc_id, unnest(t) AS w, unnest(range(len(t))) AS i FROM toks
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cw
  FROM tok
  GROUP BY w
),
n AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tokens FROM uni),
big AS (
  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM tok
  QUALIFY w2 IS NOT NULL
),
bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab
  FROM big GROUP BY w1, w2
  HAVING count(*) >= {PMI_MIN_COUNT}
),
scored AS (
  SELECT bc.w1, bc.w2, bc.cab,
         CAST({PMI_SCALE} * bc.cab * n.n_tokens
              // (u1.cw * u2.cw) AS BIGINT) AS lift_q
  FROM bc
  JOIN uni u1 ON u1.w = bc.w1
  JOIN uni u2 ON u2.w = bc.w2
  CROSS JOIN n
)
SELECT w1, w2, cab, lift_q
FROM scored
ORDER BY lift_q DESC, cab DESC, w1, w2
LIMIT {PMI_TOP_K}
"""


@register("ext_bigram_pmi", oracle=BIGRAM_PMI_ORACLE)
def ext_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K bigrams by quantized lift with a min-count floor."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ", -1).alias("t"))
    from bigdata_spark_realtime_spark.plans.corpus import scoped_persist

    # uni has three consumers (the corpus-total agg and both sides of
    # the lift join) — persist the vocabulary-sized counts so the token
    # explode + groupBy runs once per invocation (r15)
    uni = scoped_persist(
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cw")),
        "ext_bigram_pmi",
        keep=1,
    )
    n = uni.agg(F.sum("cw").cast("bigint").alias("n_tokens"))
    # adjacent pairs map-side: zip the array against its own tail
    big = toks.select(
        F.explode(
            F.expr("zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), (a, b) -> struct(a AS w1, b AS w2))")
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
        .where(F.col("cab") >= PMI_MIN_COUNT)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    scored = (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "cab",
            F.expr(f"CAST({PMI_SCALE} * cab * n_tokens DIV (c1 * c2) AS BIGINT)").alias(
                "lift_q"
            ),
        )
    )
    return scored.orderBy(
        F.col("lift_q").desc(), F.col("cab").desc(), "w1", "w2"
    ).limit(PMI_TOP_K)


@register("stream_bigram_pmi", oracle=BIGRAM_PMI_ORACLE)
def stream_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining as continuous intake — the live phrase
    tracker: unigram and bigram counts accumulate in the state store
    as two complete-mode aggregations over the document stream
    (addition is associative — any arrival order converges; state is
    vocabulary-/bigram-vocabulary-bounded, the same cardinality any
    batch count materializes), then the lift scoring and top-K run on
    the drained count frames exactly like the batch operator
    (`plans/ext_colloc.ext_bigram_pmi`). Oracle = the batch SQL."""
    toks = replay_table(spark, sf_dir, "documents").select(
        F.split("text", " ", -1).alias("t")
    )
    uni_state = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    big_state = (
        toks.select(
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1), "
                    "slice(t, 2, size(t) - 1), "
                    "(a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    uni = drain_to_memory(uni_state, output_mode="complete").select(
        "w", F.col("cw").cast("bigint").alias("cw")
    )
    bc = (
        drain_to_memory(big_state, output_mode="complete")
        .select("w1", "w2", F.col("cab").cast("bigint").alias("cab"))
        .where(F.col("cab") >= PMI_MIN_COUNT)
    )
    n = uni.agg(F.sum("cw").cast("bigint").alias("n_tokens"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    scored = (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "cab",
            F.expr(
                f"CAST({PMI_SCALE} * cab * n_tokens DIV (c1 * c2) AS BIGINT)"
            ).alias("lift_q"),
        )
    )
    return scored.orderBy(
        F.col("lift_q").desc(), F.col("cab").desc(), "w1", "w2"
    ).limit(PMI_TOP_K)
