"""CCNet-style n-gram LM quality scoring over the `documents` table.

CCNet (Wenzek et al., 2020) filters web text by the perplexity of a
small LM trained on a trusted corpus, bucketing documents into
head/middle/tail. The reference repo has no LM operator (its closest
analogue is the keyword filter, `app/dwd_DauApp.scala`); this extends
the engine for training-data curation.

Design:
- **Train**: a deterministic ~10% hash-slice of the corpus is the
  "trusted" reference (stand-in for Wikipedia in CCNet; the slice is
  md5-bucketed so both engines select identical docs). Bigram and
  unigram-prefix counts come from one explode + groupBy each.
- **Score**: each document's adjacent token pairs are Laplace-smoothed
  against the trained counts. Per-pair *surprise* is the inverse
  conditional probability 1/p(w2|w1) = (c(w1) + V) / (c(w1,w2) + 1),
  integer-quantized as ``(c1 + V) * SCALE DIV (c12 + 1)``; the doc
  score is the integer mean of its pair surprises.
- **Bucket**: head/middle/tail by fixed score thresholds (at corpus
  scale these are corpus quantiles computed once with
  ``approx_percentile`` and broadcast; fixed literals here keep the
  query one pass and the oracle exact).

Why integer-quantized inverse probability instead of true log-domain
perplexity: a float ``sum(log p)`` is summation-order-dependent and
``ln`` is not guaranteed bit-identical across engines' libm, so the
DuckDB oracle could diverge in the last ULP. Integer arithmetic is
exact and order-independent everywhere (same rationale as the SRP
integer projections, functions/hashing.py). The arithmetic mean of
1/p is a monotone-enough stand-in for the geometric mean (true
perplexity) for filtering; a production scorer would emit float
logprobs and skip cross-engine hash verification.

Scale (100 TB): the LM itself is bounded by vocabulary, not corpus
size — counts live in one shuffle over the 10% slice's bigrams and the
score join is LM-side-small (broadcast-eligible; AQE decides from
runtime stats, matching plans/hints.py policy). The corpus side is
exploded to bigram rows once and aggregated straight back to one row
per doc — no global sort, no driver collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark import cache
from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

#: deterministic train-slice selector: md5-bucket of doc_id, ~10%
TRAIN_PCT = 10
_TRAIN_KEY_SQL = "'lm|' || CAST(doc_id AS VARCHAR)"
_TRAIN_BUCKET_SQL = f"{H.h32_sql(_TRAIN_KEY_SQL)} % 100"
#: integer quantization scale for the surprise ratio
SCALE = 1_000_000
#: head/middle/tail thresholds on the mean quantized surprise (stand-in
#: for corpus ~33/66% quantiles; see module docstring)
HEAD_MAX = 36 * SCALE
MIDDLE_MAX = 39 * SCALE

#: hard cap on the number of distinct bigrams :func:`train_lm` will
#: collect to the driver. The trained LM is a worker-shipped artifact
#: (tokenizer-shaped), so it MUST be driver-sized — but at 100 TB a
#: corpus's bigram vocabulary need not be, and the failure mode of an
#: unguarded collect is a silent driver OOM. ~20M entries ≈ low-GB of
#: python dict; beyond that the train fails LOUDLY (see guard below)
#: pointing at the broadcast-join scoring form that never collects
#: (plans/streaming_queries.stream_lm_bucket).
LM_MAX_BIGRAMS = 20_000_000

_BUCKET_CASE_SQL = (
    f"CASE WHEN lm_score < {HEAD_MAX} THEN 'head' "
    f"WHEN lm_score < {MIDDLE_MAX} THEN 'middle' ELSE 'tail' END"
)

LM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
-- zip-unnest + lead() instead of the lateral range-join with t[i+1]
-- indexing: the join form makes DuckDB carry the whole token LIST on
-- every pair row, quadratic in document width (a single 1 MiB doc
-- cost 310 s / >8 GB; the wide-record boundary sweep OOM-killed the
-- harness at 126 GB). This form is linear and byte-identical.
tok AS (
  SELECT doc_id, unnest(t) AS w, unnest(range(len(t))) AS i FROM toks
),
pairs AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM tok
  QUALIFY w2 IS NOT NULL
),
train AS (
  SELECT w1, w2 FROM pairs WHERE {_TRAIN_BUCKET_SQL} < {TRAIN_PCT}
),
big AS (SELECT w1, w2, count(*) AS c12 FROM train GROUP BY w1, w2),
uni AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY w1),
v AS (SELECT count(*) AS vocab FROM uni),
scored AS (
  -- every operand is BIGINT (DuckDB sum() widens to HUGEINT, which
  -- pandas would surface as float64 and break the dtype compare)
  SELECT p.doc_id,
         (COALESCE(u.c1, 0) + v.vocab) * {SCALE}
           // (COALESCE(b.c12, 0) + 1) AS surprise
  FROM pairs p
  CROSS JOIN v
  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
  LEFT JOIN uni u ON p.w1 = u.w1
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(surprise) // count(*) AS BIGINT) AS lm_score,
       {_BUCKET_CASE_SQL.replace('lm_score', '(sum(surprise) // count(*))')}
         AS lm_bucket
FROM scored
GROUP BY doc_id
"""


def _bigram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token pair, in-doc
    duplicates kept (they weight the doc mean, as in a real LM),
    emitted map-side by the shared Arrow kernel: the JVM
    transform/element_at explode measured ~3.3 s vs ~0.3 s at sf0.1
    (same pathology the dedup family's shingling fix removed)."""
    from bigdata_spark_realtime_spark.operators.shingling import token_pair_rows

    return token_pair_rows(
        docs,
        min_parallelism=docs.sparkSession.sparkContext.defaultParallelism,
    )


def train_lm(spark: SparkSession, sf_dir: str):
    """Train the bigram LM on the deterministic 10% hash-slice and
    return ``(big: dict[(w1, w2), int], uni: dict[w1, int], vocab)``.

    The collected LM is bounded by VOCABULARY, not corpus size — the
    CCNet deployment shape ships the trained model to every worker
    exactly like a tokenizer artifact. A pre-collect count() enforces
    :data:`LM_MAX_BIGRAMS` so an over-vocabulary corpus fails loudly
    instead of OOMing the driver. (For an LM too large for one worker,
    the broadcast-join form survives in the streaming twin,
    plans/streaming_queries.stream_lm_bucket.)

    The model is deterministic data derived from the documents table,
    so it is memoized on that table: reuse saves the ~0.7 s train job
    every LM-scoring invocation (ext_lm_score, ext_curation_scored)
    would pay."""
    return cache.memo(
        spark, sf_dir, "documents", "lm", lambda: _train_lm(spark, sf_dir)
    )


def _train_lm(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    # filter BEFORE the pair kernel: Catalyst cannot push a predicate
    # through mapInPandas, so filtering after would run the kernel on
    # 100% of the corpus to keep the 10% train slice
    train_key = H.h32(F.concat(F.lit("lm|"), F.col("doc_id").cast("string"))) % 100
    train = _bigram_rows(docs.where(train_key < TRAIN_PCT))
    agg = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # size guard BEFORE the collect: count() on the persisted aggregate
    # is cluster-side and cheap; collect() on an over-vocabulary LM is a
    # driver OOM with no error message. persist() so the count and the
    # collect share the one bigram shuffle.
    agg = agg.persist()
    try:
        n_bigrams = agg.count()
        if n_bigrams > LM_MAX_BIGRAMS:
            raise RuntimeError(
                f"train_lm: {n_bigrams} distinct bigrams exceeds "
                f"LM_MAX_BIGRAMS={LM_MAX_BIGRAMS}; the trained LM is not "
                "driver-sized at this corpus scale. Use the broadcast-join "
                "scoring form instead (plans/streaming_queries."
                "stream_lm_bucket scores against the counts DataFrame "
                "without collecting it), or raise the cap if the driver "
                "genuinely has the memory."
            )
        counts = agg.collect()
    finally:
        agg.unpersist()
    big = {(r["w1"], r["w2"]): r["c12"] for r in counts}
    uni: dict[str, int] = {}
    for (w1, _), c in big.items():
        uni[w1] = uni.get(w1, 0) + c
    return big, uni, len(uni)


@register("ext_lm_score", oracle=LM_ORACLE)
def ext_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score per document: Laplace-smoothed inverse
    conditional probability, integer-quantized, trained on a
    deterministic 10% hash-slice; head/middle/tail buckets.

    Scoring is ONE map-side Arrow kernel over the corpus — the trained
    LM rides along as a broadcast dict (vocabulary-bounded, see
    :func:`train_lm`), each doc's pairs are looked up and reduced to
    (n_bigrams, total surprise) inside the batch, and score/bucket are
    derived per row. Zero exchanges on the 100 TB side (plan-pinned);
    the earlier broadcast-join form measured 2.0 s vs ~0.5 s at sf0.1
    because it exploded the corpus to 265k pair rows, shuffled them
    into the final per-doc aggregation, and paid three joins."""
    import numpy as np
    import pandas as pd

    from bigdata_spark_realtime_spark.operators.shingling import (
        _factorize_pairs,
        _toks,
    )

    big, uni, vocab = train_lm(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    bc = spark.sparkContext.broadcast((big, uni, vocab))

    def score(batches):
        b_big, b_uni, b_vocab = bc.value
        for pdf in batches:
            ids, ns, starts, pair_parts, pos = [], [], [], [], 0
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _toks(text)
                if len(toks) < 2:
                    continue
                ids.append(doc_id)
                ns.append(len(toks) - 1)
                starts.append(pos)
                pair_parts.append(list(zip(toks[:-1], toks[1:])))
                pos += len(toks) - 1
            if not ids:
                continue
            # r15: bigrams factorized across the batch — the smoothed-
            # surprise arithmetic and both dict lookups run once per
            # DISTINCT pair; per-doc totals are one gather +
            # add.reduceat. Exact integer arithmetic, identical to the
            # SQL: (c1 + V) * SCALE DIV (c12 + 1); the int64 total
            # domain matches the SQL form's BIGINT sum.
            all_pairs = [p for part in pair_parts for p in part]
            codes, uniq = _factorize_pairs(all_pairs)
            s_u = np.fromiter(
                (
                    (b_uni.get(w1, 0) + b_vocab) * SCALE
                    // (b_big.get((w1, w2), 0) + 1)
                    for w1, w2 in uniq
                ),
                np.int64,
                len(uniq),
            )
            totals = np.add.reduceat(s_u[codes], np.array(starts))
            scores = totals // np.array(ns, dtype=np.int64)
            yield pd.DataFrame(
                {"doc_id": ids, "n_bigrams": ns, "lm_score": scores}
            )

    scored = docs.select("doc_id", "text").mapInPandas(
        score, "doc_id long, n_bigrams long, lm_score long"
    )
    bucket = (
        F.when(F.col("lm_score") < HEAD_MAX, "head")
        .when(F.col("lm_score") < MIDDLE_MAX, "middle")
        .otherwise("tail")
    )
    return scored.select(
        "doc_id", "n_bigrams", "lm_score", bucket.alias("lm_bucket")
    )
