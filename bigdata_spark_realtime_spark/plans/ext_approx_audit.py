"""Tail-registration shim: approximation-quality audits (round 13).

Every approximate operator in the engine (LSH candidate generation,
IVF-cell ANN, sketches) trades exactness for scale; a production
curation pipeline publishes the measured quality of that trade before
trusting it — ANN papers report recall@k against exact ground truth,
and MinHash's guarantee (Broder 1997: P[min collision] = Jaccard) is
an expectation that a calibration audit verifies empirically. These
two operators are those audits, composed entirely from the engine's
own primitives so they certify the exact code paths the dedup/search
queries run:

* ``ext_ann_recall_eval`` — recall@k of the IVF-style cell-restricted
  search (`ext_ann_bucketed_topk`) against the exact brute-force
  ground truth (`ext_ann_bruteforce_topk`), per query.
* ``ext_minhash_error_audit`` — per LSH candidate pair: the Jaccard
  estimate implied by the 64-permutation MinHash signatures (fraction
  of agreeing positions) vs the exact shingle-set Jaccard, with the
  absolute calibration error.

Defined at the end of the registry walk to respect the pinned gate
window's splice rule; both enter PENDING_FIRST_DRIVER_ROW (seat R15 —
the R14 window was simulated and committed before this module
existed).

Scale (100 TB): both audits run on sub-corpus-cardinality frames. The
recall eval touches 2 × N_QUERIES × TOP_K rows after the (already
scale-audited) ANN operators; the MinHash audit joins signatures and
shingle sets — both assembled map-side by the shared Arrow kernels
with zero upstream shuffles — against the LSH candidate list, so the
only rows shuffled are the |candidates| pairs themselves, never
all-pairs. At 100 TB you run the calibration on a hash-sampled slice
(the estimate's variance depends on K and |candidates|, not corpus
size); the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.ext_dedup import (
    _SIG_CTE,
    _candidates,
    _shingle_sets,
    _signatures_docs,
)
from bigdata_spark_realtime_spark.plans.ext_similarity import (
    BRUTE_ORACLE,
    BUCKETED_ORACLE,
    TOP_K,
    ext_ann_bruteforce_topk,
    ext_ann_bucketed_topk,
)
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

RECALL_ORACLE = f"""
WITH brute AS ({BRUTE_ORACLE}),
approx AS ({BUCKETED_ORACLE})
SELECT b.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       round(count(a.neighbor_id)::DOUBLE / {TOP_K}, 4) AS recall_at_k
FROM brute b
LEFT JOIN approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""


@register("ext_ann_recall_eval", oracle=RECALL_ORACLE)
def ext_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the cell-restricted ANN vs exact brute force, per
    query: |approx top-k ∩ exact top-k| / k. Both sides are the
    engine's own registered operators, so this audit certifies the
    production plans, not re-derivations. The join and aggregate run
    on 2 × N_QUERIES × TOP_K rows — driver-trivial regardless of
    corpus size."""
    brute = ext_ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = ext_ann_bucketed_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        brute.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("bigint").alias("n_hits"),
            F.round(F.count("hit").cast("double") / TOP_K, 4).alias(
                "recall_at_k"
            ),
        )
    )


_MATCH_SUM = " + ".join(
    f"CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END" for j in range(H.K)
)

MINHASH_ERR_ORACLE = _SIG_CTE + f"""
, scored AS (
  SELECT c.doc_a, c.doc_b,
         round(({_MATCH_SUM})::DOUBLE / {H.K}, 4) AS est_jaccard,
         round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
               / len(list_distinct(a.shingles || b.shingles)), 4)
           AS exact_jaccard
  FROM cand c
  JOIN sig a ON c.doc_a = a.doc_id
  JOIN sig b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
       round(abs(est_jaccard - exact_jaccard), 4) AS abs_err
FROM scored
"""


@register("ext_minhash_error_audit", oracle=MINHASH_ERR_ORACLE)
def ext_minhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration audit over the LSH candidate pairs:
    est_jaccard = (# of the K=64 signature positions that agree)/K —
    the unbiased estimator the LSH banding thresholds assume — next to
    the exact shingle-set Jaccard and their absolute error.

    Signatures and shingle sets come from the same map-side Arrow
    kernels the dedup family runs (operators/shingling.py — zero
    upstream shuffles); the estimate/exact comparison therefore audits
    the deployed hash pipeline bit-for-bit. The per-doc frame
    (signature + shingle set) is assembled once and persisted
    (MEMORY_AND_DISK, mirroring ext_dedup_ngram_jaccard's sh reuse) so
    joining it from both pair sides re-reads cache instead of
    re-running the kernels; only candidate-pair rows shuffle — two
    id-keyed joins of the bounded pair list. abs_err is computed from
    the two already-rounded 4-dp values, so it is a multiple of 1e-4
    with no 5th-decimal tie for either engine to round differently."""
    docs = load_table(spark, sf_dir, "documents")
    cand = _candidates(spark, sf_dir)
    per_doc = (
        _signatures_docs(docs)
        .join(_shingle_sets(spark, sf_dir), "doc_id")
        .persist()
    )

    a = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        *[F.col(f"m{j}").alias(f"a_m{j}") for j in range(H.K)],
    )
    b = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        *[F.col(f"m{j}").alias(f"b_m{j}") for j in range(H.K)],
    )

    matches = sum(
        F.when(F.col(f"a_m{j}") == F.col(f"b_m{j}"), 1).otherwise(0)
        for j in range(H.K)
    )
    exact = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    est = F.round(matches.cast("double") / H.K, 4)
    exa = F.round(exact, 4)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            exa.alias("exact_jaccard"),
            F.round(F.abs(est - exa), 4).alias("abs_err"),
        )
    )
