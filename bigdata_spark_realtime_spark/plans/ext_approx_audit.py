"""Approximation-quality audits: the measured error of every
approximate operator the engine ships.

Every approximate operator (LSH candidate generation, IVF-cell ANN,
quantizers, sketches) trades exactness for scale; a production
curation pipeline publishes the measured quality of that trade before
trusting it — ANN papers report recall@k against exact ground truth,
and MinHash's guarantee (Broder 1997: P[min collision] = Jaccard) is
an expectation that a calibration audit verifies empirically. Each
audit is composed from the engine's own registered operators wherever
one already materializes a side of the comparison, so it certifies
the code paths the dedup/search queries run:

* ``ext_ann_recall_eval`` — recall@k of the IVF-style cell-restricted
  search (`ext_ann_bucketed_topk`) against the exact brute-force
  ground truth (`ext_ann_bruteforce_topk`), per query.
* ``ext_minhash_error_audit`` — per LSH candidate pair: the Jaccard
  estimate implied by the 64-permutation MinHash signatures (fraction
  of agreeing positions) vs the exact shingle-set Jaccard, with the
  absolute calibration error.
* ``ext_semantic_gap_audit`` — SemDeDup's cross-cluster approximation,
  measured: for a bounded audit sample of the vectors
  ``ext_dedup_semantic`` drops, the cell-restricted redundancy score
  (max cosine over cell-mates) vs the EXACT corpus-wide max cosine,
  and the gap between them. A large gap means the quantizer is
  splitting true neighbors across cells and the EPS pruning is keyed
  on an understated redundancy — exactly the quantity SemDeDup
  (Abbas et al. 2023) assumes is small.
* ``ext_simhash_error_audit`` — per band-blocked SimHash candidate
  pair: the bit-agreement the 64-bit fingerprints imply vs the exact
  cosine of the two documents' token-count vectors, with the
  calibration error against the random-hyperplane expectation
  P[bit agrees] = 1 - θ/π (Charikar 2002, STOC — SimHash §4).
* ``ext_hll_error_audit`` — per group: the HLL estimate the engine
  derives in-plan (`olap_extras.approx_aggregates`, float-free
  linear-counting path included) vs the exact distinct count
  (`ext_sketch.ext_hll_distinct`), with the signed relative error.
  HLL's published guarantee is σ ≈ 1.04/√m ≈ 6.5% at m=256
  (Flajolet et al. 2007).
* ``ext_quantile_error_audit`` — the engine's integer-bucket sketch
  median (`approx_aggregates.approx_median_value`) vs the exact
  interpolated median, absolute error. The bucket family guarantees
  ≤ 12.5% relative value error (3-bit mantissa buckets).
* ``ext_srp_error_audit`` — per SRP-LSH candidate pair: signature
  bit-agreement across all SRP_BANDS×SRP_ROWS hyperplanes vs the
  random-hyperplane expectation 1 - θ/π on the exact embedding cosine
  — the embedding-space twin of the SimHash calibration, certifying
  the integer-projection signatures the SRP near-dup query buckets on.

Scale (100 TB): every audit runs on sub-corpus-cardinality frames. The
recall eval touches 2 × N_QUERIES × TOP_K rows after the ANN
operators; the MinHash audit joins signatures and shingle sets — both
assembled map-side by the shared Arrow kernels with zero upstream
shuffles — against the LSH candidate list, so the only rows shuffled
are the |candidates| pairs themselves, never all-pairs. The semantic
audit broadcasts a BOUNDED sample (AUDIT_N rows) of the drop set
against the corpus via the rerank-shaped ``topk_neighbors_broadcast``
kernel — one corpus pass, sample size governs variance. The simhash
audit's exact side shuffles token counts once (the tfidf-class
exchange) joined only against the band pairs; token-count dot products
and norms are INTEGER arithmetic (exact in doubles), so the only float
ops are one division, one sqrt, one acos — rounded to 4 digits on both
engines. The hll/quantile audits run on sketch-cardinality rows
(groups × registers). The SRP audit joins the bucket-blocked pair list
against the band keys (12 int64s per vector) and the vectors — the
verify-join shape the production SRP query runs. At 100 TB you run the
calibrations on a hash-sampled slice; the plan shape is identical.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.corpus import cosine, emb_double
from bigdata_spark_realtime_spark.plans.ext_dedup import (
    _BAND_MASK,
    _SIG_CTE,
    BAND_BITS,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_ORACLE,
    _bucket_pairs,
    _candidates,
    _shingle_sets,
    _signatures_docs,
    ext_dedup_simhash,
)
from bigdata_spark_realtime_spark.plans.ext_semantic import (
    SEMANTIC_ORACLE,
    ext_dedup_semantic,
)
from bigdata_spark_realtime_spark.plans.ext_similarity import (
    BRUTE_ORACLE,
    BUCKETED_ORACLE,
    TOP_K,
    ext_ann_bruteforce_topk,
    ext_ann_bucketed_topk,
)
from bigdata_spark_realtime_spark.plans.ext_sketch import (
    HLL_ORACLE,
    ext_hll_distinct,
)
from bigdata_spark_realtime_spark.plans.ext_srp import (
    SRP_ORACLE,
    srp_band_rows,
)
from bigdata_spark_realtime_spark.plans.olap_extras import (
    APPROX_ORACLE,
    approx_aggregates,
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


#: bounded audit sample of the SemDeDup drop set (lowest vec_ids —
#: deterministic, oracle-replayable). At 100 TB this is the knob that
#: keeps the exact-rerank broadcast bounded; variance of the published
#: gap statistics depends on it, corpus size does not.
AUDIT_N = 25

SEMANTIC_GAP_ORACLE = f"""
WITH drops AS ({SEMANTIC_ORACLE}),
audited AS (SELECT * FROM drops ORDER BY vec_id LIMIT {AUDIT_N}),
exact AS (
  SELECT a.vec_id,
         max(round(list_cosine_similarity(
           ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4))
           AS exact_max_sim
  FROM audited a
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb
    ON eb.vec_id <> a.vec_id AND eb.embedding IS NOT NULL
  GROUP BY a.vec_id
)
SELECT d.cell, d.vec_id, d.max_sim AS cell_max_sim, e.exact_max_sim,
       round(e.exact_max_sim - d.max_sim, 4) AS gap
FROM audited d JOIN exact e USING (vec_id)
"""


@register("ext_semantic_gap_audit", oracle=SEMANTIC_GAP_ORACLE)
def ext_semantic_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cross-cluster gap: for AUDIT_N dropped vectors, the
    production cell-restricted max cosine vs the exact corpus-wide max
    cosine (brute rerank via ``topk_neighbors_broadcast`` with k=1 —
    the same kernel the exact ANN baseline runs). gap == 0 means the
    vector's nearest neighbor shares its cell; gap > 0 quantifies the
    redundancy the quantizer hid from the EPS pruning."""
    from bigdata_spark_realtime_spark.operators.vector_ops import (
        topk_neighbors_broadcast,
    )

    # persist the AUDIT_N-row drop set: it feeds TWO actions (the
    # bounded audited-vector fetch below and the final gap join), and
    # without the pin each action re-runs the whole SemDeDup chain —
    # quantizer, assignment kernel, per-cell M @ M.T — from the scan
    drops = (
        ext_dedup_semantic(spark, sf_dir)
        .orderBy("vec_id")
        .limit(AUDIT_N)
        .persist()
    )
    emb = emb_double(load_table(spark, sf_dir, "embeddings"))
    # bounded driver fetch (<= AUDIT_N rows) — the kernel's documented
    # broadcast contract, identical to the brute ANN's query fetch
    audited_pdf = (
        emb.join(drops.select("vec_id"), "vec_id").select("vec_id", "embedding")
    ).toPandas()
    exact = (
        topk_neighbors_broadcast(emb, audited_pdf, k=1)
        .groupBy(F.col("query_id").alias("vec_id"))
        .agg(F.max("cos_sim").alias("exact_max_sim"))
    )
    return drops.join(exact, "vec_id").select(
        "cell",
        "vec_id",
        F.col("max_sim").alias("cell_max_sim"),
        "exact_max_sim",
        F.round(F.col("exact_max_sim") - F.col("max_sim"), 4).alias("gap"),
    )


# exact token-space cosine: tokens are the SAME split the simhash
# fingerprint hashes (space-split, empties included), so the audit
# compares the fingerprint against the vector it actually sketches.
# Counts are integers — dot products and squared norms are exact in
# doubles regardless of summation order, so both engines compute
# bit-identical cosines before the single rounded division.
#
# AUDIT_FANOUT caps the audited pairs per doc_a (smallest doc_b win —
# deterministic): random 16-bit band collisions grow the raw candidate
# list quadratically over the keyspace (measured: 188k pairs at sf0.1,
# 4.08M at a 10x replica — the round-14 scale smoke's one real
# catch), and a calibration audit needs a bounded, unbiased sample,
# not every pair. The cap makes audit work O(fanout x docs) — linear.
AUDIT_FANOUT = 8

SIMHASH_ERR_ORACLE = f"""
WITH sh AS ({SIMHASH_ORACLE}),
bands AS (
  SELECT doc_id, b, (simhash >> (b * {BAND_BITS})) & {_BAND_MASK} AS key
  FROM sh, (SELECT unnest(range({SIMHASH_BANDS})) AS b)
),
rawcand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
),
cand AS (
  SELECT doc_a, doc_b FROM rawcand
  QUALIFY row_number() OVER (PARTITION BY doc_a ORDER BY doc_b)
          <= {AUDIT_FANOUT}
),
tc AS (
  SELECT doc_id, t.tok, count(*) AS c
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
       LATERAL (SELECT unnest(toks) AS tok) t
  GROUP BY doc_id, t.tok
),
norms AS (SELECT doc_id, sum(c * c) AS n2 FROM tc GROUP BY doc_id),
dots AS (
  SELECT c.doc_a, c.doc_b, sum(ta.c * tb.c) AS dot
  FROM cand c
  JOIN tc ta ON ta.doc_id = c.doc_a
  JOIN tc tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INT) AS hamming,
         round(1.0 - bit_count(xor(s1.simhash, s2.simhash))::DOUBLE
                     / {SIMHASH_BITS}, 4) AS est_agreement,
         round(coalesce(d.dot, 0)::DOUBLE
               / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 4)
           AS exact_cos,
         coalesce(d.dot, 0)::DOUBLE
           / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)) AS raw_cos
  FROM cand c
  JOIN sh s1 ON c.doc_a = s1.doc_id
  JOIN sh s2 ON c.doc_b = s2.doc_id
  JOIN norms na ON na.doc_id = c.doc_a
  JOIN norms nb ON nb.doc_id = c.doc_b
  LEFT JOIN dots d ON d.doc_a = c.doc_a AND d.doc_b = c.doc_b
)
SELECT doc_a, doc_b, hamming, est_agreement, exact_cos,
       round(abs(est_agreement
                 - (1.0 - acos(least(greatest(raw_cos, -1.0), 1.0)) / pi())),
             4) AS abs_err
FROM scored
"""


@register("ext_simhash_error_audit", oracle=SIMHASH_ERR_ORACLE)
def ext_simhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash calibration, per band-blocked candidate pair: fingerprint
    bit-agreement (1 - hamming/64) vs the random-hyperplane expectation
    1 - θ/π on the exact token-count cosine. The exact side reuses the
    fingerprints' own tokenizer; the only shuffles are the token-count
    aggregation (tfidf-class) and the |candidates| pair join."""
    from pyspark.sql import Window

    sh = ext_dedup_simhash(spark, sf_dir)
    bands = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright("simhash", b * BAND_BITS)
                        .bitwiseAND(_BAND_MASK)
                        .alias("key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.b", "bb.key")
    fanout_w = Window.partitionBy("doc_a").orderBy("doc_b")
    cand = (
        _bucket_pairs(bands, ("b", "key"))
        .withColumn("rn", F.row_number().over(fanout_w))
        .where(F.col("rn") <= AUDIT_FANOUT)
        .select("doc_a", "doc_b")
    )

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    norms = tc.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    ta = tc.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("c").alias("ca")
    )
    tb = tc.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("c").alias("cb")
    )
    dots = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    s1 = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    s2 = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    raw_cos = F.coalesce(F.col("dot"), F.lit(0)).cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    est = F.round(
        F.lit(1.0) - hamming.cast("double") / SIMHASH_BITS, 4
    )
    pred = F.lit(1.0) - F.acos(
        F.least(F.greatest(raw_cos, F.lit(-1.0)), F.lit(1.0))
    ) / F.lit(math.pi)
    return (
        cand.join(s1, "doc_a")
        .join(s2, "doc_b")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .join(dots, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            hamming.cast("int").alias("hamming"),
            est.alias("est_agreement"),
            F.round(raw_cos, 4).alias("exact_cos"),
            F.round(F.abs(est - pred), 4).alias("abs_err"),
        )
    )


HLL_ERR_ORACLE = f"""
WITH ap AS ({APPROX_ORACLE}),
hx AS ({HLL_ORACLE})
SELECT ap.event_type,
       ap.approx_users,
       hx.exact_distinct,
       round((ap.approx_users - hx.exact_distinct)::DOUBLE
             / hx.exact_distinct, 6) AS rel_err
FROM ap JOIN hx USING (event_type)
"""


@register("ext_hll_error_audit", oracle=HLL_ERR_ORACLE)
def ext_hll_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL estimate vs exact distinct, per event_type — both sides the
    engine's own registered operators (approx_aggregates derives the
    estimate in-plan; ext_hll_distinct carries the exact count beside
    the sketch state), joined on sketch-cardinality rows."""
    ap = approx_aggregates(spark, sf_dir).select("event_type", "approx_users")
    hx = ext_hll_distinct(spark, sf_dir).select("event_type", "exact_distinct")
    return ap.join(hx, "event_type").select(
        "event_type",
        "approx_users",
        "exact_distinct",
        F.round(
            (F.col("approx_users") - F.col("exact_distinct")).cast("double")
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


QUANT_ERR_ORACLE = f"""
WITH ap AS ({APPROX_ORACLE}),
ex AS (
  SELECT event_type,
         median(CAST(floor(value * 100) AS BIGINT)) / 100.0
           AS exact_median_value
  FROM events WHERE value > 0 GROUP BY event_type
)
SELECT ap.event_type,
       ap.approx_median_value,
       ex.exact_median_value,
       round(abs(ap.approx_median_value - ex.exact_median_value), 4)
         AS abs_err
FROM ap LEFT JOIN ex USING (event_type)
"""


@register("ext_quantile_error_audit", oracle=QUANT_ERR_ORACLE)
def ext_quantile_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-sketch median vs the exact interpolated median of the
    same integer-cent values, per event_type. The exact side
    interpolates halves of BIGINTs — exact in doubles on both engines
    — so abs_err is deterministic."""
    ap = approx_aggregates(spark, sf_dir).select(
        "event_type", "approx_median_value"
    )
    ev = load_table(spark, sf_dir, "events")
    ex = (
        ev.where(F.col("value") > 0)
        .select(
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("v100"),
        )
        .groupBy("event_type")
        .agg((F.expr("percentile(v100, 0.5)") / 100.0).alias("exact_median_value"))
    )
    return ap.join(ex, "event_type", "left").select(
        "event_type",
        "approx_median_value",
        "exact_median_value",
        F.round(
            F.abs(F.col("approx_median_value") - F.col("exact_median_value")), 4
        ).alias("abs_err"),
    )


_SRP_PLANES = H.SRP_BANDS * H.SRP_ROWS

# reuse the production oracle's integer-projection CTEs (q/sig/bands/
# cand) verbatim by slicing SRP_ORACLE at its final SELECT — a literal
# re-statement would drift the moment the signature definition moves
_SRP_CTE = SRP_ORACLE[: SRP_ORACLE.index("SELECT c.vec_a")]

#: per-vector audit fanout (smallest vec_b win): keeps the calibration
#: sample linear in corpus size — the same quadratic-candidate guard as
#: AUDIT_FANOUT (random band collisions grow the raw
#: pair list superlinearly; an audit needs a bounded deterministic
#: sample, not every pair)
SRP_AUDIT_FANOUT = 8

SRP_ERR_ORACLE = _SRP_CTE.rstrip() + f""",
capped AS (
  SELECT vec_a, vec_b FROM cand
  QUALIFY row_number() OVER (PARTITION BY vec_a ORDER BY vec_b)
          <= {SRP_AUDIT_FANOUT}
),
agree AS (
  SELECT c.vec_a, c.vec_b,
         CAST(sum(bit_count(xor(a.key, b.key))) AS INT) AS hamming
  FROM capped c
  JOIN bands a ON a.vec_id = c.vec_a
  JOIN bands b ON b.vec_id = c.vec_b AND b.band = a.band
  GROUP BY c.vec_a, c.vec_b
),
scored AS (
  SELECT g.vec_a, g.vec_b, g.hamming,
         round(1.0 - g.hamming::DOUBLE / {_SRP_PLANES}, 4) AS est_agreement,
         list_cosine_similarity(e1.embedding::DOUBLE[],
                                e2.embedding::DOUBLE[]) AS raw_cos
  FROM agree g
  JOIN embeddings e1 ON g.vec_a = e1.vec_id
  JOIN embeddings e2 ON g.vec_b = e2.vec_id
)
SELECT vec_a, vec_b, hamming, est_agreement,
       round(raw_cos, 4) AS exact_cos,
       round(abs(est_agreement
                 - (1.0 - acos(least(greatest(raw_cos, -1.0), 1.0)) / pi())),
             4) AS abs_err
FROM scored
"""


@register("ext_srp_error_audit", oracle=SRP_ERR_ORACLE)
def ext_srp_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP calibration, per bucket-blocked candidate pair: signature
    bit-agreement (over all {bands×rows} integer-projection planes) vs
    the 1 - θ/π hyperplane expectation on the exact embedding cosine.
    The oracle reuses the production query's own signature CTEs, so
    this audits exactly the buckets ext_dedup_embedding_srp pairs on."""
    from pyspark.sql import Window

    from bigdata_spark_realtime_spark.operators.shingling import bucket_pairs

    e = emb_double(load_table(spark, sf_dir, "embeddings"))
    bands = srp_band_rows(e)
    fanout_w = Window.partitionBy("vec_a").orderBy("vec_b")
    cand = (
        bucket_pairs(
            bands.withColumnRenamed("vec_id", "doc_id"), ("band", "key")
        )
        .select(F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b"))
        .withColumn("rn", F.row_number().over(fanout_w))
        .where(F.col("rn") <= SRP_AUDIT_FANOUT)
        .select("vec_a", "vec_b")
    )
    ka = bands.select(
        F.col("vec_id").alias("vec_a"), "band", F.col("key").alias("key_a")
    )
    kb = bands.select(
        F.col("vec_id").alias("vec_b"), "band", F.col("key").alias("key_b")
    )
    agree = (
        cand.join(ka, "vec_a")
        .join(kb, ["vec_b", "band"])
        .groupBy("vec_a", "vec_b")
        .agg(
            F.sum(F.bit_count(F.col("key_a").bitwiseXOR(F.col("key_b"))))
            .cast("int")
            .alias("hamming")
        )
    )
    e1 = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    e2 = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    raw_cos = cosine(F.col("emb_a"), F.col("emb_b"))
    est = F.round(
        F.lit(1.0) - F.col("hamming").cast("double") / _SRP_PLANES, 4
    )
    pred = F.lit(1.0) - F.acos(
        F.least(F.greatest(raw_cos, F.lit(-1.0)), F.lit(1.0))
    ) / F.lit(math.pi)
    return (
        agree.join(e1, "vec_a")
        .join(e2, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "hamming",
            est.alias("est_agreement"),
            F.round(raw_cos, 4).alias("exact_cos"),
            F.round(F.abs(est - pred), 4).alias("abs_err"),
        )
    )
