"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) over the `documents` table.

DSIR selects pretraining data that is distributionally close to a
trusted target corpus: featurize every document into HASHED n-gram
buckets, estimate bucket distributions for the target and the raw pool,
and weight each document by its importance ratio p_target/p_raw under a
bag-of-features model. The reference repo has no selection operator
(its closest analogue is the keyword filter, `app/dwd_DauApp.scala`);
this extends the engine for training-data curation alongside the CCNet
LM scorer (plans/ext_lm.py).

Design:
- **Features**: unigrams + bigrams hashed into ``DSIR_BUCKETS``
  buckets (h32 % B, the md5-derived hash shared with the quality
  classifier) — DSIR's own trick for a FIXED-SIZE model: unlike the
  bigram LM, the count tables are B integers regardless of corpus
  vocabulary, so the model is driver-sized by construction at any
  corpus scale (no size guard needed — contrast ext_lm.LM_MAX_BIGRAMS).
- **Target**: the deterministic ~10% md5 hash-slice of the corpus
  (stand-in for Wikipedia/books in the paper; md5-bucketed so both
  engines select identical docs, same device as ext_lm's train slice).
- **Weight**: per-feature importance ratio, Laplace-smoothed and
  integer-quantized::

      ratio(b) = SCALE·(c_t(b)+1)·(TOT_r+B) DIV ((c_r(b)+1)·(TOT_t+B))

  i.e. ≈ SCALE · p_target(b) / p_raw(b); the doc weight is the integer
  mean of its features' ratios (the same log-free monotone surrogate
  for the paper's sum-of-log-ratios that ext_lm documents for
  perplexity — exact and order-independent in both engines).
- **Select**: keep documents whose weight is ≥ the corpus-mean weight
  (integer mean, exact in both engines) — Laplace smoothing biases the
  absolute scale of the quantized ratios with corpus size, so a fixed
  literal threshold would select everything at one SF and nothing at
  another; the relative rule is scale-free. The paper resamples
  proportionally; a threshold keep is the deterministic,
  oracle-checkable variant and the common production shape.

NULL policy: NULL-text docs are dropped on both sides (the
ext_quality_classifier rule).

Scale (100 TB):
- the bucket census is one Arrow kernel pass emitting ≤ B partial rows
  per batch (map-side bincount), then a ≤ B-row groupBy — shuffle
  volume is bounded by B × n_batches, never by token count;
- the ratio table is computed driver-side from the B-row census with
  Python arbitrary-precision ints (no int64 overflow however large the
  corpus totals get) and broadcast like a model artifact;
- scoring is one map-side kernel over the corpus with the ratio table
  riding along — ZERO corpus exchanges, same shape as the classifier
  and LM scorers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark import cache
from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

#: hashed-feature buckets — the fixed model size (the paper uses 10k;
#: 4096 keeps oracle arithmetic small at test scale, shape-independent)
DSIR_BUCKETS = 4096
#: deterministic target-slice selector: md5-bucket of doc_id, ~10%
TARGET_PCT = 10
_TGT_KEY_SQL = "'dsir|' || CAST(doc_id AS VARCHAR)"
_TGT_BUCKET_SQL = f"{H.h32_sql(_TGT_KEY_SQL)} % 100"
#: integer quantization scale for the importance ratio
SCALE = 1_000_000

DSIR_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
f AS (
  SELECT doc_id,
         unnest(list_concat(toks, {H.shingles_sql('toks', 2)})) AS feat
  FROM t
),
fb AS (
  SELECT doc_id, {H.h32_sql('feat')} % {DSIR_BUCKETS} AS b,
         {_TGT_BUCKET_SQL} < {TARGET_PCT} AS in_t
  FROM f
),
tots AS (
  SELECT CAST(count(*) AS BIGINT) AS tr,
         CAST(count(*) FILTER (WHERE in_t) AS BIGINT) AS tt
  FROM fb
),
cnt AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cr,
         CAST(count(*) FILTER (WHERE in_t) AS BIGINT) AS ct
  FROM fb GROUP BY b
),
ratio AS (
  -- every operand BIGINT; products stay far inside int64 at test SF
  -- (the Spark side computes this table with Python bigints instead)
  SELECT b,
         {SCALE} * (ct + 1) * (tr + {DSIR_BUCKETS})
           // ((cr + 1) * (tt + {DSIR_BUCKETS})) AS rat
  FROM cnt CROSS JOIN tots
),
scored AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(rat) // count(*) AS BIGINT) AS w
  FROM fb JOIN ratio USING (b)
  GROUP BY doc_id
),
m AS (SELECT CAST(sum(w) // count(*) AS BIGINT) AS mean_w FROM scored)
SELECT doc_id, n_feats, w AS dsir_weight,
       CASE WHEN w >= mean_w THEN 'keep' ELSE 'drop' END AS dsir_keep
FROM scored CROSS JOIN m
"""


def train_dsir(spark: SparkSession, sf_dir: str):
    """Bucket census → integer ratio table (numpy int64, length
    ``DSIR_BUCKETS``). The census reaches the driver as ≤ B rows by
    construction — the model is fixed-size, not vocabulary-bounded.
    Memoized on the documents table, like the LM."""
    return cache.memo(
        spark, sf_dir, "documents", "dsir", lambda: _train_dsir(spark, sf_dir)
    )


def _train_dsir(spark: SparkSession, sf_dir: str):
    import numpy as np
    import pandas as pd

    from bigdata_spark_realtime_spark.operators.shingling import (
        _h32_arr,
        _shingle_strs,
        _toks,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    in_t = (
        H.h32(F.concat(F.lit("dsir|"), F.col("doc_id").cast("string"))) % 100
        < TARGET_PCT
    )

    from bigdata_spark_realtime_spark.operators.shingling import _factorize

    def census(batches):
        # r16: factorized like the classifier/LM kernels (guide §4.2) —
        # md5 once per DISTINCT feature in the batch, bucket counts via
        # two whole-batch bincounts instead of one 4096-slot bincount
        # per document. Identical counts: bincount over the gathered
        # codes regroups the same +1 terms by equal bucket.
        for pdf in batches:
            feat_parts, ns, flags = [], [], []
            for text, is_t in zip(pdf["text"], pdf["in_t"]):
                toks = _toks(text)
                feats = toks + _shingle_strs(toks, 2)
                feat_parts.append(feats)
                ns.append(len(feats))
                flags.append(bool(is_t))
            all_feats = [f for part in feat_parts for f in part]
            if not all_feats:
                continue
            codes, uniq = _factorize(all_feats)
            bs_all = (_h32_arr(uniq) % DSIR_BUCKETS)[codes]
            raw = np.bincount(bs_all, minlength=DSIR_BUCKETS)
            in_t_mask = np.repeat(
                np.array(flags, dtype=bool), np.array(ns, dtype=np.int64)
            )
            tgt = np.bincount(bs_all[in_t_mask], minlength=DSIR_BUCKETS)
            nz = np.nonzero(raw)[0]
            if nz.size:
                yield pd.DataFrame(
                    {"b": nz, "cr": raw[nz], "ct": tgt[nz]}
                )

    rows = (
        docs.select("text", in_t.alias("in_t"))
        .mapInPandas(census, "b long, cr long, ct long")
        .groupBy("b")
        .agg(F.sum("cr").alias("cr"), F.sum("ct").alias("ct"))
        .collect()
    )
    cr = np.zeros(DSIR_BUCKETS, dtype=object)
    ct = np.zeros(DSIR_BUCKETS, dtype=object)
    for r in rows:
        cr[r["b"]], ct[r["b"]] = r["cr"], r["ct"]
    tr, tt = int(cr.sum()), int(ct.sum())
    # Python bigints: exact at any corpus scale, quantized into int64
    ratio = np.array(
        [
            SCALE * (int(ct[b]) + 1) * (tr + DSIR_BUCKETS)
            // ((int(cr[b]) + 1) * (tt + DSIR_BUCKETS))
            for b in range(DSIR_BUCKETS)
        ],
        dtype=np.int64,
    )
    return ratio


#: output schema of the scoring kernel (shared with the stream twin)
SCORE_SCHEMA = "doc_id long, n_feats long, dsir_weight long"


def make_score_kernel(ratio_bc):
    """mapInPandas generator scoring (doc_id, text) batches against the
    broadcast ratio table — STATELESS, so it runs unchanged on a batch
    or a streaming frame (the stream_dsir_select twin)."""
    import pandas as pd

    from bigdata_spark_realtime_spark.operators.shingling import (
        _h32_arr,
        _shingle_strs,
        _toks,
    )

    def score(batches):
        import numpy as np

        from bigdata_spark_realtime_spark.operators.shingling import _factorize

        b_ratio = ratio_bc.value
        # r16: factorized (guide §4.2) — md5 + ratio lookup once per
        # DISTINCT feature in the batch, per-doc totals via gather +
        # add.reduceat. Exact: the reduceat segments sum the same int64
        # ratio terms the per-row loop summed (ratio ≤ SCALE·(tr+B)/
        # (tt+B) ≈ 10·SCALE and docs are ~10² features, so per-doc
        # totals sit ~5 orders of magnitude inside int64).
        for pdf in batches:
            ids, starts, feat_parts, ns, pos = [], [], [], [], 0
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue  # dropped, matching WHERE text IS NOT NULL
                toks = _toks(text)
                feats = toks + _shingle_strs(toks, 2)
                ids.append(doc_id)
                starts.append(pos)
                feat_parts.append(feats)
                ns.append(len(feats))
                pos += len(feats)
            if not ids:
                continue
            all_feats = [f for part in feat_parts for f in part]
            codes, uniq = _factorize(all_feats)
            r_u = b_ratio[_h32_arr(uniq) % DSIR_BUCKETS]
            totals = np.add.reduceat(r_u[codes], np.array(starts))
            ns_arr = np.array(ns, dtype=np.int64)
            ws = totals // ns_arr
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_feats": pd.Series(ns_arr, dtype="int64"),
                    "dsir_weight": pd.Series(ws, dtype="int64"),
                }
            )

    return score


def keep_by_corpus_mean(scored: DataFrame) -> DataFrame:
    """(doc_id, n_feats, dsir_weight) → + ``dsir_keep`` by the integer
    corpus-mean rule: 1-row agg, broadcast back (scale-free)."""
    mean_w = scored.agg(
        F.expr("CAST(sum(dsir_weight) DIV count(*) AS BIGINT)").alias("mean_w")
    )
    keep = F.when(F.col("dsir_weight") >= F.col("mean_w"), "keep").otherwise(
        "drop"
    )
    return scored.crossJoin(F.broadcast(mean_w)).select(
        "doc_id", "n_feats", "dsir_weight", keep.alias("dsir_keep")
    )


@register("ext_dsir_select", oracle=DSIR_ORACLE)
def ext_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight + keep/drop per document: hashed
    unigram+bigram buckets, integer p_target/p_raw ratio table trained
    on the deterministic 10% hash-slice, scored in ONE map-side Arrow
    kernel (ratio table broadcast; zero corpus exchanges)."""
    from bigdata_spark_realtime_spark.plans.corpus import scoped_persist

    ratio = train_dsir(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    bc = spark.sparkContext.broadcast(ratio)
    # two consumers (the 1-row mean agg and the final select); the
    # persisted frame is 3 ints per doc — negligible at any scale
    scored = scoped_persist(
        docs.select("doc_id", "text").mapInPandas(
            make_score_kernel(bc), SCORE_SCHEMA
        ),
        "ext_dsir_select",
        keep=1,
    )
    return keep_by_corpus_mean(scored)
