"""Extension operators: corpus-quality filters for pre-training data.

Two additions to the training-pipeline surface beyond the round-5 text
suite (plans/ext_text.py):

- ``ext_text_repetition``: the Gopher/MassiveText repetition rule —
  documents whose duplicate n-gram fraction is high are boilerplate /
  degenerate generations and must be dropped before training. Raw
  counts come from the map-side kernel
  (operators/shingling.repetition_metrics — zero shuffles); the
  fractions, thresholds and keep flag are plain codegen arithmetic.

- ``ext_text_boilerplate_ngrams``: corpus-wide document-frequency
  top-K of 3-gram shingles — the standard way to DISCOVER boilerplate
  (cookie banners, navigation chrome) before writing removal rules.
  Per-doc-distinct shingle rows are emitted map-side
  (operators/shingling.shingle_rows), so the only shuffle is the
  count aggregation, and the top-K compiles to TakeOrderedAndProject
  (K × n_partitions rows at the driver, never a global sort).

Reference parity: the reference has no corpus-quality surface; this
extends SURVEY.md §2's ext suite (100 TB training-data contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

#: Gopher-style thresholds on the duplicate n-gram fraction
#: (1 - distinct/total): above these the document is dropped
DUP_2GRAM_MAX = 0.20
DUP_3GRAM_MAX = 0.18

# DuckDB twins of the kernel's counts: n-grams via list_transform over
# the token list (DuckDB HOFs are vectorized; the Spark side deliberately
# does NOT use its interpreted HOF equivalent — see
# plans/ext_dedup._signatures_docs history note)
_G2 = "list_transform(range(len(toks) - 1), i -> toks[i + 1] || ' ' || toks[i + 2])"
_G3 = H.shingles_sql("toks", 3)

REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2 THEN {_G2} ELSE [] END AS g2,
         CASE WHEN len(toks) >= 3 THEN {_G3} ELSE [] END AS g3
  FROM t
),
m AS (
  SELECT doc_id,
         round(coalesce(1.0 - len(list_distinct(g2))::DOUBLE / nullif(len(g2), 0), 0.0), 4) AS dup2_frac,
         round(coalesce(1.0 - len(list_distinct(g3))::DOUBLE / nullif(len(g3), 0), 0.0), 4) AS dup3_frac
  FROM g
)
SELECT doc_id, dup2_frac, dup3_frac,
       CAST(dup2_frac <= {DUP_2GRAM_MAX} AND dup3_frac <= {DUP_3GRAM_MAX} AS BOOLEAN) AS keep
FROM m
"""


@register("ext_text_repetition", oracle=REPETITION_ORACLE)
def ext_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dup2_frac, dup3_frac, keep): duplicate n-gram fractions
    and the Gopher-rule keep flag. Counts reduce map-side in one Arrow
    pass; the only Exchange ever planned is the small-input round-robin
    widening (operators/shingling._doc_rows), which never fires at
    scale — on a real corpus the plan is exchange-free and composes
    with any upstream partitioning exactly like the stratified
    sampler."""
    from bigdata_spark_realtime_spark.operators.shingling import (
        repetition_metrics,
    )

    m = repetition_metrics(
        load_table(spark, sf_dir, "documents"),
        widths=(2, 3),
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    dup2 = F.round(
        F.coalesce(
            F.lit(1.0)
            - F.col("distinct_2").cast("double")
            / F.nullif(F.col("total_2"), F.lit(0)),
            F.lit(0.0),
        ),
        4,
    )
    dup3 = F.round(
        F.coalesce(
            F.lit(1.0)
            - F.col("distinct_3").cast("double")
            / F.nullif(F.col("total_3"), F.lit(0)),
            F.lit(0.0),
        ),
        4,
    )
    return m.select(
        "doc_id",
        dup2.alias("dup2_frac"),
        dup3.alias("dup3_frac"),
        (
            (dup2 <= DUP_2GRAM_MAX) & (dup3 <= DUP_3GRAM_MAX)
        ).alias("keep"),
    )


#: docs shorter than this can't trip the repetition filter anyway; the
#: composed pipeline's quality gate (>= 10 tokens) guarantees non-zero
#: gram counts so the fraction arithmetic below never divides by zero
_CURATION_FULL_ORACLE_TMPL = """
WITH corpus AS (
  SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks
  FROM documents
  WHERE source <> '{eval_source}' AND length(text) > 0 AND ({keep_sql})
),
rep AS (
  SELECT doc_id, lang, source, text, toks FROM (
    SELECT *,
           1.0 - len(list_distinct(list_transform(range(len(toks) - 1),
                 i -> toks[i + 1] || ' ' || toks[i + 2])))::DOUBLE
               / (len(toks) - 1) AS dup2,
           1.0 - len(list_distinct({g3}))::DOUBLE / (len(toks) - 2) AS dup3
    FROM corpus
  ) WHERE dup2 <= {dup2_max} AND dup3 <= {dup3_max}
),
ev AS (
  SELECT DISTINCT unnest(list_distinct({g8})) AS shingle
  FROM (SELECT string_split(text, ' ') AS toks FROM documents
        WHERE source = '{eval_source}')
  WHERE len(toks) >= {contam_w}
),
contam AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(list_distinct({g8})) AS shingle
        FROM rep WHERE len(toks) >= {contam_w})
  WHERE shingle IN (SELECT shingle FROM ev)
),
clean AS (
  SELECT doc_id, lang, source, text FROM rep
  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
),
keepers AS (
  SELECT doc_id, lang, source,
         min(doc_id) OVER (PARTITION BY md5({norm})) AS keeper_id
  FROM clean
)
SELECT doc_id, lang, source, {bucket} AS sample_bucket
FROM keepers
WHERE doc_id = keeper_id AND {bucket} < {rate_case}
"""


def _curation_full_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.corpus import NORM_SQL
    from bigdata_spark_realtime_spark.plans.ext_decontam import (
        CONTAM_W,
        EVAL_SOURCE,
    )
    from bigdata_spark_realtime_spark.plans.ext_sampling import (
        _BUCKET_SQL,
        _CURATION_KEEP_SQL,
        _RATE_CASE_SQL,
    )

    return _CURATION_FULL_ORACLE_TMPL.format(
        eval_source=EVAL_SOURCE,
        keep_sql=_CURATION_KEEP_SQL,
        g3=H.shingles_sql("toks", 3),
        g8=H.shingles_sql("toks", CONTAM_W),
        dup2_max=DUP_2GRAM_MAX,
        dup3_max=DUP_3GRAM_MAX,
        contam_w=CONTAM_W,
        norm=NORM_SQL,
        bucket=_BUCKET_SQL,
        rate_case=_RATE_CASE_SQL,
    )


@register("ext_curation_full", oracle=_curation_full_oracle())
def ext_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE curation pass over raw intake, every rule reused
    from its standalone operator, composed in cost order so each stage
    shrinks what the next one pays for:

      quality gates (map) → Gopher repetition filter (map-side Arrow
      kernel, survivors carried through — no join back) → test-set
      decontamination (eval shingles broadcast; contaminated ids —
      rare — broadcast into an anti-join) → exact-dedup keeper (the
      FIRST shuffle of corpus rows) → stratified language rebalance
      (map).

    At 100 TB the corpus is shuffled exactly once (the dedup window,
    over heavily-filtered survivors); everything else is map-side or
    touches only rare hit rows."""
    from bigdata_spark_realtime_spark.operators.shingling import (
        repetition_metrics,
        shingle_rows,
    )
    from bigdata_spark_realtime_spark.plans.corpus import norm_text
    from bigdata_spark_realtime_spark.plans.ext_decontam import (
        CONTAM_W,
        EVAL_SOURCE,
    )
    from bigdata_spark_realtime_spark.plans.ext_sampling import (
        DEFAULT_RATE,
        STRATA_RATES,
        _sample_bucket,
        quality_keep_cond,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("source") == EVAL_SOURCE)
    corpus = (
        docs.where(F.col("source") != EVAL_SOURCE)
        .where(F.length("text") > 0)
        .where(quality_keep_cond())
    )
    m = repetition_metrics(
        corpus,
        widths=(2, 3),
        min_parallelism=spark.sparkContext.defaultParallelism,
        passthrough=("lang", "source", "text"),
    )
    # quality guarantees >= 10 tokens, so total_2/total_3 >= 8 — exact
    # integer-derived doubles, same arithmetic as the oracle
    kept = m.where(
        (
            F.lit(1.0)
            - F.col("distinct_2").cast("double") / F.col("total_2")
            <= DUP_2GRAM_MAX
        )
        & (
            F.lit(1.0)
            - F.col("distinct_3").cast("double") / F.col("total_3")
            <= DUP_3GRAM_MAX
        )
    ).select("doc_id", "lang", "source", "text")
    # kept feeds BOTH the contamination shingle kernel and the anti-join
    # tail — persist it so the repetition-metrics Arrow kernel runs once
    # per invocation, not once per consumer (r15; same policy and
    # spill-not-OOM argument as ext_curation_scored's surv1 persist)
    from bigdata_spark_realtime_spark.plans.corpus import scoped_persist

    kept = scoped_persist(kept, "ext_curation_full", keep=1)
    ev_shingles = shingle_rows(ev, CONTAM_W).select("shingle").distinct()
    contam_ids = (
        shingle_rows(kept, CONTAM_W)
        .join(F.broadcast(ev_shingles), "shingle")
        .select("doc_id")
        .distinct()
    )
    clean = kept.join(F.broadcast(contam_ids), "doc_id", "left_anti")
    win = Window.partitionBy(F.md5(norm_text(F.col("text"))))
    keepers = clean.withColumn("keeper_id", F.min("doc_id").over(win))
    bucket = _sample_bucket(F.col("doc_id"), F.col("lang"))
    rate = F.lit(DEFAULT_RATE)
    for k, v in STRATA_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return (
        keepers.where(F.col("doc_id") == F.col("keeper_id"))
        .select("doc_id", "lang", "source", bucket.alias("sample_bucket"))
        .where(F.col("sample_bucket") < rate)
    )


TOP_NGRAMS = 20

BOILERPLATE_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({H.shingles_sql('toks')})) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= {H.SHINGLE_W}
)
SELECT shingle, count(*) AS doc_freq
FROM sh GROUP BY shingle
ORDER BY doc_freq DESC, shingle
LIMIT {TOP_NGRAMS}
"""


@register("ext_text_boilerplate_ngrams", oracle=BOILERPLATE_ORACLE)
def ext_text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} 3-gram shingles by document frequency — boilerplate
    discovery. Map-side per-doc-distinct shingle rows → ONE shuffle
    (the count aggregation) → TakeOrderedAndProject. Ties broken by
    shingle ascending so the cut is deterministic on both engines."""
    from bigdata_spark_realtime_spark.operators.shingling import shingle_rows

    sh = shingle_rows(
        load_table(spark, sf_dir, "documents"),
        H.SHINGLE_W,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "shingle")
        .limit(TOP_NGRAMS)
    )


# ---------------------------------------------------------------------------
# fasttext-style hashed linear quality classifier
# ---------------------------------------------------------------------------

#: feature-hash buckets (fastText's default is 2M for bigram hashing;
#: 4096 keeps the oracle's weight literal small at test scale — the
#: engine shape is bucket-count-independent)
CLF_BUCKETS = 4096


def _clf_w(b: int) -> int:
    """Deterministic md5-derived weight in [-1000, 1000] — pure data,
    interpolated into the DuckDB oracle so both engines share the model.
    A production deployment ships learned fastText weights the same way
    (a bounded artifact broadcast to every worker); the engine contract
    here is the hashed-feature extraction + sparse dot product."""
    import hashlib as _hl

    v = int(_hl.md5(f"clf-{b}".encode()).hexdigest()[:12], 16)
    return v % 2001 - 1000


CLF_W = tuple(_clf_w(b) for b in range(CLF_BUCKETS))

_W_LIST = "[" + ", ".join(str(w) for w in CLF_W) + "]"
_UNI_SUM = (
    f"list_sum(list_transform(toks, t -> w[({H.h32_sql('t')} % {CLF_BUCKETS}) + 1]))"
)
_BI_SUM = (
    f"list_sum(list_transform({H.shingles_sql('toks', 2)}, "
    f"t -> w[({H.h32_sql('t')} % {CLF_BUCKETS}) + 1]))"
)

CLASSIFIER_ORACLE = f"""
WITH t AS (
  -- NULL-text docs are DROPPED (explicit policy, matching the kernel:
  -- a quality classifier cannot score absent text; same rule as the
  -- simhash family). Empty text scores as the single empty token on
  -- both sides.
  SELECT doc_id, string_split(text, ' ') AS toks, {_W_LIST} AS w
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT doc_id,
         CAST(len(toks) + greatest(len(toks) - 1, 0) AS BIGINT) AS n_features,
         CAST({_UNI_SUM}
            + CASE WHEN len(toks) >= 2 THEN {_BI_SUM} ELSE 0 END
           AS BIGINT) AS total
  FROM t
)
SELECT doc_id, n_features,
       CAST(total // n_features AS BIGINT) AS clf_score,
       CASE WHEN total // n_features >= 0 THEN 'keep' ELSE 'drop' END
         AS clf_label
FROM s
"""


@register("ext_quality_classifier", oracle=CLASSIFIER_ORACLE)
def ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier: md5-hashed unigram +
    bigram bag-of-features, sparse dot product with a bucketed weight
    vector, mean-per-feature integer score and keep/drop label.

    One map-side Arrow kernel over the corpus — ZERO exchanges: the
    weight vector rides along as a numpy array (the model artifact,
    like CCNet's LM in plans/ext_lm.py), features hash per batch and
    the dot product is one vectorized gather-sum. Integer weights and
    integer division keep the DuckDB oracle bit-exact."""
    import numpy as np
    import pandas as pd

    from bigdata_spark_realtime_spark.operators.shingling import (
        _factorize,
        _h32_arr,
        _shingle_strs,
        _toks,
    )

    w_arr = np.array(CLF_W, dtype=np.int64)
    docs = load_table(spark, sf_dir, "documents")

    def score(batches):
        for pdf in batches:
            ids, ns, starts, feat_parts, pos = [], [], [], [], 0
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    # dropped, matching the oracle's WHERE text IS NOT
                    # NULL — previously scored as empty text while the
                    # SQL side emitted a NULL row (round-7 ADVICE)
                    continue
                toks = _toks(text)
                feats = toks + (_shingle_strs(toks, 2) if len(toks) >= 2 else [])
                ids.append(doc_id)
                ns.append(len(feats))
                starts.append(pos)
                feat_parts.append(feats)
                pos += len(feats)
            if not ids:
                continue
            # r15: features factorized across the batch — md5 and the
            # weight lookup run once per DISTINCT feature, per-doc
            # totals are one gather + add.reduceat (sum of the same
            # int64 terms regrouped by equal feature — exact)
            all_feats = [f for part in feat_parts for f in part]
            codes, uniq = _factorize(all_feats)
            w_u = w_arr[_h32_arr(uniq) % CLF_BUCKETS]
            totals = np.add.reduceat(w_u[codes], np.array(starts))
            ns_arr = np.array(ns, dtype=np.int64)
            # DuckDB's // TRUNCATES toward zero (-7 // 2 = -3) while
            # Python/numpy floor; totals can be negative, so match the
            # SQL by truncating on the absolute value
            q = np.abs(totals) // ns_arr
            scores = np.where(totals >= 0, q, -q)
            yield pd.DataFrame(
                {"doc_id": ids, "n_features": ns, "clf_score": scores}
            )

    scored = docs.select("doc_id", "text").mapInPandas(
        score, "doc_id long, n_features long, clf_score long"
    )
    label = F.when(F.col("clf_score") >= 0, "keep").otherwise("drop")
    return scored.select(
        "doc_id", "n_features", "clf_score", label.alias("clf_label")
    )
