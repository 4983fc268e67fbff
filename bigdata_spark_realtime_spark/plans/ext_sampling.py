"""Deterministic corpus sampling — the rebalancing step of a
training-data pipeline.

Two complementary operators over the `documents` table:

- **stratified rate sampling** (`ext_sample_stratified`): keep each
  document with a per-language probability, decided by a hash of the
  document's own identity — no RNG state, no count pass, no shuffle.
  Downsampling the dominant language (en is ~44% of the corpus) is the
  canonical language-rebalancing move before training.
- **per-source quota capping** (`ext_sample_source_cap`): keep at most
  N documents per source, chosen by a deterministic hash order — the
  "no single crawl dominates" guard. One shuffle on the source key.

Both are hash-deterministic (md5, identical in DuckDB — see
functions/hashing.py), so the oracle reproduces the exact sample, not
just its size. The reference has no sampling surface; this extends the
engine for corpus curation at 100 TB, where a seeded `rand()` would be
irreproducible across retries/replans and a `TABLESAMPLE` cannot target
strata.

Scale: the rate sampler is a pure map-side filter — it composes with
predicate pushdown and costs zero shuffles at any corpus size. The
quota cap shuffles once on `source`; a pathologically hot source is
bounded by the cap itself (each task emits ≤ CAP rows per source after
the window), and the rank key (hash, doc_id) is total, so the kept set
is unique and stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

#: sampling decisions are buckets of h(doc) mod MOD — integer thresholds
#: so neither engine ever compares floats
SAMPLE_MOD = 10_000

#: per-language keep rate in MOD-ths: downsample English (the dominant
#: stratum), keep the tail languages whole
STRATA_RATES: dict[str, int] = {
    "en": 2_500,  # 25%
    "zh": 10_000,
    "es": 10_000,
    "de": 10_000,
    "fr": 10_000,
}
DEFAULT_RATE = 5_000  # unseen languages: 50%

#: per-source quota for the capping sampler
SOURCE_CAP = 15


def _sample_bucket(doc_id: F.Column, lang: F.Column) -> F.Column:
    """h32(doc_id ':' lang) mod MOD — salting the hash with the stratum
    makes per-stratum decisions independent (the same doc_id in two
    strata doesn't correlate)."""
    return H.h32(F.concat(doc_id.cast("string"), F.lit(":"), lang)) % SAMPLE_MOD


_KEY_SQL = "doc_id::VARCHAR || ':' || lang"
_BUCKET_SQL = f"{H.h32_sql(_KEY_SQL)} % {SAMPLE_MOD}"

_RATE_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in STRATA_RATES.items())
    + f" ELSE {DEFAULT_RATE} END"
)

STRATIFIED_ORACLE = f"""
SELECT doc_id, lang, source, {_BUCKET_SQL} AS sample_bucket
FROM documents
WHERE {_BUCKET_SQL} < {_RATE_CASE_SQL}
"""


@register("ext_sample_stratified", oracle=STRATIFIED_ORACLE)
def ext_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic rate sampling: keep a document iff its
    identity hash falls under the stratum's threshold. Map-side only —
    zero shuffles, reproducible under retries, no pre-count."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _sample_bucket(F.col("doc_id"), F.col("lang"))
    rate = F.lit(DEFAULT_RATE)
    for k, v in STRATA_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return (
        docs.select("doc_id", "lang", "source", bucket.alias("sample_bucket"))
        .where(F.col("sample_bucket") < rate)
    )


def quality_keep_cond() -> F.Column:
    """The composed pipelines' cheap quality gates as one Column —
    Spark twin of ``_CURATION_KEEP_SQL`` (keep both in lockstep)."""
    from bigdata_spark_realtime_spark.plans.ext_text import STOPWORDS

    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("double")
    stop_ct = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    punct_ct = F.size(
        F.regexp_extract_all("text", F.lit("[^A-Za-z0-9 ]"), 0)
    ).cast("double")
    return (
        (n_tokens >= 10)
        & (stop_ct / n_tokens >= 0.05)
        & (punct_ct / F.length("text").cast("double") <= 0.2)
    )


#: the composed pipeline reuses the quality gates and normalization the
#: standalone operators define — one source of truth per rule
_CURATION_KEEP_SQL = """
      len(string_split(text, ' ')) >= 10
  AND len(list_filter(string_split(text, ' '),
          t -> t IN ('the', 'a', 'and', 'of', 'to', 'in')))
      / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.05
  AND len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
      / CAST(length(text) AS DOUBLE) <= 0.2
"""

CURATION_ORACLE = f"""
WITH quality AS (
  SELECT doc_id, lang, source, text
  FROM documents
  WHERE length(text) > 0 AND ({_CURATION_KEEP_SQL})
),
keepers AS (
  SELECT doc_id, lang, source,
         min(doc_id) OVER (
           PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
         ) AS keeper_id
  FROM quality
)
SELECT doc_id, lang, source, {_BUCKET_SQL} AS sample_bucket
FROM keepers
WHERE doc_id = keeper_id AND {_BUCKET_SQL} < {_RATE_CASE_SQL}
"""


@register("ext_curation_pipeline", oracle=CURATION_ORACLE)
def ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation pass a training pipeline actually
    runs, composed from the standalone operators' rules in the canonical
    order: cheap quality gates (C4/Gopher-style, map-side) → exact-dedup
    keeper among survivors (one shuffle on the md5 fingerprint) →
    stratified language rebalance (map-side hash rate).

    Scale: quality filtering and sampling cost zero shuffles, so the
    only exchange in the whole pipeline is the dedup window — and it
    shuffles the already-quality-filtered subset, not the raw corpus.
    Filter order is the cost order: each stage shrinks the data the next
    one pays for."""
    from bigdata_spark_realtime_spark.plans.corpus import norm_text

    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    quality = docs.where(quality_keep_cond()).select(
        "doc_id", "lang", "source", "text"
    )
    win = Window.partitionBy(F.md5(norm_text(F.col("text"))))
    keepers = quality.withColumn("keeper_id", F.min("doc_id").over(win))
    bucket = _sample_bucket(F.col("doc_id"), F.col("lang"))
    rate = F.lit(DEFAULT_RATE)
    for k, v in STRATA_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return (
        keepers.where(F.col("doc_id") == F.col("keeper_id"))
        .select("doc_id", "lang", "source", bucket.alias("sample_bucket"))
        .where(F.col("sample_bucket") < rate)
    )


SOURCE_CAP_ORACLE = f"""
SELECT doc_id, source
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY source
  ORDER BY {H.h32_sql("doc_id::VARCHAR")}, doc_id
) <= {SOURCE_CAP}
"""


@register("ext_sample_source_cap", oracle=SOURCE_CAP_ORACLE)
def ext_sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At most SOURCE_CAP documents per source, picked by deterministic
    hash order (a uniform "random" draw that every engine and retry
    reproduces). One shuffle on `source`; rank key (hash, doc_id) is
    total so the kept set is unique."""
    docs = load_table(spark, sf_dir, "documents")
    order = H.h32(F.col("doc_id").cast("string"))
    win = Window.partitionBy("source").orderBy(order.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= SOURCE_CAP)
        .select("doc_id", "source")
    )


SAMPLE_K = 200

TOPK_HASH_ORACLE = f"""
SELECT doc_id, source
FROM documents
ORDER BY {H.h32_sql("'topk|' || doc_id::VARCHAR")}, doc_id
LIMIT {SAMPLE_K}
"""


@register("ext_sample_topk_hash", oracle=TOPK_HASH_ORACLE)
def ext_sample_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE uniform sample without replacement: the K smallest
    md5-hash values corpus-wide — the deterministic engine-agnostic
    replacement for reservoir sampling (every engine, retry, and both
    oracle sides pick the identical K rows; a true reservoir is
    RNG-order-dependent). Complements the fixed-RATE samplers above:
    rate-based keeps scale with the corpus, this keeps exactly K.

    Scale (100 TB): compiles to TakeOrderedAndProject — per-partition
    top-K then a K-row merge; no global sort, no shuffle of corpus
    rows. The hash is salted ('topk|') so this sample is independent
    of every other hash-derived decision in the pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    order = H.h32(F.concat(F.lit("topk|"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "source", order.alias("_h"))
        .orderBy("_h", "doc_id")
        .limit(SAMPLE_K)
        .select("doc_id", "source")
    )
