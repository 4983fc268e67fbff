"""Test-set decontamination: flag corpus documents sharing any long
n-gram with a held-out evaluation set.

The standard pre-training hygiene step (the GPT-3 paper's 13-gram
filter, scaled to this corpus's short documents as 8-grams): a corpus
document that contains any 8-token shingle also present in the eval
set is contamination and must be dropped before training. The
reference has no analogue; this extends the engine's training-data
surface alongside the dedup family.

Scale design (100 TB): the eval set is small by contract (a benchmark
suite — thousands to ~10⁵ documents), so its distinct shingle set is
BROADCAST to every executor and the corpus-side check is a map-side
hash-join on the shingle string: the corpus — the 100 TB side — is
never shuffled by this operator at all. The only aggregation is the
per-document hit count, a shuffle of hit rows only (contamination is
rare by construction). Shingling is the map-side Arrow kernel
(`operators/shingling.shingle_rows`): the corpus tokenizes, shingles
and dedups per doc inside its own partition, so the 100 TB side
reaches the broadcast join with ZERO exchanges — the earlier
explode + window-lead form shuffled the full corpus token stream by
doc_id before the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.operators.shingling import shingle_rows
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

#: contamination n-gram width (tokens). 8 on this corpus's ~50-token
#: documents plays the role the 13-gram filter plays on web pages.
CONTAM_W = 8
#: the held-out "benchmark" source in the driver's documents table
EVAL_SOURCE = "src0"

_SH = H.shingles_sql("toks", CONTAM_W)

DECONTAM_ORACLE = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, source, list_distinct({_SH}) AS shingles
  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= {CONTAM_W}
),
ev AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE source = '{EVAL_SOURCE}'),
corp AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE source <> '{EVAL_SOURCE}'
)
SELECT doc_id, count(*) AS n_hits
FROM corp WHERE shingle IN (SELECT shingle FROM ev)
GROUP BY doc_id
"""


@register("ext_decontaminate", oracle=DECONTAM_ORACLE)
def ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_hits) for every contaminated corpus document: n_hits =
    how many distinct 8-gram shingles it shares with the eval set.
    `anti-join on this output` is the decontaminated corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(docs)


def decontaminate(docs: DataFrame) -> DataFrame:
    """Core operator over any (doc_id, source, text) frame — split out so
    tests can feed planted contamination directly."""
    ev = docs.where(F.col("source") == EVAL_SOURCE)
    corpus = docs.where(F.col("source") != EVAL_SOURCE)
    # eval shingle set: small by contract -> explicit broadcast, the
    # corpus side stays un-shuffled (map-side semi of the 100 TB side)
    ev_shingles = shingle_rows(ev, CONTAM_W).select("shingle").distinct()
    # join BEFORE any aggregation: the broadcast semi-filter runs
    # map-side over the corpus shingle rows (already per-doc-distinct
    # from the kernel); only the surviving hit rows — rare by
    # construction — reach the per-doc count shuffle
    hits = shingle_rows(corpus, CONTAM_W).join(F.broadcast(ev_shingles), "shingle")
    # plain count, NOT count_distinct: the kernel emits each (doc,
    # shingle) at most once, and count_distinct would compile to a
    # second aggregation exchange for nothing
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))
