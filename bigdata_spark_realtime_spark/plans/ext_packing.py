"""Deterministic sequence packing: assign documents to fixed-budget
packs for pre-training batch construction.

After curation, a training pipeline packs documents into fixed-size
token buffers. A naive global cumulative sum is a single-partition
sort — a non-starter at corpus scale — so the engine uses the standard
two-level shape:

1. **hash-shard** each document (`h32(doc_id) % N_SHARDS`) — map-side,
   uniform by construction;
2. **pack within shard** by a running character total over a
   deterministic total order (hash, doc_id): each shard's window is an
   independent partition of the shuffle, so packing parallelizes
   across shards and no shard ever needs another's state.

A document's pack is `floor(start_offset / BUDGET)` where
start_offset is the running total *before* the document — the greedy
"first-fit in arrival order" rule, reproducible across engines because
the order key and the arithmetic are exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

#: shards = independent packing streams (1024+ at corpus scale; 16 keeps
#: every shard non-trivial at the test SFs)
N_SHARDS = 16
#: pack budget in characters (stand-in for tokens; n_chars is the
#: driver table's length column)
PACK_BUDGET = 4_000

_H_SQL = H.h32_sql("doc_id::VARCHAR")

PACKING_ORACLE = f"""
SELECT doc_id, shard, pack_id,
       CAST(start_offset AS BIGINT) AS start_offset
FROM (
  SELECT doc_id, shard,
         CAST(floor(start_offset / {PACK_BUDGET}) AS BIGINT) AS pack_id,
         start_offset
  FROM (
    SELECT doc_id, shard,
           coalesce(sum(n_chars) OVER (
             PARTITION BY shard ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS start_offset
    FROM (SELECT doc_id, n_chars, {_H_SQL} AS h, {_H_SQL} % {N_SHARDS} AS shard
          FROM documents)
  )
)
"""


@register("ext_pack_shards", oracle=PACKING_ORACLE)
def ext_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shard, pack_id, start_offset): hash-sharded greedy
    packing into PACK_BUDGET-character buffers. One shuffle (the
    per-shard window); shards are independent so the 100 TB corpus
    packs in parallel with no global order."""
    docs = load_table(spark, sf_dir, "documents")
    h = H.h32(F.col("doc_id").cast("string"))
    sharded = docs.select(
        "doc_id", "n_chars", h.alias("h"), (h % N_SHARDS).alias("shard")
    )
    win = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_chars").over(win), F.lit(0))
    return sharded.select(
        "doc_id",
        "shard",
        F.floor(start / PACK_BUDGET).cast("long").alias("pack_id"),
        start.cast("long").alias("start_offset"),
    )


@register("stream_pack_shards", oracle=PACKING_ORACLE)
def stream_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing as continuous intake — documents stream in and
    the map-side shard assignment (`h32(doc_id) % N_SHARDS`, the only
    corpus-wide operation) runs per micro-batch, stateless; the
    per-shard greedy packing — the running-total window over the
    deterministic (hash, doc_id) order of
    plans/ext_packing.ext_pack_shards — runs on the drained shard
    rows. The order key is data-derived, not arrival-derived, so any
    micro-batch schedule converges to the same packs and the batch
    PACKING_ORACLE verifies the stream end-to-end.

    Scale (100 TB): in-stream work is a stateless projection (no
    shuffle, no state store); the drained side packs each shard as an
    independent window partition — the same one-shuffle plan as the
    batch operator, with arrival-time shard assignment amortized into
    ingest."""
    docs = replay_table(spark, sf_dir, "documents")
    h = H.h32(F.col("doc_id").cast("string"))
    sharded = drain_to_memory(
        docs.select(
            "doc_id", "n_chars", h.alias("h"), (h % N_SHARDS).alias("shard")
        )
    )
    win = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_chars").over(win), F.lit(0))
    return sharded.select(
        "doc_id",
        "shard",
        F.floor(start / PACK_BUDGET).cast("long").alias("pack_id"),
        start.cast("long").alias("start_offset"),
    )
