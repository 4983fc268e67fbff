"""ANN index operations: cell-population health audit + streaming
assignment.

Running an IVF/quantizer index in production needs two operational
loops the query path doesn't cover:

* ``ext_ivf_cell_stats`` — the index-health audit: per-cell population
  and corpus share (integer ppm) of the seeded coarse quantizer
  (`plans/ext_ivf.py`'s exact index). Skewed cells are the ANN
  equivalent of a hot join key — an oversized cell degrades every
  probe that touches it toward brute force; this statistic is what
  triggers `operators/similarity.split_oversized_cells` (the
  SemDeDup path already applies it) and re-training. Imbalance factor
  (max/mean) derives driver-side from the emitted integers.
* ``stream_kmeans_assign`` — the E-step as continuous intake: fresh
  vectors stream through the SAME codegen argmin as the batch
  confusion matrix (`plans/ext_embed.assign_best_label`; centroid
  literals are plan constants, the model-artifact pattern), with the
  label confusion accumulating in the state store (complete mode,
  L² keys — state bounded by the label-pair space forever). The
  audit a live embedding feed runs to catch cluster drift as it
  happens. Oracle = the batch SQL: counts are associative, so any
  micro-batch arrival order converges.

Scale (100 TB): cell stats are one count shuffle over cell-cardinality
keys after a map-side argmin against the broadcast centroid set; the
stream twin's only state is the L×L count matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.corpus import emb_double
from bigdata_spark_realtime_spark.plans.ext_ivf import (
    N_CELLS,
    OFFSET,
    STRIDE,
    _sq_dist_sql,
)
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

_SQD_E = _sq_dist_sql("e.embedding::DOUBLE[]", "c.centroid")

CELL_STATS_ORACLE = f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         embedding::DOUBLE[] AS centroid
  FROM embeddings
  WHERE vec_id % {STRIDE} = {OFFSET} AND embedding IS NOT NULL
  ORDER BY vec_id LIMIT {N_CELLS}
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_SQD_E}, c.cell
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
    WHERE e.embedding IS NOT NULL
  ) WHERE rn = 1
),
pop AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
  FROM assigned GROUP BY cell
),
tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total FROM pop)
SELECT pop.cell, pop.n_vectors,
       CAST(1000000 * pop.n_vectors // tot.total AS BIGINT) AS share_ppm
FROM pop CROSS JOIN tot
"""


@register("ext_ivf_cell_stats", oracle=CELL_STATS_ORACLE)
def ext_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quantizer-cell population and integer-ppm corpus share over
    the seeded IVF index."""
    from bigdata_spark_realtime_spark.operators.similarity import (
        assign_cells,
        seeded_centroids,
    )

    emb = emb_double(load_table(spark, sf_dir, "embeddings"))
    cents = seeded_centroids(emb, N_CELLS, STRIDE, OFFSET)
    assigned = assign_cells(emb, cents)
    pop = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    tot = pop.agg(F.sum("n_vectors").cast("bigint").alias("total"))
    return pop.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        F.expr("CAST(1000000 * n_vectors DIV total AS BIGINT)").alias(
            "share_ppm"
        ),
    )


def _assign_oracle() -> str:
    from bigdata_spark_realtime_spark.plans.ext_embed import ASSIGN_ORACLE

    return ASSIGN_ORACLE


@register("stream_kmeans_assign", oracle=_assign_oracle())
def stream_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means E-step confusion matrix as continuous intake: the
    centroid artifact enters as plan literals, vectors stream through
    the codegen argmin, and the L×L confusion counts accumulate in the
    state store (complete mode)."""
    from bigdata_spark_realtime_spark.plans.ext_embed import (
        _centroid_artifact,
        assign_best_label,
    )

    by_label = _centroid_artifact(spark, sf_dir)
    emb = replay_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    confusion = (
        assign_best_label(emb, by_label)
        .groupBy(
            F.col("label").alias("label_from"),
            F.col("best.label").alias("label_to"),
        )
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    return drain_to_memory(confusion, output_mode="complete")
