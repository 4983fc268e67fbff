"""Embedding-column analytics: int8 quantization and label centroids.

Three operators a 100 TB embedding pipeline runs between "vectors
exist" and "vectors are served" (the Faiss/ScaNN preprocessing steps;
the reference repo has no vector surface at all — this extends the
engine's similarity family alongside `plans/ext_similarity.py` /
`plans/ext_ivf.py`):

* ``ext_embed_quantize_int8`` — symmetric per-dimension max-abs int8
  quantization (the storage format ANN indexes and KV feature stores
  actually hold; 4x smaller than float32). Two-pass: a 64-row scale
  aggregate, then a map-side quantize behind a broadcast join.
* ``ext_embed_centroids`` — per-label integer centroid (class
  prototypes / cluster means — the Lloyd-iteration update step of
  k-means at `label` granularity). Fixed-point so the cross-engine
  result is bit-exact: float sums are accumulation-order-dependent,
  ``sum(floor(v * 2^20))`` is not.
* ``ext_centroid_similarity`` — exact pairwise dot products between
  the integer centroids (the confusion-structure / cluster-merge
  signal): all heavy lifting happened in the groupBy; the pairwise
  stage touches ``L x 64`` rows only.

Scale (100 TB): every query's only corpus-sized exchange is one
``groupBy`` with map-side partial aggregation over ``(dim)`` or
``(label, dim)`` keys — a key space of 64 or ``L x 64``, so partials
collapse to near-nothing before the shuffle. The scale/centroid tables
are dimension-bounded (not corpus-bounded) and re-enter the plan via
broadcast joins; nothing corpus-sized is ever collected, sorted
globally, or joined all-pairs.

Oracle determinism: quantization computes ``floor((v::double * 127.0)
/ s::double)`` — the same two IEEE-754 double ops in both engines on
identical float32 inputs, so the floor is bit-identical (ties cannot
diverge because the inputs cannot). Centroid arithmetic is pure int64
after the initial ``floor(v * 2^20)``; the mean uses truncating
integer division (Spark ``DIV`` == DuckDB ``//``, both
toward-zero — NOT Python ``//`` which floors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark import cache
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

#: fixed-point scale for centroid arithmetic (20 fractional bits:
#: |v| <= ~1 -> |vq| <= ~2^20; 64-dim int dot <= ~2^46, safely int64)
FIXED_POINT = 1 << 20


def _dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, dim, v) — one row per vector component.

    posexplode is map-side (no exchange); the NOT NULL filter sits
    before it so the scan prunes whole null rows.
    """
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    return emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "v"),
    )


QUANTIZE_ORACLE = """
WITH dims AS (
  SELECT vec_id, u.i AS dim, embedding[u.i + 1] AS v
  FROM embeddings, unnest(range(len(embedding))) AS u(i)
  WHERE embedding IS NOT NULL
),
scales AS (
  SELECT dim, max(abs(v)) AS s FROM dims GROUP BY dim
)
SELECT d.vec_id,
       CAST(d.dim AS INT) AS dim,
       CAST(CASE WHEN s.s = 0 THEN 0
                 ELSE floor((CAST(d.v AS DOUBLE) * 127.0)
                            / CAST(s.s AS DOUBLE)) END AS INT) AS q
FROM dims d JOIN scales s USING (dim)
"""


def fit_scales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dim, s) — per-dimension max-abs scale table: the quantizer's
    model artifact (64 rows at any corpus size; map-side partial max
    ahead of the one 64-key exchange)."""
    return (
        _dims(spark, sf_dir)
        .groupBy("dim")
        .agg(F.max(F.abs(F.col("v"))).alias("s"))
    )


def quantize_components(dims: DataFrame, scales: DataFrame) -> DataFrame:
    """Apply the fitted scale table to a (vec_id, dim, v) component
    frame (batch or streaming) — broadcast join + pure-codegen
    quantize. The all-zero dimension guard (s = 0 -> q = 0) avoids an
    engine-dependent 0/0 NaN."""
    return dims.join(F.broadcast(scales), "dim").select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.when(F.col("s") == 0, F.lit(0))
        .otherwise(
            F.floor(
                (F.col("v").cast("double") * F.lit(127.0))
                / F.col("s").cast("double")
            )
        )
        .cast("int")
        .alias("q"),
    )


@register("ext_embed_quantize_int8", oracle=QUANTIZE_ORACLE)
def ext_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dim max-abs int8 quantization, exploded to
    (vec_id, dim, q) rows for the exact cross-engine check (production
    re-packs with collect_list into the array column map-side)."""
    return quantize_components(
        _dims(spark, sf_dir), fit_scales(spark, sf_dir)
    )


_CENTROID_CTE = f"""
WITH dims AS (
  SELECT label, u.i AS dim,
         CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE)
                    * {float(FIXED_POINT)}) AS BIGINT) AS vq
  FROM embeddings, unnest(range(len(embedding))) AS u(i)
  WHERE embedding IS NOT NULL
),
cent AS (
  SELECT label, dim,
         CAST(sum(vq) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS centroid_q,
         CAST(count(*) AS BIGINT) AS n_vectors
  FROM dims GROUP BY label, dim
)
"""

CENTROIDS_ORACLE = (
    _CENTROID_CTE
    + """
SELECT label, CAST(dim AS INT) AS dim, centroid_q, n_vectors FROM cent
"""
)


def _centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, dim, centroid_q, n_vectors) — fixed-point class means.

    One corpus-sized exchange: the (label, dim) groupBy, whose
    map-side partial sums collapse each task's output to L x 64 rows.
    """
    vq = _dims(spark, sf_dir).select(
        "label",
        "dim",
        F.floor(F.col("v").cast("double") * F.lit(float(FIXED_POINT)))
        .cast("bigint")
        .alias("vq"),
    )
    agg = vq.groupBy("label", "dim").agg(
        F.sum("vq").alias("sum_q"),
        F.count(F.lit(1)).alias("n_vectors"),
    )
    return agg.select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        F.expr("sum_q DIV n_vectors").alias("centroid_q"),
        "n_vectors",
    )


@register("ext_embed_centroids", oracle=CENTROIDS_ORACLE)
def ext_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label fixed-point centroid — the k-means update step
    with `label` as the assignment. Integer sums are
    accumulation-order-independent, so the result is bit-exact
    cross-engine and across any partitioning."""
    return _centroids(spark, sf_dir)


def _centroid_artifact(
    spark: SparkSession, sf_dir: str
) -> dict[int, dict[int, int]]:
    """Collected centroid table ``{label: {dim: centroid_q}}`` — L x 64
    ints, a model artifact memoized on the embeddings table."""

    def build() -> dict[int, dict[int, int]]:
        by_label: dict[int, dict[int, int]] = {}
        for r in _centroids(spark, sf_dir).collect():
            by_label.setdefault(r["label"], {})[r["dim"]] = r["centroid_q"]
        return by_label

    return cache.memo(spark, sf_dir, "embeddings", "centroids", build)


ASSIGN_ORACLE = f"""
WITH dims2 AS (
  SELECT vec_id, label, u.i AS dim,
         CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE)
                    * {float(FIXED_POINT)}) AS BIGINT) AS vq
  FROM embeddings, unnest(range(len(embedding))) AS u(i)
  WHERE embedding IS NOT NULL
),
cent AS (
  SELECT label, dim,
         CAST(sum(vq) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS centroid_q
  FROM dims2 GROUP BY label, dim
),
dist AS (
  SELECT d.vec_id, c.label AS cand,
         CAST(sum((d.vq - c.centroid_q) * (d.vq - c.centroid_q))
              AS BIGINT) AS dist_q
  FROM dims2 d JOIN cent c ON d.dim = c.dim
  GROUP BY d.vec_id, c.label
),
assign AS (
  SELECT vec_id, cand AS label_to
  FROM dist
  QUALIFY row_number()
      OVER (PARTITION BY vec_id ORDER BY dist_q, cand) = 1
)
SELECT e.label AS label_from, a.label_to,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM embeddings e JOIN assign a USING (vec_id)
WHERE e.embedding IS NOT NULL
GROUP BY e.label, a.label_to
"""


@register("ext_kmeans_assign", oracle=ASSIGN_ORACLE)
def ext_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (the k-means E-step closing the
    loop that `ext_embed_centroids` opened) reported as a
    label-vs-assigned confusion matrix — the cluster-drift /
    label-noise audit a curation pipeline runs on refreshed
    embeddings.

    Scale (100 TB): the centroid table is collected once — L x 64
    int64 cells, dimension-bounded at ANY corpus size by construction
    (same model-artifact pattern as the DSIR ratio table and LM
    counts) — and re-enters the plan as a literal, so the per-vector
    argmin is pure whole-stage codegen with ZERO corpus exchanges:
    ``array_min`` over an L-element array of (dist_q, label) structs
    (lexicographic struct ordering == tie-break on smallest label).
    The only shuffle in the scoring pass is the final L^2-key
    confusion groupBy, collapsed map-side. An Arrow-kernel argmin
    (numpy over the broadcast centroid matrix) is the drop-in for
    L in the thousands; at dim 64 x L ~ 10 the codegen fold wins by
    skipping Python entirely.

    Exactness: distances are pure int64 in the same fixed point as
    the centroids — no float compare can flip a near-tie."""
    by_label = _centroid_artifact(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    return (
        assign_best_label(emb, by_label)
        .groupBy(
            F.col("label").alias("label_from"),
            F.col("best.label").alias("label_to"),
        )
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def assign_best_label(emb: DataFrame, by_label: dict) -> DataFrame:
    """Per-row nearest-centroid assignment (the codegen argmin the
    batch confusion matrix and its streaming twin share): adds a
    ``best`` struct column (dist_q, label) next to the row's own
    ``label``. Works unchanged on batch and streaming frames — the
    centroid literals are plan constants."""
    if not by_label:
        # ZERO centroids (empty corpus): F.array() would be VOID-typed
        # and the transform lambda fails analysis (empty-input sweep).
        # No centroid -> no assignment: an always-false filter keeps
        # the schema (and works on streaming frames, unlike limit(0))
        label_t = emb.schema["label"].dataType
        best = F.struct(
            F.lit(None).cast("bigint").alias("dist_q"),
            F.lit(None).cast(label_t).alias("label"),
        )
        return emb.select("label", best.alias("best")).where(F.lit(False))
    cents = F.array(
        *[
            F.struct(
                F.lit(label).alias("label"),
                F.array(
                    *[
                        F.lit(int(dims[d])).cast("bigint")
                        for d in sorted(dims)
                    ]
                ).alias("cq"),
            )
            for label, dims in sorted(by_label.items())
        ]
    )
    vq = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") * F.lit(float(FIXED_POINT))).cast(
            "bigint"
        ),
    )
    dists = F.transform(
        cents,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("vq"), c["cq"], lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("dist_q"),
            c["label"].alias("label"),
        ),
    )
    return emb.select("label", vq.alias("vq")).select(
        "label", F.array_min(dists).alias("best")
    )


SIMILARITY_ORACLE = (
    _CENTROID_CTE
    + """
SELECT a.label AS label_a, b.label AS label_b,
       CAST(sum(a.centroid_q * b.centroid_q) AS BIGINT) AS dot_q
FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
GROUP BY a.label, b.label
"""
)


@register("ext_centroid_similarity", oracle=SIMILARITY_ORACLE)
def ext_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise centroid dot products (label_a < label_b).

    The join input is the L x 64-row centroid table — broadcast, so
    the pairwise stage is exchange-free regardless of corpus size;
    int64 products are exact (|centroid_q| <= 2^20 -> 64-term dot
    <= ~2^46). The unpersisted plan computes the centroid aggregate
    once per join side (two corpus scans); a production pipeline
    persists the dimension-bounded centroid table between the two —
    at test scale the duplicate agg is cheaper than cache churn."""
    cent = _centroids(spark, sf_dir)
    # disjoint column names on the two sides: a self-join on shared
    # lineage with a common column name trips Spark's ambiguous-self-
    # join detection
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("dim").alias("dim_a"),
        F.col("centroid_q").alias("cq_a"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("centroid_q").alias("cq_b"),
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("dim_a") == F.col("dim_b"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("cq_a") * F.col("cq_b")).alias("dot_q"))
    )


@register("stream_embed_quantize", oracle=QUANTIZE_ORACLE)
def stream_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantization as continuous intake — the production shape
    for an embedding feed landing in an ANN/KV store: the per-dim
    scale table is FIXED (fitted batch-side on the standing corpus —
    64 rows at any scale, plans/ext_embed.fit_scales) and enters each
    micro-batch as a broadcast stream-static join; vectors STREAM
    through the identical pure-codegen quantize with zero streaming
    state (per-row op, append mode). In production the scales refresh
    batch-side like any model artifact; re-fitting on every batch
    would let the quantization of old vectors drift. Oracle = the
    batch operator's SQL: the quantize is per-row and the scales come
    from the same complete corpus, so streamed == batched exactly."""
    scales = fit_scales(spark, sf_dir)
    dims = (
        replay_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", F.posexplode("embedding").alias("dim", "v"))
    )
    return drain_to_memory(quantize_components(dims, scales))


@register("stream_embed_centroids", oracle=CENTROIDS_ORACLE)
def stream_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label centroids maintained as STATEFUL streaming aggregation —
    the continuously-refreshed class-prototype store (the statistic
    `ext_kmeans_assign` and a production quantizer refresh consume).
    Where the HLL/CMS twins stream mergeable *sketch* state, this
    streams mergeable *numeric* state: per-(label, dim) running
    ``(sum(vq), count)`` in Spark's state store, updated per
    micro-batch in complete mode. Integer sums are associative and
    accumulation-order-independent, so ANY micro-batch arrival order
    produces bit-identical state — the drained result hash-matches
    the batch operator's oracle exactly. State is L x 64 rows
    (dimension-bounded), never corpus-sized; the truncating-DIV mean
    is taken on the drained frame, outside the incremental state."""
    vq = (
        replay_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("label", F.posexplode("embedding").alias("dim", "v"))
        .select(
            "label",
            "dim",
            F.floor(
                F.col("v").cast("double") * F.lit(float(FIXED_POINT))
            )
            .cast("bigint")
            .alias("vq"),
        )
    )
    state = vq.groupBy("label", "dim").agg(
        F.sum("vq").alias("sum_q"),
        F.count(F.lit(1)).alias("n_vectors"),
    )
    drained = drain_to_memory(state, output_mode="complete")
    return drained.select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        F.expr("sum_q DIV n_vectors").alias("centroid_q"),
        "n_vectors",
    )
