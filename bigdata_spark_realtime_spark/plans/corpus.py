"""Shared corpus-prep expression helpers (NO query registrations).

Text normalization and embedding-typing primitives used across the
dedup / text / similarity / decontamination plan modules. They live in
their own module so that importing a helper never imports a module
that *registers queries*: a caller that needs one expression should not
pay for, or depend on, another suite's query definitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.hints import estimated_size_bytes
from bigdata_spark_realtime_spark.sources.tables import load_table

#: DuckDB-side twin of :func:`norm_text` — keep the two in lockstep.
NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def norm_text(col: F.Column) -> F.Column:
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def cosine(a: F.Column, b: F.Column) -> F.Column:
    """Cosine over array<double> with a deterministic left-to-right fold
    (bit-identical to DuckDB's list_cosine_similarity accumulation)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def emb_double(df: DataFrame) -> DataFrame:
    """Vector-op entry point: float32 list → double, NULL vectors
    dropped. A row without a vector cannot participate in any
    similarity/centroid/signature computation — the DuckDB oracles
    skip such rows implicitly (``len(NULL)`` drains their unnest /
    dot-product CTEs), and before this filter a NULL reaching the
    Arrow kernels crashed ``np.stack`` (nulls-injected boundary sweep,
    round 13). The filter pushes down to the parquet scan and is a
    no-op on vintage data, which has no NULLs."""
    return df.where(F.col("embedding").isNotNull()).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )


# ---------------------------------------------------------------------------
# User-dim derivations shared by the scalar-fn, join, aggregation and
# serving suites (`app/dwd_DauApp.scala:128-145`). The star schema has
# no birthday/gender columns; both are derived deterministically from
# c_custkey so the two engines agree. They live HERE (not in
# plans/scalar_fns.py, where the f4/j1 queries use them) so that joins,
# serving and aggregations share them without importing scalar_fns.
# ---------------------------------------------------------------------------

BIRTHDAY_SQL = "DATE '1970-01-01' + CAST(c_custkey * 37 % 15000 AS INT)"
AGE_REF_DATE = "2024-06-15"
GENDER_SQL = "CASE WHEN c_custkey % 2 = 0 THEN 'F' ELSE 'M' END"


def birthday_col() -> F.Column:
    return F.date_add(
        F.to_date(F.lit("1970-01-01")), (F.col("c_custkey") * 37 % 15000).cast("int")
    )


def gender_col() -> F.Column:
    return F.when(F.col("c_custkey") % 2 == 0, "F").otherwise("M")


#: most-recently persisted intermediates, per owning query (round-7
#: ADVICE: plan-builder persists were never released, so every
#: re-invocation — bench passes, oracle mirrors — left a dead cache
#: entry behind for the process lifetime)
_SCOPED_PERSISTS: dict[str, list[DataFrame]] = {}


def scoped_persist(df: DataFrame, scope: str, keep: int = 2) -> DataFrame:
    """persist() for DataFrames returned inside a lazily-consumed plan:
    the builder cannot unpersist after its own action (there is none
    yet), so instead each invocation evicts the PREVIOUS invocation's
    persisted frames for the same ``scope``. ``keep`` is the number of
    frames one invocation registers. Guarantee: the previous
    invocation's frames always survive until the next invocation;
    OLDER generations may be unpersisted while still referenced by an
    unevaluated plan (e.g. plans built from three invocations of one
    scope before any is evaluated), which silently recomputes — slower,
    never wrong.
    """
    frames = _SCOPED_PERSISTS.setdefault(scope, [])
    while len(frames) >= 2 * keep:
        frames.pop(0).unpersist()
    frames.append(df.persist())
    return df


#: persist-vs-recompute break-even (bytes of source input). Below this,
#: the source table is page-cache resident and re-planning the subtree
#: is cheaper than a cache materialization + block-manager round-trip
#: (guide §5: persist only when recomputing costs more than the memory
#: pressure/overhead caching creates — measured at sf0.1 in round 16:
#: persisting bm25's 0.6 MB-source projections cost +0.7 s/query).
#: Deliberately keyed on INPUT SIZE, not core count or a local tune:
#: any 100 TB table passes the gate on any cluster, and every test SF
#: stays on the recompute path.
PERSIST_MIN_INPUT_BYTES = 64 << 20


def scoped_persist_if_large(
    df: DataFrame, scope: str, sf_dir: str, keep: int = 2
) -> DataFrame:
    """:func:`scoped_persist` gated on the size of the SOURCE table
    (``documents``): persist shared subtrees when the input is big
    enough that a re-scan costs more than the materialization (the
    100 TB case — one decode of the heavy column instead of one per
    consumer), skip the persist when the whole table is page-cache
    small and recompute is free. The size is Catalyst's plan-time
    estimate (:func:`estimated_size_bytes`) of the table the query
    reads: for a parquet scan the file index's byte total, so a single
    file and a directory of part files are sized the same way. The
    caller's plan SHAPE is identical either way; only the number of
    physical source scans differs."""
    source = load_table(df.sparkSession, sf_dir, "documents")
    if estimated_size_bytes(source) >= PERSIST_MIN_INPUT_BYTES:
        return scoped_persist(df, scope, keep=keep)
    return df
