"""Batch table sources over the driver-generated parquet star schema.

The reference's sources are Kafka topics + Redis dim KV (SURVEY.md §2.1
S1-S5); for batch queries and the DuckDB-oracle correctness gate the
engine reads the same logical tables from parquet. Parquet scans get
predicate pushdown + column pruning from Catalyst for free — the
reference had to hand-code both (`ia/PublisherMapperImpl.java:117-118`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark import cache

#: the ten driver-generated tables (TESTDATA.md / FIXTURES.md Group 1)
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime-settable confs every query depends on, so results
    are correct even under a SparkSession the engine didn't build (the
    driver's verify harness creates its own): UTC for all date/hour
    derivations (F1-F3), string partition values for dt-partitioned
    serving tables."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's DataFrame, memoized per session by ``cache.memo``.
    A DataFrame is an immutable lazy plan, so reuse is safe and saves
    the 0.1-0.25 s of py4j footer-read round-trips every
    ``spark.read.parquet`` costs — ~5 s across one bench pass.
    ``sf_dir`` is a local path or a URI; only a local or ``file:`` one
    is memoized (``cache.local_dir``)."""

    def build() -> DataFrame:
        ensure_session_confs(spark)
        path = os.path.join(cache.local_dir(sf_dir) or sf_dir, f"{name}.parquet")
        if name == "events":
            return _load_events(spark, path)
        return spark.read.parquet(path)

    return cache.memo(spark, sf_dir, name, "table", build)


def events_ts_kind(path: str) -> str:
    """Classify the physical parquet type of the events ``ts`` column
    from the file footer (no Spark read, no session conf): the driver
    has regenerated the testdata across rounds with ``ts`` stored as
    TIMESTAMP(NANOS), raw int64 nanos, and timestamp[us] — schema drift
    the engine must absorb the way the reference absorbs schemaless
    JSON (`app/ods_BaseLogApp.scala:58-64`: missing/retyped fields
    degrade, never crash).

    Returns ``"timestamp"`` (µs/ms/s — Spark reads it natively),
    ``"nanos"`` (TIMESTAMP(NANOS) — Spark rejects it outright with
    [PARQUET_TYPE_ILLEGAL] unless read as long), or ``"long"`` (already
    a raw int64 of epoch nanos)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_spark_realtime_spark.sources.replay import first_data_file

    t = pq.read_schema(first_data_file(path)).field("ts").type
    if pa.types.is_timestamp(t):
        return "nanos" if t.unit == "ns" else "timestamp"
    if pa.types.is_integer(t):
        return "long"
    raise TypeError(f"events.ts has unsupported parquet type {t} in {path}")


def ts_to_timestamp_expr(kind: str):
    """The Column expression normalizing a ``ts`` of the given physical
    kind to a session-tz TimestampType — shared by the batch loader and
    ``sources.replay.replay_table`` so both paths agree on event time."""
    if kind == "timestamp":
        # timestamp[us] arrives as TIMESTAMP_NTZ; cast re-tags it in the
        # session zone (pinned UTC) without changing the wall-clock value
        return F.col("ts").cast("timestamp")
    # int64 epoch-nanos (raw long or TIMESTAMP(NANOS) read under
    # nanosAsLong): truncate to µs with exact integer division — the
    # same ns→µs truncation DuckDB applies on read
    return F.expr("timestamp_micros(ts div 1000)")


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Dtype-adaptive events load: branch on the footer's physical type
    instead of hard-coding one generator vintage. Either way the loaded
    frame presents ``ts`` as TimestampType (µs precision, UTC)."""
    kind = events_ts_kind(path)
    if kind == "nanos":
        # runtime-settable legacy conf: nanos columns surface as long
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    return df.withColumn("ts", ts_to_timestamp_expr(kind))


class LazyTables(dict):
    """Table mapping that loads each table on first access. Queries that
    index only the tables they read never touch the others' schemas —
    an unrelated table's drift (or absence) can't break them, and no
    parquet footer is read for tables a query never uses."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __missing__(self, name: str) -> DataFrame:
        df = load_table(self._spark, self._sf_dir, name)
        self[name] = df
        return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Lazy dict of all tables, or — when ``names`` are given — exactly
    those tables as a tuple (``li, s = load_tables(spark, d, "lineitem",
    "supplier")``)."""
    if names:
        return tuple(load_table(spark, sf_dir, n) for n in names)
    return LazyTables(spark, sf_dir)
