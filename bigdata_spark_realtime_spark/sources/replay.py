"""Replay a batch parquet table as a file-source stream, and drain it.

:func:`replay_table` is the stream side's ``load_table``: the stream
twins replay a table through Spark's file-stream source, which reads a
directory of data files. Every replay keeps three conditions:

- Directory recursion. A Spark-written table is a directory of part
  files, and the file-stream source does not recurse into a symlinked
  directory, so the stream would come up empty. Each data file is
  linked on its own (``_SUCCESS`` and hidden entries skipped).
- Content stamp. The link dir is keyed by a stamp of the table's whole
  data-file set, so an append or an in-place rewrite gets a fresh dir,
  never stale links. A dir left behind with only dangling links (its
  table deleted or rewritten) is deleted by the next replay.
- Sentinel-only last batch. A flushed replay reads every data file in
  its first micro-batch and one far-future sentinel row alone in the
  next. With one file per batch, the watermark would advance between
  the part files of a directory table, and a streaming aggregate would
  drop the rows behind it.

:func:`drain_to_memory` runs such a stream to the end of its input and
leaves nothing in the session catalog.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from bigdata_spark_realtime_spark import cache
from bigdata_spark_realtime_spark.sources.tables import (
    ensure_session_confs,
    events_ts_kind,
    ts_to_timestamp_expr,
)

#: storage integers per second of each arrow timestamp unit; an int64
#: ``ts`` holds epoch nanos
_PER_SECOND = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}


def _data_files(path: str) -> list[str]:
    """The table's data files: the path itself for a single-file table,
    else the sorted parquet parts of a Spark-written directory."""
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if not f.startswith(("_", ".")) and f.endswith(".parquet")
    ]


def first_data_file(path: str) -> str:
    """A data file of the table, for footer-only reads (pq.read_schema
    and friends reject directories)."""
    files = _data_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet data files under {path}")
    return files[0]


def table_stamp(path: str) -> str:
    """Content stamp of a parquet table's data-file set: the absolute
    path plus sorted ``(name, mtime_ns, size)`` of every data file, so
    an append that leaves the first part file untouched still changes
    it."""
    path = os.path.abspath(path)
    parts = []
    for f in _data_files(path):
        st = os.stat(f)
        parts.append((os.path.basename(f), st.st_mtime_ns, st.st_size))
    return hashlib.md5(repr((path, parts)).encode()).hexdigest()[:12]


def replay_table(
    spark: SparkSession, sf_dir: str, name: str, flush: dict | None = None
) -> DataFrame:
    """``<sf_dir>/<name>.parquet`` replayed as a file-source stream.
    ``sf_dir`` is a local path or a ``file:`` URI. ``events`` gains an
    ``event_time`` TimestampType column normalized from whichever
    ``ts`` vintage the table stores, as ``load_table`` normalizes
    ``ts``.

    ``flush``, when given, holds the non-``ts`` values of one sentinel
    row whose ``ts`` is 3650 days past the table's max; every data file
    arrives in the first micro-batch and the sentinel alone in the
    next, which pushes the watermark past every real window. A flushed
    replay never shares a link dir with a plain one."""
    local = cache.local_dir(sf_dir)
    if local is None:
        raise ValueError(
            f"cannot replay {sf_dir!r}: the {urlparse(sf_dir).scheme}: "
            "scheme is not a local path, and the replay symlinks files"
        )
    ensure_session_confs(spark)
    path = os.path.join(local, f"{name}.parquet")
    if name == "events":
        kind = events_ts_kind(path)
        if kind == "nanos":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    files = _data_files(path)
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    stream_dir = os.path.join(
        tempfile.gettempdir(),
        f"bsr_replay_{table_stamp(path)}{'' if flush is None else '_flush'}",
    )
    _prune_dead_link_dirs(stream_dir)
    os.makedirs(stream_dir, exist_ok=True)
    for f in files:
        link = os.path.join(stream_dir, os.path.basename(f))
        if not os.path.exists(link):
            os.symlink(f, link)
    if flush is not None:
        _write_sentinel(path, os.path.join(stream_dir, "flush.parquet"), flush)
        # the file source orders by modification time, and the sentinel
        # is written after the data, so it is the one file left over
        reader = reader.option("maxFilesPerTrigger", len(files))
    df = reader.parquet(stream_dir)
    if name == "events":
        df = df.withColumn("event_time", ts_to_timestamp_expr(kind))
    return df


def _prune_dead_link_dirs(keep: str) -> None:
    """Delete each sibling ``bsr_replay_*`` dir of ``keep`` that holds at
    least one link and whose links all dangle. A dir with no link is
    kept: another replay may be filling it."""
    for entry in os.scandir(os.path.dirname(keep)):
        if (
            not entry.name.startswith("bsr_replay_")
            or entry.path == keep
            or not entry.is_dir(follow_symlinks=False)
        ):
            continue
        try:
            links = [e.path for e in os.scandir(entry.path) if e.is_symlink()]
        except FileNotFoundError:  # pruned by a concurrent replay
            continue
        if links and not any(os.path.exists(link) for link in links):
            shutil.rmtree(entry.path, ignore_errors=True)


def _write_sentinel(path: str, sentinel: str, values: dict) -> None:
    """Write the flush row once per link dir, in the table's own
    physical schema: ``ts`` is max(ts) (0 on a zero-row table) plus
    3650 days, computed in the column's storage integers; the other
    columns take ``values`` or null."""
    if os.path.exists(sentinel):
        return
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    schema = pq.read_schema(first_data_file(path))
    ts_type = schema.field("ts").type
    unit = ts_type.unit if pa.types.is_timestamp(ts_type) else "ns"
    ts = pc.cast(pq.read_table(path, columns=["ts"])["ts"], pa.int64())
    top = pc.max(ts).as_py() or 0
    cols = []
    for f in schema:
        if f.name == "ts":
            far = top + 3650 * 86400 * _PER_SECOND[unit]
            cols.append(pa.array([far], pa.int64()).cast(f.type))
        elif f.name in values:
            cols.append(pa.array([values[f.name]], f.type))
        else:
            cols.append(pa.nulls(1, f.type))
    pq.write_table(pa.Table.from_arrays(cols, schema=schema), sentinel)


def drain_to_memory(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Run the stream ``df`` to the end of its input into a memory sink
    and return the sink's rows as a batch frame. The query is stopped
    and the sink's view dropped before returning, so the session
    catalog is left as it was; the frame still holds the sink, whose
    rows are freed with the frame.

    A drain replays whole tables, mostly in one micro-batch, so its
    fresh checkpoint starts at the batch shuffle width
    (``initialPartitionNum``), not at the small-stream default of 1
    that ``session.get_spark`` sets. A stream reads the setting once,
    when ``start()`` clones the session, so it is set around that call
    only."""
    spark = df.sparkSession
    name = f"q_{uuid.uuid4().hex[:10]}"
    conf, key = spark.conf, "spark.sql.shuffle.partitions"
    stream_width = conf.get(key)
    batch_width = conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", stream_width
    )
    conf.set(key, batch_width)
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )
    finally:
        conf.set(key, stream_width)
    try:
        q.processAllAvailable()
        return spark.table(name)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
