"""Layout-robust file-replay streams for batch parquet tables.

The streaming twins replay a batch parquet table through Spark's
file-stream source, which requires a *directory* of data files. The
older per-module replay helpers (``plans/streaming_queries.py``)
symlink the table path itself into a temp dir — correct for the
single-file tables the driver testdata ships, but a Spark-WRITTEN
table is a directory of part files, and a symlinked directory is not
recursed by the file-stream source: the stream comes up EMPTY and
every downstream aggregate silently reports zero rows (measured in
round 13 on the 10x/30x scale-smoke replicas — the worst failure mode,
fast and wrong). This helper handles both layouts: a file is linked
directly, a directory gets each of its data files linked (skipping
``_SUCCESS``/hidden entries), so the replay works unchanged on the
production-shaped layout. The round-14+ plan migrates the older
helpers here at their next natural re-gate.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def _is_data_file(name: str) -> bool:
    return not name.startswith(("_", ".")) and name.endswith(".parquet")


def first_data_file(path: str) -> str:
    """The path itself for a single-file table, else the first data file
    of a Spark-written directory table — for footer-only reads
    (pq.read_schema and friends reject directories)."""
    if not os.path.isdir(path):
        return path
    for f in sorted(os.listdir(path)):
        if _is_data_file(f):
            return os.path.join(path, f)
    raise FileNotFoundError(f"no parquet data files under {path}")


def table_stamp(path: str) -> str:
    """Content stamp of a parquet table's data-file SET: the absolute
    path plus sorted ``(name, mtime_ns, size)`` of every data file.
    Any rewrite, append, or removal of a part file changes the stamp —
    stamping only the first data file misses an append to a directory
    table (new part files land without touching the first one), which
    would reuse a stale link dir / flush sentinel and silently replay
    the old table version (round-14 review finding)."""
    path = os.path.abspath(path)
    if os.path.isdir(path):
        parts = sorted(
            (f, os.stat(os.path.join(path, f)).st_mtime_ns,
             os.stat(os.path.join(path, f)).st_size)
            for f in os.listdir(path)
            if _is_data_file(f)
        )
    else:
        st = os.stat(path)
        parts = [(os.path.basename(path), st.st_mtime_ns, st.st_size)]
    return hashlib.md5(repr((path, parts)).encode()).hexdigest()[:12]


def link_data_files(src: str, dest_dir: str, prefix: str = "") -> None:
    """Symlink a parquet table (single file OR Spark-written directory)
    into ``dest_dir`` for the file-stream source, one link per data
    file, skipping ``_SUCCESS``/hidden entries. ``prefix`` controls
    lexicographic arrival order against other files in the same dir
    (e.g. a ``zz_``-named flush sentinel must sort last). Idempotent."""
    src = os.path.abspath(src)
    if os.path.isdir(src):
        for f in sorted(os.listdir(src)):
            if _is_data_file(f):
                link = os.path.join(dest_dir, prefix + f)
                if not os.path.exists(link):
                    os.symlink(os.path.join(src, f), link)
    else:
        link = os.path.join(dest_dir, prefix + os.path.basename(src))
        if not os.path.exists(link):
            os.symlink(src, link)


def file_replay_stream(spark: SparkSession, table_path: str) -> DataFrame:
    """Replay ``table_path`` (a parquet file OR a Spark-written parquet
    directory) as a file-source stream. The link dir is keyed by the
    absolute source path AND a content stamp of the data-file set
    (:func:`table_stamp`), so two tables sharing a basename never reuse
    each other's links and a rewritten-in-place or appended table gets
    a FRESH dir — a path-only key left dangling symlinks (crash the
    file-source listing) or still-valid links to the previous table
    version (silently mix old rows into the replay) after an in-place
    rewrite. Links are idempotent across sessions."""
    path = os.path.abspath(table_path)
    schema = spark.read.parquet(path).schema
    stream_dir = os.path.join(
        tempfile.gettempdir(), f"bsr_replay_{table_stamp(path)}"
    )
    os.makedirs(stream_dir, exist_ok=True)
    link_data_files(path, stream_dir)
    return spark.readStream.schema(schema).parquet(stream_dir)
