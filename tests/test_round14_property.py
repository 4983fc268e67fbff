"""R14 replay-migration pins: the stream builders must be
layout-robust (Spark-written directory tables, not just the driver's
single-file testdata) AND schedule-robust — a multi-part events table
must not lose rows to watermark advancement between part-file
micro-batches.

Round 14 measured the failure this guards: stream_windowed_counts with
maxFilesPerTrigger=1 on a 3-part replica dropped 91 of 477 windows
(rows later than watermark-delay behind the max ts seen so far are
silently discarded by the streaming agg — fast and wrong, the worst
kind). The fix batches every data file into ONE micro-batch with only
the flush sentinel in the next.
"""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module")
def dir_tables(spark, sf_dir, tmp_path_factory):
    """sf0.001 replica where events/documents/embeddings are
    Spark-WRITTEN 3-part directory tables (production layout) and the
    dimension tables are symlinks."""
    work = str(tmp_path_factory.mktemp("dir_tables_sf"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(work, f"{t}.parquet")
        if t in ("events", "documents", "embeddings"):
            spark.read.parquet(src).repartition(3).write.parquet(dst)
        else:
            os.symlink(src, dst)
    return work


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_windowed_counts_no_late_drops_on_multipart_table(
    spark, sf_dir, dir_tables
):
    """The watermark-sensitive twin: multi-part replay must equal the
    single-file replay row-for-row (which itself is oracle-gated)."""
    from bigdata_spark_realtime_spark.plans.streaming_queries import (
        stream_windowed_counts,
    )

    got = _rows(stream_windowed_counts(spark, dir_tables))
    want = _rows(stream_windowed_counts(spark, sf_dir))
    assert len(got) > 0
    assert got == want


def test_events_and_docs_streams_read_directory_tables(
    spark, sf_dir, dir_tables
):
    """The table replay (replay_table) must see every part
    file; the pre-migration single-symlink device yielded an EMPTY
    stream here."""
    from bigdata_spark_realtime_spark.plans.streaming_queries import (
        stream_dedup_dau_keys,
        stream_hll_distinct,
    )

    assert _rows(stream_dedup_dau_keys(spark, dir_tables)) == _rows(
        stream_dedup_dau_keys(spark, sf_dir)
    )
    assert _rows(stream_hll_distinct(spark, dir_tables)) == _rows(
        stream_hll_distinct(spark, sf_dir)
    )
