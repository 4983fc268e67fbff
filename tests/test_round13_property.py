"""R13 surface growth: the two new streaming intake twins must equal
their batch operators row-for-row (the twin contract — the in-stream
kernel/projection plus post-drain analytics converges to the batch
plan's result regardless of micro-batch schedule). The DuckDB oracle
mirrors (test_queries_oracle*.py) independently check both against
planted ground truth (video_truth.jsonl) / the window-SQL reference;
these pins add the direct stream==batch equality at test SF.
"""

from __future__ import annotations


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_scene_cuts_equals_batch(spark, sf_dir):
    from bigdata_spark_realtime_spark.plans.ext_multimodal import (
        ext_multimodal_scene_cuts,
        stream_scene_cuts,
    )

    got = _rows(stream_scene_cuts(spark, sf_dir))
    want = _rows(ext_multimodal_scene_cuts(spark, sf_dir))
    assert got == want and len(got) > 0


def test_stream_pack_shards_equals_batch(spark, sf_dir):
    from bigdata_spark_realtime_spark.plans.ext_packing import (
        ext_pack_shards,
        stream_pack_shards,
    )

    got = _rows(stream_pack_shards(spark, sf_dir))
    want = _rows(ext_pack_shards(spark, sf_dir))
    assert got == want and len(got) > 0


def test_stream_pack_shards_is_arrival_order_invariant(spark, sf_dir):
    """The pack order key is data-derived (hash, doc_id), not
    arrival-derived: replaying the same documents through a second
    stream (fresh symlink dir, fresh memory sink) yields identical
    packs — the property that lets the batch PACKING_ORACLE verify a
    continuous intake."""
    from bigdata_spark_realtime_spark.plans.ext_packing import stream_pack_shards

    assert _rows(stream_pack_shards(spark, sf_dir)) == _rows(
        stream_pack_shards(spark, sf_dir)
    )


def test_file_replay_stream_handles_directory_tables(spark, tmp_path):
    """The round-13 measured bug class: a Spark-WRITTEN parquet table is
    a directory of part files, and a symlinked directory is not
    recursed by the file-stream source — the old replay device came up
    EMPTY (fast and wrong) on exactly the 100 TB-shaped layout. The
    layout-robust helper must ingest every row of both layouts."""
    from bigdata_spark_realtime_spark.sources.replay import (
        drain_to_memory,
        replay_table,
    )

    d = str(tmp_path / "dir_table.parquet")
    spark.range(0, 1000).selectExpr("id", "id * 2 AS v").repartition(
        4
    ).write.parquet(d)
    drained = drain_to_memory(replay_table(spark, str(tmp_path), "dir_table"))
    assert drained.count() == 1000
    assert drained.agg({"v": "sum"}).collect()[0][0] == 999 * 1000
