"""Every streaming twin, oracle-exact on a 3-part Spark-WRITTEN
replica (production layout) — the standing per-round promotion of
round 14's one-off verification (commit b660e03).

Round 14 found that table layout is a correctness axis for streaming
replays: a symlinked directory was not recursed by the file-stream
source (silently EMPTY stream), and with one part file per micro-batch
the watermark advanced between parts and the streaming agg silently
dropped 386/477 windows. tests/test_round14_property.py pins three
representative twins; this module runs ALL registered ``stream_*``
queries against the replica and their own DuckDB oracles, so the next
layout-sensitive regression goes red locally instead of surfacing in a
scale smoke.

Also pins the round-15 replay-stamp fixes (r14 advisor findings): the
replay link dir and the flush-sentinel fixture are keyed by a content
stamp of the WHOLE data-file set, so an append (new part files, first
file untouched) or an in-place rewrite (dangling/stale links) always
gets a fresh stream dir.
"""

from __future__ import annotations

import os
import pathlib

import pytest

from bigdata_spark_realtime_spark.plans import registry
from tests.oracle_util import assert_matches_oracle

SPECS = registry.load_all()
STREAM_TWINS = sorted(n for n in SPECS if n.startswith("stream_"))


def test_twin_inventory_is_complete():
    """A renamed twin must not silently drop out of this gate."""
    assert len(STREAM_TWINS) >= 38


@pytest.fixture(scope="module")
def dir_tables(spark, sf_dir, tmp_path_factory):
    """sf0.001 replica where events/documents/embeddings are
    Spark-written 3-part directory tables and dims are symlinks, spelled
    as a ``file://`` URI so every twin also reads a URI ``sf_dir``."""
    work = str(tmp_path_factory.mktemp("twin_dir_tables"))
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
    return pathlib.Path(work).as_uri()


@pytest.mark.parametrize("name", STREAM_TWINS)
def test_twin_oracle_exact_on_multipart_replica(name, spark, duck, dir_tables):
    """The twin on the 3-part replica must hash-match the same oracle
    the single-file driver gate checks (replica rows are identical, so
    the oracle frame is unchanged)."""
    spec = SPECS[name]
    assert_matches_oracle(spec.fn(spark, dir_tables), duck, spec.oracle)


def test_replay_rejects_a_non_local_scheme():
    """The replay symlinks data files, so only a local path or a
    ``file:`` URI can be replayed; any other scheme fails by name
    before a session is needed."""
    from bigdata_spark_realtime_spark.sources.replay import replay_table

    with pytest.raises(ValueError, match="s3a"):
        replay_table(None, "s3a://bucket/sf", "events")


def _drain(spark, df, view: str) -> int:
    q = (
        df.writeStream.format("memory")
        .queryName(view)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql(f"SELECT count(*) c FROM {view}").collect()[0][0]
    q.stop()
    return n


def test_replay_dir_is_content_stamped_across_append_and_rewrite(
    spark, sf_dir, tmp_path
):
    """r14 advisor findings: appending part files (first file untouched)
    must not reuse a stale link dir, and an in-place rewrite must not
    leave dangling or stale-version links."""
    from bigdata_spark_realtime_spark.sources.replay import (
        replay_table,
        table_stamp,
    )

    tbl = str(tmp_path / "events.parquet")

    def replay():
        return replay_table(spark, str(tmp_path), "events")

    src = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    src.limit(100).repartition(3).write.parquet(tbl)
    s1 = table_stamp(tbl)
    assert _drain(spark, replay(), "t_replay_a") == 100

    # append: two NEW part files, existing ones untouched
    src.limit(150).subtract(src.limit(100)).repartition(2).write.mode(
        "append"
    ).parquet(tbl)
    assert table_stamp(tbl) != s1
    assert _drain(spark, replay(), "t_replay_b") == 150

    # in-place rewrite: fewer rows, different part names — a path-keyed
    # dir would now hold dangling links (listing crash) or links to the
    # previous version (old rows mixed in)
    src.limit(40).repartition(2).write.mode("overwrite").parquet(tbl)
    assert _drain(spark, replay(), "t_replay_c") == 40


def test_replay_prunes_link_dirs_whose_table_is_gone(spark, tmp_path):
    """A replay deletes each sibling link dir whose links all dangle; a
    dir whose links are live, and an empty dir that another replay may
    be filling, are left as they are."""
    import tempfile
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_spark_realtime_spark.sources.replay import (
        replay_table,
        table_stamp,
    )

    def link_dir(name):
        path = str(tmp_path / name / "t.parquet")
        return os.path.join(tempfile.gettempdir(), f"bsr_replay_{table_stamp(path)}")

    for name in ("gone", "live", "next"):
        (tmp_path / name).mkdir()
        pq.write_table(pa.table({"k": [1, 2]}), str(tmp_path / name / "t.parquet"))
    replay_table(spark, str(tmp_path / "gone"), "t")
    replay_table(spark, str(tmp_path / "live"), "t")
    gone, live = link_dir("gone"), link_dir("live")
    live_links = sorted(os.listdir(live))
    filling = os.path.join(tempfile.gettempdir(), f"bsr_replay_{uuid.uuid4().hex[:12]}")
    os.makedirs(filling)
    try:
        os.remove(str(tmp_path / "gone" / "t.parquet"))
        replay_table(spark, str(tmp_path / "next"), "t")
        assert not os.path.exists(gone)
        assert sorted(os.listdir(live)) == live_links == ["t.parquet"]
        assert all(os.path.exists(os.path.join(live, f)) for f in live_links)
        assert os.path.isdir(link_dir("next")) and os.path.isdir(filling)
    finally:
        os.rmdir(filling)


def test_flush_sentinel_refreshes_on_append(spark, sf_dir, tmp_path):
    """stream_windowed_counts' sentinel carries max(ts)+10y; an append
    with later timestamps must regenerate it (the first-file-only stamp
    reused the old sentinel and the watermark dropped every appended
    row — the exact silent-late-drop class the r14 fix addressed)."""
    from bigdata_spark_realtime_spark.plans.streaming_queries import (
        stream_windowed_counts,
    )

    work = str(tmp_path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).orderBy(
        "ts"
    )
    n = ev.count()
    first, second = ev.limit(n // 2), ev.subtract(ev.limit(n // 2))
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        os.symlink(
            os.path.join(sf_dir, f"{t}.parquet"),
            os.path.join(work, f"{t}.parquet"),
        )
    tbl = os.path.join(work, "events.parquet")
    first.write.parquet(tbl)
    rows_half = stream_windowed_counts(spark, work).collect()
    # append the LATER half — every appended row is past the old
    # sentinel's watermark if the sentinel is stale
    second.write.mode("append").parquet(tbl)
    got = sum(r["ct"] for r in stream_windowed_counts(spark, work).collect())
    assert got == n, f"appended rows lost: {got} != {n}"
    assert sum(r["ct"] for r in rows_half) == n // 2


@pytest.mark.parametrize(
    "vintage", ["timestamp_us", "timestamp_ns", "int64_nanos", "timestamp_us_tz"]
)
def test_flush_sentinel_for_each_ts_vintage(spark, tmp_path, vintage):
    """The sentinel's ``ts`` is computed in the column's own storage
    type, for every ``ts`` vintage the events table has been written
    with: a zero-row table yields no windows, and a 3-row table's
    windows all flush."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_spark_realtime_spark.plans.streaming_queries import (
        stream_windowed_counts,
    )

    ts_type, per_hour = {
        "timestamp_us": (pa.timestamp("us"), 3600 * 10**6),
        "timestamp_ns": (pa.timestamp("ns"), 3600 * 10**9),
        "int64_nanos": (pa.int64(), 3600 * 10**9),
        "timestamp_us_tz": (pa.timestamp("us", tz="+05:30"), 3600 * 10**6),
    }[vintage]
    start = 473_352 * per_hour  # 2024-01-01T00:00:00Z in hours
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", ts_type),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    for n in (0, 3):
        hours = [0, 1, 7][:n]
        table = pa.table(
            [
                pa.array(range(n), pa.int64()),
                pa.array([start + h * per_hour for h in hours], pa.int64()).cast(
                    ts_type
                ),
                pa.array([1] * n, pa.int64()),
                pa.array(["click"] * n),
                pa.array([1.5] * n),
                pa.array(["{}"] * n),
            ],
            schema=schema,
        )
        sf = tmp_path / f"rows{n}"
        sf.mkdir()
        pq.write_table(table, sf / "events.parquet")
        rows = stream_windowed_counts(spark, str(sf)).collect()
        assert sum(r["ct"] for r in rows) == n
        assert len(rows) == (0 if n == 0 else 2)
