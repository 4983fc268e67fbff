"""Broadcast-hint policy (plans/hints.py) and the size parser.

Pins the policy on the two stream-static pipelines: the sf-proportional
user dim carries no hint, so Spark's own ``JoinSelection`` broadcasts it
per micro-batch while its plan-time estimate fits the session's
``spark.sql.autoBroadcastJoinThreshold`` and shuffles it otherwise; the
bounded province dim keeps the explicit ``broadcast_bounded`` hint under
every threshold.
"""

from __future__ import annotations

import re

import pytest

from bigdata_spark_realtime_spark import schemas as S
from bigdata_spark_realtime_spark.plans.hints import parse_size_bytes
from bigdata_spark_realtime_spark.sources import fixtures as FX
from bigdata_spark_realtime_spark.streaming.base_log import split_base_log
from bigdata_spark_realtime_spark.streaming.dau import build_dau
from bigdata_spark_realtime_spark.streaming.order import (
    enrich_order_info,
    order_wide_join,
)


def test_parse_size_bytes():
    assert parse_size_bytes("10485760") == 10 * 1024 * 1024
    assert parse_size_bytes("10MB") == 10 * 1024 * 1024
    assert parse_size_bytes("1g") == 1024**3
    assert parse_size_bytes("512k") == 512 * 1024
    assert parse_size_bytes("-1") == -1
    with pytest.raises(ValueError):
        parse_size_bytes("ten megs")


def test_parse_size_bytes_rejects_bare_i_suffix():
    # '10ib' is not a size: 'i' is only valid after a multiplier letter
    with pytest.raises(ValueError):
        parse_size_bytes("10ib")
    assert parse_size_bytes("10kib") == 10 * 1024
    assert parse_size_bytes("10b") == 10


# a physical join line: `<Strategy> [left keys], [right keys], ...`
_JOIN = re.compile(r"(\w+Join) \[([^\]]*)\], \[([^\]]*)\]")


@pytest.fixture(scope="module")
def streams_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hint_streams")
    FX.gen_raw_log(str(d / "raw_log"), n_rows=300, n_files=1)
    FX.gen_dims(str(d / "dims"))
    FX.gen_order_streams(str(d / "orders"), n_orders=50, n_files=1)
    return d


def _joins_by_dim_key(plan: str) -> dict[str, str]:
    """{right-side join key without its expression id: strategy}."""
    return {
        re.sub(r"#\d+L?", "", right): strategy
        for strategy, _, right in _JOIN.findall(plan)
    }


def _run_once(df, name: str):
    """Drain the stream in one trigger; the micro-batch's physical plan
    and its rows."""
    spark = df.sparkSession
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    plan = q._jsq.explainInternal(False)
    return plan, sorted(map(tuple, spark.table(name).collect()), key=repr)


def _dau_and_order_wide(spark, d):
    dim_user = spark.read.schema(S.DIM_USER_SCHEMA).json(str(d / "dims" / "user_info"))
    dim_prov = spark.read.schema(S.DIM_PROVINCE_SCHEMA).json(
        str(d / "dims" / "base_province")
    )
    raw = spark.readStream.format("text").load(str(d / "raw_log"))
    dau = build_dau(
        split_base_log(raw)["page"], dim_user, dim_prov, "2024-03-01", streaming=True
    )

    info = spark.readStream.schema(S.ORDER_INFO_STREAM_SCHEMA).json(
        str(d / "orders" / "order_info")
    )
    det = spark.readStream.schema(S.ORDER_DETAIL_STREAM_SCHEMA).json(
        str(d / "orders" / "order_detail")
    )
    info = enrich_order_info(info, dim_user, dim_prov)
    return dau, order_wide_join(info, det, streaming=True)


def test_stream_dim_joins_follow_the_session_threshold(spark, streams_dir):
    """DAU joins the user dim on ``uid`` and the province dim on ``pid``;
    order-wide on ``u_id`` / ``p_id``, plus its stream-stream join on the
    order ``id``. Under the default threshold the user dim broadcasts;
    under ``1b`` and ``-1`` (auto-broadcast off) it is shuffled. The
    province dim broadcasts every time, and the rows never change."""
    bhj, smj = "BroadcastHashJoin", "SortMergeJoin"
    ssj = "StreamingSymmetricHashJoin"
    expected = {
        None: ({"uid": bhj, "pid": bhj}, {"id": ssj, "u_id": bhj, "p_id": bhj}),
        "1b": ({"uid": smj, "pid": bhj}, {"id": ssj, "u_id": smj, "p_id": bhj}),
        "-1": ({"uid": smj, "pid": bhj}, {"id": ssj, "u_id": smj, "p_id": bhj}),
    }
    key = "spark.sql.autoBroadcastJoinThreshold"
    rows = []
    for i, (threshold, (want_dau, want_wide)) in enumerate(expected.items()):
        old = spark.conf.get(key)
        try:
            if threshold is not None:
                spark.conf.set(key, threshold)
            dau, wide = _dau_and_order_wide(spark, streams_dir)
            dau_plan, dau_rows = _run_once(dau, f"hint_dau_{i}")
            wide_plan, wide_rows = _run_once(wide, f"hint_wide_{i}")
        finally:
            spark.conf.set(key, old)
        assert _joins_by_dim_key(dau_plan) == want_dau, (threshold, dau_plan)
        assert _joins_by_dim_key(wide_plan) == want_wide, (threshold, wide_plan)
        rows.append((dau_rows, wide_rows))
    assert rows[0][0] and rows[0][1]
    assert rows[1] == rows[0] and rows[2] == rows[0]
