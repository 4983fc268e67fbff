"""End-to-end Structured Streaming tests for the four reference pipelines.

Fixtures are replayed as real micro-batches (file source,
maxFilesPerTrigger=1 → multiple triggers) into memory sinks; results are
checked against pure-python ground truths computed from the same JSON —
independent of any Spark code path.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark import schemas as S
from bigdata_spark_realtime_spark.sources import fixtures as FX
from bigdata_spark_realtime_spark.streaming.base_db import (
    parse_cdc,
    route_dims,
    route_facts,
)
from bigdata_spark_realtime_spark.streaming.base_log import split_base_log
from bigdata_spark_realtime_spark.streaming.dau import build_dau
from bigdata_spark_realtime_spark.streaming.order import (
    enrich_order_info,
    order_wide_join,
)

AGE_REF = "2024-03-01"


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("group2")
    FX.gen_raw_log(str(d / "raw_log"), n_rows=1200, n_files=4)
    FX.gen_cdc(str(d / "raw_cdc"), n_rows=600, n_files=3)
    FX.gen_dims(str(d / "dims"))
    meta = FX.gen_order_streams(str(d / "orders"), n_orders=200, n_files=5)
    (d / "meta.json").write_text(json.dumps(meta))
    return d


def _read_jsonl(path):
    rows = []
    for fn in sorted(os.listdir(path)):
        with open(os.path.join(path, fn)) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def _run_stream_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()


def _dims(spark, fixture_dir):
    dim_user = spark.read.schema(S.DIM_USER_SCHEMA).json(
        str(fixture_dir / "dims" / "user_info")
    )
    dim_prov = spark.read.schema(S.DIM_PROVINCE_SCHEMA).json(
        str(fixture_dir / "dims" / "base_province")
    )
    return dim_user, dim_prov


# ---------------------------------------------------------------------------
# base_log multiplex split (T1-T7)
# ---------------------------------------------------------------------------


def test_base_log_stream_matches_batch_and_ground_truth(spark, fixture_dir):
    path = str(fixture_dir / "raw_log")
    raw_stream = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(path)
    raw_batch = spark.read.format("text").load(path)

    stream_out, batch_out = split_base_log(raw_stream), split_base_log(raw_batch)
    for name, sdf in stream_out.items():
        _run_stream_to_memory(sdf, f"baselog_{name}")

    truth = _read_jsonl(path)
    n_err = sum(1 for r in truth if "err" in r)
    page_rows = [r for r in truth if "err" not in r and "page" in r]
    n_display = sum(len(r.get("displays", [])) for r in page_rows)
    n_action = sum(len(r.get("actions", [])) for r in page_rows)
    n_start = sum(1 for r in truth if "err" not in r and "start" in r)

    expected = {
        "err": n_err,
        "page": len(page_rows),
        "display": n_display,
        "action": n_action,
        "start": n_start,
    }
    for name, want in expected.items():
        got_stream = spark.sql(f"SELECT * FROM baselog_{name}")
        assert got_stream.count() == want, f"{name}: stream != ground truth"
        # stream == batch, row for row
        b = sorted(map(tuple, batch_out[name].collect()))
        s = sorted(map(tuple, got_stream.collect()))
        assert b == s, f"{name}: stream/batch divergence"

    # explode carries parent fields: every display row's mid exists among
    # its parent page rows
    mids = {r["common"]["mid"] for r in page_rows}
    got_mids = {r.mid for r in spark.sql("SELECT mid FROM baselog_display").collect()}
    assert got_mids <= mids


# ---------------------------------------------------------------------------
# DAU pipeline: entry filter → streaming dedup → dim enrich (D1/J1/J2)
# ---------------------------------------------------------------------------


def test_dau_stream_dedup_and_enrich(spark, fixture_dir):
    # full chain in one streaming query: raw log → split → page → DAU
    raw_stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(fixture_dir / "raw_log"))
    )
    page_stream = split_base_log(raw_stream)["page"]
    dim_user, dim_prov = _dims(spark, fixture_dir)
    dau = build_dau(page_stream, dim_user, dim_prov, AGE_REF, streaming=True)
    _run_stream_to_memory(dau, "dau_out")
    got = spark.sql("SELECT * FROM dau_out").collect()

    # ground truth: distinct (utc-date(ts), mid) over entry pages
    import datetime

    truth = _read_jsonl(str(fixture_dir / "raw_log"))
    entry = [
        r
        for r in truth
        if "err" not in r and "page" in r and r["page"].get("last_page_id") is None
    ]
    keys = {
        (
            datetime.datetime.fromtimestamp(
                r["ts"] / 1000, tz=datetime.timezone.utc
            ).strftime("%Y-%m-%d"),
            r["common"]["mid"],
        )
        for r in entry
    }
    got_keys = {(r.dt, r.mid) for r in got}
    assert got_keys == keys
    assert len(got) == len(keys), "exactly one row per (dt, mid)"

    # enrichment correctness: gender/age/province match the dims
    users = {u["id"]: u for u in _read_jsonl(str(fixture_dir / "dims" / "user_info"))}
    provs = {
        p["id"]: p for p in _read_jsonl(str(fixture_dir / "dims" / "base_province"))
    }
    ref = datetime.date.fromisoformat(AGE_REF)
    for r in got[:50]:
        u = users[int(r.user_id)]
        assert r.user_gender == u["gender"]
        b = datetime.date.fromisoformat(u["birthday"])
        age = ref.year - b.year - ((ref.month, ref.day) < (b.month, b.day))
        assert r.user_age == age
        assert r.province_name == provs[int(r.province_id)]["name"]
        assert r.hr == datetime.datetime.fromtimestamp(
            r.ts / 1000, tz=datetime.timezone.utc
        ).strftime("%H")


# ---------------------------------------------------------------------------
# order pipeline: stream-stream join with 24 h TTL (J4/J5)
# ---------------------------------------------------------------------------


def test_order_stream_stream_join_ttl(spark, fixture_dir):
    meta = json.loads((fixture_dir / "meta.json").read_text())

    dim_user, dim_prov = _dims(spark, fixture_dir)
    info_stream = (
        spark.readStream.schema(S.ORDER_INFO_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(fixture_dir / "orders" / "order_info"))
    )
    det_stream = (
        spark.readStream.schema(S.ORDER_DETAIL_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(fixture_dir / "orders" / "order_detail"))
    )
    wide = order_wide_join(
        enrich_order_info(info_stream, dim_user, dim_prov), det_stream, streaming=True
    )
    _run_stream_to_memory(wide, "order_wide_out")
    got = spark.sql("SELECT * FROM order_wide_out").collect()

    infos = {r["id"]: r for r in _read_jsonl(str(fixture_dir / "orders" / "order_info"))}
    details = _read_jsonl(str(fixture_dir / "orders" / "order_detail"))
    ttl_ms = 24 * 3600 * 1000
    expected_pairs = {
        (d["order_id"], d["id"])
        for d in details
        if d["order_id"] in infos
        and abs(d["event_ts"] - infos[d["order_id"]]["event_ts"]) <= ttl_ms
    }
    got_pairs = {(r.order_id, r.detail_id) for r in got}
    assert got_pairs == expected_pairs
    assert len(got) == len(expected_pairs), "each pair exactly once"

    # the planted >TTL details are dropped
    dropped = set(meta["ttl_dropped_detail_ids"])
    assert dropped and not {d for (_, d) in got_pairs} & dropped

    # J5 merge: detail's create_time wins; money fields from both sides
    by_pair = {(r.order_id, r.detail_id): r for r in got}
    for d in details[:80]:
        key = (d["order_id"], d["id"])
        if key not in by_pair:
            continue
        r = by_pair[key]
        assert r.create_time == d["create_time"]
        assert r.split_total_amount == d["split_total_amount"]
        assert r.total_amount == infos[d["order_id"]]["total_amount"]
        assert r.create_date == infos[d["order_id"]]["create_time"].split(" ")[0]


# ---------------------------------------------------------------------------
# CDC routing (T8/T9/K4/K6)
# ---------------------------------------------------------------------------


def test_cdc_routing_stream(spark, fixture_dir):
    path = str(fixture_dir / "raw_cdc")
    raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(path)
    cdc = parse_cdc(raw)
    _run_stream_to_memory(route_facts(cdc), "cdc_facts")
    _run_stream_to_memory(route_dims(cdc), "cdc_dims")

    truth = _read_jsonl(path)

    def norm_op(t):
        if t == "bootstrap-insert":
            return "insert"
        return t if t in ("insert", "update", "delete") else None

    exp_facts = [
        (f"DWD_{r['table'].upper()}_{norm_op(r['type']).upper()}")
        for r in truth
        if norm_op(r["type"]) and r["table"] in ("order_info", "order_detail")
    ]
    exp_dims = [
        f"DIM:{r['table'].upper()}:{r['data']['id']}"
        for r in truth
        if norm_op(r["type"]) and r["table"] in ("user_info", "base_province")
    ]
    facts = spark.sql("SELECT topic FROM cdc_facts").collect()
    dims = spark.sql("SELECT key FROM cdc_dims").collect()
    assert sorted(r.topic for r in facts) == sorted(exp_facts)
    assert sorted(r.key for r in dims) == sorted(exp_dims)
    # garbage ops and unlisted tables never appear
    assert spark.sql(
        "SELECT count(*) c FROM cdc_facts WHERE topic LIKE '%GARBAGE%' OR topic LIKE '%UNLISTED%'"
    ).first().c == 0


def test_order_stream_left_outer_emits_orphans_once(spark, fixture_dir, tmp_path):
    """Beyond-reference: left-outer stream-stream join. Orphaned details
    (header missing or outside the ±24 h TTL window) emit exactly once
    with null header columns — but only after the watermark proves no
    match can still arrive, which the test forces with far-future
    sentinel rows on both inputs."""
    import shutil

    # private copy of the fixture dirs (we append flush sentinels)
    src = fixture_dir / "orders"
    work = tmp_path / "orders_outer"
    shutil.copytree(src, work)

    dim_user, dim_prov = _dims(spark, fixture_dir)
    info_stream = (
        spark.readStream.schema(S.ORDER_INFO_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .json(str(work / "order_info"))
    )
    det_stream = (
        spark.readStream.schema(S.ORDER_DETAIL_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .json(str(work / "order_detail"))
    )
    wide = order_wide_join(
        enrich_order_info(info_stream, dim_user, dim_prov),
        det_stream,
        streaming=True,
        how="left_outer",
    )
    q = (
        wide.writeStream.format("memory")
        .queryName("order_wide_outer")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()

    infos = {r["id"]: r for r in _read_jsonl(str(src / "order_info"))}
    details = _read_jsonl(str(src / "order_detail"))
    max_ts = max(
        [r["event_ts"] for r in infos.values()] + [d["event_ts"] for d in details]
    )

    # two rounds of far-future sentinels: the first advances the
    # watermark past every real row's TTL horizon, the second forces the
    # extra micro-batch in which Spark evicts state and emits the nulls
    for k, bump in ((1, 60), (2, 120)):
        flush_ts = max_ts + bump * 3600_000
        (work / "order_info" / f"zz_flush_{k}.json").write_text(
            json.dumps({"id": -100 - k, "user_id": 1, "province_id": 1,
                        "create_time": "2030-01-01 00:00:00", "event_ts": flush_ts})
            + "\n"
        )
        (work / "order_detail" / f"zz_flush_{k}.json").write_text(
            json.dumps({"id": -200 - k, "order_id": -999, "sku_id": 1,
                        "create_time": "2030-01-01 00:00:00", "event_ts": flush_ts})
            + "\n"
        )
        q.processAllAvailable()
    q.stop()

    got = spark.sql("SELECT * FROM order_wide_outer WHERE detail_id > 0").collect()

    ttl_ms = 24 * 3600 * 1000
    matched = {
        (d["order_id"], d["id"])
        for d in details
        if d["order_id"] in infos
        and abs(d["event_ts"] - infos[d["order_id"]]["event_ts"]) <= ttl_ms
    }
    orphan_ids = {d["id"] for d in details} - {did for (_, did) in matched}
    meta = json.loads((fixture_dir / "meta.json").read_text())
    assert set(meta["ttl_dropped_detail_ids"]) <= orphan_ids

    inner_pairs = {(r.order_id, r.detail_id) for r in got if r.order_id is not None}
    null_rows = [r for r in got if r.order_id is None]
    assert inner_pairs == matched
    assert {r.detail_id for r in null_rows} == orphan_ids
    assert len(null_rows) == len(orphan_ids), "each orphan exactly once"
    # orphan rows carry the detail columns but null header enrichment
    for r in null_rows[:10]:
        assert r.sku_name is not None and r.total_amount is None
        assert r.user_gender is None and r.province_name is None


# ---------------------------------------------------------------------------
# state partitions: streams start at 1, batch shuffles at shuffle_partitions
# ---------------------------------------------------------------------------


def _state_partitions(query) -> set[tuple[str, int, int]]:
    """(operator, numShufflePartitions, numStateStoreInstances) over every
    stateful operator of every progress report of ``query``."""
    return {
        (op["operatorName"], op["numShufflePartitions"], op["numStateStoreInstances"])
        for p in query.recentProgress
        for op in p["stateOperators"]
    }


def _upsert_streams(session, fixture_dir, out):
    """The DAU and order-wide streams over the fixture files, each through
    ``foreach_batch_upsert`` into a dt-partitioned store under ``out``
    (the realtime pipeline's sinks). Returns the DAU store's (dt, mid)
    rows, the order-wide store's row multiset, and the state operators
    both queries reported."""
    from collections import Counter

    from bigdata_spark_realtime_spark.streaming.sinks import foreach_batch_upsert

    dim_user, dim_prov = _dims(session, fixture_dir)
    raw = (
        session.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(fixture_dir / "raw_log"))
    )
    dau = build_dau(split_base_log(raw)["page"], dim_user, dim_prov, AGE_REF, streaming=True)
    info = (
        session.readStream.schema(S.ORDER_INFO_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(fixture_dir / "orders" / "order_info"))
    )
    det = (
        session.readStream.schema(S.ORDER_DETAIL_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(fixture_dir / "orders" / "order_detail"))
    )
    wide = order_wide_join(
        enrich_order_info(info, dim_user, dim_prov), det, streaming=True
    ).withColumn("event_seq", F.col("detail_id"))
    started = [
        dau.writeStream.foreachBatch(
            foreach_batch_upsert(session, str(out / "dau"), ["dt", "mid"], "ts", "dt")
        )
        .option("checkpointLocation", str(out / "ckpt_dau"))
        .start(),
        wide.writeStream.foreachBatch(
            foreach_batch_upsert(
                session, str(out / "order_wide"), ["detail_id"], "event_seq", "create_date"
            )
        )
        .option("checkpointLocation", str(out / "ckpt_wide"))
        .start(),
    ]
    try:
        for q in started:
            q.processAllAvailable()
    finally:
        for q in started:
            q.stop()
    dau_rows = [(r.dt, r.mid) for r in session.read.parquet(str(out / "dau")).collect()]
    wide_rows = Counter(
        map(tuple, session.read.parquet(str(out / "order_wide")).select(*wide.columns).collect())
    )
    return dau_rows, wide_rows, set().union(*map(_state_partitions, started))


def test_checkpoint_keeps_its_state_partition_count(spark, tmp_path):
    """A checkpoint started at N state partitions restarts at N from a
    session whose default is 1: Spark reads the count from the offset
    log, not from the session."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def run(session, epoch):
        rows = [{"k": f"k{epoch}-{i}", "ts": i} for i in range(20)]
        (src / f"f{epoch}.json").write_text("\n".join(map(json.dumps, rows)))
        q = (
            session.readStream.schema("k string, ts long").json(str(src))
            .dropDuplicates(["k"])
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return _state_partitions(q)

    four = spark.newSession()
    four.conf.set("spark.sql.shuffle.partitions", "4")
    assert {parts for _, parts, _ in run(four, 0)} == {4}
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert {parts for _, parts, _ in run(spark, 1)} == {4}


def test_drain_starts_at_the_batch_width(spark, sf_dir, monkeypatch):
    """A registered stream twin drains a whole table, batch-sized work:
    ``drain_to_memory`` starts its stateful operator at the batch width
    and leaves the session's stream default at 1."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from bigdata_spark_realtime_spark.plans.streaming_queries import stream_sessionize_gap

    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        query = real_start(self, *args, **kwargs)
        started.append(query)
        return query

    monkeypatch.setattr(DataStreamWriter, "start", start)
    assert stream_sessionize_gap(spark, sf_dir).count() > 0
    width = int(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
    assert [{parts for _, parts, _ in _state_partitions(q)} for q in started] == [{width}]
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1"


def test_batch_shuffle_starts_at_shuffle_partitions(spark, sf_dir):
    """AQE's initial plan (before execution) shuffles at the batch width,
    not at the streams' 1. With AQE or its coalescing off, a batch
    shuffle would fall back to ``spark.sql.shuffle.partitions`` and
    this plan would show 1."""
    import re

    from bigdata_spark_realtime_spark.sources.tables import load_table

    width = spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    assert int(width) > 1
    df = load_table(spark, sf_dir, "orders").groupBy("o_custkey").count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=false" in plan
    widths = re.findall(r"hashpartitioning\(.*?, (\d+)\)", plan)
    assert widths and set(widths) == {width}


def test_streams_agree_at_one_and_five_state_partitions(spark, fixture_dir, tmp_path):
    """The override path (a session at N state partitions) under the
    same correctness check as the default: equal DAU key sets and
    order-wide row multisets over the same files."""
    dau_one, wide_one, ops_one = _upsert_streams(spark, fixture_dir, tmp_path / "one")
    five = spark.newSession()
    five.conf.set("spark.sql.shuffle.partitions", "5")
    dau_five, wide_five, ops_five = _upsert_streams(five, fixture_dir, tmp_path / "five")

    # a fresh stream from the default session: one partition per
    # stateful operator, and the watermarked dedup keeps one store in it
    by_name = {name: (parts, stores) for name, parts, stores in ops_one}
    assert len(by_name) == len(ops_one), "one partition count per operator"
    assert {parts for parts, _ in by_name.values()} == {1}
    assert by_name["dedupeWithinWatermark"] == (1, 1)
    assert {parts for _, parts, _ in ops_five} == {5}
    assert dau_one and len(dau_one) == len(set(dau_one))
    assert sorted(dau_five) == sorted(dau_one)
    assert wide_one and wide_five == wide_one


def test_twins_leave_the_session_catalog_as_it_was(spark, sf_dir):
    """A drain drops its memory sink's view, so a long-lived session (a
    sweep, a bench run, the HTTP server) gains no table per twin call,
    and each returned frame still reads the sink's rows."""
    from bigdata_spark_realtime_spark.plans.streaming_queries import (
        stream_base_log_split,
        stream_cdc_routing,
        stream_windowed_counts,
    )
    from bigdata_spark_realtime_spark.sources.tables import load_table

    def tables():
        return sorted(t.name for t in spark.catalog.listTables())

    before = tables()
    windows = stream_windowed_counts(spark, sf_dir)
    branches = stream_base_log_split(spark, sf_dir)
    routes = stream_cdc_routing(spark, sf_dir)
    assert tables() == before
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r["ct"] for r in windows.collect()) == n_events
    assert len(branches.collect()) == 5
    assert sum(r["n"] for r in routes.collect()) > 0
