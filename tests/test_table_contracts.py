"""Schema contract for the driver-generated testdata.

The driver regenerates /root/testdata between rounds and has already
shipped the same logical column under three different physical parquet
types (``events.ts``: TIMESTAMP(NANOS) → timestamp[us]; the date
columns: date32 → timestamp[us]). Round 4 lost 27 queries, 31 tests and
the whole bench to one such drift surfacing as an opaque
AnalysisException deep inside a query plan.

This test pins the *contract* the engine actually depends on — the
logical column set per table plus the accepted families of physical
types — directly against the parquet footers (pyarrow; no Spark
session, so it runs in milliseconds and fails with the drifted column's
name). If a future regeneration drifts outside an accepted family, this
fails first with one clear message instead of 31 opaque ones.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

TESTDATA_ROOT = "/root/testdata"
SF_DIRS = [
    os.path.join(TESTDATA_ROOT, d)
    for d in ("sf0.001", "sf0.01", "sf0.1")
    if os.path.isdir(os.path.join(TESTDATA_ROOT, d))
]


def _is_integer(t: pa.DataType) -> bool:
    return pa.types.is_integer(t)


def _is_float(t: pa.DataType) -> bool:
    return pa.types.is_floating(t)


def _is_string(t: pa.DataType) -> bool:
    return pa.types.is_string(t) or pa.types.is_large_string(t)


def _is_temporal_or_nanos(t: pa.DataType) -> bool:
    """Timestamp of any unit, date, or raw int64 epoch — every vintage
    the adaptive loaders absorb."""
    return pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_int64(t)


def _is_float_list(t: pa.DataType) -> bool:
    return (
        pa.types.is_list(t) or pa.types.is_large_list(t)
    ) and pa.types.is_floating(t.value_type)


#: table -> {column -> accepted physical-type family}
CONTRACT: dict[str, dict[str, object]] = {
    "region": {"r_regionkey": _is_integer, "r_name": _is_string},
    "nation": {
        "n_nationkey": _is_integer,
        "n_name": _is_string,
        "n_regionkey": _is_integer,
    },
    "customer": {
        "c_custkey": _is_integer,
        "c_name": _is_string,
        "c_nationkey": _is_integer,
        "c_acctbal": _is_float,
        "c_mktsegment": _is_string,
    },
    "supplier": {
        "s_suppkey": _is_integer,
        "s_name": _is_string,
        "s_nationkey": _is_integer,
        "s_acctbal": _is_float,
    },
    "part": {
        "p_partkey": _is_integer,
        "p_name": _is_string,
        "p_brand": _is_string,
        "p_type": _is_string,
        "p_size": _is_integer,
        "p_retailprice": _is_float,
    },
    "orders": {
        "o_orderkey": _is_integer,
        "o_custkey": _is_integer,
        "o_orderstatus": _is_string,
        "o_totalprice": _is_float,
        "o_orderdate": _is_temporal_or_nanos,
        "o_orderpriority": _is_string,
    },
    "lineitem": {
        "l_orderkey": _is_integer,
        "l_partkey": _is_integer,
        "l_suppkey": _is_integer,
        "l_linenumber": _is_integer,
        "l_quantity": _is_float,
        "l_extendedprice": _is_float,
        "l_discount": _is_float,
        "l_tax": _is_float,
        "l_returnflag": _is_string,
        "l_linestatus": _is_string,
        "l_shipdate": _is_temporal_or_nanos,
    },
    "events": {
        "event_id": _is_integer,
        "ts": _is_temporal_or_nanos,
        "user_id": _is_integer,
        "event_type": _is_string,
        "value": _is_float,
        "props": _is_string,
    },
    "documents": {
        "doc_id": _is_integer,
        "text": _is_string,
        "lang": _is_string,
        "source": _is_string,
        "n_chars": _is_integer,
    },
    "embeddings": {
        "vec_id": _is_integer,
        "embedding": _is_float_list,
        "label": _is_integer,
    },
}


def check_contract(path: str, table: str) -> list[str]:
    """All contract violations for one parquet file, each naming the
    offending column — empty list means the file satisfies the contract."""
    spec = CONTRACT[table]
    schema = pq.read_schema(path)
    have = {f.name: f.type for f in schema}
    problems = [
        f"{table}.{col}: missing (file has {sorted(have)})"
        for col in spec
        if col not in have
    ]
    problems += [
        f"{table}.{col}: physical type {have[col]} outside accepted family"
        for col, accept in spec.items()
        if col in have and not accept(have[col])
    ]
    return problems


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=[os.path.basename(d) for d in SF_DIRS])
@pytest.mark.parametrize("table", sorted(CONTRACT))
def test_table_satisfies_contract(sf_dir, table):
    path = os.path.join(sf_dir, f"{table}.parquet")
    assert os.path.exists(path), f"{path} missing from testdata"
    problems = check_contract(path, table)
    assert not problems, "; ".join(problems)


def test_contract_catches_drift(tmp_path):
    """The contract must go red (naming the column) on a synthetic
    drifted events file — ts as string, value missing."""
    drifted = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array(["2026-01-01"], pa.string()),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["view"], pa.string()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(drifted, path)
    problems = check_contract(path, "events")
    assert any("events.ts" in p for p in problems), problems
    assert any("events.value" in p and "missing" in p for p in problems), problems


def test_queries_ignore_unrelated_tables(spark, sf_dir, tmp_path_factory):
    """An unrelated table's schema (or absence) must never break a query
    that doesn't read it: the no-arg ``load_tables`` is lazy, so
    q3/q5/q10/q18 run from a scratch sf dir with events.parquet deleted
    — the exact blast-radius amplifier of the round-4 regression."""
    from bigdata_spark_realtime_spark.plans import registry

    scratch = str(tmp_path_factory.mktemp("no_events_sf"))
    for table in sorted(CONTRACT):
        if table == "events":
            continue
        os.symlink(
            os.path.join(sf_dir, f"{table}.parquet"),
            os.path.join(scratch, f"{table}.parquet"),
        )
    specs = registry.load_all()
    for name in (
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q10_returned_items",
        "q18_large_volume_customer",
    ):
        assert specs[name].fn(spark, scratch).count() >= 0, name


@pytest.mark.parametrize("vintage", ["ns", "long"])
def test_events_legacy_vintages_load_end_to_end(spark, sf_dir, tmp_path_factory, vintage):
    """The adaptive loader must not just classify the legacy physical
    types — it must LOAD them: rewrite the real events file as
    TIMESTAMP(NANOS) / raw int64 epoch-nanos and assert the loaded
    frame is value-identical to the native timestamp[us] load."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bigdata_spark_realtime_spark.sources.tables import load_table

    scratch = str(tmp_path_factory.mktemp(f"events_{vintage}_sf"))
    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = src["ts"].combine_chunks().cast(pa.timestamp("ns"))
    if vintage == "long":
        ts = ts.cast(pa.int64())
    rewritten = src.set_column(
        src.schema.get_field_index("ts"), pa.field("ts", ts.type), ts
    )
    pq.write_table(
        rewritten, os.path.join(scratch, "events.parquet"),
        coerce_timestamps=None, store_schema=False,
    )
    got = load_table(spark, scratch, "events")
    assert dict(got.dtypes)["ts"] == "timestamp", got.dtypes
    want = load_table(spark, sf_dir, "events")
    assert (
        got.orderBy("event_id").collect() == want.orderBy("event_id").collect()
    )


def test_events_ts_kind_classification(tmp_path):
    """events_ts_kind covers every vintage: µs timestamp → native read,
    ns timestamp → legacy-long path, int64 → raw-nanos path."""
    from bigdata_spark_realtime_spark.sources.tables import events_ts_kind

    cases = {
        "us": (pa.timestamp("us"), "timestamp"),
        "ns": (pa.timestamp("ns"), "nanos"),
        "long": (pa.int64(), "long"),
    }
    for tag, (typ, want) in cases.items():
        path = str(tmp_path / f"ev_{tag}.parquet")
        pq.write_table(
            pa.table({"ts": pa.array([0], pa.int64()).cast(typ)}),
            path,
            coerce_timestamps=None,
        )
        assert events_ts_kind(path) == want, tag


def _regenerate(path: str, table) -> None:
    """Rewrite a parquet file in place AND force a distinct mtime (some
    filesystems have coarse timestamp granularity)."""
    pq.write_table(table, path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_table_cache_misses_on_inplace_regeneration(tmp_path, spark, sf_dir):
    """Every memoized artifact is keyed by its table's (path, mtime_ns,
    size): replacing a parquet file in place — as a testdata
    regeneration would — must miss and rebuild from the new file, not
    serve the stale value; an unchanged file serves the same object."""
    from bigdata_spark_realtime_spark.plans import (
        ext_dedup,
        ext_dsir,
        ext_embed,
        ext_lm,
    )
    from bigdata_spark_realtime_spark.sources.tables import load_table

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int64())}), path)
    df1 = load_table(spark, str(tmp_path), "region")
    assert df1.count() == 3

    _regenerate(path, pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}))
    df2 = load_table(spark, str(tmp_path), "region")
    assert df2.count() == 2

    # and an unchanged file still hits the memo (same plan object back)
    assert load_table(spark, str(tmp_path), "region") is df2

    d = str(tmp_path)
    artifacts = {
        "documents": [
            lambda: load_table(spark, d, "documents"),
            lambda: ext_dedup._candidates(spark, d),
            lambda: ext_lm.train_lm(spark, d),
            lambda: ext_dsir.train_dsir(spark, d),
        ],
        "embeddings": [
            lambda: load_table(spark, d, "embeddings"),
            lambda: ext_embed._centroid_artifact(spark, d),
        ],
    }
    for table, builds in artifacts.items():
        full = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
        path = os.path.join(d, f"{table}.parquet")
        pq.write_table(full, path)
        before = [build() for build in builds]
        assert all(build() is v for build, v in zip(builds, before)), table

        half = full.slice(0, full.num_rows // 2)
        _regenerate(path, half)
        after = [build() for build in builds]
        assert all(v1 is not v0 for v0, v1 in zip(before, after)), table
        assert after[0].count() == half.num_rows
        assert all(build() is v for build, v in zip(builds, after)), table


def test_memo_evicts_least_recently_used(tmp_path, monkeypatch):
    """Past MAX_ENTRIES a session's least-recently-used entry is
    evicted and a just-hit one is kept; entries die with the session."""
    import gc

    from bigdata_spark_realtime_spark import cache

    class Session:  # any weak-referenceable key stands in for a SparkSession
        pass

    monkeypatch.setattr(cache, "MAX_ENTRIES", 3)
    for t in "abcd":
        (tmp_path / f"{t}.parquet").write_bytes(t.encode())
    session = Session()
    built = []

    def get(t):
        return cache.memo(
            session, str(tmp_path), t, "lru", lambda: built.append(t) or object()
        )

    a = get("a")
    get("b")
    get("c")
    assert get("a") is a  # hit: "a" is now the most recently used
    get("d")  # past the cap: evicts "b", the least recently used
    assert get("a") is a
    assert built == list("abcd")
    get("b")
    assert built == list("abcdb")
    assert cache.entries()["lru"] == 3

    del session
    gc.collect()
    assert "lru" not in cache.entries()


def test_load_table_reads_a_file_uri(spark, sf_dir, tmp_path):
    """A ``file:`` URI names the same table, and the same memo entry, as
    its path; under any other scheme there is nothing to stat, so every
    call builds."""
    import shutil

    from bigdata_spark_realtime_spark import cache
    from bigdata_spark_realtime_spark.sources.tables import load_table

    root = str(tmp_path)
    assert cache.local_dir(f"file://{root}") == root
    assert cache.local_dir(f"file:{root}") == root
    assert cache.local_dir(os.path.relpath(root)) == root
    assert cache.local_dir("s3a://bucket/sf") is None

    for name in ("region", "events"):
        shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), root)
        df = load_table(spark, f"file://{root}", name)
        assert load_table(spark, root, name) is df
        assert df.count() == load_table(spark, sf_dir, name).count()
    assert load_table(spark, f"file://{root}", "region").count() == 5

    class Session:  # any weak-referenceable key stands in for a SparkSession
        pass

    session, built = Session(), []
    for _ in range(2):
        cache.memo(session, "s3a://bucket/sf", "region", "uri", lambda: built.append(1))
    assert built == [1, 1]


def test_scoped_persist_bounds_cache_entries(spark):
    """Plan-builder persists must not accumulate for the process
    lifetime (round-7 ADVICE): re-invocations evict the previous
    generation's entries, never the current one's."""
    from bigdata_spark_realtime_spark.plans import corpus

    scope = "test_scope_xyz"
    corpus._SCOPED_PERSISTS.pop(scope, None)
    frames = [spark.range(i + 1) for i in range(6)]
    for df in frames:
        corpus.scoped_persist(df, scope, keep=1)
    live = corpus._SCOPED_PERSISTS[scope]
    assert len(live) <= 2  # bounded at 2*keep
    assert live[-1] is frames[-1]  # newest always retained
    assert frames[0].storageLevel.useMemory is False  # oldest released
    assert frames[-1].storageLevel.useMemory is True
    for df in live:
        df.unpersist()
    corpus._SCOPED_PERSISTS.pop(scope, None)


def test_hostile_session_timezone_is_repinned(spark):
    """The driver's verify harness builds its OWN SparkSession; if that
    session carries a non-UTC timezone, every date/hour derivation
    (F1-F3, windows, rollups, retention cohorts) would shift silently.
    ensure_session_confs — called by load_table — must repin the
    session, so a TZ-sensitive query returns identical rows under a
    deliberately hostile sibling session."""
    from bigdata_spark_realtime_spark.plans.ext_funnel import (
        ext_retention_cohorts,
    )
    from bigdata_spark_realtime_spark.plans.ext_rollup import (
        ext_rollup_cascade,
    )

    sf = "/root/testdata/sf0.001"

    def rows(s, fn):
        return sorted(tuple(r) for r in fn(s, sf).collect())

    want_roll = rows(spark, ext_rollup_cascade)
    want_ret = rows(spark, ext_retention_cohorts)

    from bigdata_spark_realtime_spark.plans.scalar_fns import (
        f1_f2_dt_hr_derive,
        f3_datetime_split,
    )
    from bigdata_spark_realtime_spark.plans.windows import (
        w6_tumbling_window_agg,
    )

    tz_sensitive = [f1_f2_dt_hr_derive, f3_datetime_split, w6_tumbling_window_agg]
    wants = [rows(spark, fn) for fn in tz_sensitive]

    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
    try:
        assert rows(hostile, ext_rollup_cascade) == want_roll
        assert rows(hostile, ext_retention_cohorts) == want_ret
        for fn, want in zip(tz_sensitive, wants):
            assert rows(hostile, fn) == want, fn.__name__
        # load_table repinned the hostile session as a side effect
        assert hostile.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        hostile.conf.set("spark.sql.session.timeZone", "UTC")


def test_hostile_timezone_repin_covers_round9_time_ops(spark):
    """The round-9 wave leans on date_format/date_trunc/hour
    derivations (gap-fill hr strings, seasonal hour-of-day, CUSUM
    cp_hour, Gini/bounce/cohort day strings, WAU report days) — each
    must return identical rows under a deliberately hostile non-UTC
    sibling session, proving the load_table repin protects them too."""
    from bigdata_spark_realtime_spark.plans.ext_cohortval import (
        ext_cohort_value,
    )
    from bigdata_spark_realtime_spark.plans.ext_concurrency import (
        ext_concurrency_peak,
    )
    from bigdata_spark_realtime_spark.plans.ext_drift import (
        ext_event_mix_gini,
    )
    from bigdata_spark_realtime_spark.plans.ext_rolling import ext_rolling_wau
    from bigdata_spark_realtime_spark.plans.ext_timeseries import (
        ext_timeseries_gapfill,
    )
    from bigdata_spark_realtime_spark.plans.ext_timeseries2 import (
        ext_changepoint_cusum,
        ext_seasonal_baseline,
    )

    sf = "/root/testdata/sf0.001"
    fns = [
        ext_timeseries_gapfill,
        ext_seasonal_baseline,
        ext_changepoint_cusum,
        ext_event_mix_gini,
        ext_rolling_wau,
        ext_cohort_value,
        ext_concurrency_peak,
    ]

    def rows(s, fn):
        return sorted(tuple(r) for r in fn(s, sf).collect())

    wants = [rows(spark, fn) for fn in fns]
    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
    try:
        for fn, want in zip(fns, wants):
            assert rows(hostile, fn) == want, fn.__name__
        assert hostile.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        hostile.conf.set("spark.sql.session.timeZone", "UTC")
