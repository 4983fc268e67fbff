"""bench.py payload semantics: a partial run can never out-score a clean one."""

from __future__ import annotations

import json

import pytest

from bench import HEADLINE, aggregate_passes, build_payload


def test_clean_run_reports_sum():
    p = build_payload({"a": 1.0, "b": 2.5}, {}, "/root/testdata/sf0.1")
    assert p["value"] == 3.5
    assert p["sf"] == 0.1
    assert "errors" not in p and "partial_sum_sec" not in p


def test_failed_query_nulls_value():
    p = build_payload({"a": 1.0}, {"b": "Boom()"}, "/root/testdata/sf0.1")
    assert p["value"] is None
    assert p["errors"] == {"b": "Boom()"}
    assert p["partial_sum_sec"] == 1.0
    # and the payload stays one parseable JSON object
    assert json.loads(json.dumps(p))["value"] is None


def test_min_of_passes_is_contention_robust():
    # pass 2 ran under a load spike (every query 6x slower) — the
    # reported timing must be the uncontended pass, per query
    t, errors, flaky = aggregate_passes(
        ["a", "b"],
        [{"a": 1.0, "b": 2.0}, {"a": 6.0, "b": 12.0}],
        {},
        {},
        2,
    )
    assert t == {"a": 1.0, "b": 2.0}
    assert not errors and not flaky


def test_flaky_query_keeps_surviving_timing_and_total():
    # fails pass 1, succeeds pass 2: previously this nulled the whole
    # total; now it reports the good timing and flags the query flaky
    t, errors, flaky = aggregate_passes(
        ["a", "b"],
        [{"a": 1.0}, {"a": 1.1, "b": 3.0}],
        {"b": 1},
        {"b": "Boom()"},
        2,
    )
    assert t == {"a": 1.0, "b": 3.0}
    assert not errors
    assert flaky == {"b": "Boom()"}
    assert build_payload(t, errors, "/root/testdata/sf0.1")["value"] == 4.0


def test_always_failing_query_nulls_value():
    t, errors, flaky = aggregate_passes(
        ["a", "b"], [{"a": 1.0}, {"a": 1.0}], {"b": 2}, {"b": "Boom()"}, 2
    )
    assert errors == {"b": "Boom()"} and not flaky
    assert build_payload(t, errors, "/root/testdata/sf0.1")["value"] is None


def test_headline_names_are_registered():
    """bench.py silently drops HEADLINE names missing from the registry
    (`[n for n in HEADLINE if n in specs]`), so a renamed query would
    shrink the benchmark and flatter the total without any error."""
    from bigdata_spark_realtime_spark.plans import registry

    specs = registry.load_all()
    missing = [n for n in HEADLINE if n not in specs]
    assert not missing, f"HEADLINE references unregistered queries: {missing}"
    assert len(set(HEADLINE)) == len(HEADLINE), "duplicate headline"
    # the REST serving surface must keep a tracked latency (round-6 task)
    assert "serving_detail_by_item" in HEADLINE
    assert "a2_hourly_counts_topk" in HEADLINE


def test_bench_compact_stdout_line_fits_driver_tail_window():
    """The round driver's BENCH_r{N}.json parses only when bench.py's
    stdout JSON line fits its 2000-char tail capture (r8-r10 landed
    parsed=null after the line outgrew it). Pin the REAL builder
    (bench.build_compact_line) against a worst-case regression run —
    every HEADLINE query at 99.99 s, plus errors/flaky keys with
    full-length 300-char reprs — exactly the run where the parsed
    artifact matters most (round-12 advisor: the old 9.99 synthetic
    missed this). The builder must degrade (clip reprs, drop loadavg,
    coarsen/elide timings) rather than emit an unparseable line."""
    import json

    import bench

    worst_timings = {n: 99.99 for n in bench.HEADLINE}
    payload = {
        "metric": "headline query wall-clock",
        "unit": "sec",
        "sf": 0.1,
        "loadavg_1m": [99.99, 99.99],
        "value": None,
        "partial_sum_sec": 9999.999,
        "errors": {n: "x" * 300 for n in list(bench.HEADLINE)[:3]},
        "flaky": {n: "y" * 300 for n in list(bench.HEADLINE)[3:6]},
    }
    line = bench.build_compact_line(payload, worst_timings)
    assert len(line) <= bench.COMPACT_LINE_LIMIT < 1990
    parsed = json.loads(line)  # stays one parseable JSON object
    assert parsed["value"] is None and parsed["sf"] == 0.1
    assert set(parsed["errors"]) == set(list(bench.HEADLINE)[:3])

    # the everyday clean run keeps full per-query detail un-degraded
    clean = {
        "metric": "headline query wall-clock",
        "unit": "sec",
        "sf": 0.1,
        "loadavg_1m": [1.0, 1.2],
        "value": 42.0,
    }
    timings = {n: 1.234 for n in bench.HEADLINE}
    parsed = json.loads(bench.build_compact_line(clean, timings))
    assert parsed["queries"] == {n: 1.23 for n in bench.HEADLINE}
    assert "queries_elided" not in parsed and "loadavg_1m" in parsed


# ---------------------------------------------------------------------------
# build_compact_line degradation cascade (round-13): for ANY payload the
# stdout line must stay parseable and within the driver's tail window
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_names = st.text(alphabet="abcdefghij_", min_size=3, max_size=40)


@settings(max_examples=60, deadline=None)
@given(
    timings=st.dictionaries(_names, st.floats(0.0, 9999.0), max_size=200),
    errs=st.dictionaries(_names, st.text(max_size=400), max_size=20),
    value=st.one_of(st.none(), st.floats(0.0, 99999.0)),
)
def test_compact_line_always_fits_and_parses(timings, errs, value):
    import json

    import bench

    payload = {
        "metric": "headline query wall-clock",
        "unit": "sec",
        "sf": 0.1,
        "loadavg_1m": [1.0, 2.0],
        "value": value,
    }
    if errs:
        payload["errors"] = errs
        payload["partial_sum_sec"] = 1.0
    line = bench.build_compact_line(payload, timings)
    assert len(line) <= bench.COMPACT_LINE_LIMIT
    parsed = json.loads(line)
    assert parsed["metric"] == payload["metric"]
    assert parsed["value"] == (None if value is None else value)
    # elision is an explicit count, never silent
    n_shown = len(parsed.get("queries", {}))
    assert n_shown + parsed.get("queries_elided", 0) == len(timings)


def test_calibration_probe_recorded_in_run_records(tmp_path):
    """Round-14 judge task #7: every merged run record must carry the
    md5 host-speed probe so cross-round comparisons can be normalized
    mechanically instead of re-litigating host-vs-code attribution."""
    import bench

    rate = bench.md5_calibration_probe(seconds=0.05)
    assert rate > 10_000  # any non-pathological host clears this easily

    (tmp_path / "CORRECTNESS_r14.json").write_text("{}")
    payload = {
        "metric": "m", "unit": "sec", "sf": 0.1, "value": 1.0,
        "loadavg_1m": [1.0, 1.0],
        "calib": {"md5_per_s_1core": [rate, rate]},
    }
    doc = bench.merge_round_artifact(str(tmp_path), payload, {"a": 1.0})
    assert doc["runs"][-1]["calib"]["md5_per_s_1core"] == [rate, rate]


# ---------------------------------------------------------------------------
# the CLI paths (bench.run on the suite's shared session — bench.main
# would stop it): named queries, --explain, --snapshot
# ---------------------------------------------------------------------------

#: two cheap registered queries: a scan-filter-agg and a top-K REST page
_NAMES = ["q1_pricing_summary", "a2_hourly_counts_topk"]


@pytest.fixture
def quick_bench(monkeypatch):
    """bench.run with no settle wait and one timed pass; records the
    round-artifact merges instead of writing BENCH_LOCAL_r{N}.json."""
    import bench
    from bigdata_spark_realtime_spark.plans import registry

    monkeypatch.setenv("SPARK_GRAFT_BENCH_SETTLE_S", "0")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PASSES", "1")
    merges = []
    monkeypatch.setattr(
        bench, "merge_round_artifact", lambda *a, **k: merges.append(a)
    )
    return bench, registry.load_all(), merges


def test_named_run_never_merges_round_artifact(
    spark, sf_dir, quick_bench, monkeypatch
):
    bench, specs, merges = quick_bench
    payload = bench.run(spark, specs, _NAMES, sf_dir)
    assert set(payload["queries"]) == set(_NAMES)
    assert payload["value"] is not None and not merges
    # the headline run (no names) is the one that merges
    monkeypatch.setattr(bench, "HEADLINE", (_NAMES[0],))
    bench.run(spark, specs, [], sf_dir)
    assert len(merges) == 1


def test_explain_writes_one_formatted_plan_per_name(
    spark, sf_dir, quick_bench, monkeypatch, tmp_path
):
    bench, specs, _ = quick_bench
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PASSES", "0")  # explain only
    bench.run(spark, specs, _NAMES, sf_dir, explain_dir=str(tmp_path))
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        f"{n}.txt" for n in _NAMES
    )
    for n in _NAMES:
        text = (tmp_path / f"{n}.txt").read_text()
        assert text.startswith("== Physical Plan ==")
        # formatted mode: numbered operator list plus per-node details
        assert "(1) " in text and "Output [" in text


#: the per-query engine-state record's pinned key set
SNAPSHOT_KEYS = {
    "cached_rdds", "cached_mem_mb", "cached_disk_mb", "memo_entries",
    "gc_count", "gc_ms", "heap_used_mb",
}


def test_snapshot_records_keep_their_key_set(
    spark, sf_dir, quick_bench, capsys
):
    bench, specs, _ = quick_bench
    bench.run(spark, specs, _NAMES, sf_dir, snap=True)
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    records, result = lines[:-1], lines[-1]
    assert result["metric"] == "headline query wall-clock"
    assert [(r["pos"], r["query"]) for r in records] == [
        (-1, "<post-warmup>"), (0, _NAMES[0]), (1, _NAMES[1])
    ]
    assert set(records[0]) == {"pos", "query"} | SNAPSHOT_KEYS
    for r in records[1:]:
        assert set(r) == {"pos", "query", "sec", "gc_ms_delta"} | SNAPSHOT_KEYS
        assert round(r["sec"], 2) == result["queries"][r["query"]]
