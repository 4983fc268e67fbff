"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Pure-Python checks of the metric helpers, a refusal check in a directory
without the engine, and a tiny-size run of each workload that asserts
the printed metric names and units match ``BENCHMARK.json`` and that a
planted wrong answer is counted as a failure (about five minutes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.ingest import freshness  # noqa: E402
from perfbench.serving import window_rate  # noqa: E402

WORKLOADS = ("query_suite", "realtime")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_quantile_matches_linear_rule():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert common.quantile(xs, 0.5) == 3.0
    assert common.quantile(xs, 0.9) == pytest.approx(4.6)
    assert common.quantile([7.0], 0.9) == 7.0


def test_self_time_subtracts_children():
    tr = common.Tracer("t", enabled=True)
    tr.spans = [
        common.Span(1, "plans:q", 0.0, 10.0, None, "t"),
        common.Span(2, "exec:q", 2.0, 6.0, 1, "t"),
        common.Span(3, "exec:q", 7.0, 8.0, 1, "t"),
    ]
    assert tr.self_times() == {"plans": 5.0, "exec": 5.0}


def test_freshness_waits_for_the_next_batch_start():
    batches = [{"start": 0.0, "end": 2.0}, {"start": 2.0, "end": 5.0}, {"start": 5.0, "end": 6.0}]
    # dropped while batch 0 runs: committed by batch 1, which starts later
    assert freshness([0.5, 2.0, 5.5], batches) == [4.5, 3.0, None]


def test_window_rate_splits_requests_across_windows():
    # two clients, each request 0.5 s; one stalls for 2 s in the third window
    spans = [(0.0, 0.5), (0.5, 1.0), (1.0, 1.5), (1.5, 2.0), (2.0, 4.0),
             (0.0, 0.5), (0.5, 1.0), (1.0, 1.5), (1.5, 2.0), (2.0, 2.5),
             (2.5, 3.0), (3.0, 3.5), (3.5, 4.0)]
    loop = {"spans": spans, "start": 0.0, "seconds": 4.0}
    # windows: 4, 4, 2 + 0.5, 2 + 0.5 requests per second
    assert window_rate(loop) == pytest.approx(3.25)


def test_disabled_tracer_records_nothing():
    tr = common.Tracer("t", enabled=False)
    with tr.span("plans:q", job_group="g"):
        pass
    assert tr.spans == []


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "query_suite", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_end_to_end_metrics(workload):
    res = _result(_run("--workload", workload, "--seed", "3", "--seconds", "2",
                       "--trace", "0", "--tiny"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_layers_and_catches_planted_answer(workload):
    res = _result(_run("--workload", workload, "--seed", "4", "--seconds", "2",
                       "--trace", "1", "--tiny", "--plant"))
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert not res["correct"] and res["failed"] >= 1
