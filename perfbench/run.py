"""Benchmark entry point.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh worker process with its own working dir,
``TMPDIR`` and ``SPARK_LOCAL_DIRS`` under ``.perfbench/`` in the
checkout, samples the worker tree's resident memory, checks that every
metric named in ``BENCHMARK.json`` was measured, writes a run record
(host settings, all metrics, spans) to ``.perfbench/records/`` and
prints one JSON result as the last line of standard output.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run. Exits non-zero, printing no result,
when the engine is missing from the checkout or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402

WORKLOADS = ("query_suite", "realtime")
#: driver heap for the benchmark's sessions: the engine's 16g default is
#: sized for inputs a hundred times larger; at 1g these runs hit the heap
#: limit and some ran half as fast again
DRIVER_MEM = "2g"
WORKER_TIMEOUT_S = 170
#: cores this process may run on, as ``nproc`` counts them
NPROC = len(os.sched_getaffinity(0))


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _layer_map() -> dict:
    with open(os.path.join(HERE, "layer_map.json")) as f:
        return json.load(f)


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def _stop_group(pgid: int) -> None:
    """Kill whatever the worker left in its process group (the JVM and
    Python daemons) and wait until none is left."""
    deadline = time.monotonic() + 20
    while _group_pids(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)


def run_worker(args, workdir: str, out_path: str) -> tuple[int, float, dict]:
    """Run the worker; returns its exit code, the peak RSS of its process
    tree in MB and that peak split by command name."""
    env = dict(os.environ)
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out_path,
    ] + (["--tiny"] if args.tiny else []) + (["--plant"] if args.plant else [])
    proc = subprocess.Popen(
        cmd, cwd=workdir, env=env, stdout=sys.stderr, start_new_session=True
    )
    peak, peak_procs = 0, {}
    done = threading.Event()

    def sample():
        nonlocal peak, peak_procs
        while not done.is_set():
            procs = common.tree_rss(proc.pid)
            total = sum(rss for rss, _ in procs.values())
            if total > peak:
                peak, peak_procs = total, procs
            done.wait(0.1)

    sampler = threading.Thread(target=sample)
    sampler.start()
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        done.set()
        sampler.join()
        _stop_group(proc.pid)
        proc.wait()
    by_name: dict[str, float] = {}
    for rss, name in peak_procs.values():
        by_name[name] = by_name.get(name, 0.0) + rss / 2**20
    return code, peak / 2**20, by_name


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the benchmark's own smoke tests")
    ap.add_argument("--plant", action="store_true",
                    help="corrupt one output before the checks, to prove they fire")
    args = ap.parse_args()

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; expected one of {WORKLOADS}")
    for need in ("bigdata_spark_realtime_spark/session.py", "tests/oracle_util.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            return _fail(f"engine file {need} not found under {ROOT}")
    spec = _spec()
    layer_map = _layer_map()

    base = os.path.join(ROOT, ".perfbench")
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    workdir = os.path.join(base, "work", stamp)
    records = os.path.join(base, "records")
    os.makedirs(workdir)
    os.makedirs(records, exist_ok=True)
    out_path = os.path.join(workdir, "result.json")

    host = {
        "SPARK_GRAFT_CPUS": NPROC,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "tiny": args.tiny,
        "plant": args.plant,
        "loadavg_1m_before": common.loadavg_1m(),
        "md5_per_s_1core_before": common.md5_probe(),
    }
    steal0, total0 = common.cpu_jiffies()
    try:
        code, peak_mb, host["peak_rss_mb_by_command"] = run_worker(args, workdir, out_path)
        host["loadavg_1m_after"] = common.loadavg_1m()
        steal1, total1 = common.cpu_jiffies()
        host["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        host["md5_per_s_1core_after"] = common.md5_probe()
        if code != 0 or not os.path.exists(out_path):
            return _fail(f"worker exited with code {code}")
        with open(out_path) as f:
            res = json.load(f)
        spans = os.path.join(workdir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(records, stamp + ".spans.jsonl"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    e2e = dict(res["e2e"], setup_s=res["setup_s"], peak_rss_mb=peak_mb)
    failures = res["failures"]
    attempted = res["attempted"]
    record = {
        "workload": args.workload,
        "host": host,
        "attempted": attempted,
        "failed": len(failures),
        "error_rate": len(failures) / attempted,
        "failures": failures,
        "e2e": e2e,
        "named": res["named"],
        "setup": res["setup"],
        "detail": res.get("detail", {}),
    }
    if args.trace:
        layers = dict(res["layers"])
        for name, moves in layer_map.items():
            if args.workload not in moves:
                layers.setdefault(name, 0.0)  # the workload bypasses this layer
        record.update(layers=layers, gaps=res.get("gaps", []),
                      self_s=res.get("self_s", {}), span_count=res.get("span_count"),
                      tracing_overhead=tracing_overhead(records, record))
        wanted = spec["per_layer"]
        values = layers
    else:
        wanted = spec["end_to_end"]
        values = e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        return _fail(f"metrics not measured: {missing}")
    with open(os.path.join(records, stamp + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for name, (value, unit) in res["named"].items():
        print(f"{args.workload}.{name} = {value:.6g} {unit}")
    print(f"{args.workload}.error_rate = {record['error_rate']:.6g} ratio")
    for msg in failures[:10]:
        print(f"FAILED {msg}")
    for gap in record.get("gaps", []):
        print(f"coverage gap: {gap}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


def tracing_overhead(records: str, traced_record: dict) -> dict:
    """Traced minus untraced end-to-end figures, against the median of
    the untraced records kept in ``records`` of the same workload, run
    length and input size."""
    workload, host, traced = traced_record["workload"], traced_record["host"], traced_record["e2e"]
    untraced: dict[str, list[float]] = {}
    for fn in os.listdir(records):
        if not (fn.startswith(f"{workload}-") and "-t0-" in fn and fn.endswith(".json")):
            continue
        with open(os.path.join(records, fn)) as f:
            rec = json.load(f)
        same = rec["host"]["seconds"] == host["seconds"] and all(
            bool(rec["host"].get(k)) == host[k] for k in ("tiny", "plant"))
        if same:
            for k, v in rec["e2e"].items():
                untraced.setdefault(k, []).append(v)
    if not untraced:
        return {"note": "no untraced record of this workload yet"}
    return {
        k: {"traced": traced[k], "untraced_median": common.median(v),
            "runs": len(v), "delta": traced[k] - common.median(v)}
        for k, v in untraced.items() if k in traced
    }


if __name__ == "__main__":
    sys.exit(main())
