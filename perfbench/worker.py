"""One workload run in a fresh process: set up (the engine's SparkSession
and the workload's inputs) a few times, run the workload, write its
result as JSON.

Started by ``perfbench/run.py`` with the run's own working directory,
``TMPDIR``, ``SPARK_LOCAL_DIRS`` and ``PYTHONPATH`` already set; not
meant to be called directly.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

SETUP_REPS = 3


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    trace: bool
    tracer: object
    workdir: str
    plant: bool
    tiny: bool


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--plant", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from perfbench import common

    module = importlib.import_module(f"perfbench.workloads.{args.workload}")
    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        extra.update(common.trace_confs())
    from bigdata_spark_realtime_spark.session import get_spark

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = common.Tracer(run_id, bool(args.trace))
    ctx = Context(
        spark=None,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        tracer=tracer,
        workdir=os.getcwd(),
        plant=args.plant,
        tiny=args.tiny,
    )
    # set up SETUP_REPS times and report the median: each set-up starts
    # the engine's SparkSession (the first launches the JVM, the others
    # restart the session in it) and builds the workload's inputs
    setups, session_s = [], []
    state = None
    for rep in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
            shutil.rmtree(state["dir"], ignore_errors=True)
        t0 = time.perf_counter()
        with tracer.span("session:start"):
            ctx.spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
            ctx.spark.sparkContext.setLogLevel("ERROR")
        session_s.append(time.perf_counter() - t0)
        state = module.setup(ctx, os.path.join(ctx.workdir, f"setup{rep}"))
        setups.append(time.perf_counter() - t0)
    tracer.sc = ctx.spark.sparkContext
    # the part of the set-up a process does once (the query registry's
    # import, the stream fixtures) counts once
    t0 = time.perf_counter()
    module.setup_once(ctx, state)
    once_s = time.perf_counter() - t0
    try:
        result = module.run(ctx, state)
    except Exception:
        traceback.print_exc()
        ctx.spark.stop()
        return 1
    result["setup_s"] = common.median(setups) + once_s
    result["setup"] = {"reps_s": setups, "session_s": session_s, "once_s": once_s}
    if args.trace:
        spans_path = os.path.join(os.path.dirname(args.out), "spans.jsonl")
        tracer.write(spans_path)
        result["self_s"] = tracer.self_times()
        result["span_count"] = len(tracer.spans)
    ctx.spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
