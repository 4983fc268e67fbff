"""The ingest phase: open-loop file drops into the two streaming pipelines.

Setup fills a staging dir with the seeded generators of
``sources.fixtures``. Two queries run at once, each started with the
default trigger and upserting through ``streaming.sinks`` into a
partitioned store: DAU (``split_base_log`` -> ``build_dau``) and
order-wide (``enrich_order_info`` -> ``order_wide_join``). One generator
thread renames a raw-log file and an order_info/order_detail pair into
the watched dirs at a fixed rate, stamping each file's mtime and
recording the drop time; a backfill burst of many files at once follows.
Event time advances with the drops, so watermarks move, the DAU state
rolls over a day and order details beyond the 24 h TTL are dropped.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from datetime import datetime, timezone

from perfbench import common

#: drops per second into each stream during the fixed-rate phase
DROP_HZ = 4.0
#: events per raw-log file and orders per order file pair: the sizes of
#: the fixture generators' defaults (2000 log rows in 4 files, 300 orders
#: in 5 files)
LOG_ROWS_PER_FILE = 500
ORDERS_PER_FILE = 60
#: seconds of fixed-rate drops before the measured ones, so the measured
#: batches run on a warmed-up JVM
WARMUP_S = 4.0
BURST_FILES = 16
AGE_REF = "2024-03-01"


class ProgressLog:
    """StreamingQueryListener that keeps every progress event as JSON."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events: dict[str, list[dict]] = {}
        lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = json.loads(event.progress.json)
                with lock:
                    events.setdefault(p["name"], []).append(p)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.listener = _Listener()
        self.events = events

    def batches(self, name: str) -> list[dict]:
        """Committed batches of one query, with wall-clock start and end."""
        out = []
        for p in self.events.get(name, []):
            start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            start = start.replace(tzinfo=timezone.utc).timestamp()
            dur = p["durationMs"]
            out.append({**p, "start": start, "end": start + dur.get("triggerExecution", 0) / 1e3})
        return sorted(out, key=lambda b: b["batchId"])


def freshness(drops: list[float], batches: list[dict]) -> list[float | None]:
    """Per drop: seconds from the drop to the end of the first committed
    batch that started after it (None if no such batch)."""
    out: list[float | None] = []
    for d in drops:
        nxt = next((b for b in batches if b["start"] >= d), None)
        out.append(None if nxt is None else nxt["end"] - d)
    return out


def _schemas():
    from pyspark.sql import types as T

    from bigdata_spark_realtime_spark import schemas as S

    ts = [T.StructField("event_ts", T.LongType())]
    return (
        T.StructType(S.ORDER_INFO_SCHEMA.fields + ts),
        T.StructType(S.ORDER_DETAIL_SCHEMA.fields + ts),
    )


def _data_files(path: str) -> list[str]:
    out = []
    for root, _, names in os.walk(path):
        out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return out


def _count_lines(path: str) -> int:
    with open(path) as f:
        return sum(1 for line in f if line.strip())


def _counts(ctx) -> tuple[int, int, int]:
    """Warm-up, measured and burst drops of a run."""
    n_warm = round(DROP_HZ * (1.0 if ctx.tiny else WARMUP_S))
    n_fixed = round(DROP_HZ * (2.0 if ctx.tiny else ctx.seconds))
    return n_warm, n_fixed, 4 if ctx.tiny else BURST_FILES


def setup(ctx, w: str) -> dict:
    """Generate the dims under ``w`` and read them."""
    from bigdata_spark_realtime_spark import schemas as S
    from bigdata_spark_realtime_spark.sources import fixtures as FX

    spark = ctx.spark
    with ctx.tracer.span("sources:dims"):
        FX.gen_dims(os.path.join(w, "dims"), seed=ctx.seed + 2)
    return {
        "dir": w,
        "dim_user": spark.read.schema(S.DIM_USER_SCHEMA).json(os.path.join(w, "dims", "user_info")),
        "dim_prov": spark.read.schema(S.DIM_PROVINCE_SCHEMA).json(
            os.path.join(w, "dims", "base_province")),
    }


def stage_fixtures(ctx, state: dict) -> None:
    """Fill a staging dir with the seeded stream files: one more than the
    drops, for the cold start. Done once per run: at the fixed drop rate
    these take longer to generate than the rest of the set-up."""
    from bigdata_spark_realtime_spark.sources import fixtures as FX

    w = state["dir"]
    n_files = 1 + sum(_counts(ctx))
    stage = {k: os.path.join(w, "staging", k) for k in ("raw_log", "order_info", "order_detail")}
    with ctx.tracer.span("sources:fixtures"):
        FX.gen_raw_log(stage["raw_log"], n_rows=LOG_ROWS_PER_FILE * n_files,
                       n_files=n_files, seed=ctx.seed)
        FX.gen_order_streams(os.path.join(w, "staging"), n_orders=ORDERS_PER_FILE * n_files,
                             n_files=n_files, seed=ctx.seed + 1)
    names = {k: sorted(os.listdir(v)) for k, v in stage.items()}
    if any(len(v) != n_files for v in names.values()):
        raise RuntimeError(f"fixture file counts differ from {n_files}")
    state.update(stage=stage, names=names)


def ingest(ctx, state: dict) -> dict:
    """Run both streams over the staged files through the cold start, the
    fixed-rate drops and the burst, then check both stores."""
    from pyspark.sql import functions as F

    from bigdata_spark_realtime_spark.streaming.base_log import split_base_log
    from bigdata_spark_realtime_spark.streaming.dau import build_dau
    from bigdata_spark_realtime_spark.streaming.order import (
        enrich_order_info,
        order_wide_join,
    )
    from bigdata_spark_realtime_spark.streaming.sinks import foreach_batch_upsert

    spark, tr = ctx.spark, ctx.tracer
    n_warm, n_fixed, _ = _counts(ctx)
    w, stage, names = state["dir"], state["stage"], state["names"]
    dim_user, dim_prov = state["dim_user"], state["dim_prov"]
    n_files = len(names["raw_log"])
    watch = {k: os.path.join(w, "watch", k) for k in stage}
    for d in watch.values():
        os.makedirs(d)
    events_per_drop = [
        sum(_count_lines(os.path.join(stage[k], names[k][i])) for k in stage)
        for i in range(n_files)
    ]
    input_bytes = sum(os.path.getsize(os.path.join(stage[k], n)) for k in stage for n in names[k])

    def drop(i: int) -> float:
        """Move file i of every stream into its watched dir; drop time."""
        now = time.time()
        for k in ("order_info", "order_detail", "raw_log"):
            src = os.path.join(stage[k], names[k][i])
            os.utime(src, (now, now))
            os.rename(src, os.path.join(watch[k], names[k][i]))
        return time.time()

    # -- the two streaming queries ----------------------------------------
    stores = {"dau": os.path.join(w, "store", "dau"),
              "order_wide": os.path.join(w, "store", "order_wide")}
    upserts: list[dict] = []

    def traced_sink(name: str, inner):
        def sink(df, epoch_id):
            started = time.time()
            with tr.span(f"sinks:upsert_{name}"):
                t = time.perf_counter()
                inner(df, epoch_id)
                dt = time.perf_counter() - t
            if ctx.trace:
                written = [p for p in _data_files(stores[name])
                           if os.path.getmtime(p) >= started - 1e-3]
                upserts.append({"query": name, "epoch": epoch_id, "s": dt, "files": len(written),
                                "bytes": sum(os.path.getsize(p) for p in written)})
        return sink

    progress = ProgressLog()
    spark.streams.addListener(progress.listener)
    isch, dsch = _schemas()
    drop(0)

    t_cold = time.perf_counter()
    with tr.span("streaming:start"):
        raw = spark.readStream.format("text").load(watch["raw_log"])
        dau = build_dau(split_base_log(raw)["page"], dim_user, dim_prov, AGE_REF, streaming=True)
        q_dau = (
            dau.writeStream.queryName("dau")
            .foreachBatch(traced_sink("dau", foreach_batch_upsert(
                spark, stores["dau"], ["dt", "mid"], "ts", partition_by="dt")))
            .option("checkpointLocation", os.path.join(w, "ckpt", "dau"))
            .start()
        )
        info = spark.readStream.schema(isch).json(watch["order_info"])
        det = spark.readStream.schema(dsch).json(watch["order_detail"])
        wide = order_wide_join(enrich_order_info(info, dim_user, dim_prov), det, streaming=True)
        q_wide = (
            wide.withColumn("event_seq", F.col("detail_id"))
            .writeStream.queryName("order_wide")
            .foreachBatch(traced_sink("order_wide", foreach_batch_upsert(
                spark, stores["order_wide"], ["detail_id"], "event_seq",
                partition_by="create_date")))
            .option("checkpointLocation", os.path.join(w, "ckpt", "order_wide"))
            .start()
        )
    queries = (q_dau, q_wide)
    for q in queries:
        q.processAllAvailable()
    cold_s = time.perf_counter() - t_cold

    # -- fixed-rate drops from one generator thread (open loop); the first
    # WARMUP_S of them only bring the streams to their steady state -------
    drop_times: list[float] = []
    lags: list[float] = []

    def generator():
        start = time.time()
        for k in range(n_warm + n_fixed):
            due = start + k / DROP_HZ
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            drop_times.append(drop(1 + k))
            lags.append(drop_times[-1] - due)

    gen = threading.Thread(target=generator)
    with tr.span("ingest:fixed_rate"):
        gen.start()
        gen.join()
    t_phase_end = time.time()

    # -- backfill burst, right behind the fixed-rate drops ----------------
    first_burst = 1 + n_warm + n_fixed
    t_burst = time.time()
    for i in range(first_burst, n_files):
        drop(i)
    with tr.span("ingest:burst"):
        for q in queries:
            q.processAllAvailable()
    burst_s = time.time() - t_burst
    errors = [f"query {q.name} failed: {q.exception()}" for q in queries if q.exception()]
    for q in queries:
        q.stop()
    spark.streams.removeListener(progress.listener)

    # -- results ----------------------------------------------------------
    batches = {name: progress.batches(name) for name in ("dau", "order_wide")}
    fresh_all = {name: freshness(drop_times, b) for name, b in batches.items()}
    missing = sum(v is None for f in fresh_all.values() for v in f)
    if missing:
        errors.append(f"{missing} dropped files never committed")
    # events committed while draining: the burst plus whatever of the
    # fixed-rate drops was still uncommitted when it landed
    burst_events = sum(events_per_drop[first_burst:]) + sum(
        events_per_drop[1 + k]
        for k, d in enumerate(drop_times)
        if None not in (fresh_all["dau"][k], fresh_all["order_wide"][k])
        and d + max(fresh_all["dau"][k], fresh_all["order_wide"][k]) > t_burst)
    fresh = {k: [v for v in f[n_warm:] if v is not None] for k, f in fresh_all.items()}

    t_check = time.perf_counter()
    with tr.span("ingest:check"):
        failures = errors + check_outputs(spark, watch, stores, dim_user, dim_prov, isch, dsch,
                                          ctx.plant)
    check_s = time.perf_counter() - t_check
    out = {
        "stores": stores,
        "e2e": {
            "cold_s": cold_s,
            # mean of the two streams' median freshness
            "latency_ms": 1e3 * (common.median(fresh["dau"]) + common.median(fresh["order_wide"])) / 2,
        },
        "named": {
            "stream_cold_s": (cold_s, "s"),
            "dau_fresh_p50_s": (common.quantile(fresh["dau"], 0.5), "s"),
            "dau_fresh_p90_s": (common.quantile(fresh["dau"], 0.9), "s"),
            "wide_fresh_p50_s": (common.quantile(fresh["order_wide"], 0.5), "s"),
            "wide_fresh_p90_s": (common.quantile(fresh["order_wide"], 0.9), "s"),
            "ingest_burst_eps": (burst_events / burst_s, "1/s"),
            "files_per_stream": (n_fixed, "count"),
            "drop_hz": (DROP_HZ, "1/s"),
            "offered_eps": (DROP_HZ * common.median(events_per_drop), "1/s"),
        },
        "detail": {
            "ingest_gen_lag_ms_p90": common.quantile(lags, 0.9) * 1e3,
            "batch_s": {k: [(round(b["end"] - b["start"], 3), b.get("numInputRows"))
                            for b in v] for k, v in batches.items()},
            "burst_s": burst_s,
            "check_s": check_s,
        },
        # every dropped file is an operation, plus the two store checks
        "attempted": 2 * (n_files - 1) + 2,
        "failures": failures,
    }
    if ctx.trace:
        measured = drop_times[n_warm:]
        out["layers"] = _layers(ctx, batches, upserts, measured, t_phase_end, input_bytes,
                                {k: q.runId for k, q in zip(batches, queries)})
    return out


def check_outputs(spark, watch, stores, dim_user, dim_prov, isch, dsch, plant: bool) -> list[str]:
    """The DAU store's (dt, mid) keys against ``build_dau(streaming=False)``
    and the order_wide store row for row against
    ``order_wide_join(streaming=False)``, both over every dropped file.
    ``plant`` removes one row from each store read to prove both fire."""
    from bigdata_spark_realtime_spark.streaming.base_log import split_base_log
    from bigdata_spark_realtime_spark.streaming.dau import build_dau
    from bigdata_spark_realtime_spark.streaming.order import (
        enrich_order_info,
        order_wide_join,
    )

    failures = []
    raw = spark.read.format("text").load(watch["raw_log"])
    want = build_dau(split_base_log(raw)["page"], dim_user, dim_prov, AGE_REF, streaming=False)
    want_keys = {(r.dt, r.mid) for r in want.select("dt", "mid").collect()}
    got_rows = spark.read.parquet(stores["dau"]).select("dt", "mid").collect()
    got_keys = [(r.dt, r.mid) for r in got_rows]
    if plant:
        got_keys = got_keys[1:]
    if len(got_keys) != len(set(got_keys)) or set(got_keys) != want_keys:
        failures.append(
            f"dau store keys: {len(got_keys)} rows / {len(set(got_keys))} keys, "
            f"expected {len(want_keys)}; missing {len(want_keys - set(got_keys))}, "
            f"extra {len(set(got_keys) - want_keys)}")

    info = spark.read.schema(isch).json(watch["order_info"])
    det = spark.read.schema(dsch).json(watch["order_detail"])
    want = order_wide_join(enrich_order_info(info, dim_user, dim_prov), det, streaming=False)
    want_rows = Counter(map(tuple, want.collect()))
    got_list = spark.read.parquet(stores["order_wide"]).select(*want.columns).collect()
    got_rows = Counter(map(tuple, got_list[1:] if plant else got_list))
    if got_rows != want_rows:
        failures.append(
            f"order_wide store: {got_rows.total()} rows, expected {want_rows.total()}; "
            f"missing {(want_rows - got_rows).total()}, extra {(got_rows - want_rows).total()}")
    return failures


def _layers(ctx, batches, upserts, drop_times, t_phase_end, input_bytes, run_ids) -> dict:
    """Per-batch numbers from StreamingQueryProgress, spans around the
    upsert calls and the status store (jobs are grouped by query run id).
    Per-batch figures cover the batches that started after the first
    measured drop; counts and sizes cover the whole run."""
    n_batches = sum(len(bs) for bs in batches.values())
    late = sum(o.get("numRowsDroppedByWatermark", 0)
               for bs in batches.values() for b in bs for o in b.get("stateOperators", []))
    batches = {q: [b for b in bs if b["start"] >= drop_times[0]] for q, bs in batches.items()}
    all_b = [b for bs in batches.values() for b in bs]
    measured = {(q, b["batchId"]) for q, bs in batches.items() for b in bs}
    sink_s = {(u["query"], u["epoch"]): u["s"] for u in upserts}

    def dur(b, *keys):
        return sum(b["durationMs"].get(k, 0) for k in keys)

    exec_ms = [dur(b, "addBatch") - 1e3 * sink_s.get((q, b["batchId"]), 0.0)
               for q, bs in batches.items() for b in bs]
    end_state = [bs[-1].get("stateOperators", []) for bs in batches.values() if bs]
    committed_after = 0
    for bs in batches.values():
        for d in drop_times:
            nxt = next((b for b in bs if b["start"] >= d), None)
            if nxt is not None and nxt["end"] > t_phase_end:
                committed_after += 1
    groups = {str(r) for r in run_ids.values()}
    jobs = common.spark_jobs(ctx.spark.sparkContext)
    run = common.sum_jobs(jobs, lambda g: g in groups)
    upsert_s = [u["s"] for u in upserts if (u["query"], u["epoch"]) in measured]
    return {
        "sources.offset_ms": common.median([dur(b, "latestOffset", "getBatch") for b in all_b]),
        "streaming.plan_ms": common.median([dur(b, "queryPlanning") for b in all_b]),
        "streaming.exec_ms": common.median(exec_ms),
        "streaming.wal_ms": common.median([dur(b, "walCommit", "commitOffsets") for b in all_b]),
        "streaming.batches": len(all_b),
        "streaming.rows_in": sum(b.get("numInputRows", 0) for b in all_b),
        "spark.jobs_per_batch": run["jobs"] / n_batches,
        "streaming.state_rows": sum(o.get("numRowsTotal", 0) for ops in end_state for o in ops),
        "streaming.state_bytes": sum(o.get("memoryUsedBytes", 0) for ops in end_state for o in ops),
        "streaming.late_dropped": late,
        "sinks.upsert_p50_s": common.median(upsert_s),
        "sinks.upsert_sum_s": sum(upsert_s),
        "sinks.files_written": sum(u["files"] for u in upserts),
        "sinks.rewrite_amp": sum(u["bytes"] for u in upserts) / input_bytes,
        "ingest.backlog_files_end": committed_after,
        **common.spark_totals(run),
    }

