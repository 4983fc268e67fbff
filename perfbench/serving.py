"""The dashboard phase: the three REST endpoints over HTTP in a seeded mix.

``ServingAPI`` is built over the store the streams wrote, the way
``http_server.main`` builds it (cached parquet reads), behind
``serving.http_server`` on an ephemeral port. Expected answers for the
whole request universe are computed first with DuckDB over the store
files, independent of ``ServingAPI``. Load is an open loop at a fixed
rate with at most ``nproc`` requests in flight, then a closed loop with
``nproc`` clients.
"""

from __future__ import annotations

import datetime
import http.client
import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlencode

from perfbench import common

#: open-loop request rate (requests/s), about half the closed-loop
#: capacity on a 4-core host, and the open and closed loops' lengths as
#: shares of the run's seconds
SERVE_HZ = 6.0
OPEN_SHARE = 0.25
CLOSED_SHARE = 0.75
ITEMS = ("Apple", "iPhone", "小米", "ThinkPad", "Kindle")
PAGES = (1, 2, 3)
PAGE_SIZE = 20
SOLO_S = 3.0


class TracedAPI:
    """Benchmark-side proxy around ``ServingAPI``: a span and a Spark job
    group per call (when tracing), then the real method."""

    def __init__(self, api, tracer) -> None:
        self.api, self.tracer = api, tracer
        self._n = 0
        self._lock = threading.Lock()

    def _call(self, endpoint: str, fn, *args, **kwargs):
        with self._lock:
            self._n += 1
            n = self._n
        with self.tracer.span(f"serving_api:{endpoint}", job_group=f"req|{endpoint}|{n}"):
            return fn(*args, **kwargs)

    def dau_realtime(self, td):
        return self._call("dauRealtime", self.api.dau_realtime, td)

    def stats_by_item(self, item_name, date, t):
        return self._call("statsByItem", self.api.stats_by_item, item_name, date, t)

    def detail_by_item(self, date, item_name, page_no=1, page_size=20):
        return self._call("detailByItem", self.api.detail_by_item, date, item_name,
                          page_no=page_no, page_size=page_size)


# ---------------------------------------------------------------------------
# expected answers, from the store files with DuckDB
# ---------------------------------------------------------------------------


def _duck(stores: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in stores.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*/*.parquet', "
            "hive_partitioning = true, hive_types_autocast = false)")
    return con


def _age_bucket(age: int) -> str:
    from bigdata_spark_realtime_spark.functions.scalar import AGE_BUCKET_LABELS

    return AGE_BUCKET_LABELS[0 if age <= 20 else 1 if age <= 29 else 2]


def expected_answers(stores: dict[str, str]) -> dict[str, tuple[str, dict, object]]:
    """Request key -> (path, query params, expected body) for every request
    the mix can send."""
    con = _duck(stores)
    out: dict[str, tuple[str, dict, object]] = {}
    for (td,) in con.sql("SELECT DISTINCT dt FROM dau ORDER BY dt").fetchall():
        yd = (datetime.date.fromisoformat(td) - datetime.timedelta(days=1)).isoformat()
        rows = con.execute(
            "SELECT dt, hr, count(*) FROM dau WHERE dt IN (?, ?) GROUP BY dt, hr", [td, yd]
        ).fetchall()
        today = {hr: ct for dt, hr, ct in rows if dt == td}
        out[f"dau|{td}"] = ("/dauRealtime", {"td": td}, {
            "dauTotal": sum(today.values()), "dauTd": today,
            "dauYd": {hr: ct for dt, hr, ct in rows if dt == yd}})
    dates = [r[0] for r in con.sql(
        "SELECT DISTINCT create_date FROM order_wide ORDER BY 1").fetchall()]
    for date in dates:
        for item in ITEMS:
            cond = " AND ".join("contains(sku_name, ?)" for _ in item.split())
            params = [date, *item.split()]
            for t, col in (("age", "user_age"), ("gender", "user_gender")):
                top = con.execute(
                    f"SELECT {col} AS k, sum(split_total_amount), count(*) AS ct "
                    f"FROM order_wide WHERE create_date = ? AND {cond} "
                    "GROUP BY k ORDER BY ct DESC, k LIMIT 100", params).fetchall()
                if t == "gender":
                    body = [{"name": {"F": "女", "M": "男"}.get(k, k), "value": amt}
                            for k, amt, _ in top]
                else:
                    buckets: dict[str, float] = {}
                    for k, amt, _ in top:
                        buckets[_age_bucket(k)] = buckets.get(_age_bucket(k), 0.0) + amt
                    body = [{"name": k, "value": v} for k, v in buckets.items()]
                out[f"stats|{date}|{item}|{t}"] = (
                    "/statsByItem", {"itemName": item, "date": date, "t": t}, body)
            total = con.execute(
                f"SELECT count(*) FROM order_wide WHERE create_date = ? AND {cond}",
                params).fetchone()[0]
            for page in PAGES:
                rows = con.execute(
                    "SELECT create_date, order_id, detail_id, sku_id, sku_num, order_price, "
                    "split_total_amount, replace(sku_name, ?, ?) AS sku_name "
                    f"FROM order_wide WHERE create_date = ? AND {cond} "
                    "ORDER BY order_id, detail_id LIMIT ? OFFSET ?",
                    [item, f"<em>{item}</em>", *params, PAGE_SIZE, (page - 1) * PAGE_SIZE],
                ).fetchall()
                cols = ("create_date", "order_id", "detail_id", "sku_id", "sku_num",
                        "order_price", "split_total_amount", "sku_name")
                out[f"detail|{date}|{item}|{page}"] = (
                    "/detailByItem",
                    {"date": date, "itemName": item, "pageNo": page, "pageSize": PAGE_SIZE},
                    {"total": total, "detail": [dict(zip(cols, r)) for r in rows]})
    con.close()
    return out


def _same_stats(got: list, want: list) -> bool:
    """Amounts are rounded to cents by the API and summed unrounded here,
    so each may differ by up to half a cent."""
    if not isinstance(got, list) or len(got) != len(want):
        return False
    g = sorted((r["name"], r["value"]) for r in got)
    w = sorted((r["name"], r["value"]) for r in want)
    return all(a[0] == b[0] and abs(a[1] - b[1]) <= 0.005 + 1e-9 for a, b in zip(g, w))


def check_response(key: str, status: int, body, want) -> str | None:
    if status != 200:
        return f"{key}: HTTP {status}"
    ok = _same_stats(body, want) if key.startswith("stats|") else body == want
    return None if ok else f"{key}: body differs from the store"


# ---------------------------------------------------------------------------
# load
# ---------------------------------------------------------------------------


class Client:
    """One HTTP connection per request (the server speaks HTTP/1.0)."""

    def __init__(self, port: int) -> None:
        self.port = port

    def get(self, path: str, params: dict) -> tuple[int, object]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("GET", f"{path}?{urlencode(params)}")
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()


def serve(ctx, stores: dict[str, str]) -> dict:
    """Serve the dashboard over ``stores``: cold requests, then the open
    loop, then the closed loop (and, traced, a one-client baseline).
    Every response is checked against the DuckDB answers afterwards."""
    from bigdata_spark_realtime_spark.serving.api import ServingAPI
    from bigdata_spark_realtime_spark.serving.http_server import start_background

    spark, tr = ctx.spark, ctx.tracer
    t_expected = time.perf_counter()
    with tr.span("serving_setup:expected"):
        universe = expected_answers(stores)
    expected_s = time.perf_counter() - t_expected
    store_files = sum(len([n for n in files if n.endswith(".parquet")])
                      for path in stores.values() for _, _, files in os.walk(path))
    # built the way http_server.main builds it: cached parquet reads
    api = ServingAPI(spark.read.parquet(stores["dau"]).cache(),
                     spark.read.parquet(stores["order_wide"]).cache())
    server, thread = start_background(TracedAPI(api, tr))
    client = Client(server.server_address[1])

    rng = random.Random(ctx.seed)
    by_kind: dict[str, list[str]] = {}
    for key in universe:
        by_kind.setdefault(key.split("|")[0], []).append(key)
    kinds = sorted(by_kind)

    def mix():
        """Seeded request keys; each block of len(kinds) requests holds
        one of each kind in shuffled order, so every run sends the same
        share of each endpoint."""
        while True:
            block = list(kinds)
            rng.shuffle(block)
            for kind in block:
                yield rng.choice(by_kind[kind])

    keys = mix()

    def pick() -> str:
        return next(keys)

    responses: list[tuple[str, int, object]] = []
    lock = threading.Lock()

    def call(key: str) -> float:
        path, params, _ = universe[key]
        t = time.perf_counter()
        try:
            status, body = client.get(path, params)
        except (OSError, http.client.HTTPException, ValueError) as e:
            status, body = -1, repr(e)
        dt = time.perf_counter() - t
        with lock:
            responses.append((key, status, body))
        return dt

    open_s = ctx.seconds * OPEN_SHARE
    closed_s = ctx.seconds * CLOSED_SHARE
    try:
        # cold: the first request of each shape after the server starts
        firsts = [by_kind["dau"][0], next(k for k in by_kind["stats"] if k.endswith("age")),
                  next(k for k in by_kind["stats"] if k.endswith("gender")), by_kind["detail"][0]]
        with tr.span("serve:cold"):
            cold_s = sum(call(k) for k in firsts)
        open_lat, lags = _open_loop(open_s, call, pick, tr)
        closed = _closed_loop(call, pick, tr, len(os.sched_getaffinity(0)), closed_s)
        solo_rps = None
        if ctx.trace:
            solo = _closed_loop(call, pick, tr, 1, SOLO_S)
            solo_rps = window_rate(solo)
    finally:
        server.shutdown()
        server.server_close()
        thread.join()

    failures = [m for m in (check_response(k, s, b, universe[k][2]) for k, s, b in responses) if m]
    if ctx.plant and responses:
        key, status, body = responses[0]
        planted = json.loads(json.dumps(body))
        if isinstance(planted, dict) and "dauTotal" in planted:
            planted["dauTotal"] += 1
        elif isinstance(planted, dict):
            planted["total"] += 1
        else:
            planted = planted[1:] if planted else [{"name": "x", "value": 0.0}]
        failures += [m for m in [check_response(key, status, planted, universe[key][2])] if m]
    rps = window_rate(closed)
    out = {
        "named": {
            "serve_cold_s": (cold_s, "s"),
            "serve_p50_ms": (common.quantile(open_lat, 0.5) * 1e3, "ms"),
            "serve_p95_ms": (common.quantile(open_lat, 0.95) * 1e3, "ms"),
            "serve_rps": (rps, "1/s"),
            "serve_hz": (SERVE_HZ, "1/s"),
            "serve_open_requests": (len(open_lat), "count"),
            "serve_closed_requests": (len(closed["service"]), "count"),
            "serve_rps_mean": (len(closed["service"]) / closed["elapsed"], "1/s"),
        },
        "detail": {"serve_gen_lag_ms_p90": common.quantile(lags, 0.9) * 1e3,
                   "store_files": store_files, "request_universe": len(universe),
                   "expected_s": expected_s},
        "attempted": len(responses) + (1 if ctx.plant else 0),
        "failures": failures,
    }
    if ctx.trace:
        out["layers"] = _layers(ctx, closed, lags, solo_rps, store_files)
    return out


def _open_loop(seconds: float, call, pick, tr) -> tuple[list[float], list[float]]:
    """Requests due at a fixed rate, at most nproc in flight; each timed
    from when it was due."""
    n = max(4, round(SERVE_HZ * seconds))
    keys = [pick() for _ in range(n)]
    lat: list[float] = []
    lags: list[float] = []
    with tr.span("serve:open_loop"), ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        start = time.perf_counter()
        futures = []
        for i, key in enumerate(keys):
            due = start + i / SERVE_HZ
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            lags.append(time.perf_counter() - due)

            def task(key=key, due=due):
                call(key)
                return time.perf_counter() - due

            futures.append(pool.submit(task))
        lat = [f.result() for f in futures]
    return lat, lags


def _closed_loop(call, pick, tr, clients: int, seconds: float) -> dict:
    """``clients`` threads each sending their next request when the last
    returns; per-request (start, end) times, the loop's start and elapsed
    seconds."""
    keys_lock = threading.Lock()
    spans: list[tuple[float, float]] = []
    stop_at = time.perf_counter() + seconds

    def client():
        while time.perf_counter() < stop_at:
            with keys_lock:
                key = pick()
            t = time.perf_counter()
            spans.append((t, t + call(key)))

    with tr.span(f"serve:closed_loop_{clients}"):
        start = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        elapsed = time.perf_counter() - start
    return {"service": [e - s for s, e in spans], "spans": spans, "start": start,
            "elapsed": elapsed, "seconds": seconds}


def window_rate(loop: dict, width: float = 1.0) -> float:
    """Median over the loop's ``width``-second windows of the requests
    served per second, each request counted in a window by the share of
    its service time that falls there. A stall of a second or two (a GC
    pause, the host stealing the CPU) moves the median less than it moves
    the mean over the loop."""
    rates = []
    for i in range(max(1, int(loop["seconds"] / width))):
        lo = loop["start"] + i * width
        hi = lo + width
        done = sum((min(e, hi) - max(s, lo)) / (e - s)
                   for s, e in loop["spans"] if e > lo and s < hi and e > s)
        rates.append(done / width)
    return common.median(rates)


def _layers(ctx, closed, lags, solo_rps, store_files) -> dict:
    """API time per endpoint from the proxy spans; HTTP overhead is the
    mean closed-loop request time minus the mean API time of the calls
    made in that phase; jobs and tasks come from per-call job groups."""
    tr = ctx.tracer
    api_ms = {}
    for ep in ("dauRealtime", "statsByItem", "detailByItem"):
        d = [s.end - s.start for s in tr.spans if s.name == f"serving_api:{ep}"]
        api_ms[f"serving.api_ms.{ep}"] = common.median(d) * 1e3
    calls = [s for s in tr.spans if s.name.startswith("serving_api:")]
    jobs = common.spark_jobs(ctx.spark.sparkContext)
    req = common.sum_jobs(jobs, lambda g: bool(g) and g.startswith("req|"))
    window = (closed["start"], closed["start"] + closed["elapsed"])
    in_closed = [s.end - s.start for s in calls if window[0] <= s.start <= window[1]]
    service = closed["service"]
    return {
        **api_ms,
        "serving.http_overhead_ms": (sum(service) / len(service)
                                     - sum(in_closed) / len(in_closed)) * 1e3,
        "serving.jobs_per_request": req["jobs"] / len(calls),
        "serving.tasks_per_request": req["tasks"] / len(calls),
        "serve.gen_lag_ms": common.quantile(lags, 0.9) * 1e3,
        "serve.rps_1client": solo_rps,
        "sinks.store_files": store_files,
    }
