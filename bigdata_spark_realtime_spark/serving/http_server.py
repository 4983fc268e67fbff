"""HTTP publisher service — the reference's REST surface as a real server
(`ia/PublisherController.java:21-51`): three GET endpoints answering the
exact param names and JSON shapes of the Spring controller.

  GET /dauRealtime?td=2024-03-02
  GET /statsByItem?itemName=..&date=..&t=age|gender
  GET /detailByItem?date=..&itemName=..&pageNo=1&pageSize=20

Built on the stdlib ``http.server`` (no web framework in the container):
a ``ThreadingHTTPServer`` whose handler dispatches to a ``ServingAPI``.
This is the serving *boundary*, not a data path — every response is an
aggregate or one page (≤ pageSize rows), so the Spark collect behind it
is bounded regardless of table size. Each request runs one Spark job
while the store fits Spark's target partition size (the size rule in
``serving/api.py``). ``main`` caches the store frames; the next
``upsert_parquet`` commit into a day-partitioned store refreshes that
cache in the same session.

Divergence from the reference, by design: a bad or missing parameter
(e.g. ``t=bogus``, which NPEs the reference into a 500) returns a 400
with a JSON error body.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from bigdata_spark_realtime_spark.serving.api import ServingAPI
from bigdata_spark_realtime_spark.serving.dashboard import DASHBOARD_HTML


def _endpoint_dau(api: ServingAPI, q: dict) -> dict:
    td = _require(q, "td")
    import datetime

    try:
        datetime.date.fromisoformat(td)
    except ValueError:
        raise BadRequest(f"bad td={td!r}: expected YYYY-MM-DD")
    return api.dau_realtime(td)


def _endpoint_stats(api: ServingAPI, q: dict) -> list:
    item_name = _require(q, "itemName")
    date = _require(q, "date")
    t = _require(q, "t")
    try:
        return api.stats_by_item(item_name, date, t)
    except ValueError as e:  # bad t — reference NPEs; we 400
        raise BadRequest(str(e))


def _endpoint_detail(api: ServingAPI, q: dict) -> dict:
    date = _require(q, "date")
    item_name = _require(q, "itemName")
    try:
        page_no = int(q.get("pageNo", ["1"])[0])
        page_size = int(q.get("pageSize", ["20"])[0])
    except ValueError:
        raise BadRequest("pageNo/pageSize must be integers")
    if page_no < 1 or page_size < 1:
        raise BadRequest("pageNo/pageSize must be >= 1")
    return api.detail_by_item(date, item_name, page_no=page_no, page_size=page_size)


ROUTES = {
    "/dauRealtime": _endpoint_dau,
    "/statsByItem": _endpoint_stats,
    "/detailByItem": _endpoint_detail,
}


class BadRequest(Exception):
    pass


def _require(q: dict, name: str) -> str:
    try:
        return q[name][0]
    except (KeyError, IndexError):
        raise BadRequest(f"missing required parameter {name!r}")


class _Handler(BaseHTTPRequestHandler):
    api: ServingAPI  # injected by make_server

    def do_GET(self) -> None:  # noqa: N802 (http.server naming)
        url = urlparse(self.path)
        if url.path in ("/", "/index.html"):
            self._send_html(DASHBOARD_HTML)
            return
        route = ROUTES.get(url.path)
        if route is None:
            self._send(404, {"error": f"no such endpoint: {url.path}"})
            return
        try:
            body = route(self.api, parse_qs(url.query))
        except BadRequest as e:
            self._send(400, {"error": str(e)})
            return
        except Exception as e:  # engine-side failure → 500 with reason
            self._send(500, {"error": f"{type(e).__name__}: {e}"})
            return
        self._send(200, body)

    def _send_html(self, html: str) -> None:
        data = html.encode("utf-8")
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _send(self, status: int, body) -> None:
        data = json.dumps(body, ensure_ascii=False).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, fmt: str, *args) -> None:  # quiet by default
        pass


def make_server(api: ServingAPI, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Bind (port=0 → ephemeral) but don't serve yet; `.server_address`
    holds the bound (host, port)."""
    handler = type("PublisherHandler", (_Handler,), {"api": api})
    return ThreadingHTTPServer((host, port), handler)


def start_background(api: ServingAPI, host: str = "127.0.0.1", port: int = 0):
    """Start the publisher server on a daemon thread; returns (server,
    thread). Caller stops with server.shutdown()."""
    server = make_server(api, host, port)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread


def main() -> None:  # pragma: no cover - manual entry point
    """`python -m bigdata_spark_realtime_spark.serving.http_server
    <dau_parquet> <order_wide_parquet> [port]` — serve from parquet
    serving-store tables."""
    import sys

    from bigdata_spark_realtime_spark.session import get_spark

    dau_path, wide_path = sys.argv[1], sys.argv[2]
    port = int(sys.argv[3]) if len(sys.argv) > 3 else 8070
    spark = get_spark(app_name="publisher-http")
    api = ServingAPI(
        spark.read.parquet(dau_path).cache(),
        spark.read.parquet(wide_path).cache(),
    )
    server = make_server(api, host="0.0.0.0", port=port)
    print(f"publisher serving on :{server.server_address[1]}")
    server.serve_forever()


if __name__ == "__main__":  # pragma: no cover
    main()
