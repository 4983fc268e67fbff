"""Golden tests against a live local publisher HTTP server.

Starts the stdlib-based server on an ephemeral port over real pipeline
output and exercises the three endpoints with the reference's exact
param names (`ia/PublisherController.java:21-51`), plus the 400 paths
the reference lacked (it NPE'd to a 500 on bad `t`).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from bigdata_spark_realtime_spark import schemas as S
from bigdata_spark_realtime_spark.serving import ServingAPI
from bigdata_spark_realtime_spark.serving.http_server import start_background
from bigdata_spark_realtime_spark.sources import fixtures as FX
from bigdata_spark_realtime_spark.streaming.base_log import split_base_log
from bigdata_spark_realtime_spark.streaming.dau import build_dau
from bigdata_spark_realtime_spark.streaming.order import (
    enrich_order_info,
    order_wide_join,
)

TD = "2024-03-02"


@pytest.fixture(scope="module")
def server_url(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("http_serving")
    FX.gen_raw_log(str(d / "raw_log"), n_rows=1500, n_files=2)
    FX.gen_dims(str(d / "dims"))
    FX.gen_order_streams(str(d / "orders"), n_orders=250, n_files=2)

    dim_user = spark.read.schema(S.DIM_USER_SCHEMA).json(str(d / "dims" / "user_info"))
    dim_prov = spark.read.schema(S.DIM_PROVINCE_SCHEMA).json(
        str(d / "dims" / "base_province")
    )
    raw = spark.read.format("text").load(str(d / "raw_log"))
    dau = build_dau(
        split_base_log(raw)["page"], dim_user, dim_prov, TD, streaming=False
    )
    orders = d / "orders"
    info = spark.read.schema(S.ORDER_INFO_STREAM_SCHEMA).json(str(orders / "order_info"))
    det = spark.read.schema(S.ORDER_DETAIL_STREAM_SCHEMA).json(str(orders / "order_detail"))
    wide = order_wide_join(
        enrich_order_info(info, dim_user, dim_prov), det, streaming=False
    )
    api = ServingAPI(dau.cache(), wide.cache())
    server, _ = start_background(api)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def _get(url: str):
    """Returns (status, parsed json body) without raising on 4xx/5xx."""
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, json.loads(resp.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode("utf-8"))


def _q(**params) -> str:
    return urllib.parse.urlencode(params)


def test_dau_realtime_golden(server_url):
    status, body = _get(f"{server_url}/dauRealtime?{_q(td=TD)}")
    assert status == 200
    assert set(body) == {"dauTotal", "dauTd", "dauYd"}
    assert body["dauTotal"] == sum(body["dauTd"].values()) > 0
    assert all(len(hr) == 2 for hr in body["dauTd"])
    assert body["dauYd"]


def test_stats_by_item_golden(server_url):
    status, age = _get(
        f"{server_url}/statsByItem?{_q(itemName='Apple iPhone', date='2024-03-01', t='age')}"
    )
    assert status == 200
    assert age and all(set(r) == {"name", "value"} for r in age)
    assert {r["name"] for r in age} <= {"20岁以下", "20岁到29岁", "30岁以上"}
    status, gender = _get(
        f"{server_url}/statsByItem?{_q(itemName='Apple iPhone', date='2024-03-01', t='gender')}"
    )
    assert status == 200
    assert {r["name"] for r in gender} <= {"女", "男"}


def test_detail_by_item_golden_and_default_paging(server_url):
    status, p1 = _get(
        f"{server_url}/detailByItem?{_q(date='2024-03-01', itemName='iPhone', pageNo=1, pageSize=5)}"
    )
    status2, p2 = _get(
        f"{server_url}/detailByItem?{_q(date='2024-03-01', itemName='iPhone', pageNo=2, pageSize=5)}"
    )
    assert status == status2 == 200
    assert p1["total"] == p2["total"] > 5
    assert len(p1["detail"]) == 5
    ids1 = {(r["order_id"], r["detail_id"]) for r in p1["detail"]}
    ids2 = {(r["order_id"], r["detail_id"]) for r in p2["detail"]}
    assert not ids1 & ids2
    assert all("<em>iPhone</em>" in r["sku_name"] for r in p1["detail"])
    # pageNo/pageSize are optional with the controller's defaults (1, 20)
    status, dflt = _get(f"{server_url}/detailByItem?{_q(date='2024-03-01', itemName='iPhone')}")
    assert status == 200 and len(dflt["detail"]) == min(20, dflt["total"])


def test_bad_requests_return_400(server_url):
    status, body = _get(
        f"{server_url}/statsByItem?{_q(itemName='x', date='2024-03-01', t='bogus')}"
    )
    assert status == 400 and "error" in body
    status, _ = _get(f"{server_url}/statsByItem?{_q(itemName='x', date='2024-03-01')}")
    assert status == 400  # missing t
    status, _ = _get(f"{server_url}/dauRealtime?{_q(td='not-a-date')}")
    assert status == 400
    status, _ = _get(f"{server_url}/dauRealtime")
    assert status == 400  # missing td
    status, _ = _get(
        f"{server_url}/detailByItem?{_q(date='2024-03-01', itemName='x', pageNo='zero')}"
    )
    assert status == 400
    status, _ = _get(f"{server_url}/nope")
    assert status == 404


def test_dashboard_page_served(server_url):
    """The bundled dashboard (the reference's static SPA surface,
    `InsightAnalytics/src/main/resources/static/`) is served at / as a
    self-contained HTML page driving the three live endpoints."""
    import urllib.request

    for path in ("/", "/index.html"):
        with urllib.request.urlopen(f"{server_url}{path}") as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/html")
            html = resp.read().decode("utf-8")
        for endpoint in ("/dauRealtime", "/statsByItem", "/detailByItem"):
            assert endpoint in html
        assert "<script>" in html and "http" not in html.split("<head>")[1].split(
            "</head>"
        )[0].lower().replace("http-equiv", ""), "head must pull no external assets"


def test_dashboard_never_interpolates_data_into_innerhtml():
    """Regression pin for the fillTable XSS fix: served column values
    (e.g. sku_name) must reach the DOM via textContent, never through
    string-built innerHTML, or markup in table data would execute."""
    import re

    from bigdata_spark_realtime_spark.serving.dashboard import DASHBOARD_HTML

    assert "replaceChildren" in DASHBOARD_HTML
    assert "textContent" in DASHBOARD_HTML
    # no template-literal interpolation into innerHTML anywhere
    for m in re.finditer(r"innerHTML\s*=\s*(.+)", DASHBOARD_HTML):
        assert "${" not in m.group(1), m.group(0)
