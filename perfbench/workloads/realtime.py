"""realtime: stream ingest, then the dashboard over what the streams wrote.

The ingest phase (``perfbench/ingest.py``) drives the DAU and order-wide
streams with open-loop file drops and a backfill burst into the
partitioned upsert store; the serving phase (``perfbench/serving.py``)
then answers the three REST endpoints over HTTP from that store. Nearly
all of the ingest time goes to ``sources``, streaming state and
``streaming.sinks``; every dashboard answer is small, so the serving
load sits in ``serving.*`` and per-request job scheduling, and it reads
the files the sinks wrote. Batch kernels (``operators``) are barely used.

End-to-end metrics: ``cold_s`` is the streams' start to their first
commit, ``latency_ms`` the mean of the two streams' median freshness over
the measured drops, ``ops_per_s`` the dashboard's closed-loop requests
per second. The per-stream percentiles, the burst rate and the other
serving figures are reported by name.
"""

from __future__ import annotations

from perfbench import ingest, serving


def setup(ctx, path: str) -> dict:
    return ingest.setup(ctx, path)


def setup_once(ctx, state: dict) -> None:
    ingest.stage_fixtures(ctx, state)


def run(ctx, state: dict) -> dict:
    stream = ingest.ingest(ctx, state)
    with ctx.tracer.span("serve:phase"):
        served = serving.serve(ctx, stream["stores"])
    out = {
        "e2e": {**stream["e2e"], "ops_per_s": served["named"]["serve_rps"][0]},
        "named": {**stream["named"], **served["named"]},
        "detail": {**stream["detail"], **served["detail"]},
        "attempted": stream["attempted"] + served["attempted"],
        "failures": stream["failures"] + served["failures"],
    }
    if ctx.trace:
        out["layers"] = {**stream["layers"], **served["layers"]}
    return out
