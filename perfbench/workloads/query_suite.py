"""query_suite: registered batch queries, once cold in a fresh process,
then as warm repeats.

Exercises ``plans`` (the registered query functions with their eager
driver-side actions and per-process memos), ``operators`` (Arrow/pandas
kernels), ``sources.tables`` and shuffle sizing. It never touches
streaming state, sinks or HTTP.
"""

from __future__ import annotations

import os
import time

from perfbench import common, tables

#: the measured queries: the registered queries that fit the run's time
#: budget and match their oracle on every seed (METRICS.md gives the
#: timings that chose them and the engine defects that rule two out)
QUERIES: tuple[str, ...] = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q18_large_volume_customer",
    "d1_first_seen_dedup",
    "serving_dau_realtime",
    "ext_dedup_minhash_lsh",
    "ext_lm_score",
    "ext_dsir_select",
)
MIN_WARM_PASSES = 4


def _one_pass(ctx, fns, sf_dir: str, label: str, errors: list) -> dict[str, float]:
    """Run every query once to completion (noop write); per-query wall
    seconds, build (the query function call) plus execution."""
    times: dict[str, float] = {}
    tr = ctx.tracer
    with tr.span(f"suite:{label}"):
        for name in QUERIES:
            t0 = time.perf_counter()
            try:
                with tr.span(f"plans:{name}", job_group=f"plans|{name}|{label}"):
                    df = fns[name](ctx.spark, sf_dir)
                with tr.span(f"exec:{name}", job_group=f"exec|{name}|{label}"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failing query counts, the pass goes on
                errors.append(f"{label} {name}: {type(e).__name__}: {e}"[:300])
            times[name] = time.perf_counter() - t0
    return times


def check_outputs(ctx, fns, oracles, sf_dir: str, plant: bool) -> list[str]:
    """Each query's result against its registered DuckDB oracle, with the
    row, column and order-insensitive rule of tests/oracle_util.py.
    ``plant`` drops one row of the first result to prove the check fires."""
    import duckdb
    from tests.oracle_util import assert_matches_oracle

    from bigdata_spark_realtime_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    failures = []
    for i, name in enumerate(QUERIES):
        try:
            df = fns[name](ctx.spark, sf_dir)
            if plant and i == 0:
                df = df.limit(max(df.count() - 1, 0))
            assert_matches_oracle(df, con, oracles[name])
        except Exception as e:
            failures.append(f"oracle {name}: {type(e).__name__}: {e}"[:300])
    con.close()
    return failures


def setup(ctx, path: str) -> dict:
    """Generate the seeded tables under ``path``."""
    with ctx.tracer.span("sources:generate"):
        tables.generate(path, ctx.seed, "sf0.001" if ctx.tiny else "sf0.01")
    return {"dir": path}


def setup_once(ctx, state: dict) -> None:
    """Import the query registry (once per process)."""
    with ctx.tracer.span("plans:registry_import"):
        from bigdata_spark_realtime_spark.plans import registry

        registry.all_queries()


def run(ctx, state: dict) -> dict:
    from bigdata_spark_realtime_spark.plans import registry

    sf_dir = state["dir"]
    fns = registry.all_queries()
    oracles = registry.all_oracles()

    # the measured phase: the cold pass, then warm passes for ``seconds``
    # (at least MIN_WARM_PASSES, whose median is reported)
    errors: list[str] = []
    cold = _one_pass(ctx, fns, sf_dir, "cold", errors)
    warm: list[dict[str, float]] = []
    t_warm = time.perf_counter()
    while len(warm) < MIN_WARM_PASSES or time.perf_counter() - t_warm < ctx.seconds:
        warm.append(_one_pass(ctx, fns, sf_dir, f"warm{len(warm)}", errors))

    failures = errors + check_outputs(ctx, fns, oracles, sf_dir, ctx.plant)
    # every query invocation, timed or checked, is one operation
    attempted = len(QUERIES) * (len(warm) + 2)

    cold_s = sum(cold.values())
    warm_sums = [sum(p.values()) for p in warm]
    warm_s = common.median(warm_sums)
    per_query_warm = {q: common.median([p[q] for p in warm]) for q in QUERIES}

    out = {
        "e2e": {
            "cold_s": cold_s,
            # mean query latency of the median warm pass
            "latency_ms": warm_s / len(QUERIES) * 1e3,
            "ops_per_s": len(QUERIES) / warm_s,
        },
        "named": {
            "suite_cold_s": (cold_s, "s"),
            "suite_warm_s": (warm_s, "s"),
            "warm_passes": (len(warm), "count"),
        },
        "detail": {
            "queries": list(QUERIES),
            "cold_s": cold,
            "warm_median_s": per_query_warm,
            "warm_pass_sums_s": warm_sums,
        },
        "attempted": attempted,
        "failures": failures,
    }
    if ctx.trace:
        out["layers"], out["gaps"] = _layers(ctx, cold, per_query_warm, len(warm))
    return out


def _layers(ctx, cold, per_query_warm, n_warm: int) -> tuple[dict, list]:
    """Per-layer numbers from the spans and Spark's status stores; warm
    figures are per warm pass."""
    tr = ctx.tracer
    jobs = common.spark_jobs(ctx.spark.sparkContext)
    sql = common.python_worker_times(ctx.spark)
    job_group = {j["id"]: j["group"] for j in jobs}

    def is_warm(g):
        return bool(g) and g.split("|")[-1].startswith("warm")

    def span_sum(prefix, label_pred):
        return sum(
            s.end - s.start
            for s in tr.spans
            if s.name.startswith(prefix) and label_pred(s)
        )

    warm_spans = {s.id for s in tr.spans if s.name.startswith("suite:warm")}
    cold_spans = {s.id for s in tr.spans if s.name == "suite:cold"}
    warm = common.sum_jobs(jobs, is_warm)
    eager = common.sum_jobs(jobs, lambda g: is_warm(g) and g.startswith("plans|"))

    python_s, gaps = 0.0, []
    for e in sql.values():
        groups = {job_group.get(j) for j in e["jobs"]}
        if not any(is_warm(g) for g in groups):
            continue
        python_s += e["python_s"]
        if e["python_nodes"] and e["python_s"] == 0.0:
            names = sorted({g.split("|")[1] for g in groups if g})
            gaps.append(f"python worker time missing for {','.join(names)}")
    per = 1.0 / n_warm
    layers = {
        "plans.build_s": span_sum("plans:", lambda s: s.parent in warm_spans) * per,
        "plans.build_cold_s": span_sum("plans:", lambda s: s.parent in cold_spans),
        "plans.eager_jobs": eager["jobs"] * per,
        "exec.wall_s": span_sum("exec:", lambda s: s.parent in warm_spans) * per,
        **{k: v * per for k, v in common.spark_totals(warm).items()},
        "operators.python_worker_s": python_s * per,
        "suite.cold_minus_warm_s": sum(cold.values()) - sum(per_query_warm.values()),
    }
    layers.update(
        {f"suite.cold_minus_warm_s.{q}": cold[q] - per_query_warm[q] for q in QUERIES}
    )
    return layers, sorted(set(gaps))
