"""Full-registry oracle sweep at an arbitrary scale factor.

The per-test mirrors run at sf0.001 (fast suite) and sf0.01 (the
driver's gate sf). Some divergences need a bigger haystack: a
half-way-adjacent double for a float round, an LSH cap or skew
fallback actually triggering. This sweep runs EVERY registered query
against the given sf-dir (default the bench sf, 0.1), compares each
oracled one with DuckDB on the same files, and prints one line per
problem — run it once per round:

    python scripts/oracle_sweep.py                      # sf0.1
    SPARK_GRAFT_SWEEP_DIR=/root/testdata/sf0.01 python scripts/oracle_sweep.py
    SPARK_GRAFT_SWEEP_ONLY=q2_min_cost_supplier,ext_lm_score \\
        python scripts/oracle_sweep.py                  # a subset

:func:`sweep` is the repo's one oracle-compare loop;
``scripts/empty_input_sweep.py`` runs it over boundary tables.

Round-8 catch: q2_min_cost_supplier's round(x, 4) flipped its last
digit between engines on exactly one sf0.1 row (fixed by moving the
unit price to integer basis points).
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from bigdata_spark_realtime_spark.sources.tables import TABLE_NAMES

SWEEP_DIR = os.environ.get("SPARK_GRAFT_SWEEP_DIR", "/root/testdata/sf0.1")
#: optional subset: comma-separated query names (lets a change's blast
#: radius be re-verified in seconds; the per-round gate runs them all)
ONLY = {n for n in os.environ.get("SPARK_GRAFT_SWEEP_ONLY", "").split(",") if n}


class _DF:
    """Minimal ``.toPandas()`` shim: the comparator takes a frame, the
    sweep hands it the already-collected result so a Spark failure and
    an oracle failure stay distinguishable."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _temp_views(spark) -> set[str]:
    """The session's temporary views. A persistent table a query
    registers on purpose (``sources/bucketing``'s bucketed facts,
    reused by name on the next call) is not one of them."""
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def sweep(spark, sf_dir: str, label: str | None = None) -> list[tuple[str, str]]:
    """Run every registered query (or ``$SPARK_GRAFT_SWEEP_ONLY``) at
    ``sf_dir`` and compare each oracled one with DuckDB over the same
    parquet files. Prints a summary, one ``PROBLEM`` line per
    SPARK-ERROR / MISMATCH / ORACLE-ERROR / LEAK (a temporary view the
    query left in the session catalog) and ``ALL EXACT`` when there are
    none; returns the problems."""
    import duckdb

    import __spark_entry__ as entry

    # reuse the suite's comparator (tests/oracle_util): it enforces the
    # driver-relevant dtype-KIND check (int-vs-float divergence raw
    # numpy equality would miss) and handles NULL/NaN columns that
    # would spuriously flag under element equality
    sys.path.insert(0, os.path.join(_REPO, "tests"))
    from oracle_util import assert_matches_oracle

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = entry.oracle_sql()
    names = {n: fn for n, fn in entry.queries().items() if not ONLY or n in ONLY}
    problems = []
    t0 = time.time()
    for i, (name, fn) in enumerate(names.items(), 1):
        # progress to stderr, flushed per query: if the sweep dies hard
        # (the wide boundary's first run was OOM-killed with no
        # traceback), the last line names the culprit
        print(f"[sweep {i}/{len(names)}] {name}", file=sys.stderr, flush=True)
        before = _temp_views(spark)
        got = None
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001 — report and continue
            problems.append((name, f"SPARK-ERROR {type(ex).__name__}: {ex}"))
        # a view left in the session catalog outlives the query, with
        # whatever it holds, in any long-lived session (a sweep, a bench
        # run, the HTTP server)
        leaked = _temp_views(spark) - before
        if leaked:
            problems.append((name, f"LEAK {', '.join(sorted(leaked))}"))
        if got is None or name not in oracles:
            continue
        try:
            assert_matches_oracle(_DF(got), con, oracles[name])
        except AssertionError as ex:
            problems.append((name, f"MISMATCH {ex}"))
        except Exception as ex:  # noqa: BLE001
            problems.append((name, f"ORACLE-ERROR {type(ex).__name__}: {ex}"))
    con.close()
    n_oracled = sum(n in oracles for n in names)
    print(
        f"swept {len(names)} queries ({n_oracled} oracled) at "
        f"{label or sf_dir} in {time.time() - t0:.0f}s"
    )
    for name, why in problems:
        print(f"PROBLEM {name}: {why}")
    if not problems:
        print("ALL EXACT")
    return problems


def main() -> int:
    from bigdata_spark_realtime_spark.session import get_spark

    spark = get_spark(app_name="bsr-oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    problems = sweep(spark, SWEEP_DIR)
    spark.stop()
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
