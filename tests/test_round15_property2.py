"""Round-15 wide-record regression pins.

The first full run of the wide-record boundary mode
(``scripts/empty_input_sweep.py wide``) caught two real
width-quadratic defect classes on 1 MiB documents:

1. **Oracle side** — the DuckDB lateral range-join pair/chunk shape
   (``FROM toks, unnest(range(len(t) - 1)) AS u(i)`` + ``t[i + 1]``
   list indexing) carries the whole token LIST on every output row:
   one 1 MiB doc cost 310 s / >8 GB, and the sweep harness was
   OOM-killed at 126 GB. Rewritten to linear zip-unnest + ``lead()``
   (pairs) / chunk-membership groupBy (chunks) in ext_lm, ext_bpe,
   ext_curation3, ext_colloc, ext_chunk, transforms.

2. **Engine side** — Spark higher-order-function lambdas are
   INTERPRETED, so an inline ``split(text, ' ')`` referenced via
   ``element_at`` / ``slice`` / ``size`` inside the lambda body is
   re-evaluated for EVERY element: O(width²) per document
   (``ext_text_fingerprint`` burned >12 CPU-minutes on one task).
   Fixed by materializing ``toks`` in a projection below the HOF —
   the multi-reference, non-cheap alias blocks CollapseProject from
   re-inlining it.

These pins keep both shapes from regressing; equivalence itself is
covered by the oracle sweeps (all three sfs + boundary modes).
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

#: the rewritten oracle constants and the list-index fragments that
#: must never reappear in them
_ORACLE_PINS = [
    ("bigdata_spark_realtime_spark.plans.ext_lm", "LM_ORACLE", "t[i + 1]"),
    ("bigdata_spark_realtime_spark.plans.ext_bpe", "BPE_ORACLE", "t[i + 1]"),
    ("bigdata_spark_realtime_spark.plans.ext_bpe", "APPLY_ORACLE", "t[i + 1]"),
    ("bigdata_spark_realtime_spark.plans.ext_colloc", "BIGRAM_PMI_ORACLE", "t[i]"),
    # the plain lateral "FROM toks, unnest(t)" join is the same class:
    # it carries the token list per element row (49 GB on 24 wide docs)
    (
        "bigdata_spark_realtime_spark.plans.ext_colloc",
        "BIGRAM_PMI_ORACLE",
        "FROM toks, unnest(",
    ),
    ("bigdata_spark_realtime_spark.plans.ext_chunk", "CHUNK_ORACLE", "t[i *"),
    ("bigdata_spark_realtime_spark.plans.transforms", "T7_ORACLE", "toks[t.i"),
    (
        "bigdata_spark_realtime_spark.plans.ext_curation3",
        "_ORACLE_TMPL",
        "t[i + 1]",
    ),
    (
        "bigdata_spark_realtime_spark.plans.ext_curation3",
        "_ORACLE_TMPL",
        "toks[i + 1]",
    ),
]


@pytest.mark.parametrize("mod,const,fragment", _ORACLE_PINS)
def test_oracle_no_list_index_join(mod, const, fragment):
    """The quadratic lateral-join + list-index shape must not return to
    the rewritten oracles (linear zip-unnest derivations only)."""
    import importlib

    sql = getattr(importlib.import_module(mod), const)
    assert fragment not in sql, (
        f"{mod}.{const} regressed to the list-index lateral-join shape "
        f"({fragment!r}): quadratic in document width — see module "
        "docstring of tests/test_round15_property2.py"
    )


#: queries whose optimized plan must evaluate split() OUTSIDE the
#: higher-order-function lambda (attribute reference inside)
_PLAN_PINNED = ["ext_text_fingerprint", "ext_chunk_windows"]


@pytest.mark.parametrize("name", _PLAN_PINNED)
def test_hof_lambda_references_materialized_tokens(name, spark):
    """The HOF expression must reference a materialized toks attribute,
    never an inline split — interpreted lambdas re-evaluate inline
    children per element (O(width²))."""
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for bad in ("transform(split(", "slice(split(", "element_at(split("):
        assert bad not in plan, (
            f"{name}: optimizer re-inlined split() into the HOF lambda "
            f"({bad!r} in optimized plan) — width-quadratic; materialize "
            "toks below the HOF"
        )


def test_bpe_apply_merge_plan_materializes_tokens(spark):
    """Same pin for ext_bpe_apply_merge (position filter's element_at
    lambda must consume a materialized array)."""
    import __spark_entry__ as entry

    df = entry.queries()["ext_bpe_apply_merge"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at(split(" not in plan and "filter(split(" not in plan


def test_wide_single_doc_fingerprint_wall_clock(spark):
    """One deliberately wide (256 KiB) document must fingerprint in
    seconds, not minutes: a coarse 60 s ceiling that the quadratic
    shape missed by two orders of magnitude."""
    import time

    import pyspark.sql.functions as F

    from bigdata_spark_realtime_spark.plans.ext_text import (
        ext_text_fingerprint,
    )
    import __spark_entry__ as entry  # noqa: F401  (registry load)

    text = " ".join(f"w{i % 211}y{i % 13}" for i in range(32_000))
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="wide_fp_")
    try:
        spark.createDataFrame(
            [(1, "en", "wide", text, len(text))],
            "doc_id long, lang string, source string, text string, n_chars bigint",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        t0 = time.time()
        rows = ext_text_fingerprint(spark, d).collect()
        wall = time.time() - t0
        assert len(rows) == 1
        assert wall < 60, f"wide-doc fingerprint took {wall:.1f}s"
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)
