"""Registry binding every query to its DuckDB oracle SQL.

The driver contract (``__spark_entry__.py``) requires, per implemented
operator: a ``queries()`` callable ``(spark, sf_dir) -> DataFrame`` and a
matching ``oracle_sql()`` ANSI-SQL string for DuckDB over the same
parquet tables. Column names must match exactly (the comparison sorts
columns by name and hashes values) — every computed column is aliased
identically on both sides.

Registration is declarative, on the query's own definition::

    @register("q1_pricing_summary", oracle="SELECT ...")
    def q1(spark, sf_dir): ...

Queries whose semantics are not SQL-expressible (custom stateful
streaming) register with ``oracle=None`` and get the driver's weaker
rows-only check.

The external correctness gate hash-checks the first 50 entries of
``queries()``. That gate window is :data:`GATE_WINDOW`, not module
import order: :func:`load_all` returns its names first, in tuple order,
then every other query in registration order. To rotate, edit
``GATE_WINDOW``; ``tests/test_registry.py`` names every query that must
be in it (those with no green gate row), and
``python scripts/freshness_audit.py`` lists the stale and body-drifted
rows to fill the rest.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


QUERIES: dict[str, QuerySpec] = {}

#: the 50 queries the external gate checks next, in gate order
GATE_WINDOW: tuple[str, ...] = (
    # never verified by the external gate
    "ext_dedup_url",
    "ext_hll_error_audit",
    "ext_quantile_error_audit",
    "ext_semantic_gap_audit",
    "ext_simhash_error_audit",
    "ext_srp_error_audit",
    "stream_stats_by_item_age",
    "stream_stats_by_item_gender",
    # effective body changed since the last green gate row
    # (scripts/freshness_audit.py), oldest green round first, ties by
    # name: r9-r13
    "ext_bpe_apply_merge",
    "ext_bpe_merges",
    "ext_dsir_select",
    "ext_multimodal_audiohash_pairs",
    "ext_multimodal_phash_pairs",
    "ext_multimodal_scene_cuts",
    "ext_multimodal_video_frames",
    "ext_bigram_pmi",
    "ext_concurrency_peak",
    "ext_event_transitions_daily",
    "ext_funnel_conversion",
    "ext_item_pagerank",
    "ext_triangle_count",
    "ext_item_communities",
    "ext_split_leakage",
    "a1_count_total",
    "a2_hourly_counts_topk",
    "a3_day_over_day",
    "a4_stats_by_item_top100",
    "a5_age_rebucket",
    "a6_gender_relabel",
    "t1_json_extract",
    "t4_error_route",
    "t6_multiplex_split",
    "t7_explode_tokens",
    "t8_cdc_op_normalize",
    "t9_table_routing",
    # r14, the first 15 by name
    "analytic_order_sequence",
    "bucketed_colocated_join",
    "cube_status_priority",
    "exact_percentiles",
    "ext_bm25_search",
    "ext_chunk_windows",
    "ext_curation_full",
    "ext_curation_scored",
    "ext_dedup_semantic",
    "ext_dedup_substring",
    "ext_quality_classifier",
    "ext_text_boilerplate_ngrams",
    "ext_text_fingerprint",
    "ext_text_lang_id",
    "ext_text_quality_score",
)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every module of the ``plans`` package and return the
    registered specs: ``GATE_WINDOW`` first, then the rest in
    registration order. Import errors propagate, so a broken plan
    module fails the gate loudly instead of shrinking the query set."""
    from bigdata_spark_realtime_spark import plans

    for mod in sorted(m.name for m in pkgutil.iter_modules(plans.__path__)):
        importlib.import_module(f"{plans.__name__}.{mod}")
    missing = [n for n in GATE_WINDOW if n not in QUERIES]
    if missing:
        raise KeyError(f"GATE_WINDOW names unregistered queries: {missing}")
    specs = {n: QUERIES[n] for n in GATE_WINDOW}
    specs.update(QUERIES)
    return specs


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in load_all().items()}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None
    }
