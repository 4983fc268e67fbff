"""Registry gate hygiene: the correctness gate's query set must not be
able to shrink silently, and its 50-query window is pinned."""

from __future__ import annotations

import os

import pytest

from bigdata_spark_realtime_spark.plans import registry

#: registered queries per plan module — update when adding operators;
#: a mismatch here means a module stopped registering (import typo,
#: accidental deletion) and the DRIVER GATE would silently shrink
EXPECTED_PER_MODULE = {
    "tpch": 22,
    "transforms": 6,
    "scalar_fns": 7,
    "dedup": 2,
    "joins": 6,
    "aggregations": 6,
    "sort_limit": 3,
    "windows": 1,
    "analytic": 6,
    "sessionize": 3,
    "olap_extras": 2,
    "serving": 6,
    "ext_dedup": 7,
    "ext_similarity": 2,
    "ext_text": 4,
    "ext_multimodal": 10,
    "ext_attrib": 1,
    "ext_snapshot": 1,
    "ext_sketch_window": 1,
    "ext_colloc": 2,
    "ext_skewcheck": 1,
    "ext_graphrank": 1,
    "ext_split": 1,
    "ext_triplets": 1,
    "ext_annops": 2,
    "ext_scd2": 1,
    "ext_anomaly": 1,
    "ext_dedup_impact": 1,
    "ext_pit": 1,
    "ext_setjoin": 1,
    "ext_binning": 1,
    "ext_contract": 2,
    "ext_timeseries": 5,
    "ext_graphtri": 1,
    "ext_fuzzy": 1,
    "ext_timeseries2": 2,
    "ext_concurrency": 1,
    "ext_sampling2": 1,
    "ext_sketch2": 2,
    "ext_fkaudit": 1,
    "ext_paths": 4,
    "ext_zorder": 2,
    "ext_embaudit": 2,
    "ext_drift": 4,
    "ext_communities": 1,
    "ext_convert": 1,
    "ext_windows2": 5,
    "ext_decay": 3,
    "ext_rolling": 3,
    "ext_cohortval": 3,
    "ext_rangejoin": 1,
    "ext_rollup": 2,
    "ext_funnel": 7,
    "ext_asof": 1,
    "ext_sampling": 4,
    "ext_srp": 1,
    "ext_decontam": 1,
    "ext_packing": 2,
    "ext_ivf": 1,
    "ext_quality": 4,
    "ext_semantic": 1,
    "ext_mixture": 2,
    "ext_pii": 1,
    "ext_lm": 1,
    "ext_substring": 1,
    "ext_tfidf": 1,
    "ext_order": 1,
    "ext_chunk": 1,
    "ext_profile": 2,
    "ext_curation3": 1,
    "ext_bm25": 1,
    "ext_hybrid": 1,
    "ext_sketch": 5,
    "ext_dsir": 2,
    "ext_bpe": 2,
    "ext_embed": 6,
    "ext_vocab": 2,
    "streaming_queries": 17,
    "ext_nullprobe": 1,
    "ext_approx_audit": 7,
    "ext_urlnorm": 1,
}

#: plan-package modules that hold shared code and register nothing
HELPER_MODULES = {"corpus", "hints", "registry"}


def test_gate_window_leads_load_all():
    """The first 50 queries — what the external gate checks — are
    exactly ``registry.GATE_WINDOW``, in order, whatever plan module
    happened to be imported first. A late ``load_all()`` in a process
    that already imported a plan module outside the window (as earlier
    tests in this session do) must give the same order a fresh gate
    process gets."""
    import importlib

    window = registry.GATE_WINDOW
    assert len(window) == 50
    assert len(set(window)) == 50
    importlib.import_module("bigdata_spark_realtime_spark.plans.tpch")
    specs = registry.load_all()
    assert set(window) <= set(specs)
    assert list(specs)[:50] == list(window)


def test_helper_imports_register_nothing():
    """plans.corpus is the shared-helper home: importing a helper from
    it must not register queries."""
    import importlib

    mod = importlib.import_module("bigdata_spark_realtime_spark.plans.corpus")
    assert not any(
        callable(v) and getattr(v, "__module__", "").endswith("registry")
        for v in vars(mod).values()
    )
    specs = registry.load_all()
    assert not any(
        s.fn.__module__.endswith("plans.corpus") for s in specs.values()
    )


def test_per_module_registered_query_counts():
    from collections import Counter

    specs = registry.load_all()
    got = Counter(s.fn.__module__.rsplit(".", 1)[-1] for s in specs.values())
    assert dict(got) == EXPECTED_PER_MODULE
    assert sum(got.values()) == sum(EXPECTED_PER_MODULE.values()) == len(specs)


def test_every_plan_module_is_scanned():
    """load_all() discovers the package: every plan module is either a
    registering module counted above or a declared helper."""
    import pkgutil

    from bigdata_spark_realtime_spark import plans

    found = {m.name for m in pkgutil.iter_modules(plans.__path__)}
    assert found == set(EXPECTED_PER_MODULE) | HELPER_MODULES


def test_plan_module_import_error_fails_loudly(monkeypatch, tmp_path):
    """A plan module that raises at import time must fail load_all(),
    not silently shrink the registered query set."""
    from bigdata_spark_realtime_spark import plans

    (tmp_path / "zz_broken_plan.py").write_text(
        "raise RuntimeError('broken plan module')\n"
    )
    monkeypatch.setattr(plans, "__path__", [*plans.__path__, str(tmp_path)])
    with pytest.raises(RuntimeError, match="broken plan module"):
        registry.load_all()


def test_unregistered_gate_window_name_fails_loudly(monkeypatch):
    monkeypatch.setattr(
        registry, "GATE_WINDOW", (*registry.GATE_WINDOW[:-1], "nope_typo")
    )
    with pytest.raises(KeyError, match="nope_typo"):
        registry.load_all()


def test_never_driver_verified_queries_are_inside_gate_window():
    """Freshness mirror: every registered query that has NO
    gate-verified row in any CORRECTNESS_r*.json must sit inside
    ``registry.GATE_WINDOW``, so the next gate run gives it one.

    "Verified" = hash-green row, or a rows-only row for the declared
    ``oracle=None`` queries. FAIL rows do not count as verified."""
    import glob
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    verified: set[str] = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        for name, row in json.load(open(path)).items():
            if row.get("hash_match") or row.get("err") == "no_oracle":
                verified.add(name)
    assert verified, "no CORRECTNESS_r*.json artifacts found"
    never = set(registry.load_all()) - verified
    stragglers = never - set(registry.GATE_WINDOW)
    assert not stragglers, (
        f"queries with no gate row are OUTSIDE registry.GATE_WINDOW — "
        f"rotate them in: {sorted(stragglers)}"
    )
