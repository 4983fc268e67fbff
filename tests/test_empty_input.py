"""Zero-row-input pins: the fast mirror of scripts/empty_input_sweep.

The full sweep runs all 227 queries on schema-faithful zero-row tables
(~3.5 min); this suite pins the queries the round-13 sweep actually
caught — one per defect class — plus one representative per fragile
family (driver-side model collect, Arrow kernel, grouping sets,
streaming sentinel), each compared against its DuckDB oracle on the
same empty views. At 100 TB an empty input is routine (a drained
filter, a tenant with no rows, a replay past the high-water mark), so
"runs and matches the oracle on zero rows" is a contract, not a
curiosity.

Defect classes fixed in round 13 (each pinned here):
- sum(CASE)->NULL vs count(*) FILTER->0 dtype drift
  (ext_contract_audit / stream_contract_audit)
- None + timedelta sentinel crash (stream_windowed_counts)
- VOID-typed F.array() of zero centroid literals (ext/stream
  kmeans_assign)
- Spark rollup/cube dropping the ANSI grand-total row on empty input
  (rollup_region_nation / cube_status_priority)
- np.stack on a zero-row collected query set (ext_ann_bruteforce_topk
  / ext_ann_recall_eval)
"""

from __future__ import annotations

import os
import sys

import pytest

# absolute, so the suite imports empty_input_sweep from any cwd
# (round-13 advisor: the old per-fixture cwd-relative "scripts" insert
# only worked when pytest launched from the repo root)
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    ),
)

from bigdata_spark_realtime_spark.plans import registry

# the round-13 sweep's actual catches + one representative per
# fragile family that already passed (cheap insurance the guard
# patterns in those families stay load-bearing)
EMPTY_PINNED = [
    "ext_contract_audit",
    "stream_contract_audit",
    "stream_windowed_counts",
    "ext_kmeans_assign",
    "stream_kmeans_assign",
    "rollup_region_nation",
    "cube_status_priority",
    "ext_ann_bruteforce_topk",
    "ext_ann_recall_eval",
    # representatives: driver-collected model artifacts + Arrow kernels
    "ext_bpe_merges",
    "ext_lm_score",
    "ext_dsir_select",
    "ext_dedup_resolve",
    "ext_quantile_sketch",
]


@pytest.fixture(scope="module")
def empty_env(spark, tmp_path_factory):
    """Zero-row tables dir + DuckDB views over the same files."""
    import duckdb

    from empty_input_sweep import TABLES, materialize_empty_tables

    d = str(tmp_path_factory.mktemp("empty_sf"))
    materialize_empty_tables(d)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    yield d, con
    con.close()


@pytest.mark.parametrize("name", EMPTY_PINNED)
def test_runs_and_matches_oracle_on_empty_input(spark, empty_env, name):
    from oracle_util import assert_matches_oracle

    empty_dir, con = empty_env
    fn = registry.all_queries()[name]
    sql = registry.all_oracles()[name]
    assert_matches_oracle(fn(spark, empty_dir), con, sql)


# single-row boundary (sweep mode rows=1): the r13 sweep's
# one catch plus representatives of the n=1 edges it exercises (lag
# with no predecessor, percentile with nothing to interpolate, LSH
# with one document)
ONE_ROW_PINNED = [
    # the catch: a LEFT-joined dim miss must NULL every derived
    # attribute — a bare post-join CASE invents 'M' via its ELSE
    "j1_dim_join_user",
    "analytic_order_sequence",
    "exact_percentiles",
    "ext_dedup_minhash_lsh",
    "ext_dedup_resolve",
]


@pytest.fixture(scope="module")
def one_row_env(spark, tmp_path_factory):
    import duckdb

    from empty_input_sweep import TABLES, materialize_empty_tables

    d = str(tmp_path_factory.mktemp("onerow_sf"))
    materialize_empty_tables(d, rows=1)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    yield d, con
    con.close()


@pytest.mark.parametrize("name", ONE_ROW_PINNED)
def test_runs_and_matches_oracle_on_single_row_input(spark, one_row_env, name):
    from oracle_util import assert_matches_oracle

    d, con = one_row_env
    fn = registry.all_queries()[name]
    sql = registry.all_oracles()[name]
    assert_matches_oracle(fn(spark, d), con, sql)


# constant-content boundary (ROWS=1, CLONES=K): K copies of row 1 with
# re-sequenced primary keys — one hot join/group key (max skew), every
# document an exact duplicate (all LSH bands collapse into ONE bucket),
# ties on every ordering key. The full x100 sweep was ALL CLEAN in
# round 13; these pins keep the dedup cluster-of-K and hot-key paths
# exercised in-suite.
CLONED_PINNED = [
    "ext_dedup_exact",
    "ext_dedup_minhash_lsh",
    "ext_dedup_resolve",
    "ext_dedup_impact",
    "ext_dedup_simhash_pairs",
    "a2_hourly_counts_topk",
]


@pytest.fixture(scope="module")
def cloned_env(spark, tmp_path_factory):
    import duckdb

    from empty_input_sweep import TABLES, materialize_empty_tables

    d = str(tmp_path_factory.mktemp("cloned_sf"))
    materialize_empty_tables(d, rows=1, clones=50)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    yield d, con
    con.close()


@pytest.mark.parametrize("name", CLONED_PINNED)
def test_runs_and_matches_oracle_on_constant_content_input(
    spark, cloned_env, name
):
    from oracle_util import assert_matches_oracle

    d, con = cloned_env
    fn = registry.all_queries()[name]
    sql = registry.all_oracles()[name]
    assert_matches_oracle(fn(spark, d), con, sql)


# nulls-injected boundary (sweep mode nulls): full sf0.001 with every
# 3rd row of the optional attribute columns NULLed (measures, props,
# lang/source labels, embeddings — never keys/timestamps/text). The
# round-13 sweep caught the whole embedding-kernel family crashing on
# NULL vectors reaching np.stack; contract now: a row without a vector
# sits out every vector op (emb_double filters, oracles filter
# explicitly — DuckDB would otherwise rank NULL cos_sims or crash
# list_cosine_similarity).
NULLED_PINNED = [
    "ext_ann_bruteforce_topk",
    "ext_ann_ivf_topk",
    "ext_ivf_cell_stats",
    "ext_dedup_embedding",
    "ext_dedup_semantic",
    "ext_dedup_embedding_srp",
    "ext_hybrid_search",
    "ext_ann_recall_eval",
    # representatives of the NULL paths that were clean on first sweep
    "w6_tumbling_window_agg",   # NULL event values in sums
    "ext_text_quality_score",   # NULL lang/source labels
]


@pytest.fixture(scope="module")
def nulled_env(spark, tmp_path_factory):
    import duckdb

    from empty_input_sweep import TABLES, materialize_nulled_tables

    d = str(tmp_path_factory.mktemp("nulled_sf"))
    materialize_nulled_tables(d)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    yield d, con
    con.close()


@pytest.mark.parametrize("name", NULLED_PINNED)
def test_runs_and_matches_oracle_on_nulled_input(spark, nulled_env, name):
    from oracle_util import assert_matches_oracle

    d, con = nulled_env
    fn = registry.all_queries()[name]
    sql = registry.all_oracles()[name]
    assert_matches_oracle(fn(spark, d), con, sql)


# text-edge boundary (sweep mode text): document text rewritten by
# position to empty / single non-ASCII char / whitespace-only — the
# tokenizer/shingle/quality-ratio edges. The full round-13 sweep was
# ALL CLEAN with zero engine changes; these pins keep the zero-token
# and unicode-length paths exercised in-suite.
TEXT_EDGE_PINNED = [
    "ext_text_quality_score",
    "ext_text_lang_id",
    "ext_dedup_minhash_lsh",
    "ext_bpe_merges",
    "ext_chunk_windows",
]


@pytest.fixture(scope="module")
def text_edge_env(spark, tmp_path_factory):
    import duckdb

    from empty_input_sweep import TABLES, materialize_text_edge_tables

    d = str(tmp_path_factory.mktemp("textedge_sf"))
    materialize_text_edge_tables(d)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    yield d, con
    con.close()


@pytest.mark.parametrize("name", TEXT_EDGE_PINNED)
def test_runs_and_matches_oracle_on_text_edges(spark, text_edge_env, name):
    from oracle_util import assert_matches_oracle

    d, con = text_edge_env
    fn = registry.all_queries()[name]
    sql = registry.all_oracles()[name]
    assert_matches_oracle(fn(spark, d), con, sql)


# reversed-row-order boundary (sweep mode reverse): every query must
# be a deterministic function of the row SET — the full round-13 sweep
# was ALL CLEAN. These pins keep the most order-tempted shapes (keeper
# election, rank windows, sequence analytics) exercised in-suite.
REVERSED_PINNED = [
    "ext_dedup_resolve",
    "a2_hourly_counts_topk",
    "analytic_order_sequence",
]


@pytest.fixture(scope="module")
def reversed_env(spark, tmp_path_factory):
    import duckdb

    from empty_input_sweep import TABLES, materialize_reversed_tables

    d = str(tmp_path_factory.mktemp("reversed_sf"))
    materialize_reversed_tables(d)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    yield d, con
    con.close()


@pytest.mark.parametrize("name", REVERSED_PINNED)
def test_runs_and_matches_oracle_on_reversed_rows(spark, reversed_env, name):
    from oracle_util import assert_matches_oracle

    d, con = reversed_env
    fn = registry.all_queries()[name]
    sql = registry.all_oracles()[name]
    assert_matches_oracle(fn(spark, d), con, sql)


def test_constant_content_dedup_forms_one_cluster_of_k(spark, cloned_env):
    """50 byte-identical documents (unique doc_ids) must resolve into
    ONE cluster whose keeper is the smallest doc_id — the all-duplicates
    corner drives every LSH band into a single bucket (the bucket-cap /
    skew fallback path)."""
    d, _ = cloned_env
    impact = registry.all_queries()["ext_dedup_impact"](spark, d).collect()
    assert len(impact) == 1
    row = impact[0].asDict()
    assert row["cluster_size"] == 50
    assert row["n_clusters"] == 1
    assert row["n_removed"] == 49


# adversarial-unicode boundary (sweep mode unicode): NFC-vs-NFD twins
# on adjacent rows, combining stacks, astral-plane chars, CJK,
# bidi/zero-width controls — the cross-engine collation/length traps.
# Pins keep the most exposed families (tokenization, shingling,
# quality ratios, lang grouping) exercised in-suite.
UNICODE_PINNED = [
    "ext_text_token_stats",
    "ext_text_lang_id",
    "ext_dedup_minhash_lsh",
    "ext_text_quality_score",
]


@pytest.fixture(scope="module")
def unicode_env(spark, tmp_path_factory):
    import duckdb

    from empty_input_sweep import TABLES, materialize_unicode_tables

    d = str(tmp_path_factory.mktemp("unicode_sf"))
    materialize_unicode_tables(d)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    yield d, con
    con.close()


@pytest.mark.parametrize("name", UNICODE_PINNED)
def test_runs_and_matches_oracle_on_adversarial_unicode(
    spark, unicode_env, name
):
    from oracle_util import assert_matches_oracle

    d, con = unicode_env
    fn = registry.all_queries()[name]
    sql = registry.all_oracles()[name]
    assert_matches_oracle(fn(spark, d), con, sql)


# duplicate-key boundary (sweep mode dupes): every 5th events row
# replayed verbatim — at-least-once ingestion. Pins keep the dedup
# state machines and a counting aggregate exercised in-suite.
DUPES_PINNED = [
    "d1_first_seen_dedup",
    "d3_last_write_wins",
    "a2_hourly_counts_topk",
    "stream_dedup_dau_keys",
]


@pytest.fixture(scope="module")
def duped_env(spark, tmp_path_factory):
    import duckdb

    from empty_input_sweep import TABLES, materialize_duped_tables

    d = str(tmp_path_factory.mktemp("duped_sf"))
    materialize_duped_tables(d)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    yield d, con
    con.close()


@pytest.mark.parametrize("name", DUPES_PINNED)
def test_runs_and_matches_oracle_on_replayed_events(spark, duped_env, name):
    from oracle_util import assert_matches_oracle

    d, con = duped_env
    fn = registry.all_queries()[name]
    sql = registry.all_oracles()[name]
    assert_matches_oracle(fn(spark, d), con, sql)


# the sweep's boundary is one positional mode; a typo must fail fast,
# before any table is written or a Spark JVM starts
def test_unknown_sweep_mode_exits_before_spark_starts(monkeypatch):
    import empty_input_sweep as sweep
    from bigdata_spark_realtime_spark import session

    def no_spark(*a, **k):
        raise AssertionError("Spark started for an unknown mode")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(sweep.tempfile, "mkdtemp", no_spark)
    for bad in ("bogus", "rows", "rows=x", "clones=", "nulls=1"):
        with pytest.raises(SystemExit) as exc:
            sweep.main([bad])
        assert exc.value.code not in (0, None), bad
    # and every documented mode resolves to a table writer
    for good in ("rows=0", "rows=1", "clones=100", "nulls", "text",
                 "reverse", "unicode", "dupes", "wide"):
        assert callable(sweep.materializer(good)), good
