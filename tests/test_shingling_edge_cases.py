"""Edge-case parity for the map-side shingling kernels (operators/shingling.py).

The driver's oracle gate runs the kernels over the generated documents
table, whose texts are well-behaved single-spaced ASCII. These tests
plant the inputs that corpus data WILL contain at 100 TB — empty
strings, NULLs, runs of spaces (empty tokens), exactly-w-token docs,
unicode — and assert the kernels still agree bit-for-bit with the same
DuckDB SQL the registered oracles use. Tokenization must match Spark's
``split(text, ' ')`` / DuckDB's ``string_split`` exactly (empty tokens
kept), or signatures silently diverge between engines.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from bigdata_spark_realtime_spark.functions import hashing as H
from tests.oracle_util import assert_matches_oracle

EDGE_DOCS = [
    (0, "a b c d e"),                       # plain
    (1, "a b c"),                            # exactly w tokens -> 1 shingle
    (2, "a b"),                              # < w tokens -> no signature row
    (3, ""),                                 # empty text -> [''] single token
    (4, None),                               # NULL text
    (5, "a  b   c d"),                       # runs of spaces -> empty tokens
    (6, "héllo wörld héllo wörld naïve ß"),  # unicode (utf-8 md5)
    (7, "x " * 40 + "x"),                    # heavy repetition
    (8, " lead and trail "),                 # leading/trailing spaces
    (9, "a b c d e"),                        # exact dup of doc 0
]


@pytest.fixture(scope="module")
def edge_docs_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in EDGE_DOCS], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def edge_duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", EDGE_DOCS)
    # DuckDB string_split(NULL) yields NULL; Spark split(NULL) -> the row
    # is absent from shingle output either way (len(toks) filter), and
    # simhash treats NULL as '' — mirror that explicitly below.
    return con


def test_minhash_signatures_match_sql_on_edges(spark, edge_docs_df, edge_duck):
    from bigdata_spark_realtime_spark.operators.shingling import (
        minhash_signatures,
    )

    sql = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    hs AS (
      SELECT doc_id,
             {H.hashed_shingles_sql(H.shingles_sql('toks'))} AS hsh
      FROM t WHERE len(toks) >= {H.SHINGLE_W}
    )
    SELECT doc_id,
           {', '.join(f"{H.minhash_sql('hsh', j)} AS m{j}" for j in range(H.K))}
    FROM hs
    """
    assert_matches_oracle(minhash_signatures(edge_docs_df), edge_duck, sql)


def test_minhash_band_keys_match_signatures(spark, edge_docs_df):
    """The fused band-key kernel must pack exactly the signature
    kernel's minima: k1 = m[4b]*P + m[4b+1], k2 = m[4b+2]*P + m[4b+3]."""
    from bigdata_spark_realtime_spark.operators.shingling import (
        minhash_band_keys,
        minhash_signatures,
    )

    sigs = {
        r["doc_id"]: [r[f"m{j}"] for j in range(H.K)]
        for r in minhash_signatures(edge_docs_df).collect()
    }
    rows = minhash_band_keys(edge_docs_df).collect()
    assert {r["doc_id"] for r in rows} == set(sigs)
    for r in rows:
        m = sigs[r["doc_id"]]
        b = r["band"]
        assert r["k1"] == m[4 * b] * H.P + m[4 * b + 1]
        assert r["k2"] == m[4 * b + 2] * H.P + m[4 * b + 3]
    assert len(rows) == len(sigs) * H.N_BANDS


def test_simhash_matches_sql_on_edges(spark, edge_docs_df, edge_duck):
    from bigdata_spark_realtime_spark.operators.shingling import (
        simhash_fingerprints,
    )
    from bigdata_spark_realtime_spark.plans.ext_dedup import (
        _BIT_COMBINE_SQL,
        _BIT_SUMS_SQL,
    )

    # NO coalesce: the registered oracle's string_split(NULL) yields no
    # token rows, so a NULL-text doc has no fingerprint — the kernel
    # drops such docs to match (as the old explode-based plan did)
    sql = f"""
    WITH tok AS (
      SELECT doc_id, {H.h32_sql('t.tok')} AS h_lo, {H.h32b_sql('t.tok')} AS h_hi
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents) d,
           LATERAL (SELECT unnest(toks) AS tok) t
    ),
    bits AS (SELECT doc_id, {_BIT_SUMS_SQL} FROM tok GROUP BY doc_id)
    SELECT doc_id, CAST({_BIT_COMBINE_SQL} AS BIGINT) AS simhash FROM bits
    """
    assert_matches_oracle(simhash_fingerprints(edge_docs_df), edge_duck, sql)


def test_shingle_sets_and_rows_agree(spark, edge_docs_df):
    """shingle_rows must be exactly the exploded, per-doc-distinct view
    of shingle_sets; identical docs produce identical sets."""
    from bigdata_spark_realtime_spark.operators.shingling import (
        shingle_rows,
        shingle_sets,
    )

    sets = {
        r["doc_id"]: set(r["shingles"])
        for r in shingle_sets(edge_docs_df).collect()
    }
    rows = shingle_rows(edge_docs_df, H.SHINGLE_W).collect()
    from collections import defaultdict

    got = defaultdict(set)
    for r in rows:
        assert r["shingle"] not in got[r["doc_id"]], "duplicate row emitted"
        got[r["doc_id"]].add(r["shingle"])
    assert dict(got) == sets
    assert sets[0] == sets[9], "identical texts must shingle identically"
    assert 2 not in sets and 3 not in sets and 4 not in sets


def test_repetition_metrics_edges(spark, edge_docs_df):
    from bigdata_spark_realtime_spark.operators.shingling import (
        repetition_metrics,
    )

    m = {r["doc_id"]: r for r in repetition_metrics(edge_docs_df).collect()}
    assert len(m) == len(EDGE_DOCS), "every doc gets a metrics row"
    # '' -> one empty token, no 2-grams
    assert m[3]["n_tokens"] == 1 and m[3]["total_2"] == 0
    assert m[4]["n_tokens"] == 1, "NULL behaves as empty text"
    # 'x '*40 + 'x': 41 tokens, 40 identical 2-grams, 1 distinct
    assert m[7]["total_2"] == 40 and m[7]["distinct_2"] == 1
    # 'a  b   c d' -> 7 tokens incl. empties (Spark split semantics)
    assert m[5]["n_tokens"] == 7


def test_candidate_memo_reuses_one_frame(spark, sf_dir, tmp_path, monkeypatch):
    """minhash_lsh / resolve / ngram_jaccard must consume the SAME
    candidate DataFrame object (plans/ext_dedup._candidates) so the
    persisted tagged frame materializes once per session — two pickles
    of the kernel closure are different bytes, so canonical-plan
    caching cannot unify rebuilt pipelines."""
    import shutil

    from bigdata_spark_realtime_spark.plans import ext_dedup

    seen = []
    memoized = ext_dedup._candidates

    def spy(spark_, sf_dir_):
        seen.append(memoized(spark_, sf_dir_))
        return seen[-1]

    monkeypatch.setattr(ext_dedup, "_candidates", spy)
    ext_dedup.ext_dedup_minhash_lsh(spark, sf_dir)
    ext_dedup.ext_dedup_resolve(spark, sf_dir)
    ext_dedup.ext_dedup_ngram_jaccard(spark, sf_dir)
    assert len(seen) == 3 and seen[0] is seen[1] is seen[2]

    # a different documents table is a different candidate frame
    shutil.copyfile(
        os.path.join(sf_dir, "documents.parquet"), tmp_path / "documents.parquet"
    )
    assert memoized(spark, str(tmp_path)) is not seen[0]
