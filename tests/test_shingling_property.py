"""Property-based parity: the map-side kernels agree with the oracle SQL
on ARBITRARY documents, not just the generated corpus or hand-picked
edges.

Hypothesis drives the text generator (whitespace runs, unicode, token
boundaries); each example set becomes one (Spark kernel) vs (DuckDB SQL)
comparison — the same check the driver's gate runs, over inputs the
testdata will never contain. One Spark job per example keeps runtime
bounded (max_examples below).
"""

from __future__ import annotations

import duckdb
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from bigdata_spark_realtime_spark.functions import hashing as H
from tests.oracle_util import assert_matches_oracle

# tokens: short runs of letters (incl. non-ascii), digits, punctuation;
# documents: tokens joined by 1-3 spaces so empty tokens appear, with
# optional leading/trailing space. Surrogates excluded (not encodable).
_token = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Zs", "Zl", "Zp"), max_codepoint=0x2FFF
    ),
    min_size=1,
    max_size=6,
)
_doc = st.builds(
    lambda toks, seps, lead, trail: (
        (" " if lead else "")
        + "".join(t + s for t, s in zip(toks, seps + [""]))
        + (" " if trail else "")
    ),
    st.lists(_token, min_size=0, max_size=12),
    st.lists(st.sampled_from([" ", "  ", "   "]), min_size=11, max_size=11),
    st.booleans(),
    st.booleans(),
)

MINHASH_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
hs AS (
  SELECT doc_id, {H.hashed_shingles_sql(H.shingles_sql('toks'))} AS hsh
  FROM t WHERE len(toks) >= {H.SHINGLE_W}
)
SELECT doc_id,
       {', '.join(f"{H.minhash_sql('hsh', j)} AS m{j}" for j in range(H.K))}
FROM hs
"""


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_doc, min_size=1, max_size=12))
# a NUL inside a token: pandas' string factorizer compares only up to
# the first NUL, which merged shingles that differ after it
@example(texts=["", "", "", "", "", "", "0  \x00 0  "])
def test_minhash_kernel_matches_sql_on_random_docs(spark, texts):
    from bigdata_spark_realtime_spark.operators.shingling import (
        minhash_signatures,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    assert_matches_oracle(minhash_signatures(df), con, MINHASH_SQL)


WINDOW_HASH_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id, {H.h32_sql('g')} AS h
FROM (SELECT doc_id, unnest({H.shingles_sql('toks', 4)}) AS g
      FROM t WHERE len(toks) >= 4)
"""


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_doc, min_size=1, max_size=12))
def test_window_hash_kernel_matches_sql_on_random_docs(spark, texts):
    from bigdata_spark_realtime_spark.operators.shingling import window_hash_rows

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    assert_matches_oracle(window_hash_rows(df, 4), con, WINDOW_HASH_SQL)


PAIR_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2
FROM t, unnest(range(len(toks) - 1)) AS u(i)
WHERE len(toks) >= 2
"""


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_doc, min_size=1, max_size=12))
def test_token_pair_kernel_matches_sql_on_random_docs(spark, texts):
    from bigdata_spark_realtime_spark.operators.shingling import token_pair_rows

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    assert_matches_oracle(token_pair_rows(df), con, PAIR_SQL)
