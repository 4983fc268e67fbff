"""R15 pins for the round's three registry additions.

- ``ext_dedup_url``: the canonicalization chain on crafted edge-case
  URLs, Spark vs DuckDB parity on the SAME crafted strings (the two
  dialects run different regex engines and replacement syntaxes — a
  drift here would silently skew the oracle), the group-collapse
  property, and the two-exchange plan shape (scan pruned to doc_id,
  string chain map-side, standard two-phase distinct agg).
- serving-stats intake twins: drained-stream result equals the batch
  serving query row-for-row (the twin's whole contract), on both the
  driver single-file layout and a Spark-written 3-part lineitem
  replica (the round-14 layout lesson applied to the new twin's
  replay path).
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

#: crafted raw → expected canonical, exercising every rule in the
#: chain, including combinations the synthetic generator never emits
CANON_CASES = [
    # scheme/host case + www + default port + trailing slash
    ("HTTP://WWW.Ex.COM:80/A/b/", "http://ex.com/A/b"),
    # path case must be PRESERVED while host lowercases
    ("https://Ex.Com/CaseSensitive/Path", "https://ex.com/CaseSensitive/Path"),
    # tracking-only query drops, fragment drops
    ("https://ex.com/p?utm_source=a&gclid=b#frag", "https://ex.com/p"),
    # legit params survive tracking removal on either side
    ("https://ex.com/p?a=1&utm_x=t&b=2&fbclid=z", "https://ex.com/p?a=1&b=2"),
    # duplicate slashes collapse; slash-before-query drops
    ("https://ex.com//a///b/?q=1", "https://ex.com/a/b?q=1"),
    # :443 only default for https (http://host:443 is NOT default)
    ("http://ex.com:443/p", "http://ex.com:443/p"),
    # bare host, no path
    ("https://WWW.EX.com", "https://ex.com"),
]


def test_canonical_url_rules_spark(spark):
    from bigdata_spark_realtime_spark.plans.ext_urlnorm import canonical_url

    df = spark.createDataFrame(
        [(raw,) for raw, _ in CANON_CASES], ["raw"]
    ).select(canonical_url(F.col("raw")).alias("canon"))
    got = [r.canon for r in df.collect()]
    assert got == [want for _, want in CANON_CASES]


def test_canonical_url_rules_duckdb_parity(duck):
    """Run the ORACLE's canonicalization fragment over the same crafted
    strings: both dialects must produce identical canonicals, else the
    oracle is verifying a different operator than the engine runs."""
    from bigdata_spark_realtime_spark.plans.ext_urlnorm import URL_ORACLE

    # splice the oracle's split+canon stages onto a crafted raw table
    body = URL_ORACLE[URL_ORACLE.index("split AS") :]
    body = body[: body.index("SELECT canonical_url")]
    vals = ", ".join(f"({i}, '{raw}')" for i, (raw, _) in enumerate(CANON_CASES))
    sql = (
        f"WITH raw(doc_id, raw_url) AS (VALUES {vals}), {body}"
        "SELECT canonical_url FROM canon ORDER BY doc_id"
    )
    got = [r[0] for r in duck.execute(sql).fetchall()]
    assert got == [want for _, want in CANON_CASES]


def test_dedup_url_group_collapse(spark, sf_dir):
    """Every full group collapses its VARIANTS distinct raw spellings
    to one canonical key and keeps the min doc_id."""
    from bigdata_spark_realtime_spark.plans.ext_urlnorm import (
        VARIANTS,
        ext_dedup_url,
    )

    rows = ext_dedup_url(spark, sf_dir).collect()
    n_docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        # all raw spellings inside a group are distinct by construction
        assert r.n_raw_variants == r.n_docs <= VARIANTS
        assert r.keeper_doc_id % VARIANTS == 0 or r.n_docs < VARIANTS


def test_dedup_url_plan_shape(spark, sf_dir):
    """Scan pruned to doc_id; the whole generation+canonicalization
    chain is map-side; exactly the two exchanges of Spark's two-phase
    distinct aggregation (partial combiners on both)."""
    from bigdata_spark_realtime_spark.plans.ext_urlnorm import ext_dedup_url

    df = ext_dedup_url(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "ReadSchema: struct<doc_id:bigint>" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


@pytest.mark.parametrize("t", ["age", "gender"])
def test_stats_twin_equals_batch_serving(spark, sf_dir, t):
    from bigdata_spark_realtime_spark.plans import serving

    twin = getattr(serving, f"stream_stats_by_item_{t}")(spark, sf_dir)
    batch = getattr(serving, f"serving_stats_by_item_{t}")(spark, sf_dir)
    assert sorted(map(tuple, twin.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stats_twin_on_multipart_lineitem(spark, sf_dir, tmp_path_factory):
    """The twin's replay must survive the production layout: a
    Spark-written 3-part lineitem directory table."""
    from bigdata_spark_realtime_spark.plans import serving

    work = str(tmp_path_factory.mktemp("stats_twin_sf"))
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(work, f"{t}.parquet")
        if t == "lineitem":
            spark.read.parquet(src).repartition(3).write.parquet(dst)
        else:
            os.symlink(src, dst)
    twin = serving.stream_stats_by_item_age(spark, work)
    batch = serving.serving_stats_by_item_age(spark, sf_dir)
    assert sorted(map(tuple, twin.collect())) == sorted(
        map(tuple, batch.collect())
    )
