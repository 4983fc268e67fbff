"""BM25 retrieval over the `documents` table.

Okapi BM25 (Robertson & Walker, 1994) — the standard lexical ranking
function — against a fixed query set: for each query, the top-K
documents by summed per-term score. This gives the engine a search
surface (the reference's closest analogue is the Elasticsearch DSL its
publisher issues, `ia/PublisherMapperImpl.java` — retrieval delegated
to an external system; here it runs inside the engine).

Integer-exact scoring: with k1 = 6/5 and b = 3/4, multiplying the
classic formula through by 20·avgdl gives

    score(d, t) = idf_q(t) · tf · 44 · avgdl
                  DIV (20·avgdl·tf + 6·avgdl + 18·dl)

where idf_q(t) = (N · SCALE) DIV df (the linear-idf variant shared
with plans/ext_tfidf.py — monotone in df; ``ln`` is not bit-stable
across engines) and avgdl = total_tokens DIV N. Every operand is an
int64, so the DuckDB oracle matches bit-for-bit; 44 = (k1+1)·20/
... = (11/5)·20, 20·avgdl·tf + 6·avgdl + 18·dl = 20·avgdl·(tf +
k1·(1−b+b·dl/avgdl)).

Scale (100 TB):
- tf is one shuffle on (doc_id, token) with map-side combine; df and
  the corpus constants (N, avgdl) are vocabulary-/scalar-sized;
- the query-term table is broadcast onto tf, so only documents
  containing at least one query term survive into scoring;
- top-K per query is a rank window over query_id partitions of the
  (already tiny) scored set — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

#: fixed evaluation query set (terms drawn from the synthetic vocab so
#: every query has matches at every SF)
QUERIES: dict[str, str] = {
    "q_spark_window": "spark window agg",
    "q_customer_order": "customer order join",
    "q_fast_hash": "fast hash table",
    "q_slow_scan": "slow query scan",
}
#: results per query
BM25_TOP_K = 10
#: linear-idf quantization scale (shared convention with ext_tfidf).
#: Headroom note: the score numerator is bounded by N·SCALE·tf·44·avgdl;
#: at corpus scale (N ~ 1e9) shrink SCALE so hapax-term idf stays inside
#: int64 — the contract is SCALE ≤ 2^63 / (N · max_tf · 44 · avgdl).
SCALE = 1_000_000

_QUERY_TERMS_SQL = " UNION ALL ".join(
    f"SELECT '{qid}' AS query_id, '{t}' AS token"
    for qid, q in QUERIES.items()
    for t in q.split(" ")
)

# the scored-aggregate stage (everything up to per-query ranking),
# shared with the hybrid-search oracle (plans/ext_hybrid.py)
BM25_AGG_SQL = f"""tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
),
dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
           // count(*) AS avgdl
  FROM documents
),
qt AS ({_QUERY_TERMS_SQL}),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         ((c.n * {SCALE}) // df.df) * tf.tf * 44 * c.avgdl
           // (20 * c.avgdl * tf.tf + 6 * c.avgdl + 18 * dl.dl) AS s
  FROM qt
  JOIN tf USING (token)
  JOIN df USING (token)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN c
),
agg AS (
  SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) AS bm25_score
  FROM scored GROUP BY query_id, doc_id
)"""

BM25_ORACLE = f"""
WITH {BM25_AGG_SQL},
ranked AS (
  SELECT query_id, doc_id, bm25_score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY bm25_score DESC, doc_id
         ) AS rnk
  FROM agg
)
SELECT query_id, doc_id, bm25_score, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {BM25_TOP_K}
"""


def bm25_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, bm25_score) — the scored aggregate before
    per-query ranking, shared with the hybrid-search pipeline."""
    from bigdata_spark_realtime_spark.plans.corpus import (
        scoped_persist_if_large,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r15 optimization (guide §3.2 / §2.3): only the fixed query terms
    # can survive the qt join below, so drop every other token MAP-SIDE
    # before the tf/df aggregations — the shuffles then carry matching
    # tokens only, not the whole corpus token stream. df (distinct docs
    # per term) is derived from tf's (doc, token) groups instead of a
    # second pass over the token stream: same value by construction,
    # one token-stream aggregation instead of two.
    #
    # r16 (guide §6/§8 / r15 VERDICT "What's wrong #2"): the text
    # column is decoded by as FEW scans as the scale warrants. The
    # r15 shape had FOUR consumers of the documents scan (tf, df's
    # re-planned tf subtree, dl, the N/avgdl constants) and joined the
    # corpus-cardinality dl frame back onto the scored rows. Now:
    # - ONE narrow per-doc projection `base` = (doc_id, dl,
    #   query-term occurrences) feeds everything;
    # - dl RIDES THROUGH the tf aggregation as a grouping column
    #   (functionally determined by doc_id — identical groups), so the
    #   dl join is gone at any scale;
    # - base and tf are persisted IF Catalyst's size estimate of the
    #   documents table reaches corpus.PERSIST_MIN_INPUT_BYTES: at
    #   100 TB one decode of the heavy column + a 16-byte/doc proxy
    #   frame; at page-cache test SFs recompute is cheaper than the
    #   materialization, measured +0.7 s at sf0.1.
    # `split` is evaluated once per row: CollapseProject refuses to
    # inline a projection whose output feeds two expensive consumers.
    terms = sorted({term for q in QUERIES.values() for term in q.split(" ")})
    toks = docs.select("doc_id", F.split("text", " ", -1).alias("toks"))
    base = scoped_persist_if_large(
        toks.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.filter("toks", lambda x: x.isin(*terms)).alias("qtoks"),
        ),
        "ext_bm25_agg",
        sf_dir,
        keep=2,
    )
    tf = scoped_persist_if_large(
        base.select("doc_id", "dl", F.explode("qtoks").alias("token"))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf")),
        "ext_bm25_agg",
        sf_dir,
        keep=2,
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    c = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(dl) AS BIGINT) DIV count(*)").alias("avgdl"),
    )
    qt = spark.createDataFrame(
        [(qid, t_) for qid, q in QUERIES.items() for t_ in q.split(" ")],
        "query_id string, token string",
    )
    scored = (
        F.broadcast(qt)
        .join(tf, "token")
        .join(df, "token")
        # 1-row corpus-stats frame: broadcast-hinted like every sibling
        # scalar crossJoin (cf. ext_dsir/ext_annops)
        .crossJoin(F.broadcast(c))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                f"((n * {SCALE}) DIV df) * tf * 44 * avgdl"
                " DIV (20 * avgdl * tf + 6 * avgdl + 18 * dl)"
            ).alias("s"),
        )
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.sum("s").alias("bm25_score")
    )


@register("ext_bm25_search", oracle=BM25_ORACLE)
def ext_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query by integer-exact BM25 (k1 = 1.2,
    b = 0.75, linear idf), ties broken on doc_id."""
    agg = bm25_agg(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25_score"), "doc_id")
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= BM25_TOP_K)
        .select(
            "query_id",
            "doc_id",
            "bm25_score",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
