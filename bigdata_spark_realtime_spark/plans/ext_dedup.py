"""Extension operators: document deduplication at training-data scale.

Beyond the reference surface (BASELINE.json extension contract): exact
hash dedup, MinHash+LSH near-dup candidates, n-gram Jaccard verification
and SimHash — all over the `documents` table, all expressed with
JVM-side built-ins (no Python UDFs) and hash-compatible with the DuckDB
oracle via ``functions.hashing``.

Scale design (100 TB): every step is a shuffle on a bounded key
(fingerprint / band bucket), never an all-pairs product. The LSH
band join produces |bucket|² pairs only inside identical-signature
buckets; signature width (16 bands × 4 rows) gives ≥99.9% candidate
recall at the Jaccard-0.8 verify threshold while buckets stay tiny,
and oversize (degenerate) buckets fall back to a distributed
self-join instead of a single-task collect_list (`_bucket_pairs`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark import cache
from bigdata_spark_realtime_spark.functions import hashing as H
from bigdata_spark_realtime_spark.operators.shingling import (  # noqa: F401 — re-exported
    MAX_BUCKET_COLLECT,
    bucket_pairs as _bucket_pairs,
)
from bigdata_spark_realtime_spark.plans.corpus import (  # noqa: F401 — re-exported
    NORM_SQL,
    cosine,
    emb_double,
    norm_text,
)
from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# exact dedup — hash-groupBy on the normalized text fingerprint
# (NORM_SQL / norm_text shared via plans/corpus.py)
# ---------------------------------------------------------------------------

EXACT_ORACLE = f"""
SELECT md5({NORM_SQL}) AS fingerprint,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       count(*) AS n_docs
FROM documents
GROUP BY 1
"""


@register("ext_dedup_exact", oracle=EXACT_ORACLE)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 of whitespace-normalized lowercased text; keeper =
    min doc_id per group. One shuffle on the 16-byte fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(norm_text(F.col("text"))).alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH — shingle → K minhashes → banded bucket join
# ---------------------------------------------------------------------------

# shared CTE: distinct shingle sets + signatures (DuckDB side).
# sh/sig are MATERIALIZED: sig is scanned once per band and sh twice by
# the Jaccard oracle — without the hint DuckDB may inline (re-derive)
# the 64-permutation signature computation per reference.
_BANDS_SQL = "\n  UNION ALL\n  ".join(
    f"SELECT doc_id, {b} AS band, "
    f"m{4 * b} * {H.P} + m{4 * b + 1} AS k1, "
    f"m{4 * b + 2} * {H.P} + m{4 * b + 3} AS k2 FROM sig"
    for b in range(H.N_BANDS)
)

_SIG_CTE = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct({H.shingles_sql('toks')}) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= {H.SHINGLE_W}
),
hs AS (
  SELECT doc_id, shingles, {H.hashed_shingles_sql('shingles')} AS hsh FROM sh
),
sig AS MATERIALIZED (
  SELECT doc_id, shingles,
         {', '.join(f"{H.minhash_sql('hsh', j)} AS m{j}" for j in range(H.K))}
  FROM hs
),
bands AS (
  {_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
              AND a.doc_id < b.doc_id
)
"""

MINHASH_ORACLE = _SIG_CTE + "SELECT doc_a, doc_b FROM cand"


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → distinct 3-token shingle set (array column, for Jaccard),
    assembled map-side (operators/shingling.py) — no token shuffle."""
    from bigdata_spark_realtime_spark.operators.shingling import shingle_sets

    return shingle_sets(
        load_table(spark, sf_dir, "documents"),
        min_parallelism=spark.sparkContext.defaultParallelism,
    )


def _signatures_docs(docs: DataFrame) -> DataFrame:
    """doc_id + K minhash columns m0..m{K-1}, computed entirely map-side
    (operators/shingling.py: shingle → md5 → all K permutations over the
    Arrow batch → per-doc partial min via ``minimum.reduceat``).

    History of this shape: an array-lambda form (transform(sequence...))
    ran interpreted with Catalyst re-inlining split(text) per element —
    30 s+ at sf0.1; the round-3..5 posexplode + window-lead +
    64-min-aggregation form fixed that but shuffled the FULL token
    stream by doc_id before reducing — the dominant 100×-scale term of
    the dedup family (round-5 verdict). The mapInPandas kernel emits 64
    int64s per doc with ZERO exchanges upstream of the LSH band bucket
    shuffle (pinned by tests/test_plan_hygiene.py)."""
    from bigdata_spark_realtime_spark.operators.shingling import (
        minhash_signatures,
    )

    return minhash_signatures(
        docs, min_parallelism=docs.sparkSession.sparkContext.defaultParallelism
    )


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures_docs(load_table(spark, sf_dir, "documents"))


def _bands(sig: DataFrame) -> DataFrame:
    """One row per (doc, band): band key packed into two int64s
    (4 rows/band, each minhash < P ≈ 2^30, so k = m·P + m' < 2^60). A
    single explode over the signature row — no union, so the signature
    pipeline is evaluated exactly once."""
    band_structs = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {b}, "
            f"'k1', m{4 * b} * {H.P} + m{4 * b + 1}, "
            f"'k2', m{4 * b + 2} * {H.P} + m{4 * b + 3})"
            for b in range(H.N_BANDS)
        )
        + ")"
    )
    return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", "b.band", "b.k1", "b.k2"
    )


# _bucket_pairs / MAX_BUCKET_COLLECT moved to operators/shingling.py
# (non-registering home) so ext_srp and future plan modules can build
# candidate pairs without importing this module's seven registrations;
# re-exported above for the dedup-family callers and the skew tests.


def _candidates_from_sig(sig: DataFrame) -> DataFrame:
    """Bucket-local pair generation instead of a global self-join: group
    by band bucket, emit doc_id pairs inside each bucket. One shuffle on
    the bucket key; bucket sizes are tiny by LSH design, and degenerate
    buckets take the skew-guarded join path — the shape that survives
    100 TB. (Signature-frame entry point, used by tests that plant
    synthetic signatures; the registered queries take the fused
    kernel path below.)"""
    return _bucket_pairs(_bands(sig), ("band", "k1", "k2"))


def _candidates_from_docs(docs: DataFrame) -> DataFrame:
    """Fused fast path: the kernel emits (doc_id, band, k1, k2) band
    rows directly — the 65-column signature frame and its JVM band
    explode never exist, and the band-bucket exchange is the first
    shuffle of the whole pipeline."""
    from bigdata_spark_realtime_spark.operators.shingling import (
        minhash_band_keys,
    )

    bands = minhash_band_keys(
        docs, min_parallelism=docs.sparkSession.sparkContext.defaultParallelism
    )
    return _bucket_pairs(bands, ("band", "k1", "k2"))


def _candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH candidate-pair frame of the documents table, memoized on
    that table. Four queries consume the SAME candidate set
    (minhash_lsh, resolve, ngram_jaccard, approx_audit); rebuilt
    pipelines never share Spark's cache — two pickles of the kernel
    closure are different bytes, so cache-by-canonical-plan cannot
    unify them, and the persist()ed tagged frame inside _bucket_pairs
    would re-materialize per query. Returning one DataFrame object
    makes every consumer hit the same cache entry, like a production
    dedup pipeline that materializes candidates once and fans out."""
    return cache.memo(
        spark,
        sf_dir,
        "documents",
        "candidates",
        lambda: _candidates_from_docs(load_table(spark, sf_dir, "documents")),
    )


@register("ext_dedup_minhash_lsh", oracle=MINHASH_ORACLE)
def ext_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash-LSH: 3-token shingles →
    64 universal-hash minima → 16 bands × 4 rows → bucket-local pair
    generation. 1−(1−s⁴)^16 ≈ 0.9998 candidate recall at the
    Jaccard-0.8 verify threshold; the only shuffle keys are the band
    buckets."""
    return _candidates(spark, sf_dir)


# ---------------------------------------------------------------------------
# cluster → keeper resolution: connected components over the LSH pair
# graph. THE row-dropping step of a training-data dedup: keep exactly the
# rows where keeper_id == doc_id.
# ---------------------------------------------------------------------------

# the oracle computes the same fixpoint as transitive closure: keeper =
# min doc id reachable in the candidate-pair graph (RECURSIVE applies to
# the whole WITH clause, so the shared signature CTEs just ride along)
RESOLVE_ORACLE = _SIG_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + """
, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b AS a, doc_a AS b FROM cand
),
reach(node, reached) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reached = e.a
)
SELECT d.doc_id,
       coalesce(least(d.doc_id, min(r.reached)), d.doc_id) AS keeper_id
FROM documents d LEFT JOIN reach r ON d.doc_id = r.node
GROUP BY d.doc_id
"""


@register("ext_dedup_resolve", oracle=RESOLVE_ORACLE)
def ext_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, keeper_id) for every document: keeper = min doc id of the
    MinHash-LSH duplicate cluster (connected components via label
    propagation, operators/components.py), itself when it has no
    near-dups. `WHERE keeper_id = doc_id` is the dedup'd corpus."""
    from bigdata_spark_realtime_spark.operators.components import resolve_keepers

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = _candidates(spark, sf_dir)
    return resolve_keepers(docs, "doc_id", pairs, "doc_a", "doc_b")


# ---------------------------------------------------------------------------
# n-gram Jaccard verification of the LSH candidates
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.8

JACCARD_ORACLE = _SIG_CTE + f"""
SELECT c.doc_a, c.doc_b,
       round(len(list_intersect(s1.shingles, s2.shingles))::DOUBLE
             / len(list_distinct(s1.shingles || s2.shingles)), 4) AS jaccard
FROM cand c
JOIN sh s1 ON c.doc_a = s1.doc_id
JOIN sh s2 ON c.doc_b = s2.doc_id
WHERE len(list_intersect(s1.shingles, s2.shingles))::DOUBLE
      / len(list_distinct(s1.shingles || s2.shingles)) >= {JACCARD_THRESHOLD}
"""


@register("ext_dedup_ngram_jaccard", oracle=JACCARD_ORACLE)
def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard over the LSH candidates (candidate
    generation is sub-quadratic; exact verification touches only
    |candidates| pairs)."""
    # both sides of the candidate join read the shingle sets; persist
    # (MEMORY_AND_DISK — spills rather than OOMs at corpus scale) so the
    # shingling pass runs once, mirroring the oracle's MATERIALIZED sh
    sh = _shingle_sets(spark, sf_dir).persist()
    cand = _candidates(spark, sf_dir)
    s1 = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    s2 = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(s1, "doc_a")
        .join(s2, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash — 64-bit weighted sign-sum fingerprint
#
# 64 bits (up from the round-3 32-bit scheme) so the 4 LSH bands below
# are 16-bit: 65,536 keys per band instead of 256 — the bucket keyspace
# is no longer a corpus-scale ceiling. The per-token hash is two
# independent 32-bit halves of one md5 (h_lo = bits 0..31,
# h_hi = bits 32..63); bit 63 of the fingerprint is the sign bit of the
# int64, added as -2^63 (two's complement) so neither engine overflows:
# positive terms (bits 0..62) sum to at most 2^63-1 before the final
# negative term.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64

_BIT_SUMS_SQL = ", ".join(
    f"sum(CASE WHEN ({'h_lo' if i < 32 else 'h_hi'} >> {i % 32}) & 1 = 1 "
    f"THEN 1 ELSE -1 END) AS s{i}"
    for i in range(SIMHASH_BITS)
)
_BIT_COMBINE_SQL = (
    " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS - 1)
    )
    + " + (CASE WHEN s63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
)

SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {H.h32_sql('t.tok')} AS h_lo, {H.h32b_sql('t.tok')} AS h_hi
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
       LATERAL (SELECT unnest(toks) AS tok) t
),
bits AS (SELECT doc_id, {_BIT_SUMS_SQL} FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({_BIT_COMBINE_SQL} AS BIGINT) AS simhash
FROM bits
"""


@register("ext_dedup_simhash", oracle=SIMHASH_ORACLE)
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-token 64-bit hash (two md5 halves), ±1 sign sum per
    bit position, fingerprint bit = sign of the sum — computed map-side
    in one Arrow pass (operators/shingling.py), one int64 out per doc.
    The previous explode + 64-sum aggregation shuffled every token by
    doc_id first; a doc's tokens already sit in its source row, so the
    reduction needs no exchange at all."""
    from bigdata_spark_realtime_spark.operators.shingling import (
        simhash_fingerprints,
    )

    return simhash_fingerprints(
        load_table(spark, sf_dir, "documents"),
        min_parallelism=spark.sparkContext.defaultParallelism,
    )


# ---------------------------------------------------------------------------
# embedding near-dup — top-K most-similar vector pairs (cosine), blocked
# by label (the coarse-quantizer cell at 100 TB; see ext_similarity)
# ---------------------------------------------------------------------------

NEARDUP_TOPK = 20

EMB_NEARDUP_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
ORDER BY cos_sim DESC, vec_a, vec_b
LIMIT {NEARDUP_TOPK}
"""


@register("ext_dedup_embedding", oracle=EMB_NEARDUP_ORACLE)
def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine over within-label pairs, global top-K.
    Label-blocking stands in for the IVF cell id — at 100 TB the
    all-pairs product only ever happens inside a cell, and each cell is
    one Arrow batch scored with a single M @ M.T (vector_ops kernel;
    ~100× the interpreted fold). Each cell pre-reduces to its own top-K
    by the oracle's exact ORDER BY (rounded cos_sim DESC, vec_a, vec_b),
    so the global sort sees K × n_cells rows, not every pair."""
    from bigdata_spark_realtime_spark.operators.vector_ops import (
        neardup_topk_blocked,
    )

    emb = emb_double(load_table(spark, sf_dir, "embeddings"))
    return (
        neardup_topk_blocked(emb, NEARDUP_TOPK, block_col="label")
        .orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
        .limit(NEARDUP_TOPK)
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs: 4×16-bit band blocking + exact hamming verify
# ---------------------------------------------------------------------------

HAMMING_MAX = 3
SIMHASH_BANDS = 4  # pigeonhole: hamming <= 3 flips at most 3 of 4 bands,
#                    so at least one 16-bit band is bit-identical
BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16 ⇒ 65,536 keys per band
_BAND_MASK = (1 << BAND_BITS) - 1

SIMHASH_PAIRS_ORACLE = f"""
WITH sh AS ({SIMHASH_ORACLE}),
bands AS (
  SELECT doc_id, simhash, b, (simhash >> (b * {BAND_BITS})) & {_BAND_MASK} AS key
  FROM sh, (SELECT unnest(range({SIMHASH_BANDS})) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INT) AS hamming
FROM cand c JOIN sh s1 ON c.doc_a = s1.doc_id JOIN sh s2 ON c.doc_b = s2.doc_id
WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {HAMMING_MAX}
"""


@register("ext_dedup_simhash_pairs", oracle=SIMHASH_PAIRS_ORACLE)
def ext_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash: a 16-bit band must match exactly
    (pigeonhole: hamming <= 3 over 64 bits flips at most 3 of the 4
    disjoint bands, so at least one band is identical), then exact
    hamming distance filters. 4×16-bit bands give 4·65,536 bucket keys —
    the round-3 32-bit scheme capped the whole corpus at 1,024 buckets.
    Same skew-guarded bucket-local pair generation as the MinHash path."""
    return simhash_pairs_from(ext_dedup_simhash(spark, sf_dir))


def simhash_pairs_from(sh: DataFrame) -> DataFrame:
    """Band-block + exact-hamming-verify over a (doc_id, simhash) frame.

    Split out so tests can feed synthetic fingerprints and assert the
    recall contract directly (e.g. a pair differing at one bit in each
    of three different bands must still be found). shiftright is
    arithmetic on the signed fingerprint, but the band mask keeps only
    the 16 shifted-in-range bits, so band keys are shift-semantics
    independent (verified against DuckDB's >> on negative BIGINTs).

    r15 optimization: the fingerprint RIDES THROUGH the band rows
    (bucket_pairs carry=), so the hamming verify is a map-side filter
    on the pair rows — the previous shape joined every candidate pair
    back against the fingerprint frame TWICE (broadcast locally, but
    two corpus-cardinality shuffles at 100 TB where fingerprints
    outgrow a broadcast). One int64 more per band row buys zero joins
    and a single-pass pipeline (the fingerprint persist is gone: the
    kernel output now has exactly one consumer). The hamming filter
    runs BEFORE the closing distinct — deterministic per pair, so
    filter∘distinct ≡ distinct∘filter — shrinking the distinct to
    surviving pairs."""
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright("simhash", b * BAND_BITS)
                        .bitwiseAND(_BAND_MASK)
                        .alias("key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.b", "bb.key")
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    cand = _bucket_pairs(
        bands, ("b", "key"), carry=("simhash",), where=hamming <= HAMMING_MAX
    )
    return cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
