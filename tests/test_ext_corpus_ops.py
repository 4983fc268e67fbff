"""Tests for the corpus-statistics operators: bigram-LM scoring,
duplicated-span detection, tf-idf keywords and the deterministic
training-order shuffle.

Planted-scenario tests build tiny in-memory documents frames with known
structure; the oracle-parity path (all registered queries vs DuckDB) is
covered separately by test_queries_oracle.py.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from bigdata_spark_realtime_spark import cache
from bigdata_spark_realtime_spark.plans import ext_dsir as D
from bigdata_spark_realtime_spark.plans.ext_lm import _bigram_rows
from bigdata_spark_realtime_spark.plans.ext_order import (
    EPOCH_SEED,
    N_SHARDS,
    ext_train_order,
)
from bigdata_spark_realtime_spark.plans.ext_substring import (
    SPAN_W,
    _window_hashes,
)
from bigdata_spark_realtime_spark.plans.ext_tfidf import TOP_K, ext_text_tfidf
from bigdata_spark_realtime_spark.plans.registry import load_all


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# bigram LM
# ---------------------------------------------------------------------------


def test_bigram_rows_order_and_count(spark):
    docs = _docs(spark, [(1, "a b c d"), (2, "x"), (3, "p q")])
    got = {
        (r["doc_id"], r["w1"], r["w2"]) for r in _bigram_rows(docs).collect()
    }
    # doc 2 has a single token -> no pairs; adjacency preserved elsewhere
    assert got == {(1, "a", "b"), (1, "b", "c"), (1, "c", "d"), (3, "p", "q")}


def test_train_lm_size_guard_fails_loudly(spark, sf_dir, monkeypatch):
    """An over-vocabulary corpus must raise (naming the broadcast-join
    alternative), never reach the driver collect — the 100 TB failure
    mode of an unguarded collect is a silent driver OOM."""
    import pytest

    from bigdata_spark_realtime_spark.plans import ext_lm

    monkeypatch.setattr(ext_lm, "LM_MAX_BIGRAMS", 1)
    cache.clear()  # a memoized LM would skip the guard
    with pytest.raises(RuntimeError, match="stream_lm_bucket"):
        ext_lm.train_lm(spark, sf_dir)


def test_lm_score_invariants(spark, sf_dir):
    """Scores are positive, buckets take only the three labels, and
    n_bigrams is tokens-1 for every scored doc."""
    specs = load_all()
    out = specs["ext_lm_score"].fn(spark, sf_dir).collect()
    assert len(out) > 0
    scores = {r["doc_id"]: r["lm_score"] for r in out}
    buckets = {r["lm_bucket"] for r in out}
    # scores are positive and buckets only take the three labels
    assert all(s > 0 for s in scores.values())
    assert buckets <= {"head", "middle", "tail"}
    # n_bigrams is tokens-1 for every scored doc
    docs = {r["doc_id"]: r for r in out}
    from bigdata_spark_realtime_spark.sources.tables import load_table

    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ", -1)).alias("n"))
        .collect()
    )
    for r in toks:
        if r["n"] >= 2:
            assert docs[r["doc_id"]]["n_bigrams"] == r["n"] - 1


# ---------------------------------------------------------------------------
# duplicated spans
# ---------------------------------------------------------------------------


def test_substring_planted_duplicate_span(spark):
    shared = " ".join(f"s{i}" for i in range(SPAN_W))  # exactly one window
    rows = [
        (1, "u1 u2 u3 " + shared + " v1 v2"),
        (2, "w1 " + shared + " w2 w3 w4"),
        (3, " ".join(f"z{i}" for i in range(SPAN_W + 4))),  # unique text
        (4, "tiny doc"),  # < SPAN_W tokens
    ]
    docs = _docs(spark, rows)
    grams = _window_hashes(docs)
    dup = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
    )
    flagged = (
        grams.join(dup.select("h"), "h")
        .groupBy("doc_id")
        .count()
        .collect()
    )
    by_doc = {r["doc_id"]: r["count"] for r in flagged}
    # docs 1 and 2 share exactly the one planted window; 3 and 4 clean
    assert by_doc == {1: 1, 2: 1}


def test_substring_short_docs_report_zero(spark, sf_dir):
    specs = load_all()
    out = specs["ext_dedup_substring"].fn(spark, sf_dir)
    # one row per document, including too-short ones, no negatives
    from bigdata_spark_realtime_spark.sources.tables import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = out.collect()
    assert len(rows) == n_docs
    assert all(
        r["n_dup_spans"] >= 0 and r["n_dup_windows"] <= r["n_dup_spans"]
        for r in rows
    )


# ---------------------------------------------------------------------------
# tf-idf
# ---------------------------------------------------------------------------


def test_tfidf_rare_token_wins(spark, tmp_path):
    # 'unique' appears only in doc 1; 'common' in all docs. The rare
    # token must out-rank the common one for doc 1.
    rows = [
        (1, "common unique common"),
        (2, "common common filler"),
        (3, "common filler2 filler2"),
    ]
    path = str(tmp_path / "docs")
    _docs(spark, rows).withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("s")
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        path + "/documents.parquet"
    )

    cache.clear()
    try:
        out = ext_text_tfidf(spark, path).collect()
    finally:
        cache.clear()
    doc1 = sorted(
        (r for r in out if r["doc_id"] == 1), key=lambda r: r["rnk"]
    )
    assert doc1[0]["keyword"] == "unique"
    assert all(r["rnk"] <= TOP_K for r in out)


# ---------------------------------------------------------------------------
# training order
# ---------------------------------------------------------------------------


def test_train_order_is_contiguous_and_deterministic(spark, sf_dir):
    a = ext_train_order(spark, sf_dir).collect()
    b = ext_train_order(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard: dict[int, list[int]] = {}
    for r in a:
        assert 0 <= r["shard"] < N_SHARDS
        by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
    # every shard's positions are exactly 1..n (a permutation, no gaps)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # the permutation covers each doc exactly once
    assert len({r["doc_id"] for r in a}) == len(a)


def test_train_order_seed_changes_permutation(spark, sf_dir):
    """A different epoch seed must yield a different order (hash keyed
    on the seed string)."""
    from bigdata_spark_realtime_spark.functions import hashing as H
    from bigdata_spark_realtime_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(50)
    k0 = H.h32(F.concat(F.lit(f"{EPOCH_SEED}|"), F.col("doc_id").cast("string")))
    k1 = H.h32(F.concat(F.lit("epoch1|"), F.col("doc_id").cast("string")))
    rows = docs.select(
        F.col("doc_id"), k0.alias("k0"), k1.alias("k1")
    ).collect()
    assert any(r["k0"] != r["k1"] for r in rows)
    o0 = [r["doc_id"] for r in sorted(rows, key=lambda r: (r["k0"], r["doc_id"]))]
    o1 = [r["doc_id"] for r in sorted(rows, key=lambda r: (r["k1"], r["doc_id"]))]
    assert o0 != o1


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------


def test_chunk_windows_cover_every_token(spark):
    from bigdata_spark_realtime_spark.plans.ext_chunk import CHUNK_W, STRIDE

    n_tokens = 100
    text = " ".join(f"t{i}" for i in range(n_tokens))
    docs = _docs(spark, [(1, text)])
    from bigdata_spark_realtime_spark.plans.ext_chunk import ext_chunk_windows
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        docs.withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("s")
        ).withColumn("n_chars", F.length("text")).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        cache.clear()
        try:
            rows = sorted(
                ext_chunk_windows(spark, d).collect(),
                key=lambda r: r["chunk_id"],
            )
        finally:
            cache.clear()
    # chunk i starts at i*STRIDE and holds min(CHUNK_W, n - i*STRIDE)
    assert len(rows) == (n_tokens + STRIDE - 1) // STRIDE
    seen = set()
    for r in rows:
        toks = r["chunk_text"].split(" ")
        start = r["chunk_id"] * STRIDE
        assert toks == [f"t{i}" for i in range(start, min(start + CHUNK_W, n_tokens))]
        assert r["n_chunk_tokens"] == len(toks)
        seen.update(toks)
    assert len(seen) == n_tokens  # nothing dropped


# ---------------------------------------------------------------------------
# corpus profile / source overlap
# ---------------------------------------------------------------------------


def _full_docs(spark, rows):
    """rows: (doc_id, text, lang, source)"""
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))


def _write_docs(spark, rows, d):
    import os

    _full_docs(spark, rows).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )


def test_corpus_profile_integer_median(spark, tmp_path):
    from bigdata_spark_realtime_spark.plans.ext_profile import ext_corpus_profile

    # group en/s1: token counts 1, 3, 10 -> median 3 (odd count)
    # group de/s2: token counts 2, 4    -> median (2+4) DIV 2 = 3 (even)
    rows = [
        (1, "a", "en", "s1"),
        (2, "a b c", "en", "s1"),
        (3, " ".join("x" * 1 for _ in range(10)), "en", "s1"),
        (4, "a b", "de", "s2"),
        (5, "a b c d", "de", "s2"),
    ]
    d = str(tmp_path)
    _write_docs(spark, rows, d)
    cache.clear()
    try:
        got = {(r["lang"], r["source"]): r for r in ext_corpus_profile(spark, d).collect()}
    finally:
        cache.clear()
    en = got[("en", "s1")]
    assert (en["n_docs"], en["total_tokens"], en["median_tokens"]) == (3, 14, 3)
    assert (en["min_tokens"], en["max_tokens"]) == (1, 10)
    de = got[("de", "s2")]
    assert (de["n_docs"], de["median_tokens"]) == (2, 3)


def test_source_overlap_planted_shared_window(spark, tmp_path):
    from bigdata_spark_realtime_spark.plans.ext_profile import ext_source_overlap
    from bigdata_spark_realtime_spark.plans.ext_substring import SPAN_W

    shared = " ".join(f"s{i}" for i in range(SPAN_W))
    rows = [
        (1, "p1 " + shared, "en", "srcA"),
        (2, shared + " q1 q2", "en", "srcB"),
        (3, " ".join(f"z{i}" for i in range(SPAN_W + 2)), "en", "srcC"),
    ]
    d = str(tmp_path)
    _write_docs(spark, rows, d)
    cache.clear()
    try:
        got = {
            (r["source_a"], r["source_b"]): r["n_shared_windows"]
            for r in ext_source_overlap(spark, d).collect()
        }
    finally:
        cache.clear()
    # exactly the one planted window shared between A and B; C clean
    assert got == {("srcA", "srcB"): 1}


# ---------------------------------------------------------------------------
# hashed linear classifier
# ---------------------------------------------------------------------------


def test_classifier_score_matches_manual_dot_product(spark, tmp_path):
    import numpy as np

    from bigdata_spark_realtime_spark.operators.shingling import _h32_arr
    from bigdata_spark_realtime_spark.plans.ext_quality import (
        CLF_BUCKETS,
        CLF_W,
        ext_quality_classifier,
    )

    rows = [(1, "alpha beta gamma", "en", "s1"), (2, "solo", "en", "s1")]
    d = str(tmp_path)
    _write_docs(spark, rows, d)
    cache.clear()
    try:
        got = {r["doc_id"]: r for r in ext_quality_classifier(spark, d).collect()}
    finally:
        cache.clear()
    w = np.array(CLF_W, dtype=np.int64)
    # doc 1: 3 unigrams + 2 bigrams = 5 features
    feats = ["alpha", "beta", "gamma", "alpha beta", "beta gamma"]
    total = int(w[_h32_arr(feats) % CLF_BUCKETS].sum())
    q = abs(total) // 5
    expect = q if total >= 0 else -q
    assert got[1]["n_features"] == 5
    assert got[1]["clf_score"] == expect
    assert got[1]["clf_label"] == ("keep" if expect >= 0 else "drop")
    # doc 2: single token -> 1 unigram feature, no bigrams
    assert got[2]["n_features"] == 1


def test_classifier_drops_null_text(spark, tmp_path):
    """Explicit NULL policy (round-7 ADVICE): a NULL-text doc is DROPPED
    by both the kernel and the oracle — previously the kernel scored it
    as empty text while the SQL emitted a NULL row."""
    from bigdata_spark_realtime_spark.plans.ext_quality import (
        ext_quality_classifier,
    )

    rows = [(1, "alpha beta", "en", "s1"), (2, None, "en", "s1"), (3, "", "en", "s1")]
    d = str(tmp_path)
    _write_docs(spark, rows, d)
    cache.clear()
    try:
        got = {r["doc_id"]: r for r in ext_quality_classifier(spark, d).collect()}
    finally:
        cache.clear()
    assert set(got) == {1, 3}  # NULL dropped; empty text scores as [""]
    assert got[3]["n_features"] == 1


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------


def test_dsir_prefers_target_like_documents(spark, tmp_path):
    """Planted scenario: the md5 target slice is seeded with a marker
    vocabulary; out-of-slice docs written in that vocabulary must
    outweigh docs written in a disjoint vocabulary (the defining DSIR
    property: p_target/p_raw importance, not raw frequency)."""
    import hashlib

    from bigdata_spark_realtime_spark.plans import ext_dsir

    def in_slice(doc_id: int) -> bool:
        h = int(hashlib.md5(f"dsir|{doc_id}".encode()).hexdigest()[:8], 16)
        return h % 100 < ext_dsir.TARGET_PCT

    slice_ids = [i for i in range(400) if in_slice(i)]
    other_ids = [i for i in range(400) if not in_slice(i)][: len(slice_ids) + 2]
    target_text = "alpha beta gamma delta alpha beta"
    offtarget_text = "zulu yankee xray whiskey zulu yankee"
    rows = [(i, target_text, "en", "s1") for i in slice_ids]
    # equal numbers of target-like and off-target docs OUTSIDE the slice
    probe_like, probe_off = other_ids[0], other_ids[1]
    rows += [(probe_like, target_text, "en", "s1")]
    rows += [(probe_off, offtarget_text, "en", "s1")]
    rows += [(i, offtarget_text, "en", "s1") for i in other_ids[2:]]
    d = str(tmp_path)
    _write_docs(spark, rows, d)
    cache.clear()
    try:
        got = {
            r["doc_id"]: r for r in ext_dsir.ext_dsir_select(spark, d).collect()
        }
    finally:
        cache.clear()
    assert got[probe_like]["dsir_weight"] > got[probe_off]["dsir_weight"]
    assert got[probe_like]["dsir_keep"] == "keep"
    assert got[probe_off]["dsir_keep"] == "drop"
    # the model is fixed-size by construction — DSIR's scale guarantee
    ratio = ext_dsir.train_dsir(spark, d)
    assert len(ratio) == ext_dsir.DSIR_BUCKETS
    cache.clear()


TEXTS = [
    "hello world hello world again",
    "a b c a b c a",
    "",
    "single",
    "x " * 60 + "y",
    "unicode ünïcödé tøken ünïcödé tøken",
    "the quick brown fox jumps over the lazy dog",
    " leading and  double  spaces ",
]


def _old_h32(strings):
    return np.fromiter(
        (int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in strings),
        np.int64,
        len(strings),
    )


def _feats(text):
    toks = ("" if text is None else text).split(" ")
    return toks + [
        " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
    ]


def test_dsir_score_kernel_matches_per_row_reference():
    rng = np.random.RandomState(7)
    ratio = rng.randint(0, 10 * D.SCALE, size=D.DSIR_BUCKETS).astype(np.int64)
    bc = type("B", (), {"value": ratio})()
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(TEXTS))) + [99],
            "text": TEXTS + [None],
        }
    )
    out = pd.concat(list(D.make_score_kernel(bc)([pdf])), ignore_index=True)
    got = {r.doc_id: (r.n_feats, r.dsir_weight) for r in out.itertuples()}
    assert 99 not in got  # NULL text drops, as before
    for i, t in enumerate(TEXTS):
        feats = _feats(t)
        bs = _old_h32(feats) % D.DSIR_BUCKETS
        # the exact old per-row arithmetic: Python int sum, floor div
        want_w = int(ratio[bs].sum()) // len(feats)
        assert got[i] == (len(feats), want_w), (i, t)


def test_dsir_score_kernel_empty_batch_and_all_null():
    bc = type("B", (), {"value": np.ones(D.DSIR_BUCKETS, dtype=np.int64)})()
    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"), "text": []})
    nulls = pd.DataFrame({"doc_id": [1, 2], "text": [None, None]})
    assert list(D.make_score_kernel(bc)([empty])) == []
    assert list(D.make_score_kernel(bc)([nulls])) == []


def test_dsir_trained_ratio_matches_per_row_reference(spark, sf_dir):
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    cache.clear()
    got = D.train_dsir(spark, sf_dir)

    # old per-row census arithmetic over the same corpus
    docs = pd.read_parquet(path)
    raw = np.zeros(D.DSIR_BUCKETS, dtype=np.int64)
    tgt = np.zeros(D.DSIR_BUCKETS, dtype=np.int64)
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        if text is None:
            continue
        feats = _feats(text)
        bs = _old_h32(feats) % D.DSIR_BUCKETS
        counts = np.bincount(bs, minlength=D.DSIR_BUCKETS)
        raw += counts
        key = f"dsir|{doc_id}".encode()
        if int(hashlib.md5(key).hexdigest()[:8], 16) % 100 < D.TARGET_PCT:
            tgt += counts
    tr, tt = int(raw.sum()), int(tgt.sum())
    want = np.array(
        [
            D.SCALE * (int(tgt[b]) + 1) * (tr + D.DSIR_BUCKETS)
            // ((int(raw[b]) + 1) * (tt + D.DSIR_BUCKETS))
            for b in range(D.DSIR_BUCKETS)
        ],
        dtype=np.int64,
    )
    assert (np.asarray(got) == want).all()


# ---------------------------------------------------------------------------
# scored curation pipeline
# ---------------------------------------------------------------------------


def test_curation_scored_survivors_pass_standalone_gates(spark, sf_dir):
    """Every pipeline survivor must be explainable by the standalone
    operators: classifier score above the operating point, LM bucket
    not 'tail', and no heavy duplicated-span count."""
    from bigdata_spark_realtime_spark.plans.ext_curation3 import (
        CLF_MIN,
        MAX_DUP_SPANS,
        ext_curation_scored,
    )

    specs = load_all()
    out = ext_curation_scored(spark, sf_dir).collect()
    assert len(out) > 0
    ids = {r["doc_id"] for r in out}
    clf = {r["doc_id"]: r for r in specs["ext_quality_classifier"].fn(spark, sf_dir).collect()}
    lm = {r["doc_id"]: r for r in specs["ext_lm_score"].fn(spark, sf_dir).collect()}
    spans = {r["doc_id"]: r for r in specs["ext_dedup_substring"].fn(spark, sf_dir).collect()}
    for i in ids:
        assert clf[i]["clf_score"] >= CLF_MIN
        assert lm[i]["lm_bucket"] in ("head", "middle")
    # docs with NO corpus-wide duplicated spans can never be dropped by
    # the span stage (the survivor-subset count is bounded above by the
    # corpus-wide count), so a clean doc's absence must be explained by
    # another gate — check one such doc survived end-to-end
    clean_pass = [
        d
        for d in spans
        if spans[d]["n_dup_spans"] == 0
        and d in clf
        and clf[d]["clf_score"] >= CLF_MIN
        and d in lm
        and lm[d]["lm_bucket"] in ("head", "middle")
    ]
    assert clean_pass, "fixture should have clean gate-passing docs"
    assert MAX_DUP_SPANS > 0  # span gate is a drop-threshold, not a keep-all


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_term_stuffed_doc_ranks_first(spark, tmp_path):
    from bigdata_spark_realtime_spark.plans.ext_bm25 import ext_bm25_search

    rows = [
        (1, "spark window agg spark window agg spark", "en", "s1"),
        (2, "spark filler filler filler filler filler", "en", "s1"),
        (3, "unrelated words only here today", "en", "s1"),
    ]
    d = str(tmp_path)
    _write_docs(spark, rows, d)
    cache.clear()
    try:
        out = ext_bm25_search(spark, d).collect()
    finally:
        cache.clear()
    sw = sorted(
        (r for r in out if r["query_id"] == "q_spark_window"),
        key=lambda r: r["rnk"],
    )
    assert sw and sw[0]["doc_id"] == 1  # all three query terms, repeated
    assert {r["doc_id"] for r in sw} == {1, 2}  # doc 3 has no query term


def test_bm25_query_terms_filter_literally(spark, tmp_path, monkeypatch):
    """Query terms reach the token filter as values, never as SQL text:
    a term holding a quote or a backslash matches only itself."""
    from bigdata_spark_realtime_spark.plans import ext_bm25

    monkeypatch.setattr(
        ext_bm25, "QUERIES", {"q_quote": "it's", "q_slash": "a\\b"}
    )
    rows = [
        (1, "it's here it's", "en", "s1"),
        (2, "a\\b there", "en", "s1"),
        (3, "its ab a\\\\b it''s", "en", "s1"),
    ]
    d = str(tmp_path)
    _write_docs(spark, rows, d)
    got = {
        (r["query_id"], r["doc_id"])
        for r in ext_bm25.ext_bm25_search(spark, d).collect()
    }
    assert got == {("q_quote", 1), ("q_slash", 2)}


def test_hybrid_rrf_rewards_presence_in_both_rankings(spark, sf_dir):
    """RRF invariants on real data: fused scores decompose into the two
    rank contributions, and any doc in both top-K lists outscores any
    doc that appears in only one list at an equal-or-worse rank."""
    from bigdata_spark_realtime_spark.plans.ext_hybrid import (
        K_RRF,
        SCALE,
        ext_hybrid_search,
    )

    out = ext_hybrid_search(spark, sf_dir).collect()
    assert len(out) > 0
    singles = SCALE // (K_RRF + 1)  # max possible single-list score
    for r in out:
        assert 0 < r["rrf_score"] <= 2 * singles
    # within each query the output is rank-consistent
    by_q: dict[str, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows = sorted(rows, key=lambda r: r["rnk"])
        scores = [r["rrf_score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_hll_estimate_within_tolerance(spark, sf_dir):
    """The mergeable-sketch state must reconstruct an estimate within
    the expected HLL error band (~1.04/sqrt(256) ≈ 6.5% std; allow
    3 sigma) of the exact distinct count carried beside it."""
    from bigdata_spark_realtime_spark.plans.ext_sketch import (
        ext_hll_distinct,
        hll_estimate,
    )

    rows = ext_hll_distinct(spark, sf_dir).collect()
    assert rows
    for r in rows:
        est = hll_estimate(r["hll_sum_scaled"], r["hll_nonzero_regs"])
        assert abs(est - r["exact_distinct"]) <= 0.20 * max(
            r["exact_distinct"], 10
        ), (r["event_type"], est, r["exact_distinct"])


def test_cms_never_undercounts(spark, sf_dir):
    """The Count-Min guarantee: every probe estimate is >= the exact
    count (cells only ever ADD colliding tokens' counts)."""
    from bigdata_spark_realtime_spark.plans.ext_sketch import (
        CMS_PROBES,
        ext_cms_freq,
    )

    rows = ext_cms_freq(spark, sf_dir).collect()
    assert {r["token"] for r in rows} == set(CMS_PROBES)
    for r in rows:
        assert r["est_count"] >= r["exact_count"], r


# ---------------------------------------------------------------------------
# BPE merge census
# ---------------------------------------------------------------------------


def test_bpe_merges_counts_planted_pairs(spark, tmp_path):
    """Planted scenario: the dominant adjacent pair (including in-doc
    repetitions — the BPE property boilerplate doc-freq would miss)
    must rank first with its exact occurrence count."""
    from bigdata_spark_realtime_spark.plans.ext_bpe import ext_bpe_merges

    rows = [
        (1, "a b a b a b", "en", "s1"),   # (a,b) x3, (b,a) x2
        (2, "a b c", "en", "s1"),         # (a,b), (b,c)
        (3, None, "en", "s1"),            # dropped
    ]
    d = str(tmp_path)
    _write_docs(spark, rows, d)
    cache.clear()
    try:
        got = ext_bpe_merges(spark, d).collect()
    finally:
        cache.clear()
    first = got[0]
    assert (first["w1"], first["w2"], first["pair_count"], first["rnk"]) == (
        "a", "b", 4, 1,
    )
    assert [r["rnk"] for r in got] == list(range(1, len(got) + 1))


def test_bpe_apply_merge_self_pair_runs(spark, tmp_path):
    """Leftmost non-overlapping semantics for a SELF-pair merge
    (w1 == w2), the only case where occurrences can overlap: a run of
    k adjacent occurrences must yield ceil(k/2) merges."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_spark_realtime_spark.plans.ext_bpe import (
        ext_bpe_apply_merge,
    )

    texts = ["a a a", "a a a a", "b a a", "c"]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["t"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    # top pair is (a, a): 2 + 3 + 1 = 6 adjacent occurrences
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_merges"], r["n_tokens_after"])
        for r in ext_bpe_apply_merge(spark, str(tmp_path)).collect()
    }
    assert got == {
        0: (3, 1, 2),   # run k=2 -> 1 merge
        1: (4, 2, 2),   # run k=3 -> 2 merges
        2: (3, 1, 2),   # run k=1 -> 1 merge
        3: (1, 0, 1),   # no pairs
    }


def test_range_join_boundaries_and_bucket_crossing(spark, tmp_path):
    """Interval semantics: strict lower bound (a purchase AT the click
    instant doesn't count), inclusive upper bound (exactly +1h does),
    and the blocking recall edge — a purchase in the NEXT hour bucket
    but within the window must be found."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_spark_realtime_spark.plans.ext_rangejoin import (
        ext_range_join_attribution,
    )

    t0 = datetime(2024, 1, 1, 10, 30, 0, tzinfo=timezone.utc)

    def us(dt_seconds):
        return int((t0.timestamp() + dt_seconds) * 1_000_000)

    rows = [
        # (event_id, us_offset, user, type)
        (1, 0, 7, "click"),        # bucket of 10:30
        (2, 0, 7, "purchase"),     # AT the click -> excluded (strict >)
        (3, 600, 7, "purchase"),   # +10 min, same bucket -> counted
        (4, 2400, 7, "purchase"),  # +40 min, NEXT hour bucket -> counted
        (5, 3600, 7, "purchase"),  # exactly +1h -> counted (inclusive)
        (6, 3601, 7, "purchase"),  # +1h 1s -> excluded
        (7, 600, 8, "purchase"),   # other user -> excluded
        (8, 0, 9, "click"),        # no purchases -> 0
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [us(r[1]) for r in rows], pa.timestamp("us", tz="UTC")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    got = {
        r["click_id"]: r["n_purchases"]
        for r in ext_range_join_attribution(spark, str(tmp_path)).collect()
    }
    assert got == {1: 3, 8: 0}


def test_hll_intersection_estimate_within_tolerance(spark, sf_dir):
    """The inclusion-exclusion overlap estimate from merged register
    state must land near the exact intersection. Tolerance is loose
    (m=256 → ~6.5% per-term error, and differencing compounds it) —
    the point is the merged-union algebra is sane, the exactness claim
    lives in the integer-state oracle."""
    from bigdata_spark_realtime_spark.plans.ext_sketch import (
        ext_hll_set_algebra,
        hll_intersection_estimate,
    )

    rows = ext_hll_set_algebra(spark, sf_dir).collect()
    assert rows
    for r in rows:
        est = hll_intersection_estimate(
            r["scaled_a"], r["nonzero_a"],
            r["scaled_b"], r["nonzero_b"],
            r["union_scaled"], r["union_nonzero"],
        )
        exact = r["exact_intersection"]
        assert abs(est - exact) <= max(0.35 * exact, 25), (
            r["type_a"], r["type_b"], est, exact,
        )


def test_quantile_sketch_estimates_within_relative_error(spark, sf_dir):
    """The octave+top-3-bits buckets bound relative error at 1/8 per
    bucket; p50/p95/p99 estimates must land within ~8% of exact numpy
    percentiles (nearest-rank)."""
    import numpy as np

    from bigdata_spark_realtime_spark.plans.ext_sketch import (
        ext_quantile_sketch,
        qsketch_quantile,
    )
    from bigdata_spark_realtime_spark.sources.tables import load_table

    rows = ext_quantile_sketch(spark, sf_dir).collect()
    by_type: dict[str, dict[int, int]] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], {})[r["bkt"]] = r["ct"]
    vals = (
        load_table(spark, sf_dir, "events")
        .where("value > 0")
        .select("event_type", "value")
        .collect()
    )
    exact: dict[str, list[float]] = {}
    for r in vals:
        exact.setdefault(r["event_type"], []).append(r["value"])
    assert set(by_type) == set(exact)
    for et, buckets in by_type.items():
        xs = np.sort(np.array(exact[et]))
        for q in (0.5, 0.95, 0.99):
            est = qsketch_quantile(buckets, q)
            true = float(xs[min(len(xs) - 1, int(np.ceil(q * len(xs))) - 1)])
            assert abs(est - true) <= 0.08 * true + 0.02, (et, q, est, true)


def test_funnel_ordering_and_window_edges(spark, tmp_path):
    """Ordered-sequence semantics pinned on synthetic events: a
    purchase BEFORE the user's first qualifying click must not
    complete the funnel, and a chain whose total span exceeds the
    7-day window must not count as completed."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_spark_realtime_spark.plans.ext_funnel import (
        ext_funnel_steps,
    )

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()

    def us(days):
        return int((t0 + days * 86400) * 1_000_000)

    rows = [
        # user 1: clean in-window chain -> completes
        (1, us(0), 1, "signup"), (2, us(1), 1, "click"), (3, us(2), 1, "purchase"),
        # user 2: purchase BEFORE its first post-signup click -> step 3
        # never fires (the only purchase precedes the qualifying click)
        (4, us(0), 2, "signup"), (5, us(1), 2, "purchase"), (6, us(2), 2, "click"),
        # user 3: chain ordered but completes on day 8 -> outside window
        (7, us(0), 3, "signup"), (8, us(1), 3, "click"), (9, us(8), 3, "purchase"),
        # user 4: click but no signup -> never enters the funnel
        (10, us(0), 4, "click"), (11, us(1), 4, "purchase"),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    got = {
        r["step_name"]: r["n_users"]
        for r in ext_funnel_steps(spark, str(tmp_path)).collect()
    }
    assert got == {
        "signup": 3,              # users 1, 2, 3
        "click_after_signup": 3,  # users 1, 2, 3 all click after signup
        "purchase_in_window": 1,  # only user 1 completes in order+window
    }


def test_event_transitions_tie_break_on_event_id(spark, tmp_path):
    """Two events with the SAME timestamp order by event_id — the
    integer composite key that keeps both engines' lead() windows
    agreeing. Pinned: a->b->c with b,c at identical ts yields a->b and
    b->c (never a->c)."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_spark_realtime_spark.plans.ext_funnel import (
        ext_event_transitions,
    )

    t0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
    rows = [
        (1, t0, 9, "signup"),
        (2, t0 + 1_000_000, 9, "click"),     # same ts as event 3
        (3, t0 + 1_000_000, 9, "purchase"),  # higher id -> later
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    got = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in ext_event_transitions(spark, str(tmp_path)).collect()
    }
    assert got == {("signup", "click"): 1, ("click", "purchase"): 1}


def _write_events(tmp_path, rows):
    """rows: (event_id, ts_us, user_id, event_type, props)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array([r[4] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))


def test_cooccurrence_skew_guard_caps_adversarial_user(spark, tmp_path):
    """One bot/power user with 1000 distinct items must contribute at
    most C(cap, 2) pairs — the quadratic per-join-key blow-up AQE's
    skew split cannot contain is hard-bounded by the quota window.
    The capped item pick is deterministic hash order, so the DuckDB
    oracle run on the same synthetic table selects the IDENTICAL
    capped set (the cap path never triggers at the gate scale factors,
    so cross-engine agreement is pinned here)."""
    import duckdb

    from bigdata_spark_realtime_spark.plans.ext_funnel import (
        COOC_MAX_ITEMS_PER_USER,
        COOC_ORACLE,
        ext_item_cooccurrence,
    )
    from oracle_util import assert_matches_oracle

    t0 = 1_700_000_000_000_000
    rows = []
    eid = 0
    # adversarial user 1: 1000 distinct items (all > cap)
    for i in range(1000):
        eid += 1
        rows.append((eid, t0 + eid, 1, "click", '{"k": %d}' % (10_000 + i)))
    # normal user 2: 3 items -> 3 pairs, disjoint item ids
    for i in range(3):
        eid += 1
        rows.append((eid, t0 + eid, 2, "view", '{"k": %d}' % (50_000 + i)))
    _write_events(tmp_path, rows)

    out = ext_item_cooccurrence(spark, str(tmp_path))
    cap_pairs = COOC_MAX_ITEMS_PER_USER * (COOC_MAX_ITEMS_PER_USER - 1) // 2
    got = out.collect()
    assert len(got) == cap_pairs + 3
    assert all(r["n_users"] == 1 for r in got)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    assert_matches_oracle(out, con, COOC_ORACLE)


def test_event_transitions_daily_respects_day_boundary(spark, tmp_path):
    """The day-bounded production variant must NOT count a transition
    that crosses midnight; the base variant must. Same user, two events
    23:59 and 00:01 the next day."""
    from datetime import datetime, timezone

    from bigdata_spark_realtime_spark.plans.ext_funnel import (
        ext_event_transitions,
        ext_event_transitions_daily,
    )

    def us(d, h, m):
        return int(
            datetime(2024, 1, d, h, m, tzinfo=timezone.utc).timestamp()
            * 1_000_000
        )

    rows = [
        (1, us(1, 23, 50), 7, "click", "{}"),
        (2, us(1, 23, 59), 7, "view", "{}"),     # same-day: both count it
        (3, us(2, 0, 1), 7, "purchase", "{}"),   # crosses midnight
        (4, us(2, 0, 5), 7, "click", "{}"),      # same-day on day 2
    ]
    _write_events(tmp_path, rows)

    base = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in ext_event_transitions(spark, str(tmp_path)).collect()
    }
    daily = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in ext_event_transitions_daily(spark, str(tmp_path)).collect()
    }
    assert base == {
        ("click", "view"): 1,
        ("view", "purchase"): 1,
        ("purchase", "click"): 1,
    }
    assert daily == {("click", "view"): 1, ("purchase", "click"): 1}


def test_multitouch_credit_split_and_boundaries(spark, tmp_path):
    """A purchase with 3 in-window clicks splits credit as
    SCALE DIV 3 each; clicks exactly at the purchase time or more than
    1h before get nothing; an unconverted click keeps explicit zeros."""
    from bigdata_spark_realtime_spark.plans.ext_attrib import (
        CREDIT_SCALE,
        ext_multitouch_attribution,
    )

    HOUR = 3_600_000_000
    t0 = 1_700_000_000_000_000
    rows = [
        # purchase at t0 + 1h; clicks at +1us, +30min, +1h-1us -> all in
        (1, t0 + 1, 5, "click", "{}"),
        (2, t0 + HOUR // 2, 5, "click", "{}"),
        (3, t0 + HOUR - 1, 5, "click", "{}"),
        (4, t0 + HOUR, 5, "purchase", "{}"),
        # click exactly AT the purchase time: p_us > c_us fails -> out
        (5, t0 + HOUR, 5, "click", "{}"),
        # click exactly 1h before: p_us <= c_us + 1h holds -> in...
        # (t0 is 1h before the purchase; c_us + 1h == p_us) — planted as
        # user 6 with its own purchase so the edge is isolated
        (6, t0, 6, "click", "{}"),
        (7, t0 + HOUR, 6, "purchase", "{}"),
        # click 1h+1us before its purchase -> out; unconverted zeros
        (8, t0, 7, "click", "{}"),
        (9, t0 + HOUR + 1, 7, "purchase", "{}"),
    ]
    _write_events(tmp_path, rows)
    got = {
        r["click_id"]: (r["credit_ppm"], r["n_conversions"])
        for r in ext_multitouch_attribution(spark, str(tmp_path)).collect()
    }
    third = CREDIT_SCALE // 3
    assert got == {
        1: (third, 1),
        2: (third, 1),
        3: (third, 1),
        5: (0, 0),
        6: (CREDIT_SCALE, 1),
        8: (0, 0),
    }


def test_snapshot_diff_insert_update_and_noop(spark, tmp_path):
    """Span cuts at 60%/100%: a user whose last state changed between
    the cuts is an update, a user first seen after t1 is an insert, an
    untouched user emits nothing."""
    from bigdata_spark_realtime_spark.plans.ext_snapshot import (
        ext_snapshot_diff,
    )

    t0 = 1_700_000_000_000_000
    MIN = 60_000_000
    # span = [t0, t0+100min] -> t1 = t0+60min
    rows = [
        (1, t0, 1, "signup", "{}"),              # user 1: noop (no later event)
        (2, t0 + 10 * MIN, 2, "signup", "{}"),   # user 2: updated after t1
        (3, t0 + 80 * MIN, 2, "purchase", "{}"),
        (4, t0 + 90 * MIN, 3, "click", "{}"),    # user 3: insert after t1
        (5, t0 + 100 * MIN, 4, "view", "{}"),    # user 4: insert (sets span hi)
    ]
    _write_events(tmp_path, rows)
    got = {
        r["user_id"]: (r["change_type"], r["old_type"], r["new_type"])
        for r in ext_snapshot_diff(spark, str(tmp_path)).collect()
    }
    assert got == {
        2: ("update", "signup", "purchase"),
        3: ("insert", None, "click"),
        4: ("insert", None, "view"),
    }


def test_hll_hourly_rollup_merge_is_lossless(spark, sf_dir):
    """The day-grain registers merged from hourly partials must equal
    the registers computed directly from raw — asserted by comparing
    the query's day rows against an independent ext_hll_distinct-style
    recompute restricted to each day."""
    from bigdata_spark_realtime_spark.plans.ext_sketch_window import (
        ext_hll_hourly_rollup,
    )

    rows = ext_hll_hourly_rollup(spark, sf_dir).collect()
    days = [r for r in rows if r["grain"] == "day"]
    hours = [r for r in rows if r["grain"] == "hour"]
    assert days and hours
    # spot-check invariant: a day's nonzero register count is >= any of
    # its hours' (register max-merge can only fill buckets, never empty
    # one) and sum_scaled <= any hour's (filling a bucket or raising a
    # rank strictly decreases the scaled harmonic denominator)
    by_day: dict[tuple[str, str], list] = {}
    for h in hours:
        by_day.setdefault((h["period"][:10], h["event_type"]), []).append(h)
    for d in days:
        for h in by_day[(d["period"], d["event_type"])]:
            assert d["nonzero"] >= h["nonzero"]
            assert d["sum_scaled"] <= h["sum_scaled"]


def test_bigram_pmi_lift_and_floor(spark, tmp_path):
    """Planted corpus: a bigram that always co-occurs ('new york' shape)
    outranks a popular-parts bigram; pairs under the count floor never
    rank; single-token docs contribute no bigrams."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_spark_realtime_spark.plans.ext_colloc import (
        PMI_MIN_COUNT,
        PMI_SCALE,
        ext_bigram_pmi,
    )

    docs = (
        ["aa bb"] * PMI_MIN_COUNT          # exclusive pair: lift = N/c²
        + ["cc dd", "dd cc", "cc ee", "dd ee", "ee cc"]  # mixed pairs
        + ["ff"]                            # single token: no bigrams
    )
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["t"] * len(docs), pa.string()),
            "n_chars": pa.array([len(d) for d in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = ext_bigram_pmi(spark, str(tmp_path)).collect()
    got = {(r["w1"], r["w2"]): (r["cab"], r["lift_q"]) for r in rows}
    n_tokens = 2 * PMI_MIN_COUNT + 10 + 1
    # the exclusive pair: c(aa)=c(bb)=cab=PMI_MIN_COUNT
    assert got == {
        ("aa", "bb"): (
            PMI_MIN_COUNT,
            PMI_SCALE * PMI_MIN_COUNT * n_tokens
            // (PMI_MIN_COUNT * PMI_MIN_COUNT),
        )
    }


def test_item_pagerank_star_graph(spark, tmp_path):
    """Planted star: hub item co-viewed with 4 leaves (one user per
    spoke). After any number of damped iterations the hub must outrank
    every leaf; values must equal the hand-run integer recurrence."""
    from bigdata_spark_realtime_spark.plans.ext_graphrank import (
        N_ITERS,
        RANK_SCALE,
        ext_item_pagerank,
    )

    t0 = 1_700_000_000_000_000
    rows, eid = [], 0
    for u, leaf in enumerate((101, 102, 103, 104), start=1):
        for item in (100, leaf):  # user u co-views hub 100 and its leaf
            eid += 1
            rows.append((eid, t0 + eid, u, "view", '{"k": %d}' % item))
    _write_events(tmp_path, rows)
    got = {
        r["item"]: r["rank_q"]
        for r in ext_item_pagerank(spark, str(tmp_path)).collect()
    }
    # hand-run the integer recurrence: deg(hub)=4, deg(leaf)=1
    base = 15 * RANK_SCALE // 100
    hub, leaf = RANK_SCALE, RANK_SCALE
    for _ in range(N_ITERS):
        hub_new = base + (85 * (4 * (leaf // 1))) // 100
        leaf_new = base + (85 * (hub // 4)) // 100
        hub, leaf = hub_new, leaf_new
    assert got == {100: hub, 101: leaf, 102: leaf, 103: leaf, 104: leaf}
    assert hub > leaf


def test_multitouch_credit_conservation(spark, sf_dir):
    """Conservation law: every attributed purchase distributes at most
    CREDIT_SCALE and at least CREDIT_SCALE - (n_touch - 1) (truncating
    split), and total credit equals the sum over purchases of
    n_touch * (CREDIT_SCALE DIV n_touch)."""
    from bigdata_spark_realtime_spark.plans.ext_attrib import (
        CREDIT_SCALE,
        MAX_TOUCH_PER_PURCHASE,
        ext_multitouch_attribution,
    )
    from bigdata_spark_realtime_spark.plans.ext_rangejoin import WINDOW_US
    from bigdata_spark_realtime_spark.sources.tables import load_table

    out = ext_multitouch_attribution(spark, sf_dir).collect()
    total_credit = sum(r["credit_ppm"] for r in out)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    ).collect()
    clicks = [(r["user_id"], r["us"]) for r in ev if r["event_type"] == "click"]
    by_user: dict[int, list[int]] = {}
    for u, us in clicks:
        by_user.setdefault(u, []).append(us)
    expected = 0
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        n = sum(
            1
            for cus in by_user.get(r["user_id"], ())
            if r["us"] > cus and r["us"] <= cus + WINDOW_US
        )
        n = min(n, MAX_TOUCH_PER_PURCHASE)
        if n:
            expected += n * (CREDIT_SCALE // n)
    assert total_credit == expected


def test_snapshot_diff_reconstructs_final_state(spark, sf_dir):
    """Applying the diff to the t1 snapshot must reproduce the full-span
    snapshot exactly: inserts add keys, updates replace state, keys
    absent from the diff are unchanged."""
    from bigdata_spark_realtime_spark.plans.ext_snapshot import (
        _state_at,
        ext_snapshot_diff,
    )
    from bigdata_spark_realtime_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value",
        F.unix_micros("ts").alias("us"), "event_id",
    )
    span = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi")).select(
        (F.col("lo") + F.expr("(hi - lo) * 6 DIV 10")).alias("t1"),
        F.col("hi").alias("t2"),
    )
    evc = ev.crossJoin(F.broadcast(span))
    s1 = {
        r["user_id"]: (r["event_type"], r["value"])
        for r in _state_at(evc, "t1").collect()
    }
    s2 = {
        r["user_id"]: (r["event_type"], r["value"])
        for r in _state_at(evc, "t2").collect()
    }
    rebuilt = dict(s1)
    for r in ext_snapshot_diff(spark, sf_dir).collect():
        if r["change_type"] == "insert":
            assert r["user_id"] not in s1
        else:
            assert r["user_id"] in s1
            assert (r["old_type"], r["old_value"]) == s1[r["user_id"]]
        rebuilt[r["user_id"]] = (r["new_type"], r["new_value"])
    assert rebuilt == s2


def test_multitouch_touch_cap_bounds_adversarial_purchase(spark, tmp_path):
    """A bot purchase with 300 in-window clicks attributes to only the
    MAX_TOUCH_PER_PURCHASE most recent ones (each credited
    SCALE DIV cap); older clicks keep explicit zeros. The DuckDB oracle
    run on the same synthetic table selects the IDENTICAL capped set
    (the cap never binds at the gate scale factors)."""
    import duckdb

    from bigdata_spark_realtime_spark.plans.ext_attrib import (
        CREDIT_SCALE,
        MAX_TOUCH_PER_PURCHASE,
        MULTITOUCH_ORACLE,
        ext_multitouch_attribution,
    )
    from oracle_util import assert_matches_oracle

    t0 = 1_700_000_000_000_000
    n_clicks = 300
    rows = [
        (i, t0 + i * 1_000, 9, "click", "{}") for i in range(1, n_clicks + 1)
    ]
    rows.append((n_clicks + 1, t0 + 3_000_000_000, 9, "purchase", "{}"))
    _write_events(tmp_path, rows)

    out = ext_multitouch_attribution(spark, str(tmp_path))
    got = {r["click_id"]: r["credit_ppm"] for r in out.collect()}
    cap = MAX_TOUCH_PER_PURCHASE
    share = CREDIT_SCALE // cap
    # the cap most-recent clicks (highest c_us) are the last `cap` ids
    for cid in range(n_clicks - cap + 1, n_clicks + 1):
        assert got[cid] == share, cid
    for cid in range(1, n_clicks - cap + 1):
        assert got[cid] == 0, cid

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    assert_matches_oracle(out, con, MULTITOUCH_ORACLE)


def test_scd2_intervals_runs_and_open_interval(spark, tmp_path):
    """Planted state chain a,a,b,a: three islands with touching
    [from, to) bounds, the last open (OPEN_US sentinel); same-timestamp
    events order by event_id. The b/a flip shares one microsecond, so
    the runs-level lead window's (valid_from_us, isl) tiebreak is what
    makes the zero-width interval land on "b" (the earlier island) on
    BOTH engines — this pin is deterministic, not engine-luck."""
    from bigdata_spark_realtime_spark.plans.ext_scd2 import (
        OPEN_US,
        ext_scd2_intervals,
    )

    t0 = 1_700_000_000_000_000
    rows = [
        (1, t0 + 10, 5, "a", "{}"),
        (2, t0 + 20, 5, "a", "{}"),      # same state -> same island
        (3, t0 + 30, 5, "b", "{}"),
        (4, t0 + 30, 5, "a", "{}"),      # same ts as 3: id orders after
    ]
    _write_events(tmp_path, rows)
    got = sorted(
        (
            r["state"],
            r["valid_from_us"] - t0,
            "open" if r["valid_to_us"] == OPEN_US else r["valid_to_us"] - t0,
            r["n_events"],
        )
        for r in ext_scd2_intervals(spark, str(tmp_path)).collect()
    )
    assert got == [("a", 10, 30, 2), ("a", 30, "open", 1), ("b", 30, 30, 1)]


def test_pit_join_same_microsecond_flip_matches_oracle(spark, tmp_path):
    """A same-microsecond state flip creates a zero-width SCD2 interval
    ("b" below). The PIT as-of probe must (1) drop it, restoring
    asof_join's right-side-unique-per-(key, time) precondition, and
    (2) still hash-match the oracle's BETWEEN containment, which a
    half-open zero-width interval can never satisfy. Before the filter,
    two intervals shared (user_id=5, valid_from_us=t0+30) and the as-of
    pick between them was nondeterministic."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_spark_realtime_spark.plans.ext_pit import (
        PIT_ORACLE,
        ext_pit_scd2_join,
    )
    from oracle_util import assert_matches_oracle

    t0 = 1_700_000_000_000_000
    rows = [
        (1, t0 + 10, 5, "a", "{}"),
        (2, t0 + 30, 5, "b", "{}"),      # b and a flip within one us:
        (3, t0 + 30, 5, "a", "{}"),      # b's interval is zero-width
    ]
    _write_events(tmp_path, rows)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([100, 101, 102], pa.int64()),
                "o_custkey": pa.array([5, 5, 5], pa.int64()),
                "o_orderstatus": pa.array(["O"] * 3, pa.string()),
                "o_totalprice": pa.array([1.0] * 3, pa.float64()),
                # before first interval / at the tied flip / after
                "o_orderdate": pa.array(
                    [t0, t0 + 30, t0 + 40], pa.timestamp("us")
                ),
                "o_orderpriority": pa.array(["1-URGENT"] * 3, pa.string()),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )

    out = ext_pit_scd2_join(spark, str(tmp_path))
    got = {r["o_orderkey"]: (r["state_at_order"], r["state_since_us"]) for r in out.collect()}
    assert got == {
        100: (None, None),          # predates every interval
        101: ("a", t0 + 30),        # the tied flip resolves to "a", not "b"
        102: ("a", t0 + 30),
    }

    con = duckdb.connect()
    for t in ("events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')"
        )
    assert_matches_oracle(out, con, PIT_ORACLE)


def test_rollup_anomaly_flags_spike_and_drop(spark, tmp_path):
    """Planted volumes: baseline days at 10 events, one 30-event spike
    (3x median -> flagged) and one 4-event drop (0.4x -> flagged)."""
    from bigdata_spark_realtime_spark.plans.ext_anomaly import (
        ext_rollup_anomaly,
    )

    DAY = 86_400_000_000
    t0 = 1_700_000_000_000_000
    rows, eid = [], 0
    for d, n in enumerate((10, 10, 10, 30, 4)):
        for i in range(n):
            eid += 1
            rows.append((eid, t0 + d * DAY + i * 1_000, 1, "click", "{}"))
    _write_events(tmp_path, rows)
    got = {
        r["day"]: (r["ct"], r["median_ct"], r["is_anomaly"])
        for r in ext_rollup_anomaly(spark, str(tmp_path)).collect()
    }
    days = sorted(got)
    assert [got[d] for d in days] == [
        (10, 10, 0), (10, 10, 0), (10, 10, 0), (30, 10, 1), (4, 10, 1),
    ]


def test_scd2_intervals_partition_each_users_timeline(spark, sf_dir):
    """Structural invariants on real data: per user, intervals are
    contiguous (each valid_to equals the next valid_from, the last is
    the OPEN_US sentinel), states alternate between adjacent runs, and
    n_events sums to the user's event count."""
    from collections import defaultdict

    from bigdata_spark_realtime_spark.plans.ext_scd2 import (
        OPEN_US,
        ext_scd2_intervals,
    )
    from bigdata_spark_realtime_spark.sources.tables import load_table

    rows = ext_scd2_intervals(spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    ev_counts = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(by_user) == set(ev_counts)
    for uid, ivals in by_user.items():
        ivals.sort(key=lambda r: r["valid_from_us"])
        for a, b in zip(ivals, ivals[1:]):
            assert a["valid_to_us"] == b["valid_from_us"], uid
            assert a["state"] != b["state"], uid  # runs are maximal
        assert ivals[-1]["valid_to_us"] == OPEN_US, uid
        assert sum(r["n_events"] for r in ivals) == ev_counts[uid], uid
