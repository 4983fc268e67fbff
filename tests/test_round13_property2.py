"""R13 late surface growth: the approximation-quality audits and the
streaming funnel twin, pinned against fully independent references —
a numpy re-derivation for the ANN recall eval, a pure-python (hashlib
only) re-derivation of the whole shingle→minhash→band→candidate→
estimate pipeline for the MinHash calibration audit, and the batch
operator for the stream twin. The DuckDB oracle mirrors
(test_queries_oracle*.py) check all three against the registered SQL
independently; these pins catch a Spark-and-SQL-agree-but-both-wrong
drift.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_funnel_steps_equals_batch(spark, sf_dir):
    from bigdata_spark_realtime_spark.plans.ext_funnel import ext_funnel_steps
    from bigdata_spark_realtime_spark.plans.ext_funnel import (
        stream_funnel_steps,
    )

    got = _rows(stream_funnel_steps(spark, sf_dir))
    want = _rows(ext_funnel_steps(spark, sf_dir))
    assert got == want and len(got) == 3
    # the funnel must be monotone non-increasing and non-trivial at the
    # fixture SF (a zero step-1 count means the twin drained nothing —
    # the fast-and-wrong failure mode the replay-device bug class showed)
    by_step = {r[0]: r[2] for r in got}
    assert by_step[1] >= by_step[2] >= by_step[3]
    assert by_step[1] > 0


def test_ann_recall_eval_matches_numpy(spark, sf_dir):
    """Independent reference: cosine top-k (exact and label-cell-
    restricted) recomputed with plain numpy from the parquet bytes, no
    engine code on the reference path."""
    from bigdata_spark_realtime_spark.plans.ext_approx_audit import (
        ext_ann_recall_eval,
    )
    from bigdata_spark_realtime_spark.plans.ext_similarity import (
        N_QUERIES,
        TOP_K,
    )

    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    order = np.argsort(ids)
    ids, labels, norm = ids[order], labels[order], norm[order]

    def topk(q_idx, mask):
        sims = np.round(norm[mask] @ norm[q_idx], 4)
        cand_ids = ids[mask]
        # rank by rounded sim desc, neighbor_id asc — the engine's tie rule
        rank = np.lexsort((cand_ids, -sims))[:TOP_K]
        return set(cand_ids[rank].tolist())

    want = {}
    for q in range(N_QUERIES):
        q_idx = int(np.where(ids == q)[0][0])
        not_self = ids != q
        brute = topk(q_idx, not_self)
        approx = topk(q_idx, not_self & (labels == labels[q_idx]))
        hits = len(brute & approx)
        want[q] = (hits, round(hits / TOP_K, 4))

    got = {
        int(r["query_id"]): (int(r["n_hits"]), float(r["recall_at_k"]))
        for r in ext_ann_recall_eval(spark, sf_dir).collect()
    }
    assert got == want
    # the audit is only informative if the fixture separates the two
    # search modes somewhere: at least one query must have recall < 1
    assert any(v[1] < 1.0 for v in want.values())


def _round4(x: float) -> float:
    """Half-up at 4 decimals — Spark's F.round / DuckDB's round()
    convention; python's built-in round() is banker's and flips exact
    ties like 58/64 = 0.90625 the other way."""
    import math

    return math.floor(x * 10_000 + 0.5) / 10_000


def _py_minhash_reference(texts: dict[int, str]):
    """Pure-python shingle→md5→minhash→band→candidate→estimate pipeline
    mirroring functions/hashing.py's documented contract."""
    from bigdata_spark_realtime_spark.functions import hashing as H

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    sh, sig = {}, {}
    for doc_id, text in texts.items():
        toks = text.split(" ")
        if len(toks) < H.SHINGLE_W:
            continue
        raw = [
            " ".join(toks[i : i + H.SHINGLE_W])
            for i in range(len(toks) - H.SHINGLE_W + 1)
        ]
        sh[doc_id] = set(raw)
        hs = [h32(s) % H.P for s in raw]
        sig[doc_id] = [
            min((H.MINHASH_A[j] * h + H.MINHASH_B[j]) % H.P for h in hs)
            for j in range(H.K)
        ]

    buckets: dict[tuple, list[int]] = {}
    for doc_id, m in sig.items():
        for b in range(H.N_BANDS):
            key = (
                b,
                m[4 * b] * H.P + m[4 * b + 1],
                m[4 * b + 2] * H.P + m[4 * b + 3],
            )
            buckets.setdefault(key, []).append(doc_id)
    cand = set()
    for members in buckets.values():
        members = sorted(members)
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                cand.add((a, b))

    rows = {}
    for a, b in sorted(cand):
        est = _round4(
            sum(1 for j in range(H.K) if sig[a][j] == sig[b][j]) / H.K
        )
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        exact = _round4(inter / union)
        rows[(a, b)] = (est, exact, _round4(abs(est - exact)))
    return rows


def test_minhash_error_audit_matches_pure_python(spark, sf_dir):
    from bigdata_spark_realtime_spark.plans.ext_approx_audit import (
        ext_minhash_error_audit,
    )

    texts = dict(
        pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
        .to_records(index=False)
        .tolist()
    )
    want = _py_minhash_reference(texts)
    got = {
        (int(r["doc_a"]), int(r["doc_b"])): (
            float(r["est_jaccard"]),
            float(r["exact_jaccard"]),
            float(r["abs_err"]),
        )
        for r in ext_minhash_error_audit(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0
    # calibration sanity on the audited output itself: both quantities
    # are proper fractions and the error column is consistent
    for est, exact, err in got.values():
        assert 0.0 <= est <= 1.0 and 0.0 <= exact <= 1.0
        assert abs(err - abs(est - exact)) < 1e-9


def _plan(spark, sf_dir, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_minhash_error_audit_plan_reuses_per_doc_cache(spark, sf_dir):
    """The per-doc signature+shingle frame must come from cache on both
    pair sides (one kernel pass over the corpus, not one per join), and
    nothing in the audit may degenerate to a cartesian product."""
    plan = _plan(spark, sf_dir, "ext_minhash_error_audit")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_recall_eval_plan_is_kernel_plus_tiny_join(spark, sf_dir):
    """Both ANN legs run their Arrow scoring kernels; the recall join is
    k-bounded rows on both sides — never a cartesian product."""
    plan = _plan(spark, sf_dir, "ext_ann_recall_eval")
    assert plan.count("MapInPandas") >= 2
    assert "CartesianProduct" not in plan
