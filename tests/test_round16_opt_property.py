"""Round-16 optimization-round property pins.

The r16 optimization round (a) factorized the DSIR census/score
kernels (plans/ext_dsir.py; pinned in test_ext_corpus_ops.py's DSIR
section) the way r15 factorized the classifier/LM kernels, (b) added
a total-cells gate to the SimHash counts@contrib fast path
(operators/shingling.py, r15 ADVICE), and (c) introduced the
size-gated ``scoped_persist_if_large`` helper (plans/corpus.py) used by
the bm25/tfidf single-scan rewrites. Each rewrite must be BIT-IDENTICAL
to the shape it replaced — these tests pin the kernels against direct
re-implementations of the old per-row arithmetic and pin the persist
gate's both branches, so a future refactor cannot silently change
semantics while the oracle sweep stays green by fixture luck.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from bigdata_spark_realtime_spark.operators import shingling as S
from bigdata_spark_realtime_spark.plans import corpus as C

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


# ------------------------------------------------- SimHash cell gate


def _old_simhash(text):
    toks = ("" if text is None else text).split(" ")
    digs = [hashlib.md5(t.encode()).hexdigest() for t in toks]
    lo = np.fromiter((int(d[:8], 16) for d in digs), np.int64, len(digs))
    hi = np.fromiter((int(d[8:16], 16) for d in digs), np.int64, len(digs))
    contrib = np.concatenate(
        [
            ((lo[:, None] >> S._SHIFTS) & 1) * 2 - 1,
            ((hi[:, None] >> S._SHIFTS) & 1) * 2 - 1,
        ],
        axis=1,
    )
    sums = contrib.sum(axis=0)
    pos = sums > 0
    v = (pos[:63] * S._COMBINE_W).sum(dtype=np.int64)
    return int(v + (S._SIGN_BIT if pos[63] else np.int64(0)))


@pytest.mark.parametrize("max_cells", [0, 4 << 20])
def test_simhash_cell_gate_both_paths_match_reference(
    spark, max_cells, monkeypatch
):
    # cells gate 0 forces the gather+reduceat path even when the vocab
    # gate passes; the default lets the small fixture take the
    # counts@contrib path — both must agree with the per-row reference
    monkeypatch.setattr(S, "_COUNTS_MATMUL_MAX_CELLS", max_cells)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in S.simhash_fingerprints(docs).collect()
    }
    for i, t in enumerate(TEXTS):
        assert got[i] == _old_simhash(t), (i, t)


# -------------------------------------------- size-gated persist


def test_persist_gate_skips_small_inputs(spark, sf_dir):
    df = spark.range(4)
    out = C.scoped_persist_if_large(df, "r16_gate_small", sf_dir)
    # test SFs sit far below the 64 MB gate: recompute path, no cache
    assert out is df
    assert out.storageLevel.useMemory is False


def test_persist_gate_persists_large_inputs(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(C, "PERSIST_MIN_INPUT_BYTES", 0)
    df = spark.range(4)
    out = C.scoped_persist_if_large(df, "r16_gate_large", sf_dir)
    try:
        assert out.storageLevel.useMemory is True
    finally:
        out.unpersist()


def test_persist_gate_unknown_layout_counts_as_large(tmp_path):
    # a missing table must take the PERSIST branch (scale-safe default)
    assert C._input_bytes(str(tmp_path), "nonexistent") >= (1 << 60)
