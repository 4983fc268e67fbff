"""R14 surface growth: the second approximation-quality audit pair
(plans/ext_approx_audit.py) pinned against independent references —
numpy for the exact vector math, collections.Counter for the exact
token-space cosine — plus the structural invariants that make each
audit trustworthy (the same strategy as r13's
test_round13_property2.py for the first audit pair).
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np


def test_semantic_gap_audit_invariants_and_numpy_reference(spark, sf_dir):
    from bigdata_spark_realtime_spark.plans.ext_approx_audit import (
        AUDIT_N,
        ext_semantic_gap_audit,
    )
    from bigdata_spark_realtime_spark.plans.ext_semantic import (
        ext_dedup_semantic,
    )

    audit = ext_semantic_gap_audit(spark, sf_dir).toPandas()
    drops = ext_dedup_semantic(spark, sf_dir).toPandas()
    assert len(audit) == min(AUDIT_N, len(drops)) > 0
    # the audited rows are exactly the lowest-vec_id drops, scores intact
    expected = drops.sort_values("vec_id").head(len(audit))
    merged = audit.merge(
        expected, on="vec_id", suffixes=("", "_drop"), how="inner"
    )
    assert len(merged) == len(audit)
    assert (merged["cell_max_sim"] == merged["max_sim"]).all()
    # corpus-wide max can never be below the cell-restricted max
    assert (audit["gap"] >= 0).all()
    assert (
        audit["exact_max_sim"] >= audit["cell_max_sim"] - 1e-12
    ).all()

    # independent numpy reference for exact_max_sim
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
    )
    emb = emb[emb["embedding"].notna()]
    ids = emb["vec_id"].to_numpy()
    m = np.stack(emb["embedding"].to_numpy()).astype("float64")
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    for _, row in audit.head(5).iterrows():
        qi = int(np.where(ids == row["vec_id"])[0][0])
        sims = np.round(m @ m[qi], 4)
        sims[qi] = -np.inf  # self excluded
        assert abs(float(sims.max()) - row["exact_max_sim"]) < 1e-9


def test_simhash_error_audit_pure_python_reference(spark, sf_dir):
    from bigdata_spark_realtime_spark.plans.ext_approx_audit import (
        ext_simhash_error_audit,
    )
    from bigdata_spark_realtime_spark.plans.ext_dedup import SIMHASH_BITS

    audit = ext_simhash_error_audit(spark, sf_dir).toPandas()
    assert len(audit) > 0
    # column consistency: est_agreement is the dyadic 1 - h/64
    # (HALF_UP reference — numpy/pandas .round is banker's and differs
    # from the Spark/DuckDB round at .xxxx5 exactly where 1 - h/64
    # lands, e.g. h=10 -> 0.84375)
    half_up = np.floor((1.0 - audit["hamming"] / SIMHASH_BITS) * 1e4 + 0.5) / 1e4
    assert (audit["est_agreement"] == half_up).all()
    assert audit["exact_cos"].between(-1.0, 1.0).all()
    assert (audit["abs_err"] >= 0).all() and (audit["abs_err"] <= 1).all()
    # no duplicate pairs, canonical orientation
    assert (audit["doc_a"] < audit["doc_b"]).all()
    assert not audit.duplicated(["doc_a", "doc_b"]).any()

    # pure-python reference for a handful of pairs: same tokenizer
    # (space split, empties included), integer-count cosine, acos map
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
        .set_index("doc_id")["text"]
    )
    for _, row in audit.head(5).iterrows():
        ca = Counter(docs[row["doc_a"]].split(" "))
        cb = Counter(docs[row["doc_b"]].split(" "))
        dot = sum(ca[t] * cb[t] for t in ca.keys() & cb.keys())
        na = math.sqrt(sum(v * v for v in ca.values()))
        nb = math.sqrt(sum(v * v for v in cb.values()))
        cos = dot / (na * nb)

        def _half_up(x: float) -> float:
            return math.floor(x * 1e4 + 0.5) / 1e4

        assert abs(_half_up(cos) - row["exact_cos"]) < 1e-9
        pred = 1.0 - math.acos(max(-1.0, min(1.0, cos))) / math.pi
        assert (
            abs(_half_up(abs(row["est_agreement"] - pred)) - row["abs_err"])
            < 1e-9
        )


def test_simhash_audit_pairs_subset_of_production_candidates(spark, sf_dir):
    """The audit samples the SAME candidate generation the dedup query
    ships (a deterministic per-doc fanout of it — the round-14 scale
    smoke measured the uncapped pair list growing quadratically): every
    audited row below the production hamming threshold must be a
    production near-dup pair, the fanout bound must hold, and the
    hamming values must agree with the production query's."""
    from bigdata_spark_realtime_spark.plans.ext_approx_audit import (
        AUDIT_FANOUT,
        ext_simhash_error_audit,
    )
    from bigdata_spark_realtime_spark.plans.ext_dedup import (
        HAMMING_MAX,
        ext_dedup_simhash_pairs,
    )

    audit = ext_simhash_error_audit(spark, sf_dir).toPandas()
    prod = ext_dedup_simhash_pairs(spark, sf_dir).toPandas()
    assert audit.groupby("doc_a").size().max() <= AUDIT_FANOUT
    a = audit.loc[audit["hamming"] <= HAMMING_MAX, ["doc_a", "doc_b", "hamming"]]
    p = {
        (r.doc_a, r.doc_b): r.hamming for r in prod.itertuples(index=False)
    }
    for r in a.itertuples(index=False):
        assert p[(r.doc_a, r.doc_b)] == r.hamming


def test_frames_checksum_base64_reference(spark, sf_dir):
    """R14 fix pin: frame windows are BYTE-true (99-byte, base64-group
    aligned) and the checksum is md5 of the window's base64 text —
    defined for arbitrary binary payloads and exactly expressible by
    the SQL oracle (the old raw-byte checksum + VARCHAR-substring
    oracle diverged on non-ASCII text; adversarial-unicode sweep)."""
    import base64
    import hashlib

    from bigdata_spark_realtime_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )
    from bigdata_spark_realtime_spark.plans.ext_multimodal import FRAME_BYTES
    from bigdata_spark_realtime_spark.sources.tables import load_table

    assert FRAME_BYTES % 3 == 0  # base64 group alignment — oracle contract
    media = documents_as_media(
        load_table(spark, sf_dir, "documents")
    ).limit(10)
    payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
    got = sample_frames(media, every_n_bytes=FRAME_BYTES).toPandas()
    for _, row in got.iterrows():
        p = payloads[row["media_id"]]
        i = int(row["frame_idx"])
        window = p[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
        want = hashlib.md5(base64.b64encode(window)).hexdigest()
        assert row["frame_checksum"] == want
        # and the base64-slice identity the oracle relies on
        full = base64.b64encode(p).decode()
        k = FRAME_BYTES // 3 * 4
        assert base64.b64encode(window).decode() == full[i * k : (i + 1) * k]


def test_hll_and_quantile_audits_within_published_error(spark, sf_dir):
    """The sketch audits must report errors inside the estimators'
    published envelopes at test SF: HLL σ ≈ 1.04/√256 ≈ 6.5% (allow
    4σ), bucket-median ≤ 12.5% relative (3-bit mantissa buckets)."""
    from bigdata_spark_realtime_spark.plans.ext_approx_audit import (
        ext_hll_error_audit,
        ext_quantile_error_audit,
    )

    hll = ext_hll_error_audit(spark, sf_dir).toPandas()
    assert len(hll) > 0
    assert hll["rel_err"].abs().max() < 4 * 0.065
    q = ext_quantile_error_audit(spark, sf_dir).toPandas()
    assert len(q) > 0
    q = q[q["exact_median_value"].notna()]
    rel = (q["abs_err"] / q["exact_median_value"]).max()
    assert rel <= 0.125 + 1e-9


def test_srp_error_audit_structure_and_reference(spark, sf_dir):
    """SRP calibration rows: hamming bounded by the plane count,
    est_agreement the exact derived ratio, and a numpy reference for
    one pair's bit agreement from the raw signatures."""
    import numpy as np

    from bigdata_spark_realtime_spark.functions import hashing as H
    from bigdata_spark_realtime_spark.plans.corpus import emb_double
    from bigdata_spark_realtime_spark.plans.ext_approx_audit import (
        _SRP_PLANES,
        ext_srp_error_audit,
    )
    from bigdata_spark_realtime_spark.sources.tables import load_table

    audit = ext_srp_error_audit(spark, sf_dir).toPandas()
    assert len(audit) > 0
    assert audit["hamming"].between(0, _SRP_PLANES).all()
    ref = (1.0 - audit["hamming"] / _SRP_PLANES) * 1e4
    assert (audit["est_agreement"] == np.floor(ref + 0.5) / 1e4).all()
    assert (audit["vec_a"] < audit["vec_b"]).all()
    assert not audit.duplicated(["vec_a", "vec_b"]).any()

    # numpy reference for one pair: same integer projection
    emb = (
        emb_double(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding")
        .toPandas()
        .set_index("vec_id")["embedding"]
    )
    w = np.array(H.SRP_W, dtype=np.int64)
    row = audit.iloc[0]
    bits = {}
    for v in (row["vec_a"], row["vec_b"]):
        qe = np.floor(np.asarray(emb[v], dtype="float64") * H.SRP_SCALE).astype(
            "int64"
        )
        bits[v] = (w @ qe >= 0).astype(int)
    assert int((bits[row["vec_a"]] != bits[row["vec_b"]]).sum()) == row["hamming"]
