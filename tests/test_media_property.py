"""Property-based contracts (hypothesis) for the round-8 integer
kernels: perceptual hashing and the BPE leftmost-merge scan. These are
pure functions, so properties run without Spark."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from bigdata_spark_realtime_spark.operators.multimodal import (
    audiohash64,
    phash64,
)


@st.composite
def images(draw):
    w = draw(st.integers(8, 20))
    h = draw(st.integers(8, 16))
    ch = draw(st.sampled_from([1, 3]))
    # headroom so a +10 brightness shift cannot clip
    pixels = draw(
        st.binary(min_size=w * h * ch, max_size=w * h * ch).map(
            lambda b: bytes(min(x, 240) for x in b)
        )
    )
    return pixels, w, h, ch


@settings(max_examples=30, deadline=None)
@given(images())
def test_phash_brightness_shift_invariance(img):
    """Adding a constant to every pixel shifts every block mean AND the
    global mean by the same amount — the threshold comparison, hence
    the hash, is invariant (the property that makes pHash a structure
    fingerprint, not an exposure fingerprint)."""
    pixels, w, h, ch = img
    shifted = bytes(x + 10 for x in pixels)
    assert phash64(pixels, w, h, ch) == phash64(shifted, w, h, ch)


@settings(max_examples=30, deadline=None)
@given(images())
def test_phash_is_64_bit_and_deterministic(img):
    pixels, w, h, ch = img
    ph = phash64(pixels, w, h, ch)
    assert -(2**63) <= ph < 2**63
    assert phash64(pixels, w, h, ch) == ph


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(-2000, 2000), min_size=64, max_size=400),
    st.integers(2, 8),
)
def test_audiohash_amplitude_scale_invariance(samples, factor):
    """Energy RATIOS drive the signature: scaling every sample by a
    constant factor leaves it unchanged (no clipping at these
    amplitudes)."""
    import numpy as np

    base = np.array(samples, dtype="<i2")
    scaled = (base.astype(np.int32) * factor).astype("<i2")
    assert audiohash64(base.tobytes()) == audiohash64(scaled.tobytes())


def _reference_leftmost_merges(tokens: list[str], w1: str, w2: str) -> int:
    """Direct scan — the semantics ext_bpe_apply_merge must reproduce."""
    cnt, i = 0, 0
    while i < len(tokens) - 1:
        if tokens[i] == w1 and tokens[i + 1] == w2:
            cnt += 1
            i += 2
        else:
            i += 1
    return cnt


@settings(max_examples=60, deadline=None)
@given(st.lists(st.sampled_from(["a", "b"]), min_size=1, max_size=40))
def test_runs_formula_equals_reference_scan(tokens):
    """The gaps-and-islands form both engines use — runs of adjacent
    (w1, w2) positions, ceil(k/2) merges per run — must equal the
    direct leftmost scan for every pair over a 2-symbol alphabet (the
    alphabet that maximizes overlapping self-pair runs)."""
    for w1 in ("a", "b"):
        for w2 in ("a", "b"):
            positions = [
                i
                for i in range(len(tokens) - 1)
                if tokens[i] == w1 and tokens[i + 1] == w2
            ]
            # group into runs of consecutive positions
            runs, prev = [], None
            for p in positions:
                if prev is not None and p == prev + 1:
                    runs[-1] += 1
                else:
                    runs.append(1)
                prev = p
            via_runs = sum((k + 1) // 2 for k in runs)
            assert via_runs == _reference_leftmost_merges(tokens, w1, w2)


@settings(max_examples=80, deadline=None)
@given(st.integers(1, 10_000_000))
def test_qsketch_bucket_bounds_contain_their_values(v100):
    """Every cents value must land inside [lo, hi) of its own bucket
    key, and the relative bucket width must respect the <= 1/8 bound
    for the octave-keyed range (v100 >= 8)."""
    from bigdata_spark_realtime_spark.plans.ext_sketch import (
        qsketch_bucket_bounds,
    )

    if v100 < 8:
        bkt = v100
    else:
        L = v100.bit_length()
        bkt = (L << 3) | (v100 >> (L - 3))
    lo, hi = qsketch_bucket_bounds(bkt)
    v = v100 / 100.0
    assert lo <= v < hi, (v100, bkt, lo, hi)
    if v100 >= 8:
        assert (hi - lo) <= lo / 4 + 1e-9  # width <= lo/4 (1/8 of mid)
