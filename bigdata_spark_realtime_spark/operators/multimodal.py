"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The Spark-side contract (BASELINE.json extension ops): media travels as
`binary` payloads with typed metadata; decode / feature-extract /
resize / frame-sample run as Arrow-batched Pandas iterators
(``mapInPandas``) so each executor processes columnar batches — the
100 TB path is payload-partitioned, no driver involvement.

PIL / torchaudio / ffmpeg are NOT in this container, but PNG and WAV
need only the standard library (zlib / wave): ``operators/media_codec``
implements a real spec-level decoder for both, so for those formats the
decode path is genuine — bytes in, pixels/samples out, verified against
pre-encode ground truth. Formats beyond that (JPEG, MP3, video) would
need the absent native libs; for payloads that are not recognizable
media the clearly-marked deterministic fakes below keep the plumbing
(schemas, batch shapes, UDF signatures, partitioning) real and
testable.
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_spark_realtime_spark.operators import media_codec

#: schema of a decoded-media metadata row
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_checksum", T.StringType()),
    ]
)


def _decode_dimensions(payload: bytes) -> tuple[int, int]:
    """PNG payloads decode for REAL (media_codec parses IHDR + verifies
    chunk CRCs). Non-media payloads (e.g. the documents-as-media
    adapter's utf-8 text) fall back to the deterministic fake so the
    plumbing stays testable on any bytes."""
    if media_codec.is_png(payload):
        width, height, _channels, _pixels = media_codec.png_decode(payload)
        return width, height
    if not payload:
        return 0, 0
    return 64 + payload[0] % 64, 64 + payload[-1] % 64


def extract_media_meta(media: DataFrame) -> DataFrame:
    """media(media_id, kind, payload binary) → metadata rows.

    Arrow-batched: each pandas batch is processed vectorized; the only
    per-row Python work is the byte-level decode itself (which is the
    genuinely Python-bound step even with a real decoder lib).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            dims = payloads.map(_decode_dimensions)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "checksum": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                }
            )

    return media.mapInPandas(fn, MEDIA_META_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("content_md5", T.StringType()),
    ]
)


def decode_media(media: DataFrame) -> DataFrame:
    """REAL decode: media(media_id, kind, payload binary) → typed
    metadata + an md5 over the DECODED content (raw pixels for PNG, PCM
    frames for WAV) — the round-trip proof that the decoder reproduced
    the exact pre-encode arrays, not just header fields. Unrecognized
    payloads raise: a decode pipeline that silently passes undecodable
    bytes downstream is how corrupt shards poison a training set."""

    def _decode(payload: bytes) -> tuple:
        # 0, not NULL, for fields the modality lacks: keeps every column
        # solidly integral on both the Spark and oracle sides (nullable
        # ints round-trip as float NaN through pandas, which hash-drifts)
        if media_codec.is_png(payload):
            width, height, channels, pixels = media_codec.png_decode(payload)
            return (
                "image", width, height, channels, 0, 0,
                hashlib.md5(pixels).hexdigest(),
            )
        if media_codec.is_wav(payload):
            n_ch, _sw, rate, n_frames, frames = media_codec.wav_decode(payload)
            return (
                "audio", 0, 0, n_ch, rate, n_frames,
                hashlib.md5(frames).hexdigest(),
            )
        raise ValueError(f"undecodable payload (first bytes: {payload[:8]!r})")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(_decode)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": decoded.map(lambda d: d[0]),
                    "width": decoded.map(lambda d: d[1]).astype("int32"),
                    "height": decoded.map(lambda d: d[2]).astype("int32"),
                    "n_channels": decoded.map(lambda d: d[3]).astype("int32"),
                    "sample_rate": decoded.map(lambda d: d[4]).astype("int32"),
                    "n_frames": decoded.map(lambda d: d[5]).astype("int64"),
                    "content_md5": decoded.map(lambda d: d[6]),
                }
            )

    return media.mapInPandas(fn, DECODED_SCHEMA)


def sample_frames(media: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """Frame-sampling stub for video payloads: one "frame" per
    ``every_n_bytes`` window of the payload (a real implementation would
    seek keyframes via ffmpeg). Demonstrates the 1→N mapInPandas shape."""

    import base64

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_ck = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n_frames = max(1, len(payload) // every_n_bytes)
                for i in range(n_frames):
                    window = payload[i * every_n_bytes : (i + 1) * every_n_bytes]
                    # checksum over the window's BASE64 text, not the raw
                    # bytes: defined for arbitrary binary AND exactly
                    # expressible by a SQL oracle (DuckDB 1.0 can slice
                    # and md5 VARCHARs but not BLOBs; with a 3-byte-
                    # aligned window the base64 of the full payload
                    # slices into per-window groups) — the round-14
                    # adversarial-unicode sweep caught the old
                    # raw-byte-vs-VARCHAR-substring divergence
                    out_ids.append(mid)
                    out_idx.append(i)
                    out_ck.append(
                        hashlib.md5(base64.b64encode(bytes(window))).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out_ids, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "frame_checksum": pd.Series(out_ck, dtype="object"),
                }
            )

    return media.mapInPandas(fn, FRAME_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


#: target dims of the oracle-gated resize query (ext_multimodal_resize)
GATE_RESIZE = 8


def resample_nn(pixels: bytes, w0: int, h0: int, ch: int, width: int, height: int) -> bytes:
    """Nearest-neighbor index-grid resample of raw pixel bytes — shared
    by the executor-side resize and the fixture generator's ground
    truth (so the resize gate can hash-verify the round trip)."""
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h0, w0, ch)
    ys = (np.arange(height) * h0) // height
    xs = (np.arange(width) * w0) // width
    return arr[ys][:, xs].tobytes()


def hash_thumb(payload: bytes, n_out: int) -> bytes:
    """Deterministic md5-chain thumbnail for non-image payloads (the
    documents-as-media / audio path) — shared with the fixture
    generator's ground truth."""
    out = bytearray()
    block = payload[:64] or b"\x00"
    while len(out) < n_out:
        block = hashlib.md5(block).digest()
        out.extend(block)
    return bytes(out[:n_out])


#: perceptual-hash pooling grid (8x8 -> 64-bit fingerprint)
PHASH_GRID = 8

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def phash64(pixels: bytes, w: int, h: int, ch: int) -> int:
    """64-bit average-hash perceptual fingerprint over raw pixels —
    pure integer arithmetic end to end, shared by the executor kernel
    and the fixture generator's ground truth.

    Grayscale via the integer ITU-R 601 luma (``(299 R + 587 G +
    114 B) // 1000``; alpha ignored), adaptive 8x8 block pooling by
    index ranges (no resample step, so any w, h >= 8 works), and the
    mean threshold as an exact integer cross-multiply —
    ``block_sum * n_total > total_sum * n_block`` — so no division
    ever rounds. Bit (r*8 + c) set = block brighter than the global
    mean. Returned wrapped to signed int64 for parquet/Arrow."""
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, ch).astype(np.int64)
    if ch == 1:
        luma = arr[:, :, 0]
    else:
        luma = (
            299 * arr[:, :, 0] + 587 * arr[:, :, 1] + 114 * arr[:, :, 2]
        ) // 1000
    g = PHASH_GRID
    ys = [(r * h) // g for r in range(g + 1)]
    xs = [(c * w) // g for c in range(g + 1)]
    total_sum = int(luma.sum())
    n_total = w * h
    ph = 0
    for r in range(g):
        for c in range(g):
            block = luma[ys[r] : ys[r + 1], xs[c] : xs[c + 1]]
            if int(block.sum()) * n_total > total_sum * block.size:
                ph |= 1 << (r * g + c)
    if ph >= 1 << 63:
        ph -= 1 << 64
    return ph


def phash_media(media: DataFrame) -> DataFrame:
    """(media_id, phash) for every decodable PNG payload — decode +
    fingerprint fused into one Arrow pass (the pixels never leave the
    task). Callers filter to the image modality BEFORE this kernel so
    the scan prunes audio rows (plan-hygiene rule: filters ahead of
    mapInPandas)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": pdf["payload"]
                    .map(lambda p: phash64(*_decoded_pixels(p)))
                    .astype("int64"),
                }
            )

    return media.mapInPandas(fn, PHASH_SCHEMA)


def _decoded_pixels(payload: bytes) -> tuple[bytes, int, int, int]:
    w, h, ch, pixels = media_codec.png_decode(payload)
    return pixels, w, h, ch


def audiohash64(frames: bytes) -> int:
    """64-bit energy-signature fingerprint over decoded 16-bit PCM —
    the audio sibling of :func:`phash64`, in the same pure integer
    arithmetic: adaptive 64-block partition of the sample stream,
    per-block sum of |sample|, bit set where the block's mean energy
    exceeds the global mean (exact cross-multiply threshold — no
    division ever rounds). Robust to small amplitude perturbation the
    same way phash64 is to pixel noise. Requires >= 64 samples."""
    import numpy as np

    samples = np.abs(
        np.frombuffer(frames, dtype="<i2").astype(np.int64)
    )
    n = len(samples)
    total = int(samples.sum())
    bounds = [(b * n) // 64 for b in range(65)]
    ah = 0
    for b in range(64):
        block = samples[bounds[b] : bounds[b + 1]]
        if int(block.sum()) * n > total * len(block):
            ah |= 1 << b
    if ah >= 1 << 63:
        ah -= 1 << 64
    return ah


def audiohash_media(media: DataFrame) -> DataFrame:
    """(media_id, phash) for every decodable WAV payload — decode +
    energy fingerprint in one Arrow pass. Callers filter to the audio
    modality BEFORE this kernel (plan-hygiene rule)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": pdf["payload"]
                    .map(lambda p: audiohash64(media_codec.wav_decode(p)[4]))
                    .astype("int64"),
                }
            )

    return media.mapInPandas(fn, PHASH_SCHEMA)


def frame_luma_sum(pixels: bytes, w: int, h: int, ch: int) -> int:
    """Exact integer luma total of a frame (same ITU-R 601 integer
    luma as :func:`phash64`) — shared by the scene-cut kernel and the
    fixture generator's ground truth."""
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, ch).astype(np.int64)
    if ch == 1:
        luma = arr[:, :, 0]
    else:
        luma = (
            299 * arr[:, :, 0] + 587 * arr[:, :, 1] + 114 * arr[:, :, 2]
        ) // 1000
    return int(luma.sum())


VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("luma_sum", T.LongType()),
        T.StructField("n_pix", T.LongType()),
    ]
)


def video_frame_stats(media: DataFrame) -> DataFrame:
    """(media_id, frame_idx, luma_sum, n_pix) for EVERY frame of every
    MJV clip — container parse + per-frame decode + integer luma
    reduction in one Arrow pass (the input to scene-cut detection;
    2 int64s per frame leave the task, never pixels)."""

    def _stats(row):
        media_id, payload = row
        out = []
        for idx, f in enumerate(media_codec.mjv_decode(payload)):
            w, h, ch, pixels = media_codec.png_decode(f)
            out.append((media_id, idx, frame_luma_sum(pixels, w, h, ch), w * h))
        return out

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                r
                for t in zip(pdf["media_id"], pdf["payload"])
                for r in _stats(t)
            ]
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "luma_sum", "n_pix"]
            ).astype(
                {
                    "media_id": "int64",
                    "frame_idx": "int32",
                    "luma_sum": "int64",
                    "n_pix": "int64",
                }
            )

    return media.mapInPandas(fn, VIDEO_STATS_SCHEMA)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def sample_video_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Keyframe sampling over MJV video containers — the 1→N shape a
    real decoder (ffmpeg keyframe extraction) plugs into, with the
    real PNG codec doing the per-frame decode: parse the container,
    take every k-th frame, decode it spec-level and emit dimensions +
    an md5 over the DECODED pixels. Container parse + frame decode
    fuse into one Arrow pass; pixels never leave the task, and the
    output is bounded by n_frames / k rows per clip regardless of
    payload size."""

    def _frames(row):
        media_id, payload = row
        out = []
        frames = media_codec.mjv_decode(payload)
        for idx in range(0, len(frames), every_k):
            w, h, _ch, pixels = media_codec.png_decode(frames[idx])
            out.append((media_id, idx, w, h, hashlib.md5(pixels).hexdigest()))
        return out

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                r
                for t in zip(pdf["media_id"], pdf["payload"])
                for r in _frames(t)
            ]
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "width", "height", "frame_md5"],
            ).astype(
                {
                    "media_id": "int64",
                    "frame_idx": "int32",
                    "width": "int32",
                    "height": "int32",
                }
            )

    return media.mapInPandas(fn, VIDEO_FRAME_SCHEMA)


def resize_media(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Resize: PNG payloads are REALLY resized — decode → nearest-
    neighbor resample (numpy index grid) → re-encode PNG. Non-media
    payloads keep the deterministic hash-thumbnail fake so the
    binary→binary 1:1 mapInPandas shape stays testable on any bytes.
    Either way the output payload size is bounded by the target dims,
    not the input — the property a 100 TB resize pipeline relies on
    for output sizing."""
    n_out = width * height

    def _resize_png(payload: bytes) -> bytes:
        w0, h0, ch, pixels = media_codec.png_decode(payload)
        return media_codec.png_encode(
            resample_nn(pixels, w0, h0, ch, width, height), width, height, ch
        )

    def _thumb(payload: bytes) -> bytes:
        if media_codec.is_png(payload):
            return _resize_png(payload)
        return hash_thumb(payload, n_out)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "payload": pdf["payload"].map(_thumb),
                }
            )

    return media.mapInPandas(fn, RESIZED_SCHEMA)


FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def extract_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Feature extraction: recognizable media decode for REAL first —
    PNG → raw pixels, WAV → PCM frames — then the histogram featurizer
    runs over the DECODED content (an intensity histogram, the classic
    pre-neural image descriptor), so two encodings of the same pixels
    featurize identically. A learned vision/audio encoder would replace
    the histogram step only; the binary → array<float> contract feeding
    the similarity/ANN operators (operators/similarity.py) is unchanged.
    Non-media payloads featurize their raw bytes (deterministic,
    content-sensitive — the documents-as-media adapter path)."""
    import numpy as np

    def _feats(payload: bytes) -> list[float]:
        if media_codec.is_png(payload):
            payload = media_codec.png_decode(payload)[3]
        elif media_codec.is_wav(payload):
            payload = media_codec.wav_decode(payload)[4]
        arr = np.frombuffer(payload, dtype=np.uint8)
        if arr.size == 0:
            return [0.0] * dim
        hist = np.bincount(arr % dim, minlength=dim).astype("float32")
        norm = float(np.linalg.norm(hist))
        return (hist / norm if norm else hist).tolist()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "features": pdf["payload"].map(_feats),
                }
            )

    return media.mapInPandas(fn, FEATURES_SCHEMA)


#: sign-projection seed — part of the featurizer definition; changing it
#: changes every projection (and the fixture ground truth)
PROJ_SEED = "bsrproj1"


@functools.cache
def _sign_matrix(dim: int):
    """Fixed-seed ±1 projection matrix over the 256 intensity bins,
    derived bin-by-bin from md5 so it is bit-identical everywhere
    (generator process, executors, any numpy version) — the same
    integer-determinism rationale as the SRP planes
    (functions/hashing.py): seeded float RNGs are library-versioned,
    md5 is specified. The cached result is shared, so it is read-only."""
    import numpy as np

    signs = np.empty((dim, 256), dtype=np.int64)
    for d in range(dim):
        digest = hashlib.md5(f"{PROJ_SEED}|{d}".encode()).digest()
        # 256 sign bits from 2 chained md5 blocks (16 bytes = 128 bits)
        digest += hashlib.md5(digest).digest()
        bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))
        signs[d] = bits.astype(np.int64) * 2 - 1
    signs.flags.writeable = False
    return signs


def int_feature_projection(content: bytes, dim: int = FEATURE_DIM) -> list[int]:
    """DECODED content bytes → ``dim`` int64 features: 256-bin intensity
    histogram (a real, classic content descriptor — two encodings of the
    same pixels/PCM featurize identically) projected through the fixed
    ±1 sign matrix. All-integer, so the fixture generator (pre-encode
    arrays) and the executors (decoded arrays) agree bit-for-bit and the
    gate can hash-verify — no float accumulation order to diverge."""
    import numpy as np

    arr = np.frombuffer(content, dtype=np.uint8)
    hist = np.bincount(arr, minlength=256).astype(np.int64)
    return (_sign_matrix(dim) @ hist).tolist()


def proj_hash(proj: list[int]) -> str:
    """Canonical digest of an integer feature vector (the gate's compare
    column): md5 over the comma-joined decimal rendering."""
    return hashlib.md5(",".join(map(str, proj)).encode()).hexdigest()


PROJECTED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dim", T.IntegerType()),
        T.StructField("proj_hash", T.StringType()),
    ]
)


def extract_features_projected(
    media: DataFrame, dim: int = FEATURE_DIM
) -> DataFrame:
    """media → (media_id, dim, proj_hash): REAL decode (PNG pixels / WAV
    PCM via operators/media_codec) feeding :func:`int_feature_projection`.
    This is the verifiable-featurizer gate path — the fixture generator
    computes the same projection from the PRE-encode arrays, so a decode
    or featurizer bug is a hard hash mismatch. Non-media payloads
    featurize raw bytes (documents-as-media adapter path)."""

    def _one(payload: bytes) -> str:
        if media_codec.is_png(payload):
            payload = media_codec.png_decode(payload)[3]
        elif media_codec.is_wav(payload):
            payload = media_codec.wav_decode(payload)[4]
        return proj_hash(int_feature_projection(payload, dim))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dim": pd.Series([dim] * len(pdf), dtype="int32"),
                    "proj_hash": pdf["payload"].map(_one),
                }
            )

    return media.mapInPandas(fn, PROJECTED_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter used by tests/queries: treat each document's utf-8 bytes as
    an opaque payload (the container has no real media fixtures)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/plain").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
