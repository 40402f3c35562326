"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata structs;
decode / resize / perceptual hash (:func:`phash64`) run as one Arrow-batched
UDF over ``mapInPandas``. ``decoder='real'`` (the default) decodes
UNCOMPRESSED formats in pure numpy (BMP 8/24-bit BI_RGB, PNM P5/P6 — zero
new dependencies, round-trip tested) and raises ``NotImplementedError``
for compressed formats (JPEG/PNG/video), which need Pillow/ffmpeg, not
dependencies of this package. ``decoder='fake'`` is the stand-in for
such media: a deterministic hash-seeded pixel array with the declared
shape. The Spark-side plumbing (schema, batch shape, partitioning, UDF
signatures) is identical for both decoders.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = ("media_id long, payload binary, mime string, "
                "width int, height int, n_frames int")


def _fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in decoder: seeded uint8 image of the declared
    shape (seed = md5 of the payload)."""
    seed = int.from_bytes(hashlib.md5(payload).digest()[:4], "big")
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(height, width), dtype=np.uint8)


_LUMA = (0.299, 0.587, 0.114)  # ITU-R BT.601


def _decode_bmp(b: bytes) -> np.ndarray:
    """Uncompressed (BI_RGB) 8-bit-gray / 24-bit BMP → uint8 grayscale."""
    off = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if comp != 0 or bpp not in (8, 24):
        raise NotImplementedError(
            f"BMP decode supports uncompressed 8/24-bit only "
            f"(got bpp={bpp}, compression={comp})")
    bottom_up, h = h > 0, abs(h)
    n_ch = bpp // 8
    stride = (w * n_ch + 3) & ~3  # rows padded to 4 bytes
    data = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
    rows = data.reshape(h, stride)[:, :w * n_ch]
    if n_ch == 1:
        img = rows.copy()
    else:
        bgr = rows.reshape(h, w, 3).astype(np.float64)
        img = np.clip(np.round(_LUMA[2] * bgr[..., 0]
                               + _LUMA[1] * bgr[..., 1]
                               + _LUMA[0] * bgr[..., 2]), 0, 255) \
            .astype(np.uint8)
    return img[::-1].copy() if bottom_up else img


def _decode_pnm(b: bytes) -> np.ndarray:
    """Binary PNM (P5 grayscale / P6 RGB, maxval ≤ 255) → uint8 grayscale."""
    toks: list[bytes] = []
    i = 0
    while len(toks) < 4:
        while i < len(b) and b[i:i + 1].isspace():
            i += 1
        if b[i:i + 1] == b"#":
            while i < len(b) and b[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(b) and not b[j:j + 1].isspace():
            j += 1
        toks.append(b[i:j])
        i = j
    i += 1  # exactly one whitespace byte separates header from raster
    magic, w, h, maxval = toks[0], int(toks[1]), int(toks[2]), int(toks[3])
    if maxval > 255:
        raise NotImplementedError("16-bit PNM unsupported")
    n_ch = 1 if magic == b"P5" else 3
    data = np.frombuffer(b, dtype=np.uint8, count=w * h * n_ch, offset=i)
    if n_ch == 1:
        return data.reshape(h, w).copy()
    rgb = data.reshape(h, w, 3).astype(np.float64)
    return np.clip(np.round(_LUMA[0] * rgb[..., 0]
                            + _LUMA[1] * rgb[..., 1]
                            + _LUMA[2] * rgb[..., 2]), 0, 255) \
        .astype(np.uint8)


def _real_decode(payload: bytes) -> np.ndarray:
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] in (b"P5", b"P6"):
        return _decode_pnm(payload)
    raise NotImplementedError(
        "real decode handles uncompressed BMP/PNM in pure numpy; "
        "compressed formats (JPEG/PNG/video) need Pillow/ffmpeg — not in "
        "this container")


def _resize_area(img: np.ndarray, size: int) -> np.ndarray:
    """Deterministic box-filter resize to ``size×size`` float64 via an
    integral image: cell (i,j) is the exact mean of the source pixels in
    its evenly spread box. Images smaller than ``size`` in a dimension
    degrade to pixel replication (boxes forced non-empty)."""
    h, w = img.shape
    integ = np.zeros((h + 1, w + 1))
    integ[1:, 1:] = img.astype(np.float64).cumsum(0).cumsum(1)
    re = (np.arange(size + 1) * h) // size
    ce = (np.arange(size + 1) * w) // size
    r0 = np.minimum(re[:-1], h - 1)
    r1 = np.maximum(re[1:], r0 + 1)
    c0 = np.minimum(ce[:-1], w - 1)
    c1 = np.maximum(ce[1:], c0 + 1)
    sums = (integ[np.ix_(r1, c1)] - integ[np.ix_(r0, c1)]
            - integ[np.ix_(r1, c0)] + integ[np.ix_(r0, c0)])
    return sums / ((r1 - r0)[:, None] * (c1 - c0)[None, :])


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (scipy-free; this container has no scipy)."""
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    mat = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    mat[0] /= np.sqrt(2.0)
    return mat


def _phash_one(img: np.ndarray, img_size: int, hash_size: int,
               dct_mat: np.ndarray) -> int:
    small = _resize_area(img, img_size)
    coef = (dct_mat @ small @ dct_mat.T)[:hash_size, :hash_size].ravel()
    med = np.median(coef[1:])  # DC term excluded from the median (pHash)
    bits = coef > med
    val = 0
    for i in np.nonzero(bits)[0]:
        val |= 1 << int(i)
    return val - (1 << 64) if val >= (1 << 63) else val


def phash64(df: DataFrame, decoder: str = "real",
            id_col: str = "media_id", img_size: int = 32,
            hash_size: int = 8) -> DataFrame:
    """64-bit perceptual hash per media row: decode → box-filter resize to
    ``img_size²`` → 2-D DCT-II → ``hash_size²`` low-frequency block →
    bit ``i`` = coefficient ``i`` above the block median (DC excluded from
    the median, as in classic pHash). Near-identical images agree on all
    but a few bits, so Hamming distance is the near-dup metric.

    Map-only Arrow pass (no shuffle; the DCT is two 32×32 matmuls per
    row); per-row deterministic, so the hash is partitioning-invariant.
    Feed the output to :func:`phash_near_pairs` — the pigeonhole banded
    join — for all-pairs near-dup detection at corpus scale.
    """
    if decoder not in ("fake", "real"):
        raise ValueError("decoder must be 'fake' or 'real'")
    if hash_size * hash_size != 64:
        raise ValueError("phash64 packs exactly 64 bits: hash_size must be 8")
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dct_mat = _dct_matrix(img_size)
        for pdf in batches:
            hashes = []
            for payload, w, h in zip(pdf["payload"], pdf["width"],
                                     pdf["height"]):
                if decoder == "real":
                    img = _real_decode(bytes(payload))
                else:
                    img = _fake_decode(bytes(payload), int(w), int(h))
                hashes.append(_phash_one(img, img_size, hash_size, dct_mat))
            yield pd.DataFrame({id_col: pdf[id_col],
                                "phash": pd.array(hashes, dtype="int64")})

    return df.select(id_col, "payload", "width", "height").mapInPandas(
        run, schema=f"{id_col} {id_type}, phash long")


def phash_near_pairs(hashes: DataFrame, id_col: str = "media_id",
                     max_hamming: int = 6,
                     star_over: int | None = None) -> DataFrame:
    """All media pairs within ``max_hamming`` bits of pHash — the
    multimodal near-dup detector. Pure reuse of the SimHash pigeonhole
    banded join (``dedup.simhash_near_pairs``): ≤3 bits → single-chunk
    buckets, 4-7 → chunk-pair buckets, exact ``bit_count(xor)``
    verification after bucketing; ``star_over`` guards giant clusters."""
    from .dedup import simhash_near_pairs

    return simhash_near_pairs(hashes, id_col=id_col,
                              max_hamming=max_hamming,
                              star_over=star_over, hash_col="phash")


def synth_media_from_ids(ids: DataFrame, id_col: str = "doc_id",
                         n_groups: int = 200, width: int = 64,
                         height: int = 48) -> DataFrame:
    """Deterministic P5-PNM image per id, built so ids sharing
    ``md5(id) % n_groups`` are near-duplicates: every group member starts
    from the group's base image (seeded gradient + blocks) and gets a
    small per-id block perturbation. Pure plumbing for tests/queries —
    the container ships no real image corpus — but the payloads are REAL
    PNM bytes exercised through the real decoder. Map-only."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yy, xx = np.mgrid[0:height, 0:width]
        base_cache: dict[int, np.ndarray] = {}  # gid -> group base image

        def group_base(gid: int) -> np.ndarray:
            # deterministic per gid, so memoizing per task changes
            # nothing — every member of a group otherwise re-generates
            # the identical base image (the per-row hot spot here)
            img = base_cache.get(gid)
            if img is None:
                grng = np.random.RandomState(1000 + gid)
                img = ((xx * grng.randint(1, 5) + yy * grng.randint(1, 5))
                       % 256).astype(np.float64)
                for _ in range(4):  # group-specific rectangles
                    y0 = grng.randint(0, height - 8)
                    x0 = grng.randint(0, width - 8)
                    img[y0:y0 + 8, x0:x0 + 8] = grng.randint(0, 256)
                base_cache[gid] = img
            return img

        for pdf in batches:
            payloads, widths, heights = [], [], []
            for sid in pdf[id_col].astype(str):
                gid = int(hashlib.md5(sid.encode()).hexdigest()[:8], 16) \
                    % n_groups
                img = group_base(gid).copy()
                # per-id perturbation: one small dim rectangle
                irng = np.random.RandomState(
                    int(hashlib.md5((sid + "#p").encode()).hexdigest()[:8],
                        16))
                y0 = irng.randint(0, height - 4)
                x0 = irng.randint(0, width - 4)
                img[y0:y0 + 4, x0:x0 + 4] *= 0.5
                raster = np.clip(np.round(img), 0, 255).astype(np.uint8)
                payloads.append(b"P5\n%d %d\n255\n" % (width, height)
                                + raster.tobytes())
                widths.append(width)
                heights.append(height)
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads,
                                "width": pd.array(widths, dtype="int32"),
                                "height": pd.array(heights, dtype="int32")})

    id_type = ids.schema[id_col].dataType.simpleString()
    return ids.select(id_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, payload binary, "
                    "width int, height int")


def make_fake_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests/bench."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(f"media-{i}".encode()).digest() * 4
        rows.append((i, bytearray(payload), "image/fake", 32 + (i % 5) * 8,
                     24 + (i % 3) * 8, 30 + i))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
