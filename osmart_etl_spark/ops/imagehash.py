"""Perceptual image and video hashing — the IMAGE tier of
the dedup stack (the multimodal counterpart of MinHash-LSH for text and
SRP-LSH for embeddings).

Hashes (both REAL, pure numpy over the repo's own pixel decoders —
``ops/multimodal.decode_image_pixels`` dispatches PNG/JPEG/GIF/
PNM/BMP/RAS/TIFF/SGI/XBM/EXR):

- ``dhash64``: 64-bit difference hash — box-resize the grayscale to
  9x8, emit the sign of each horizontal gradient. Invariant to any
  monotone per-pixel intensity map (brightness/contrast/gamma), robust
  to resizing and mild noise; the cheap first-pass hash.
- ``phash64``: 64-bit perceptual hash — box-resize to 32x32, 2-D
  DCT-II (explicit cosine-basis matmul, no scipy), keep the 8x8
  low-frequency block (DC replaced by its neighbors' median decision),
  threshold each coefficient against the block median. Robust to
  resizing, recompression artifacts, small crops/noise.

Near-dup join: ``ops/dedup.hamming_neardup_pairs`` — the EXACT
pigeonhole-banded Hamming join that also serves SimHash text dedup
(the ``simhash_hamming_neardup`` registry query proves its completeness
against a DuckDB brute-force oracle). ``video_neardup_pairs`` runs it
over sampled frame hashes.

100 TB shape: hashing is an embarrassingly-parallel ``mapInPandas``
over binary shards (scan-bound); the banded join shuffles ~(bands x
corpus) 16-byte rows — the same banding cost model as MinHash-LSH.
A band value shared by k rows yields k(k-1)/2 candidates, and flat
images (solid colors) hash identically, so mass-duplicated flat
images are best removed by exact dedup before the banded join.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def to_gray(img: np.ndarray) -> np.ndarray:
    """Luma (BT.601 weights) as float64 2-D array from (H, W[, C])
    uint8 pixels; alpha is ignored."""
    a = np.asarray(img, dtype=np.float64)
    if a.ndim == 2:
        return a
    if a.shape[2] == 1:
        return a[:, :, 0]
    return 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]


def box_resize(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-average downsample to (out_h, out_w): each output cell is
    the mean of its (possibly ragged) input block — anti-aliased,
    unlike nearest-neighbor, which is what makes the hashes stable
    under re-scaling. Upsampling degenerates to pixel replication."""
    h, w = gray.shape
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    out = np.empty((out_h, out_w), dtype=np.float64)
    for i in range(out_h):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        row = gray[y0:y1]
        for j in range(out_w):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            out[i, j] = row[:, x0:x1].mean()
    return out


def _bits_to_int64(bits: np.ndarray) -> int:
    """Pack a flat 0/1 array (MSB first) into a SIGNED 64-bit int —
    the two's-complement value a Spark/DuckDB BIGINT column carries."""
    v = 0
    for b in bits.astype(np.uint64).flat:
        v = (v << 1) | int(b)
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash: sign of each horizontal gradient of the
    9x8 box-resized luma."""
    g = box_resize(to_gray(img), 8, 9)
    return _bits_to_int64((g[:, 1:] > g[:, :-1]).astype(np.uint64))


_DCT32 = np.cos(np.pi * (np.arange(32)[:, None] + 0.5) * np.arange(32)[None, :] / 32.0)


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash: 32x32 box resize, 2-D DCT-II, 8x8
    low-frequency block thresholded against its own median (median of
    the 64 coefficients with DC included in the ranking but the
    threshold comparison is > so ties fall to 0)."""
    g = box_resize(to_gray(img), 32, 32)
    coef = _DCT32.T @ g @ _DCT32  # DCT-II along both axes (unnormalized)
    low = coef[:8, :8].copy()
    med = np.median(low)
    return _bits_to_int64((low > med).astype(np.uint64))


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


IMAGE_HASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
        StructField("dhash", LongType()),
        StructField("decode_status", StringType()),
    ]
)


def image_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    batch_size_hint: int = 64,
) -> DataFrame:
    """(id, phash, dhash, decode_status) for a binary image column via
    ``mapInPandas`` — Arrow-batched, one decode per row, per-row
    failures become ``decode_status`` (never a fabricated hash; the
    errors-as-data doctrine of ``ops/multimodal``)."""
    from osmart_etl_spark.ops.multimodal import decode_image_pixels

    def hash_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ph, dh, status = [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[content_col]):
                ids.append(mid)
                try:
                    img = decode_image_pixels(bytes(payload))
                    ph.append(phash64(img))
                    dh.append(dhash64(img))
                    status.append("ok")
                except Exception as exc:  # noqa: BLE001 — per-row triage
                    ph.append(None)
                    dh.append(None)
                    status.append(f"error:{type(exc).__name__}:{exc}"[:120])
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="Int64"),
                    "phash": pd.array(ph, dtype="Int64"),
                    "dhash": pd.array(dh, dtype="Int64"),
                    "decode_status": status,
                }
            )

    return media.select(id_col, content_col).mapInPandas(
        hash_batches, schema=IMAGE_HASH_SCHEMA
    )


VIDEO_HASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_phashes", ArrayType(LongType())),
        StructField("n_frames", LongType()),
        StructField("decode_status", StringType()),
    ]
)


def video_phashes(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    k_frames: int = 8,
) -> DataFrame:
    """(id, frame_phashes, n_frames, decode_status) — the VIDEO tier of
    perceptual dedup: decode real frames (Y4M / AVI-MJPEG via
    ``ops/multimodal.decode_video_frames``), sample up to ``k_frames``
    evenly (first and last always included), pHash each. Inter-frame
    codecs and corrupt payloads surface as ``decode_status``.

    Near-dup clips: explode ``frame_phashes`` with their index and feed
    ``hamming_neardup_pairs`` per frame slot, then require a minimum
    number of matching slots per clip pair (``video_neardup_pairs``) —
    temporal trimming tolerance comes from matching on frame HASH
    values, spatial tolerance from pHash itself."""
    from osmart_etl_spark.ops.multimodal import _sample_evenly, decode_video_frames

    def hash_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fhs, nfs, status = [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[content_col]):
                ids.append(mid)
                try:
                    frames = decode_video_frames(bytes(payload))
                    sampled = _sample_evenly(frames, k_frames)
                    fhs.append([phash64(f) for f in sampled])
                    nfs.append(len(frames))
                    status.append("ok")
                except NotImplementedError as exc:
                    fhs.append(None)
                    nfs.append(None)
                    status.append(f"stub_not_implemented:{exc}"[:120])
                except Exception as exc:  # noqa: BLE001 — per-row triage
                    fhs.append(None)
                    nfs.append(None)
                    status.append(f"error:{type(exc).__name__}:{exc}"[:120])
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="Int64"),
                    "frame_phashes": fhs,
                    "n_frames": pd.array(nfs, dtype="Int64"),
                    "decode_status": status,
                }
            )

    return media.select(id_col, content_col).mapInPandas(
        hash_batches, schema=VIDEO_HASH_SCHEMA
    )


def video_neardup_pairs(
    vhashes: DataFrame,
    id_col: str = "media_id",
    *,
    max_dist: int = 8,
    min_matching_frames: int = 2,
) -> DataFrame:
    """Clip pairs sharing >= ``min_matching_frames`` near-identical
    sampled frames (pHash Hamming <= ``max_dist``): explode the frame
    hashes, run the banded Hamming join over ALL frames of all clips,
    then count distinct matching frame slots per clip pair. Output
    (id_a, id_b, n_matching_frames)."""
    from osmart_etl_spark.ops.dedup import hamming_neardup_pairs

    frames = vhashes.select(
        F.col(id_col),
        F.posexplode("frame_phashes").alias("slot", "fh"),
    ).withColumn(
        # composite row id as a STRUCT (banding needs unique, orderable
        # ids; struct comparison is lexicographic so id_a < id_b works).
        # An arithmetic packing (clip*1000+slot) would silently mis-pair
        # negative clip ids and overflow bigint near 9.2e15.
        "__fid",
        F.struct(F.col(id_col).alias("clip"), F.col("slot").alias("slot")),
    )
    pairs = hamming_neardup_pairs(frames, "__fid", "fh", max_dist=max_dist)
    clip_pairs = pairs.select(
        F.col("id_a.clip").alias("clip_a"),
        F.col("id_a.slot").alias("slot_a"),
        F.col("id_b.clip").alias("clip_b"),
    ).filter(F.col("clip_a") != F.col("clip_b"))
    norm = clip_pairs.select(
        F.least("clip_a", "clip_b").alias("id_a"),
        F.greatest("clip_a", "clip_b").alias("id_b"),
        "slot_a",
    ).distinct()
    return (
        norm.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matching_frames"))
        .filter(F.col("n_matching_frames") >= min_matching_frames)
    )
