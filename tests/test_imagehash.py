"""Perceptual image hashing (ops/imagehash) — the image tier of the
dedup stack. Hash robustness is tested on real encoded images (PNG/PNM
via the repo's own codecs), the Spark surface end-to-end with per-row
decode failures, and frame-sampled video near-dup pairing over the
Hamming-banded join (its completeness is tested in
tests/test_soft_dedup.py)."""

from __future__ import annotations

import pytest

import numpy as np

from osmart_etl_spark.ops.dedup import hamming_neardup_pairs
from osmart_etl_spark.ops.imagehash import (
    box_resize,
    dhash64,
    hamming64,
    image_hashes,
    phash64,
)


def _base_image(seed: int = 5, h: int = 48, w: int = 64) -> np.ndarray:
    """A structured test image: smooth gradient + blocks + seeded noise
    (pure noise has no low-frequency structure for pHash to key on)."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = 80 + 100 * np.sin(xx / 9.0) + 60 * (yy > h // 2)
    img = img + rng.normal(0, 6, size=(h, w))
    return np.clip(img, 0, 255).astype(np.uint8)


def test_hashes_stable_under_benign_transforms():
    img = _base_image()
    ph, dh = phash64(img), dhash64(img)

    # resize (downscale 2x): both hashes stay near-identical
    small = box_resize(img.astype(np.float64), 24, 32)
    small = np.clip(np.round(small), 0, 255).astype(np.uint8)
    assert hamming64(ph, phash64(small)) <= 10
    assert hamming64(dh, dhash64(small)) <= 6

    # brightness/contrast (monotone intensity map): dHash INVARIANT,
    # pHash near-invariant (median threshold tracks the shift)
    bright = np.clip(img.astype(np.int32) + 40, 0, 255).astype(np.uint8)
    assert dhash64(bright) == dh
    assert hamming64(ph, phash64(bright)) <= 16

    # mild noise
    rng = np.random.default_rng(11)
    noisy = np.clip(
        img.astype(np.float64) + rng.normal(0, 3, img.shape), 0, 255
    ).astype(np.uint8)
    assert hamming64(ph, phash64(noisy)) <= 6
    assert hamming64(dh, dhash64(noisy)) <= 10


def test_distinct_images_are_far():
    a, b = _base_image(seed=5), _base_image(seed=99).T.copy()
    # different structure -> hashes far apart (random baseline is 32)
    assert hamming64(phash64(a), phash64(b)) >= 16
    assert hamming64(dhash64(a), dhash64(b)) >= 16


@pytest.mark.slow
def test_image_hashes_spark_surface(spark):
    """End-to-end: encode real PNG/PNM payloads, hash via mapInPandas,
    find the planted near-dup pair via banding; a corrupt payload
    becomes decode_status, never a fabricated hash."""
    from osmart_etl_spark.ops.imagefmt import encode_pnm
    from osmart_etl_spark.ops.multimodal import encode_png

    img = _base_image()
    rng = np.random.default_rng(3)
    noisy = np.clip(
        img.astype(np.float64) + rng.normal(0, 2, img.shape), 0, 255
    ).astype(np.uint8)
    other = _base_image(seed=99).T.copy()

    rows = [
        (0, bytearray(encode_png(img[:, :, None]))),
        (1, bytearray(encode_pnm(noisy))),  # same scene, different codec
        (2, bytearray(encode_png(other[:, :, None]))),
        (3, bytearray(b"\x89PNG\r\n\x1a\truncated-not-a-real-png")),
    ]
    media = spark.createDataFrame(rows, "media_id bigint, content binary")
    hashes = image_hashes(media).cache()
    by_id = {r.media_id: r for r in hashes.collect()}
    assert by_id[0].decode_status == "ok" and by_id[1].decode_status == "ok"
    assert by_id[2].decode_status == "ok"
    assert by_id[3].decode_status.startswith("error:") and by_id[3].phash is None

    ok = hashes.filter("decode_status = 'ok'")
    pairs = {
        (r.id_a, r.id_b)
        for r in hamming_neardup_pairs(
            ok, "media_id", "phash", max_dist=10
        ).collect()
    }
    assert (0, 1) in pairs  # the cross-codec near-dup pair
    assert (0, 2) not in pairs and (1, 2) not in pairs


@pytest.mark.slow
def test_video_phash_neardup(spark):
    """Video tier: Y4M clips built from the image fixtures — a clip and
    its noisy re-encode match on (nearly) all sampled frames; a clip of
    different scenes does not; an inter-frame codec payload surfaces as
    stub_not_implemented."""
    from osmart_etl_spark.ops.imagehash import video_neardup_pairs, video_phashes
    from osmart_etl_spark.ops.video import encode_y4m

    h, w = 48, 64
    rng = np.random.default_rng(2)

    def planes(img):
        # 420jpeg: quarter-size chroma planes (flat gray chroma)
        return (
            img.astype(np.uint8),
            np.full((h // 2, w // 2), 128, np.uint8),
            np.full((h // 2, w // 2), 128, np.uint8),
        )

    scenes = [_base_image(seed=s) for s in (5, 6, 7, 8)]
    clip_a = encode_y4m([planes(s) for s in scenes], w, h)
    noisy_scenes = [
        np.clip(s.astype(np.float64) + rng.normal(0, 2, s.shape), 0, 255).astype(
            np.uint8
        )
        for s in scenes
    ]
    clip_b = encode_y4m([planes(s) for s in noisy_scenes], w, h)
    # transposed geometry (gradient runs vertically) = genuinely
    # different scenes, at the correct (h, w) frame shape
    other = [
        np.ascontiguousarray(_base_image(seed=s, h=w, w=h).T) for s in (60, 61, 62, 63)
    ]
    clip_c = encode_y4m([planes(s) for s in other], w, h)

    rows = [
        (0, bytearray(clip_a)),
        (1, bytearray(clip_b)),
        (2, bytearray(clip_c)),
        (3, bytearray(b"\x00\x00\x00\x18ftypmp42-not-decodable")),
    ]
    media = spark.createDataFrame(rows, "media_id bigint, content binary")
    vh = video_phashes(media, k_frames=4).cache()
    by_id = {r.media_id: r for r in vh.collect()}
    assert by_id[0].decode_status == "ok" and by_id[0].n_frames == 4
    assert len(by_id[0].frame_phashes) == 4
    assert by_id[3].decode_status.startswith("stub_not_implemented")

    pairs = {
        (r.id_a, r.id_b): r.n_matching_frames
        for r in video_neardup_pairs(
            vh.filter("decode_status = 'ok'"), max_dist=8, min_matching_frames=3
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 3
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_video_neardup_handles_negative_and_large_clip_ids(spark):
    """The struct frame key must pair clips correctly where the old
    arithmetic packing (clip*1000+slot) broke: negative ids and ids near
    the bigint ceiling (round-11 ADVICE)."""
    from osmart_etl_spark.ops.imagehash import video_neardup_pairs

    big = 9_300_000_000_000_000  # > bigint_max / 1000: packing overflowed
    h = [(1 << 10) | (1 << 30), (1 << 11) | (1 << 33), (1 << 12) | (1 << 36)]
    vh = spark.createDataFrame(
        [(-5, h), (big, h), (7, [x ^ (1 << 62) for x in h])],
        "media_id bigint, frame_phashes array<bigint>",
    )
    pairs = {
        (r.id_a, r.id_b): r.n_matching_frames
        for r in video_neardup_pairs(vh, max_dist=0, min_matching_frames=3).collect()
    }
    assert pairs == {(-5, big): 3}
