"""Spectral audio fingerprinting (ops/audiofp) — gain/resample/
quantization invariance, cross-codec identity through the repo's own
WAV/AIFF/AU encoders, and the Spark mapInPandas surface with
per-row decode failures."""

from __future__ import annotations

import numpy as np

from osmart_etl_spark.ops.audiofp import audio_fingerprints, spectral_hash64
from osmart_etl_spark.ops.dedup import hamming_neardup_pairs
from osmart_etl_spark.ops.imagehash import hamming64


def _clip(seed: int = 7, sr: int = 8000, secs: float = 2.0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t = np.arange(int(sr * secs)) / sr
    x = (
        0.4 * np.sin(2 * np.pi * (200 + 150 * t) * t)
        + 0.3 * np.sin(2 * np.pi * 900 * t) * (1 + 0.5 * np.sin(2 * np.pi * 3 * t))
        + 0.05 * rng.normal(size=t.size)
    )
    return np.clip(x, -0.99, 0.99)[:, None]


def test_invariances_and_discrimination():
    sr = 8000
    clip = _clip()
    h = spectral_hash64(clip, sr)

    # algebraic gain invariance: EXACT
    assert spectral_hash64(clip * 0.3, sr) == h
    # 16-bit quantization (what PCM encoding does): EXACT here
    assert spectral_hash64(np.round(clip * 32767) / 32767, sr) == h
    # stereo fold of identical channels: EXACT
    assert spectral_hash64(np.concatenate([clip, clip], axis=1), sr) == h
    # 2x resample (absolute-Hz bands): identical content, same hash
    assert hamming64(h, spectral_hash64(np.repeat(clip, 2, axis=0), sr * 2)) <= 2
    # mild additive noise: a few bits
    rng = np.random.default_rng(11)
    noisy = np.clip(clip + 0.02 * rng.normal(size=clip.shape), -0.99, 0.99)
    assert hamming64(h, spectral_hash64(noisy, sr)) <= 8

    # a different clip sits near the 32-bit random baseline
    t = np.arange(sr * 2) / sr
    other = np.clip(
        0.5 * np.sin(2 * np.pi * 1500 * t + np.sin(2 * np.pi * 7 * t))
        + 0.2 * np.random.default_rng(9).normal(size=t.size),
        -0.99,
        0.99,
    ).reshape(-1, 1)
    assert hamming64(h, spectral_hash64(other, sr)) >= 16


def test_cross_codec_fingerprints_match(spark):
    """The SAME audio encoded as WAV, AIFF and AU (all real codecs in
    this repo) must fingerprint near-identically — within the 16-bit
    PCM quantization noise — and the banded join finds every
    cross-codec pair; mp3-looking and corrupt payloads surface as
    decode_status."""
    from osmart_etl_spark.ops.audio import encode_aiff, encode_au
    from osmart_etl_spark.ops.multimodal import encode_wav

    sr = 8000
    clip = _clip()
    other = _clip(seed=99) * 0.0 + np.clip(
        0.5
        * np.sin(
            2 * np.pi * 1500 * np.arange(sr * 2) / sr
            + np.sin(2 * np.pi * 7 * np.arange(sr * 2) / sr)
        ).reshape(-1, 1)
        + 0.2 * np.random.default_rng(9).normal(size=(sr * 2, 1)),
        -0.99,
        0.99,
    )
    pcm16 = np.round(clip * 32767).astype(np.int16)
    rows = [
        (0, bytearray(encode_wav(pcm16, sr))),
        (1, bytearray(encode_aiff(clip, sr))),
        (2, bytearray(encode_au(clip, sr))),
        (4, bytearray(encode_wav(np.round(other * 32767).astype(np.int16), sr))),
        (5, bytearray(b"\xff\xfb\x90\x00fake-mp3-frame-header-payload")),
        (6, bytearray(b"not audio at all")),
    ]
    media = spark.createDataFrame(rows, "media_id bigint, content binary")
    fps = audio_fingerprints(media).cache()
    by_id = {r.media_id: r for r in fps.collect()}
    for i in (0, 1, 2, 4):
        assert by_id[i].decode_status == "ok", by_id[i]
        assert by_id[i].sample_rate == sr
    assert by_id[5].decode_status.startswith("error:") and by_id[5].afp is None
    assert by_id[6].decode_status.startswith("error:")

    # all three codec forms of the same clip within quantization distance
    base = by_id[0].afp
    for i in (1, 2):
        assert hamming64(base, by_id[i].afp) <= 2, i
    assert hamming64(base, by_id[4].afp) >= 16

    ok = fps.filter("decode_status = 'ok'")
    pairs = {
        (r.id_a, r.id_b)
        for r in hamming_neardup_pairs(ok, "media_id", "afp", max_dist=4).collect()
    }
    same = {0, 1, 2}
    for a in same:
        for b in same:
            if a < b:
                assert (a, b) in pairs, (a, b)
    assert not any(4 in p for p in pairs)
