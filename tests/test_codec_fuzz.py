"""Corruption-fuzz for the round-7 codecs (gif/video/imagefmt):
flipping/truncating arbitrary bytes of a valid payload must yield
either a successful decode or ValueError — never a hang, a crash, an
IndexError, or a numpy broadcast error. This is the error contract
``ops/multimodal.extract_features`` relies on to map corrupt rows to
``decode_status='decode_error'`` instead of failing a 100 TB job.

Deterministic seeds (no hypothesis dependency needed): every flipped
offset is derived from a fixed rng, so a failure reproduces exactly.
"""

from __future__ import annotations

import numpy as np
import pytest


def _fuzz(decode, payload: bytes, rounds: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    n = len(payload)
    for _ in range(rounds):
        mode = int(rng.integers(0, 3))
        buf = bytearray(payload)
        if mode == 0:  # flip 1-4 bytes
            for _ in range(int(rng.integers(1, 5))):
                buf[int(rng.integers(0, n))] = int(rng.integers(0, 256))
            data = bytes(buf)
        elif mode == 1:  # truncate
            data = bytes(buf[: int(rng.integers(1, n))])
        else:  # splice a random block
            off = int(rng.integers(0, n))
            data = bytes(buf[:off]) + rng.integers(0, 256, 16, dtype=np.uint8).tobytes() + bytes(buf[off:])
        try:
            decode(data)
        except ValueError:
            pass  # the contract
        # any other exception type propagates and fails the test


def test_fuzz_gif():
    from osmart_etl_spark.ops.gif import decode_gif, encode_gif

    rng = np.random.default_rng(0)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    payload = encode_gif([rng.integers(0, 16, (24, 18), dtype=np.uint8)], pal)
    _fuzz(decode_gif, payload, rounds=300, seed=1)


def test_fuzz_y4m():
    from osmart_etl_spark.ops.video import decode_y4m, encode_y4m

    rng = np.random.default_rng(2)
    frames = [
        (
            rng.integers(0, 256, (12, 16), dtype=np.uint8),
            rng.integers(0, 256, (6, 8), dtype=np.uint8),
            rng.integers(0, 256, (6, 8), dtype=np.uint8),
        )
        for _ in range(3)
    ]
    payload = encode_y4m(frames, 16, 12)
    _fuzz(decode_y4m, payload, rounds=300, seed=3)


def test_fuzz_avi_mjpeg():
    from osmart_etl_spark.ops.jpeg import encode_jpeg
    from osmart_etl_spark.ops.video import decode_avi, encode_avi_mjpeg

    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    payload = encode_avi_mjpeg([encode_jpeg(img)] * 2, 16, 16)
    _fuzz(decode_avi, payload, rounds=200, seed=5)


@pytest.mark.parametrize("fmt", ["pnm", "bmp", "ras", "tiff", "sgi", "xbm"])
def test_fuzz_imagefmt(fmt):
    from osmart_etl_spark.ops import imagefmt

    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, (12, 10, 3), dtype=np.uint8)
    if fmt == "pnm":
        payload, decode = imagefmt.encode_pnm(img), imagefmt.decode_pnm
    elif fmt == "bmp":
        payload, decode = imagefmt.encode_bmp(img), imagefmt.decode_bmp
    elif fmt == "ras":
        from tests.imghdr_fixtures import fixture

        payload, decode = fixture("python.ras"), imagefmt.decode_ras
    elif fmt == "tiff":
        from tests.imghdr_fixtures import fixture

        payload, decode = fixture("python.tiff"), imagefmt.decode_tiff
    elif fmt == "sgi":
        from tests.imghdr_fixtures import fixture

        payload, decode = fixture("python.sgi"), imagefmt.decode_sgi
    else:
        payload = (
            b"#define f_width 10\n#define f_height 12\n"
            b"static char f_bits[] = {" + b",".join(b"0x%02x" % v for v in rng.integers(0, 256, 24)) + b"};"
        )
        decode = imagefmt.decode_xbm
    _fuzz(decode, payload, rounds=200, seed=9)


def test_fuzz_preexisting_codecs():
    """Same contract for the pre-round-7 codecs (JPEG, PNG, WAV):
    locked in here so a future edit can't regress them."""
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    from osmart_etl_spark.ops.jpeg import decode_jpeg, encode_jpeg
    from osmart_etl_spark.ops.multimodal import (
        decode_png,
        decode_wav,
        encode_png,
        encode_wav,
    )

    _fuzz(decode_jpeg, encode_jpeg(img), rounds=200, seed=11)
    _fuzz(decode_png, encode_png(img), rounds=200, seed=14)
    samples = (rng.integers(-3000, 3000, (500, 2))).astype(np.int16)
    _fuzz(decode_wav, encode_wav(samples, 8000), rounds=200, seed=13)


def _sweep_truncations(decode, payload: bytes) -> None:
    """Exhaustive truncation sweep: EVERY prefix of a valid payload must
    decode or raise ValueError — never IndexError (round-8 ADVICE: the
    random fuzz missed decode_gif(payload[:9]) by seed luck)."""
    for k in range(len(payload)):
        try:
            decode(payload[:k])
        except ValueError:
            pass


def test_truncation_sweep_all_codecs():
    from osmart_etl_spark.ops.gif import decode_gif, encode_gif
    from osmart_etl_spark.ops.jpeg import decode_jpeg, encode_jpeg
    from osmart_etl_spark.ops.multimodal import (
        decode_png,
        decode_wav,
        encode_png,
        encode_wav,
    )
    from osmart_etl_spark.ops import imagefmt
    from osmart_etl_spark.ops.video import (
        decode_avi,
        decode_y4m,
        encode_avi_mjpeg,
        encode_y4m,
    )

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (8, 6, 3), dtype=np.uint8)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    _sweep_truncations(decode_gif, encode_gif([rng.integers(0, 8, (8, 6), dtype=np.uint8)], pal))
    _sweep_truncations(decode_jpeg, encode_jpeg(img))
    _sweep_truncations(decode_png, encode_png(img))
    _sweep_truncations(imagefmt.decode_pnm, imagefmt.encode_pnm(img))
    _sweep_truncations(imagefmt.decode_bmp, imagefmt.encode_bmp(img))
    _sweep_truncations(imagefmt.decode_exr, imagefmt.encode_exr(rng.random((4, 3, 3), dtype=np.float32), ["B", "G", "R"]))
    samples = (rng.integers(-2000, 2000, (64, 2))).astype(np.int32)
    _sweep_truncations(decode_wav, encode_wav(samples.astype(np.int16), 8000))
    frames = [
        (
            rng.integers(0, 256, (4, 4), dtype=np.uint8),
            rng.integers(0, 256, (2, 2), dtype=np.uint8),
            rng.integers(0, 256, (2, 2), dtype=np.uint8),
        )
    ]
    _sweep_truncations(decode_y4m, encode_y4m(frames, 4, 4))
    _sweep_truncations(decode_avi, encode_avi_mjpeg([encode_jpeg(img)], 6, 8))


def test_fuzz_exr():
    from osmart_etl_spark.ops.imagefmt import decode_exr, encode_exr

    rng = np.random.default_rng(15)
    img = rng.random((8, 6, 3), dtype=np.float32)
    for zips in (False, True):
        _fuzz(decode_exr, encode_exr(img, ["B", "G", "R"], zips=zips), rounds=150, seed=16)
