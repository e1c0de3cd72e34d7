"""Video container decoders (ops/video.py): Y4M and AVI/MJPEG.

Validation strategy (no ffmpeg in the container, same tiering as the
JPEG codec):
- Y4M: encode→decode plane identity across all supported colorspaces,
  plus hand-computed BT.601 conversion anchors (black/white/red).
- AVI/MJPEG: frames wrapped by the fixture muxer must decode to the
  SAME pixels as decoding the raw JPEG bytes directly — a differential
  oracle against the independently validated T.81 codec.
- The MJPEG omitted-DHT quirk: stripping the DHT segment from a frame
  and re-injecting the Annex K tables must reproduce identical pixels.
- Header-bomb caps: giant declared dimensions fail fast (ValueError).
"""

import numpy as np
import pytest


def _gradient(h, w, seed, channels=3):
    base = (
        np.add.outer(np.arange(h, dtype=np.int32) * 7, np.arange(w, dtype=np.int32) * 3)
        + seed * 11
    )
    if channels == 1:
        return (base % 256).astype(np.uint8)
    return np.stack([(base + c * 37) % 256 for c in range(channels)], axis=-1).astype(
        np.uint8
    )


# ---------------------------------------------------------------------------
# Y4M
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "cspace,shifts",
    [(b"420jpeg", (1, 1)), (b"422", (1, 0)), (b"444", (0, 0)), (b"mono", None)],
)
def test_y4m_roundtrip_identity(cspace, shifts):
    from osmart_etl_spark.ops.video import decode_y4m_planes, encode_y4m

    w, h, n_frames = 16, 12, 5
    rng = np.random.default_rng(42)
    frames = []
    for _ in range(n_frames):
        y = rng.integers(0, 256, (h, w), dtype=np.uint8)
        if shifts is None:
            frames.append((y,))
        else:
            cw, ch = w >> shifts[0], h >> shifts[1]
            u = rng.integers(0, 256, (ch, cw), dtype=np.uint8)
            v = rng.integers(0, 256, (ch, cw), dtype=np.uint8)
            frames.append((y, u, v))
    payload = encode_y4m(frames, w, h, cspace)
    got, gw, gh, gcs = decode_y4m_planes(payload)
    assert (gw, gh, gcs) == (w, h, cspace)
    assert len(got) == n_frames
    for a, b in zip(frames, got):
        assert len(a) == len(b)
        for pa, pb in zip(a, b):
            assert np.array_equal(pa, pb)


def test_y4m_bt601_anchors():
    """Hand-computed BT.601 limited-range anchors: video black
    (16,128,128)->(0,0,0), video white (235,128,128)->(255,255,255),
    and 75% red (81,90,240) -> the classic (229?, …) — computed here
    independently from the matrix, not copied from the decoder."""
    from osmart_etl_spark.ops.video import yuv_to_rgb

    y = np.array([[16, 235, 81]], dtype=np.uint8)
    u = np.array([[128, 128, 90]], dtype=np.uint8)
    v = np.array([[128, 128, 240]], dtype=np.uint8)
    rgb = yuv_to_rgb(y, u, v)
    assert tuple(rgb[0, 0]) == (0, 0, 0)
    assert tuple(rgb[0, 1]) == (255, 255, 255)
    # independent recomputation of the red anchor
    c = 1.164383 * (81 - 16)
    exp = (
        int(np.clip(round(c + 1.596027 * (240 - 128)), 0, 255)),
        int(np.clip(round(c - 0.391762 * (90 - 128) - 0.812968 * (240 - 128)), 0, 255)),
        int(np.clip(round(c + 2.017232 * (90 - 128)), 0, 255)),
    )
    assert tuple(int(x) for x in rgb[0, 2]) == exp
    assert rgb[0, 2, 0] > 200 and rgb[0, 2, 1] < 40 and rgb[0, 2, 2] < 40


def test_y4m_chroma_upsample_nearest():
    from osmart_etl_spark.ops.video import decode_y4m, encode_y4m

    w, h = 4, 2
    y = np.full((h, w), 128, dtype=np.uint8)
    u = np.array([[64, 192]], dtype=np.uint8)  # 2x1 chroma for 4:2:0
    v = np.full((1, 2), 128, dtype=np.uint8)
    frames = decode_y4m(encode_y4m([(y, u, v)], w, h, b"420jpeg"))
    assert len(frames) == 1 and frames[0].shape == (h, w, 3)
    # left 2 columns share u=64, right 2 share u=192 (nearest upsample)
    assert np.array_equal(frames[0][:, 0], frames[0][:, 1])
    assert np.array_equal(frames[0][:, 2], frames[0][:, 3])
    assert not np.array_equal(frames[0][:, 0], frames[0][:, 2])


def test_y4m_header_bomb_and_corruption():
    from osmart_etl_spark.ops.video import decode_y4m_planes

    with pytest.raises(ValueError):
        decode_y4m_planes(b"YUV4MPEG2 W16384 H16384 C420jpeg\nFRAME\n")
    with pytest.raises(ValueError):
        decode_y4m_planes(b"YUV4MPEG2 W4 H4 C420jpeg\nFRAME\n\x00\x00")  # truncated
    with pytest.raises(ValueError):
        decode_y4m_planes(b"YUV4MPEG2 W3 H3 C420jpeg\n")  # odd dims for 4:2:0
    with pytest.raises(ValueError):
        decode_y4m_planes(b"not a y4m")


# ---------------------------------------------------------------------------
# AVI / MJPEG
# ---------------------------------------------------------------------------


def test_avi_mjpeg_differential_vs_direct_jpeg():
    from osmart_etl_spark.ops.jpeg import decode_jpeg, encode_jpeg
    from osmart_etl_spark.ops.video import decode_avi, encode_avi_mjpeg

    w, h = 24, 16
    jpegs = [encode_jpeg(_gradient(h, w, seed)) for seed in range(3)]
    payload = encode_avi_mjpeg(jpegs, w, h)
    frames = decode_avi(payload)
    assert len(frames) == 3
    for jpeg, frame in zip(jpegs, frames):
        assert np.array_equal(frame, decode_jpeg(jpeg))


def test_avi_mjpeg_missing_dht_injection():
    """The MJPEG quirk: frames with DHT stripped must decode to pixels
    IDENTICAL to the original frame once the Annex K tables are
    injected (the encoder uses exactly those tables)."""
    from osmart_etl_spark.ops.jpeg import decode_jpeg, encode_jpeg
    from osmart_etl_spark.ops.video import decode_avi, encode_avi_mjpeg, ensure_jpeg_dht
    import struct

    jpeg = encode_jpeg(_gradient(16, 24, 7))

    def strip_dht(buf: bytes) -> bytes:
        out, pos = bytearray(buf[:2]), 2
        while pos + 4 <= len(buf):
            marker = buf[pos + 1]
            if marker == 0xDA:
                out += buf[pos:]
                return bytes(out)
            seglen = struct.unpack(">H", buf[pos + 2 : pos + 4])[0]
            if marker != 0xC4:
                out += buf[pos : pos + 2 + seglen]
            pos += 2 + seglen
        raise AssertionError("no SOS")

    stripped = strip_dht(jpeg)
    assert b"\xff\xc4" not in stripped[: stripped.find(b"\xff\xda")]
    # ensure_jpeg_dht on an intact frame is a no-op
    assert ensure_jpeg_dht(jpeg) == jpeg
    restored = ensure_jpeg_dht(stripped)
    assert np.array_equal(decode_jpeg(restored), decode_jpeg(jpeg))
    # end-to-end: AVI of table-less frames still decodes correctly
    frames = decode_avi(encode_avi_mjpeg([stripped, stripped], 24, 16))
    assert len(frames) == 2
    assert np.array_equal(frames[0], decode_jpeg(jpeg))


def test_avi_rejects_non_mjpeg_and_junk():
    from osmart_etl_spark.ops.video import decode_avi, encode_avi_mjpeg

    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x04\x00\x00\x00AVI ")  # no streams
    with pytest.raises(ValueError):
        decode_avi(b"\x00" * 32)
    # a structurally valid AVI whose movi carries garbage frames
    payload = encode_avi_mjpeg([b"\xff\xd8 garbage no sos"], 8, 8)
    with pytest.raises(ValueError):
        decode_avi(payload)


# ---------------------------------------------------------------------------
# Spark integration: extract_features over real video payloads
# ---------------------------------------------------------------------------


def test_extract_features_video_real_and_stub(spark):
    from pyspark.sql import Row

    from osmart_etl_spark.ops.jpeg import encode_jpeg
    from osmart_etl_spark.ops.multimodal import MEDIA_SCHEMA, extract_features
    from osmart_etl_spark.ops.video import encode_avi_mjpeg, encode_y4m

    w, h = 8, 8
    y4m = encode_y4m(
        [
            (
                np.full((h, w), 60 + 20 * i, dtype=np.uint8),
                np.full((h // 2, w // 2), 128, dtype=np.uint8),
                np.full((h // 2, w // 2), 128, dtype=np.uint8),
            )
            for i in range(4)
        ],
        w,
        h,
    )
    avi = encode_avi_mjpeg([encode_jpeg(_gradient(h, w, s)) for s in range(2)], w, h)
    rows = [
        (0, "video", y4m, len(y4m), None, None, 160),
        (1, "video", avi, len(avi), None, None, 80),
        (2, "video", b"\x00\x01\x02mp4ftyp", 10, None, None, 40),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in extract_features(df).collect()}
    assert got[0]["decode_status"] == "ok" and len(got[0]["feature"]) == 8
    assert got[1]["decode_status"] == "ok" and len(got[1]["feature"]) == 8
    assert got[2]["decode_status"] == "stub_not_implemented"
    assert got[2]["feature"] is None
    # temporal std of the brightening y4m luma must be positive
    assert any(x > 0 for x in got[0]["feature"][4:])
