"""REAL video container decoders in pure numpy/stdlib — no ffmpeg.

Two container formats cover the "raw frames" and "intra-coded frames"
ends of the video spectrum, which is exactly what a training-data
pipeline's frame-sampling stage needs:

- **Y4M (YUV4MPEG2)**: the canonical uncompressed interchange format —
  a one-line ASCII header (``YUV4MPEG2 W.. H.. F.. C..``) followed by
  ``FRAME`` records of raw planar YUV. Supported colorspaces: the C420
  family (420jpeg/420mpeg2/420paldv — identical plane geometry), C422,
  C444 and Cmono. Chroma is upsampled nearest and converted to RGB via
  the BT.601 limited-range matrix.
- **AVI/MJPEG**: a RIFF walk (hdrl → strl stream headers, movi → per-
  frame ``NNdc``/``NNdb`` chunks, optionally nested in ``LIST rec``)
  selecting the ``vids`` streams whose compression is MJPG; each frame
  is a baseline JPEG decoded by the in-tree pure-numpy T.81 codec
  (``ops/jpeg.py``). The classic MJPEG quirk is handled: many MJPEG
  encoders omit the DHT segment because the Huffman tables are "known"
  (the OpenDML/AVI1 convention) — ``ensure_jpeg_dht`` injects the T.81
  Annex K typical tables before the SOS when no DHT is present.

Anything else (MP4/H.264, VP9, MKV…) stays an HONEST stub upstream
(``ops/multimodal._decode_video`` raises NotImplementedError →
``decode_status='stub_not_implemented'``) — inter-frame codecs need a
real motion-compensation engine, not a fake.

Scale notes (100 TB): decode runs per-row inside ``mapInPandas`` —
embarrassingly parallel, no shuffle; a corrupt byte surfaces as a
``decode_status``, never a job failure. Like the image codecs, declared
dimensions are capped (``_MAX_PIXELS`` per frame, ``_MAX_FRAMES`` per
payload) so a few crafted header bytes cannot stall an executor on a
multi-gigapixel allocation (the header-bomb contract from ADVICE r7).

Reference parity: the reference repo (Oscar-Duque/osmart-etl) has no
multimodal surface at all — this is extension surface for the
training-data pipeline tier, same as ops/jpeg.py / ops/gif.py.
"""

from __future__ import annotations

import struct

import numpy as np

# Valid-header resource caps (mirrors ops/imagefmt.py's header-bomb guard):
# a frame is at most 16 MP and a payload at most 4096 frames.
_MAX_PIXELS = 1 << 24
_MAX_FRAMES = 4096


# ---------------------------------------------------------------------------
# Y4M — YUV4MPEG2
# ---------------------------------------------------------------------------

_Y4M_MAGIC = b"YUV4MPEG2"

# colorspace tag -> (chroma_x_shift, chroma_y_shift); None = no chroma
_Y4M_CHROMA = {
    b"420jpeg": (1, 1),
    b"420mpeg2": (1, 1),
    b"420paldv": (1, 1),
    b"420": (1, 1),
    b"422": (1, 0),
    b"444": (0, 0),
    b"mono": None,
}


def _parse_y4m_header(payload: bytes) -> tuple[int, int, bytes, int]:
    """Parse the stream header line. Returns (w, h, colorspace, offset
    of the first FRAME record)."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(_Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    cspace = b"420jpeg"  # the spec default when C is absent
    for tok in payload[len(_Y4M_MAGIC) : nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"C":
            cspace = val
        # F (rate), I (interlace), A (aspect), X (extension) don't
        # affect plane geometry; progressive frames are assumed.
    if w is None or h is None or w <= 0 or h <= 0:
        raise ValueError("Y4M header missing W/H")
    if w * h > _MAX_PIXELS:
        raise ValueError(f"Y4M frame {w}x{h} exceeds the {_MAX_PIXELS}-pixel cap")
    if cspace not in _Y4M_CHROMA:
        raise ValueError(f"unsupported Y4M colorspace C{cspace.decode('ascii', 'replace')}")
    sub = _Y4M_CHROMA[cspace]
    if sub is not None and ((w & (sub[0])) or (h & (sub[1]))):
        # 4:2:0 needs even w+h; 4:2:2 needs even w. Y4M forbids the rest.
        raise ValueError(f"odd dimensions {w}x{h} invalid for C{cspace.decode()}")
    return w, h, cspace, nl + 1


def decode_y4m_planes(
    payload: bytes,
) -> tuple[list[tuple[np.ndarray, ...]], int, int, bytes]:
    """Decode to raw planes — the lossless form, used by the roundtrip
    tests. Returns (frames, w, h, colorspace) where each frame is
    (Y, U, V) uint8 2-D arrays at their native subsampled sizes, or a
    1-tuple (Y,) for Cmono."""
    w, h, cspace, pos = _parse_y4m_header(payload)
    sub = _Y4M_CHROMA[cspace]
    if sub is None:
        cw = ch = 0
    else:
        cw, ch = w >> sub[0], h >> sub[1]
    frames: list[tuple[np.ndarray, ...]] = []
    n = len(payload)
    while pos < n:
        nl = payload.find(b"\n", pos)
        if nl < 0 or payload[pos : pos + 5] != b"FRAME":
            raise ValueError("corrupt Y4M FRAME record")
        pos = nl + 1
        need = w * h + 2 * cw * ch
        if pos + need > n:
            raise ValueError("truncated Y4M frame data")
        if len(frames) >= _MAX_FRAMES:
            raise ValueError(f"Y4M payload exceeds the {_MAX_FRAMES}-frame cap")
        y = np.frombuffer(payload, np.uint8, w * h, pos).reshape(h, w)
        pos += w * h
        if sub is None:
            frames.append((y,))
            continue
        u = np.frombuffer(payload, np.uint8, cw * ch, pos).reshape(ch, cw)
        pos += cw * ch
        v = np.frombuffer(payload, np.uint8, cw * ch, pos).reshape(ch, cw)
        pos += cw * ch
        frames.append((y, u, v))
    return frames, w, h, cspace


def yuv_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """BT.601 limited-range YCbCr -> RGB uint8. Chroma planes are
    nearest-upsampled (np.repeat) to the luma grid first; the matrix is
    the standard Rec.601 video-range one (Y 16..235, C 16..240)."""
    if u.shape != y.shape:
        u = u.repeat(y.shape[0] // u.shape[0], axis=0).repeat(
            y.shape[1] // u.shape[1], axis=1
        )
        v = v.repeat(y.shape[0] // v.shape[0], axis=0).repeat(
            y.shape[1] // v.shape[1], axis=1
        )
    c = 1.164383 * (y.astype(np.float64) - 16.0)
    d = u.astype(np.float64) - 128.0
    e = v.astype(np.float64) - 128.0
    rgb = np.stack(
        [
            c + 1.596027 * e,
            c - 0.391762 * d - 0.812968 * e,
            c + 2.017232 * d,
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_y4m(payload: bytes) -> list[np.ndarray]:
    """REAL Y4M decode to display frames: H×W×3 uint8 RGB per frame
    (H×W×1 luma for Cmono — channel count is constant within a stream)."""
    frames, _w, _h, _cs = decode_y4m_planes(payload)
    out = []
    for planes in frames:
        if len(planes) == 1:
            out.append(planes[0][:, :, None])
        else:
            out.append(yuv_to_rgb(*planes))
    return out


def encode_y4m(
    frames: list[tuple[np.ndarray, ...]], w: int, h: int, cspace: bytes = b"420jpeg"
) -> bytes:
    """Fixture encoder: raw planes -> Y4M bytes (exact inverse of
    ``decode_y4m_planes`` — the roundtrip is an identity)."""
    if cspace not in _Y4M_CHROMA:
        raise ValueError(f"unsupported colorspace {cspace!r}")
    out = bytearray(
        _Y4M_MAGIC + b" W%d H%d F25:1 Ip A1:1 C%s\n" % (w, h, cspace)
    )
    for planes in frames:
        out += b"FRAME\n"
        for p in planes:
            out += np.ascontiguousarray(p, dtype=np.uint8).tobytes()
    return bytes(out)


# ---------------------------------------------------------------------------
# AVI / MJPEG — RIFF container of per-frame baseline JPEGs
# ---------------------------------------------------------------------------

# T.81 Annex K typical tables, reused from the in-tree encoder — these
# ARE the "known tables" the MJPEG/AVI1 convention assumes when DHT is
# omitted from the per-frame bitstreams.
from osmart_etl_spark.ops.jpeg import (  # noqa: E402
    AC_CHROMA_BITS,
    AC_CHROMA_VALS,
    AC_LUMA_BITS,
    AC_LUMA_VALS,
    DC_CHROMA_BITS,
    DC_CHROMA_VALS,
    DC_LUMA_BITS,
    DC_LUMA_VALS,
    decode_jpeg,
)


def _annex_k_dht() -> bytes:
    """One DHT segment carrying all four Annex K typical tables."""
    body = bytearray()
    for tc, th, bits, vals in (
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
        (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        body += bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + bytes(body)


def ensure_jpeg_dht(jpeg: bytes) -> bytes:
    """Inject the Annex K Huffman tables into a table-less MJPEG frame.

    Walks the marker segments; if a DHT (FFC4) appears before the first
    SOS the frame is returned unchanged, otherwise the combined Annex K
    DHT segment is spliced in immediately before the SOS."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG frame")
    pos = 2
    n = len(jpeg)
    while pos + 4 <= n:
        if jpeg[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        marker = jpeg[pos + 1]
        if marker == 0xC4:
            return jpeg
        if marker == 0xDA:  # SOS with no DHT seen -> splice tables in
            return jpeg[:pos] + _annex_k_dht() + jpeg[pos:]
        if 0xD0 <= marker <= 0xD9:  # standalone markers
            pos += 2
            continue
        seglen = struct.unpack(">H", jpeg[pos + 2 : pos + 4])[0]
        pos += 2 + seglen
    raise ValueError("JPEG frame without SOS")


def _riff_chunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) honoring word alignment."""
    while pos + 8 <= end:
        fourcc = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        if pos + 8 + size > end:
            raise ValueError("truncated RIFF chunk")
        yield fourcc, pos + 8, size
        pos += 8 + size + (size & 1)


def decode_avi_mjpeg_frames(payload: bytes) -> list[bytes]:
    """Extract the MJPEG video frames (raw JPEG bytes, Annex K tables
    injected where omitted) from an AVI payload, in stream order.

    Walks hdrl's ``strl`` lists to find which stream numbers are
    ``vids`` with MJPG compression (strf BITMAPINFOHEADER.biCompression
    or strh handler), then collects those streams' ``NNdc``/``NNdb``
    movi chunks, including ones nested inside ``LIST rec`` groups."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    riff_size = int.from_bytes(payload[4:8], "little")
    end = min(len(payload), 8 + riff_size)

    vids_streams: set[int] = set()
    stream_idx = 0
    frames: list[bytes] = []

    def walk_strl(start: int, stop: int, idx: int) -> None:
        fcc_type = handler = compression = b""
        for cid, off, size in _riff_chunks(payload, start, stop):
            if cid == b"strh" and size >= 8:
                fcc_type = payload[off : off + 4]
                handler = payload[off + 4 : off + 8]
            elif cid == b"strf" and size >= 20:
                compression = payload[off + 16 : off + 20]
        if fcc_type == b"vids" and (
            compression in (b"MJPG", b"mjpg") or handler in (b"MJPG", b"mjpg")
        ):
            vids_streams.add(idx)

    def walk_movi(start: int, stop: int) -> None:
        for cid, off, size in _riff_chunks(payload, start, stop):
            if cid[:4] == b"LIST" and payload[off : off + 4] == b"rec ":
                walk_movi(off + 4, off + size)
                continue
            if cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
                if int(cid[:2]) in vids_streams and size >= 2:
                    frame = payload[off : off + size].rstrip(b"\x00")
                    if frame[:2] == b"\xff\xd8":
                        if len(frames) >= _MAX_FRAMES:
                            raise ValueError(
                                f"AVI payload exceeds the {_MAX_FRAMES}-frame cap"
                            )
                        frames.append(ensure_jpeg_dht(frame))

    movi_spans: list[tuple[int, int]] = []
    for cid, off, size in _riff_chunks(payload, 12, end):
        if cid != b"LIST":
            continue
        list_type = payload[off : off + 4]
        if list_type == b"hdrl":
            for c2, o2, s2 in _riff_chunks(payload, off + 4, off + size):
                if c2 == b"LIST" and payload[o2 : o2 + 4] == b"strl":
                    walk_strl(o2 + 4, o2 + s2, stream_idx)
                    stream_idx += 1
        elif list_type == b"movi":
            movi_spans.append((off + 4, off + size))
    if not vids_streams:
        raise ValueError("AVI payload has no MJPG video stream")
    for start, stop in movi_spans:
        walk_movi(start, stop)
    return frames


def decode_avi(payload: bytes) -> list[np.ndarray]:
    """REAL AVI/MJPEG decode: per-frame baseline JPEG via the in-tree
    T.81 codec. Returns a list of H×W×3 (or H×W×1 grayscale) uint8."""
    out = []
    for jpeg in decode_avi_mjpeg_frames(payload):
        img = decode_jpeg(jpeg)
        if img.ndim == 2:
            img = img[:, :, None]
        if img.shape[0] * img.shape[1] > _MAX_PIXELS:
            raise ValueError("AVI frame exceeds the pixel cap")
        out.append(img)
    if not out:
        raise ValueError("AVI payload contains no decodable MJPEG frames")
    return out


def encode_avi_mjpeg(
    jpeg_frames: list[bytes], w: int, h: int, fps: int = 25
) -> bytes:
    """Fixture encoder: wrap pre-encoded JPEG frames in a minimal but
    structurally complete AVI (avih + strl[strh vids/MJPG + strf
    BITMAPINFOHEADER biCompression='MJPG'] + movi '00dc' chunks)."""

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            cid
            + len(body).to_bytes(4, "little")
            + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    n = len(jpeg_frames)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX off, 0x10 = was captured (benign)
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        0,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved[4]
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, 0, 0, 0, 0)
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body
