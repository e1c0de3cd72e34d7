"""REAL decoders for the simple image containers — PNM (PBM/PGM/PPM,
both ASCII P1-P3 and binary P4-P6), Windows BMP (8-bit palette, 24-bit
BGR, 32-bit BGRA/bitfields), Sun Raster, and baseline TIFF (II/MM,
uncompressed + PackBits, gray/RGB/RGBA/palette, strip layout) — in
pure numpy/stdlib — plus SGI RGB (verbatim + RLE) and XBM (the X11
C-source bitmap).

These are the formats scientific/legacy corpora actually carry next to
PNG/JPEG; all are headers + raw samples, so the decode cost is a
memoryview reshape, and a corrupt payload fails fast with ValueError
(surfaced as decode_status by ops/multimodal, never a job failure).
Validated against genuine third-party files (CPython's PSF-licensed
python.{bmp,ppm,pgm,pbm,ras,tiff,sgi,xbm} — BMP, RAS, TIFF and SGI
decode pixel-exactly
equal to the PPM sibling, an independent cross-format ground truth;
see tests/test_imagefmt.py).

Header-bomb contract (ADVICE r7): declared dimensions are capped at
``_MAX_PIXELS`` before any allocation.

Reference parity: the reference repo has no image surface — extension
tier alongside ops/jpeg.py / ops/gif.py.
"""

from __future__ import annotations

import numpy as np

_MAX_PIXELS = 1 << 24


def _check_dims(w: int, h: int) -> None:
    if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
        raise ValueError(f"image dimensions {w}x{h} out of bounds")


# ---------------------------------------------------------------------------
# PNM — PBM/PGM/PPM
# ---------------------------------------------------------------------------

_PNM_CHANNELS = {b"P1": 1, b"P2": 1, b"P3": 3, b"P4": 1, b"P5": 1, b"P6": 3}


def _pnm_tokens(
    payload: bytes, n: int, pos: int, single_digit: bool = False
) -> tuple[list[int], int]:
    """Read n whitespace-separated integers, honoring '#' comments.

    ``single_digit=True`` is the P1 raster rule: every '0'/'1' digit is
    its own sample and the separating whitespace is optional, so a row
    written as ``0110`` is four pixels (round-8 ADVICE — the accumulating
    tokenizer read it as the number 110 and rejected spec-legal files).
    """
    out: list[int] = []
    cur = -1
    while len(out) < n and pos < len(payload):
        c = payload[pos]
        if c == 0x23:  # '#' comment to EOL
            while pos < len(payload) and payload[pos] not in (10, 13):
                pos += 1
            continue
        if 0x30 <= c <= 0x39:
            if single_digit:
                out.append(c - 0x30)
            else:
                cur = (0 if cur < 0 else cur * 10) + (c - 0x30)
        else:
            if not (c in (9, 10, 13, 32) or c == 11 or c == 12):
                raise ValueError(f"unexpected byte 0x{c:02x} in PNM header/data")
            if cur >= 0:
                out.append(cur)
                cur = -1
        pos += 1
    if cur >= 0 and len(out) < n:
        out.append(cur)
    if len(out) < n:
        raise ValueError("truncated PNM payload")
    return out, pos


def decode_pnm(payload: bytes) -> np.ndarray:
    """REAL PNM decode -> H×W×C uint8 (C = 1 for PBM/PGM, 3 for PPM).
    PBM bits map 1->0 (black) and 0->255 per the netpbm convention;
    maxval other than 255 is scaled exactly via integer rounding."""
    magic = payload[:2]
    if magic not in _PNM_CHANNELS:
        raise ValueError("not a PNM payload")
    ch = _PNM_CHANNELS[magic]
    ascii_form = magic in (b"P1", b"P2", b"P3")
    bitmap = magic in (b"P1", b"P4")
    n_hdr = 2 if bitmap else 3
    hdr, pos = _pnm_tokens(payload, n_hdr, 2)
    w, h = hdr[0], hdr[1]
    _check_dims(w, h)
    maxval = 1 if bitmap else hdr[2]
    if not 1 <= maxval <= 255:
        raise ValueError(f"unsupported PNM maxval {maxval} (8-bit only)")
    n_samples = w * h * ch
    if ascii_form:
        vals, _ = _pnm_tokens(payload, n_samples, pos, single_digit=(magic == b"P1"))
        arr = np.array(vals, dtype=np.uint16)
    elif magic == b"P4":  # packed bits, rows padded to whole bytes
        row_bytes = (w + 7) // 8
        need = row_bytes * h
        if len(payload) - pos < need:
            raise ValueError("truncated P4 payload")
        bits = np.unpackbits(
            np.frombuffer(payload, np.uint8, need, pos).reshape(h, row_bytes), axis=1
        )[:, :w]
        return np.where(bits == 1, 0, 255).astype(np.uint8)[:, :, None]
    else:
        if len(payload) - pos < n_samples:
            raise ValueError("truncated PNM payload")
        arr = np.frombuffer(payload, np.uint8, n_samples, pos).astype(np.uint16)
    if (arr > maxval).any():
        raise ValueError("PNM sample exceeds declared maxval")
    if bitmap:  # P1: 1 = black
        out = np.where(arr == 1, 0, 255).astype(np.uint8)
    elif maxval == 255:
        out = arr.astype(np.uint8)
    else:  # exact integer rescale (round half up, both engines N/A — pure python)
        out = ((arr * 255 * 2 + maxval) // (2 * maxval)).astype(np.uint8)
    return out.reshape(h, w, ch)


def encode_pnm(img: np.ndarray, ascii_form: bool = False) -> bytes:
    """Fixture encoder: H×W×1 -> PGM, H×W×3 -> PPM (maxval 255)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    if ch == 1:
        magic = b"P2" if ascii_form else b"P5"
    elif ch == 3:
        magic = b"P3" if ascii_form else b"P6"
    else:
        raise ValueError("PNM supports 1 or 3 channels")
    hdr = magic + b"\n%d %d\n255\n" % (w, h)
    if ascii_form:
        return hdr + b" ".join(b"%d" % v for v in img.reshape(-1)) + b"\n"
    return hdr + img.tobytes()


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    """REAL BMP decode -> H×W×3 (24-bit/8-bit palette) or H×W×4
    (32-bit) uint8. Handles BITMAPINFOHEADER and the V4/V5 extensions,
    bottom-up and top-down row order, 4-byte row padding, BI_RGB and
    BI_BITFIELDS with byte-aligned masks (the common case)."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size} (OS/2 core?)")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    top_down = h < 0
    h = abs(h)
    _check_dims(w, h)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if comp not in (0, 3):
        raise ValueError(f"unsupported BMP compression {comp} (RLE not supported)")
    n_colors = int.from_bytes(payload[46:50], "little")

    if bpp == 32:
        # default BGRA; BI_BITFIELDS masks must be byte-aligned
        order = [2, 1, 0, 3]  # payload byte idx -> (R,G,B,A) source
        if comp == 3:
            masks = [
                int.from_bytes(payload[54 + 4 * i : 58 + 4 * i], "little")
                for i in range(3)
            ]
            shifts = []
            for m in masks:
                if m not in (0xFF, 0xFF00, 0xFF0000, 0xFF000000):
                    raise ValueError(f"unsupported non-byte-aligned BMP mask {m:#x}")
                shifts.append(m.bit_length() // 8 - 1)
            order = shifts + [({0, 1, 2, 3} - set(shifts)).pop()]
        row = w * 4
        need = row * h
        if len(payload) - data_off < need:
            raise ValueError("truncated BMP pixel data")
        px = np.frombuffer(payload, np.uint8, need, data_off).reshape(h, w, 4)
        out = px[:, :, order]
    elif bpp == 24:
        row = (w * 3 + 3) & ~3
        need = row * h
        if len(payload) - data_off < need:
            raise ValueError("truncated BMP pixel data")
        rows = np.frombuffer(payload, np.uint8, need, data_off).reshape(h, row)
        out = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    elif bpp == 8:
        n_pal = n_colors or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(payload, np.uint8, 4 * n_pal, pal_off).reshape(n_pal, 4)
        row = (w + 3) & ~3
        need = row * h
        if len(payload) - data_off < need:
            raise ValueError("truncated BMP pixel data")
        idx = np.frombuffer(payload, np.uint8, need, data_off).reshape(h, row)[:, :w]
        if int(idx.max()) >= n_pal:
            raise ValueError("BMP palette index out of range")
        out = pal[idx][:, :, [2, 1, 0]]  # BGRX palette entries -> RGB
    else:
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    return np.ascontiguousarray(out if top_down else out[::-1])


def encode_bmp(img: np.ndarray) -> bytes:
    """Fixture encoder: H×W×3 uint8 -> 24-bit bottom-up BI_RGB BMP."""
    img = np.asarray(img, dtype=np.uint8)
    h, w, ch = img.shape
    if ch != 3:
        raise ValueError("encode_bmp expects H×W×3")
    row = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):
        line = img[y, :, ::-1].tobytes()
        body += line + b"\x00" * (row - len(line))
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(body).to_bytes(4, "little")
        + b"\x00" * 16
    )
    off = 14 + 40
    hdr = b"BM" + (off + len(body)).to_bytes(4, "little") + b"\x00" * 4 + off.to_bytes(4, "little")
    return hdr + info + bytes(body)


# ---------------------------------------------------------------------------
# Sun Raster
# ---------------------------------------------------------------------------

_RAS_MAGIC = 0x59A66A95


def decode_ras(payload: bytes) -> np.ndarray:
    """REAL Sun Raster decode -> H×W×C uint8 (standard/old type, depth
    1/8/24/32, optional RGB colormap; rows padded to 16 bits; RT_BYTE_
    ENCODED RLE is rejected with ValueError)."""
    if len(payload) < 32 or int.from_bytes(payload[0:4], "big") != _RAS_MAGIC:
        raise ValueError("not a Sun Raster payload")
    w = int.from_bytes(payload[4:8], "big")
    h = int.from_bytes(payload[8:12], "big")
    depth = int.from_bytes(payload[12:16], "big")
    rtype = int.from_bytes(payload[20:24], "big")
    maptype = int.from_bytes(payload[24:28], "big")
    maplen = int.from_bytes(payload[28:32], "big")
    _check_dims(w, h)
    if rtype not in (0, 1, 3):  # old, standard, RGB order
        raise ValueError(f"unsupported Sun Raster type {rtype} (RLE not supported)")
    pos = 32
    cmap = None
    if maptype == 1 and maplen:
        if maplen % 3:
            raise ValueError("malformed Sun Raster colormap")
        n = maplen // 3
        raw = np.frombuffer(payload, np.uint8, maplen, pos)
        cmap = np.stack([raw[:n], raw[n : 2 * n], raw[2 * n :]], axis=1)
        pos += maplen
    elif maplen:
        pos += maplen  # raw colormap type: skip
    if depth == 24 or depth == 32:
        bpp = depth // 8
        row = (w * bpp + 1) & ~1
        need = row * h
        if len(payload) - pos < need:
            raise ValueError("truncated Sun Raster pixel data")
        rows = np.frombuffer(payload, np.uint8, need, pos).reshape(h, row)
        px = rows[:, : w * bpp].reshape(h, w, bpp)
        if depth == 32:
            px = px[:, :, 1:]  # x-B-G-R / x-R-G-B: drop pad byte
        # standard type stores BGR; RT_FORMAT_RGB (3) stores RGB
        return np.ascontiguousarray(px if rtype == 3 else px[:, :, ::-1])
    if depth == 8:
        row = (w + 1) & ~1
        need = row * h
        if len(payload) - pos < need:
            raise ValueError("truncated Sun Raster pixel data")
        idx = np.frombuffer(payload, np.uint8, need, pos).reshape(h, row)[:, :w]
        if cmap is not None:
            if int(idx.max()) >= cmap.shape[0]:
                raise ValueError("Sun Raster colormap index out of range")
            return np.ascontiguousarray(cmap[idx])
        return idx[:, :, None].copy()
    if depth == 1:
        row_bytes = ((w + 15) // 16) * 2
        need = row_bytes * h
        if len(payload) - pos < need:
            raise ValueError("truncated Sun Raster pixel data")
        bits = np.unpackbits(
            np.frombuffer(payload, np.uint8, need, pos).reshape(h, row_bytes), axis=1
        )[:, :w]
        return np.where(bits == 1, 0, 255).astype(np.uint8)[:, :, None]
    raise ValueError(f"unsupported Sun Raster depth {depth}")


# ---------------------------------------------------------------------------
# TIFF (baseline): II/MM byte orders, 8-bit samples, compression 1
# (none) and 32773 (PackBits), photometric 0/1 (grayscale incl.
# MinIsWhite inversion), 2 (RGB/RGBA), 3 (palette), strip layout,
# planar configuration 1. Everything else (LZW/JPEG-in-TIFF, tiles,
# 16-bit, planar=2) raises ValueError -> decode_status, never a wrong
# image.
# ---------------------------------------------------------------------------


def _packbits(data: bytes, expected: int) -> bytes:
    """Apple PackBits RLE (TIFF compression 32773)."""
    out = bytearray()
    pos = 0
    while len(out) < expected and pos < len(data):
        n = data[pos]
        pos += 1
        if n < 128:  # literal run of n+1 bytes
            out += data[pos : pos + n + 1]
            pos += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if pos >= len(data):
                raise ValueError("truncated PackBits stream")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: no-op per spec
    if len(out) < expected:
        raise ValueError("PackBits stream ended early")
    return bytes(out[:expected])


def decode_tiff(payload: bytes) -> np.ndarray:
    """REAL baseline TIFF decode -> H×W×C uint8 (C = samples/pixel for
    photometric 0/1/2; palette expands to 3)."""
    import struct

    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")

    def u16(off: int) -> int:
        if off < 0 or off + 2 > len(payload):
            raise ValueError("truncated TIFF structure")
        return struct.unpack_from(bo + "H", payload, off)[0]

    def u32(off: int) -> int:
        if off < 0 or off + 4 > len(payload):
            raise ValueError("truncated TIFF structure")
        return struct.unpack_from(bo + "I", payload, off)[0]

    ifd = u32(4)
    n_entries = u16(ifd)
    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        e = ifd + 2 + 12 * i
        tag, typ, cnt = u16(e), u16(e + 2), u32(e + 4)
        if typ not in type_size:
            continue
        total = type_size[typ] * cnt
        off = e + 8 if total <= 4 else u32(e + 8)
        if off < 0 or off + total > len(payload):
            raise ValueError("TIFF tag values outside payload")
        vals: list[int] = []
        for k in range(cnt if typ != 5 else 0):
            vals.append(u16(off + 2 * k) if typ == 3 else
                        u32(off + 4 * k) if typ == 4 else payload[off + k])
        tags[tag] = vals

    def one(tag: int, default: int | None = None) -> int:
        if tag in tags and tags[tag]:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"TIFF missing required tag {tag}")
        return default

    w, h = one(256), one(257)
    _check_dims(w, h)
    comp = one(259, 1)
    photo = one(262)
    spp = one(277, 1)
    rows_per_strip = one(278, h)
    bps = tags.get(258, [8])
    if any(b != 8 for b in bps) or one(284, 1) != 1:
        raise ValueError("unsupported TIFF sample layout (8-bit chunky only)")
    if comp not in (1, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip layout")

    row_bytes = w * spp
    raw = bytearray()
    remaining_rows = h
    for off, cnt in zip(offsets, counts):
        strip_rows = min(rows_per_strip, remaining_rows)
        expected = strip_rows * row_bytes
        chunk = payload[off : off + cnt]
        if len(chunk) < cnt:
            raise ValueError("truncated TIFF strip")
        raw += chunk if comp == 1 else _packbits(chunk, expected)
        remaining_rows -= strip_rows
    if len(raw) < h * row_bytes:
        raise ValueError("TIFF strips shorter than image")
    img = np.frombuffer(bytes(raw), np.uint8, h * row_bytes).reshape(h, w, spp)

    if photo in (0, 1):
        return np.ascontiguousarray(255 - img if photo == 0 else img)
    if photo == 2:
        if spp < 3:
            raise ValueError("RGB TIFF with <3 samples")
        return np.ascontiguousarray(img)
    if photo == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) != 3 * 256:
            raise ValueError("palette TIFF without a 256-entry colormap")
        # TIFF colormaps are 16-bit; 8-bit value = high byte
        pal = (np.array(cmap, dtype=np.uint16).reshape(3, 256).T >> 8).astype(np.uint8)
        return np.ascontiguousarray(pal[img[:, :, 0]])
    raise ValueError(f"unsupported TIFF photometric {photo}")


# ---------------------------------------------------------------------------
# SGI RGB (.sgi/.rgb): 512-byte big-endian header, verbatim or RLE
# storage, 1 byte/channel, 1-4 channels, bottom-up rows.
# ---------------------------------------------------------------------------


def decode_sgi(payload: bytes) -> np.ndarray:
    """REAL SGI image decode -> H×W×C uint8 (C = zsize; bottom-up rows
    flipped to top-down). RLE (storage 1) and verbatim (storage 0);
    2 bytes/channel is rejected."""
    import struct

    if len(payload) < 512 or payload[:2] != b"\x01\xda":
        raise ValueError("not an SGI image payload")
    storage, bpc = payload[2], payload[3]
    dim, w, h, z = struct.unpack(">HHHH", payload[4:12])
    if bpc != 1:
        raise ValueError("unsupported SGI bytes-per-channel (1 only)")
    if dim == 1:
        h, z = 1, 1
    elif dim == 2:
        z = 1
    _check_dims(w, h)
    if not 1 <= z <= 4:
        raise ValueError(f"unsupported SGI channel count {z}")
    out = np.empty((h, w, z), dtype=np.uint8)
    if storage == 0:  # verbatim: channel planes of h rows each
        need = w * h * z
        if len(payload) - 512 < need:
            raise ValueError("truncated SGI pixel data")
        planes = np.frombuffer(payload, np.uint8, need, 512).reshape(z, h, w)
        out = np.ascontiguousarray(planes.transpose(1, 2, 0)[::-1])
        return out
    if storage != 1:
        raise ValueError(f"unsupported SGI storage {storage}")
    n_rows = h * z
    tab_end = 512 + 8 * n_rows
    if len(payload) < tab_end:
        raise ValueError("truncated SGI RLE tables")
    starts = np.frombuffer(payload, ">u4", n_rows, 512)
    lengths = np.frombuffer(payload, ">u4", n_rows, 512 + 4 * n_rows)
    for c in range(z):
        for row in range(h):
            off = int(starts[c * h + row])
            end = off + int(lengths[c * h + row])
            if end > len(payload):
                raise ValueError("SGI RLE row outside payload")
            line = bytearray()
            pos = off
            while pos < end:
                ctrl = payload[pos]
                pos += 1
                count = ctrl & 0x7F
                if count == 0:
                    break
                if ctrl & 0x80:  # literal
                    line += payload[pos : pos + count]
                    pos += count
                else:  # run
                    line += bytes([payload[pos]]) * count
                    pos += 1
            if len(line) < w:
                raise ValueError("SGI RLE row shorter than width")
            out[h - 1 - row, :, c] = np.frombuffer(bytes(line[:w]), np.uint8)
    return out


# ---------------------------------------------------------------------------
# XBM: the X11 C-source bitmap (text format), LSB-first bits, 1 = set
# (foreground/black, like PBM).
# ---------------------------------------------------------------------------


def decode_xbm(payload: bytes) -> np.ndarray:
    """REAL XBM decode -> H×W×1 uint8 (set bits -> 0, clear -> 255)."""
    import re

    try:
        text = payload.decode("ascii")
    except UnicodeDecodeError as exc:
        raise ValueError("XBM payload is not ASCII") from exc
    mw = re.search(r"#define\s+\w*_?width\s+(\d+)", text)
    mh = re.search(r"#define\s+\w*_?height\s+(\d+)", text)
    body = re.search(r"\{([^}]*)\}", text, re.S)
    if not (mw and mh and body):
        raise ValueError("not an XBM payload")
    w, h = int(mw.group(1)), int(mh.group(1))
    _check_dims(w, h)
    vals = [int(v, 0) for v in re.findall(r"0[xX][0-9a-fA-F]+|\d+", body.group(1))]
    row_bytes = (w + 7) // 8
    if len(vals) < row_bytes * h or any(not 0 <= v <= 255 for v in vals):
        raise ValueError("truncated or malformed XBM bit array")
    arr = np.array(vals[: row_bytes * h], dtype=np.uint8).reshape(h, row_bytes)
    bits = np.unpackbits(arr, axis=1, bitorder="little")[:, :w]
    return np.where(bits == 1, 0, 255).astype(np.uint8)[:, :, None]


# ---------------------------------------------------------------------------
# OpenEXR (scanline, single-part): NO_COMPRESSION / ZIPS / ZIP. Pixel
# types HALF and FLOAT. Returns linear float32 — HDR is genuinely not
# uint8; the multimodal featurizer tone-maps it. PIZ/B44/DWA raise
# ValueError (they need wavelet/DCT tables, not worth faking).
# ---------------------------------------------------------------------------

_EXR_MAGIC = b"\x76\x2f\x31\x01"


def _exr_unzip(block: bytes, expected: int) -> bytes:
    """EXR zip: zlib inflate, then reverse the delta predictor, then
    re-interleave the two half-buffers (spec order)."""
    import zlib

    try:
        raw = bytearray(zlib.decompress(block))
    except zlib.error as exc:
        raise ValueError("corrupt EXR zip block") from exc
    if len(raw) != expected:
        raise ValueError("EXR zip block has wrong decompressed size")
    for i in range(1, len(raw)):
        raw[i] = (raw[i] + raw[i - 1] - 128) & 0xFF
    half = (len(raw) + 1) // 2
    out = bytearray(len(raw))
    out[0::2] = raw[:half]
    out[1::2] = raw[half:]
    return bytes(out)


def decode_exr(payload: bytes) -> np.ndarray:
    """REAL OpenEXR scanline decode -> H×W×C float32 (linear light),
    channels in alphabetical storage order (e.g. A,B,G,R)."""
    if payload[:4] != _EXR_MAGIC:
        raise ValueError("not an OpenEXR payload")
    if len(payload) < 16:
        raise ValueError("truncated EXR payload")
    import struct as _st

    try:
        return _decode_exr_inner(payload)
    except (_st.error, IndexError) as exc:
        raise ValueError("corrupt EXR structure") from exc


def _decode_exr_inner(payload: bytes) -> np.ndarray:
    import struct

    version = payload[4]
    flags = int.from_bytes(payload[4:8], "little") >> 8
    if version != 2 or flags & 0x1E:  # tiled/deep/multipart unsupported
        raise ValueError("unsupported EXR form (scanline single-part only)")
    pos = 8
    channels: list[tuple[str, int]] = []
    compression = None
    dw = None
    while pos < len(payload) and payload[pos] != 0:
        e = payload.index(b"\0", pos)
        name = payload[pos:e]
        pos = e + 1
        e = payload.index(b"\0", pos)
        typ = payload[pos:e]
        pos = e + 1
        size = struct.unpack_from("<I", payload, pos)[0]
        pos += 4
        val = payload[pos : pos + size]
        pos += size
        if name == b"channels" and typ == b"chlist":
            p = 0
            while p < len(val) and val[p] != 0:
                ne = val.index(b"\0", p)
                cname = val[p:ne].decode("ascii", "replace")
                ptype = struct.unpack_from("<I", val, ne + 1)[0]
                channels.append((cname, ptype))
                p = ne + 1 + 16  # type + pLinear/reserved + xy sampling
        elif name == b"compression":
            compression = val[0]
        elif name == b"dataWindow":
            dw = struct.unpack("<iiii", val)
    pos += 1  # header terminator
    if not channels or compression is None or dw is None:
        raise ValueError("EXR missing required headers")
    if compression not in (0, 2, 3):  # none, ZIPS(1-line), ZIP(16-line)
        raise ValueError(f"unsupported EXR compression {compression}")
    if any(t not in (1, 2) for _, t in channels):
        raise ValueError("unsupported EXR pixel type (HALF/FLOAT only)")
    xmin, ymin, xmax, ymax = dw
    w, h = xmax - xmin + 1, ymax - ymin + 1
    _check_dims(w, h)
    lines_per_block = {0: 1, 2: 1, 3: 16}[compression]
    n_blocks = -(-h // lines_per_block)
    if pos + 8 * n_blocks > len(payload):
        raise ValueError("truncated EXR offset table")
    offsets = struct.unpack_from(f"<{n_blocks}Q", payload, pos)

    csize = {1: 2, 2: 4}
    line_bytes = sum(csize[t] * w for _, t in channels)
    out = np.empty((h, w, len(channels)), dtype=np.float32)
    for bi, off in enumerate(offsets):
        if off + 8 > len(payload):
            raise ValueError("EXR block offset outside payload")
        y0, blen = struct.unpack_from("<iI", payload, off)
        y0 -= ymin
        rows = min(lines_per_block, h - y0)
        if rows <= 0 or off + 8 + blen > len(payload):
            raise ValueError("corrupt EXR block header")
        expected = line_bytes * rows
        block = payload[off + 8 : off + 8 + blen]
        data = block if compression == 0 else _exr_unzip(block, expected)
        if len(data) < expected:
            raise ValueError("EXR block shorter than expected")
        p = 0
        for r in range(rows):
            for ci, (_, t) in enumerate(channels):
                nb = csize[t] * w
                dt = np.float16 if t == 1 else np.float32
                out[y0 + r, :, ci] = np.frombuffer(data, dt, w, p).astype(np.float32)
                p += nb
    return out


def exr_tonemap_uint8(img: np.ndarray) -> np.ndarray:
    """Linear-light float -> display uint8 via the standard gamma-2.2
    approximation (deterministic, clipped) — the bridge from HDR EXR to
    the uint8 feature pipeline."""
    return np.clip(
        np.round(255.0 * np.power(np.clip(img, 0.0, 1.0), 1.0 / 2.2)), 0, 255
    ).astype(np.uint8)


def encode_exr(
    img: np.ndarray, channel_names: list[str] | None = None, zips: bool = False
) -> bytes:
    """Fixture encoder: H×W×C float32 -> single-part scanline EXR with
    HALF pixels, NO_COMPRESSION or ZIPS. Channels are written in the
    given order (must be storage/alphabetical order, like real files)."""
    import struct
    import zlib

    img = np.asarray(img, dtype=np.float32)
    h, w, c = img.shape
    names = channel_names or [chr(ord("A") + i) for i in range(c)]
    if sorted(names) != names:
        raise ValueError("EXR channel names must be in storage (sorted) order")

    def attr(name: bytes, typ: bytes, val: bytes) -> bytes:
        return name + b"\0" + typ + b"\0" + struct.pack("<I", len(val)) + val

    chlist = b""
    for n in names:
        chlist += n.encode() + b"\0" + struct.pack("<IIII", 1, 0, 1, 1)
    chlist += b"\0"
    box = struct.pack("<iiii", 0, 0, w - 1, h - 1)
    hdr = (
        _EXR_MAGIC
        + struct.pack("<I", 2)
        + attr(b"channels", b"chlist", chlist)
        + attr(b"compression", b"compression", bytes([2 if zips else 0]))
        + attr(b"dataWindow", b"box2i", box)
        + attr(b"displayWindow", b"box2i", box)
        + attr(b"lineOrder", b"lineOrder", b"\0")
        + attr(b"pixelAspectRatio", b"float", struct.pack("<f", 1.0))
        + attr(b"screenWindowCenter", b"v2f", struct.pack("<ff", 0, 0))
        + attr(b"screenWindowWidth", b"float", struct.pack("<f", 1.0))
        + b"\0"
    )
    blocks = []
    for y in range(h):
        line = b"".join(
            img[y, :, ci].astype(np.float16).tobytes() for ci in range(c)
        )
        if zips:
            raw = bytearray(line)
            half = (len(raw) + 1) // 2
            split = bytearray(len(raw))
            split[:half] = raw[0::2]
            split[half:] = raw[1::2]
            for i in range(len(split) - 1, 0, -1):
                split[i] = (split[i] - split[i - 1] + 128) & 0xFF
            comp = zlib.compress(bytes(split))
            line = comp if len(comp) < len(line) else line  # spec allows raw
            if line is not comp:
                # keep it simple for fixtures: always store compressed
                line = comp
        blocks.append(struct.pack("<iI", y, len(line)) + line)
    table_off = len(hdr) + 8 * h
    offsets, acc = [], table_off
    for b in blocks:
        offsets.append(acc)
        acc += len(b)
    return hdr + struct.pack(f"<{h}Q", *offsets) + b"".join(blocks)
