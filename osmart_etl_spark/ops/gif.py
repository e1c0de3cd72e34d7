"""REAL GIF decoder (GIF87a/GIF89a) in pure numpy/stdlib — no PIL.

Covers the full still+animated feature set a media corpus actually
contains:

- LZW decompression with variable code width (3..12 bits), CLEAR /
  EOI handling, and the deferred-clear convention (a full 4096-entry
  table simply stops growing until the encoder sends CLEAR);
- global and local color tables, the Adam-style 4-pass interlace,
  sub-rectangle frames;
- GIF89a graphic-control extensions: transparency index and the four
  disposal methods (unspecified / keep / restore-background /
  restore-previous), composed onto an RGBA canvas per frame.

The fixture encoder writes a REAL variable-width LZW stream (resetting
with CLEAR when the table fills), so encode→decode roundtrips exercise
the genuine code path, and the decoder is additionally validated
against a genuine third-party GIF (CPython's PSF-licensed python.gif,
see tests/test_gif.py) cross-checked structurally against its PPM
sibling.

Scale notes (100 TB): decoding runs per-row inside ``mapInPandas`` —
no shuffle, corrupt payloads surface as ``decode_status``. Declared
dimensions and frame counts are capped (header-bomb contract, ADVICE
r7): a handful of crafted bytes cannot make a worker allocate
gigapixels.

Reference parity: the reference repo has no image surface — extension
tier, same as ops/jpeg.py / ops/video.py.
"""

from __future__ import annotations

import numpy as np

_MAX_PIXELS = 1 << 24
_MAX_FRAMES = 4096
_GIF_MAGICS = (b"GIF87a", b"GIF89a")


# ---------------------------------------------------------------------------
# LZW
# ---------------------------------------------------------------------------


class _BitReaderLSB:
    """LSB-first bit reader over the concatenated image sub-blocks."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        end = self.pos + n
        if end > len(self.data) * 8:
            raise ValueError("LZW stream exhausted mid-code")
        v = 0
        got = 0
        while got < n:
            byte = self.data[(self.pos + got) >> 3]
            off = (self.pos + got) & 7
            take = min(8 - off, n - got)
            v |= ((byte >> off) & ((1 << take) - 1)) << got
            got += take
        self.pos = end
        return v


def lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """GIF LZW: returns exactly n_pixels palette indices (uint8 array).

    Width grows when the table reaches 1<<width (max 12 bits); a full
    table stops growing (deferred clear) until a CLEAR code resets it.
    """
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"invalid LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    br = _BitReaderLSB(data)
    out = np.empty(n_pixels, dtype=np.uint8)
    filled = 0

    # table[i] = decoded byte string; roots 0..clear-1, entries from eoi+1
    table: list[bytes] = [bytes([i & 0xFF]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    prev: bytes | None = None

    while filled < n_pixels:
        code = br.read(width)
        if code == clear:
            del table[clear + 2 :]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= clear:
                raise ValueError("LZW first code after CLEAR is not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"LZW code {code} beyond table size {len(table)}")
        take = min(len(entry), n_pixels - filled)
        out[filled : filled + take] = np.frombuffer(entry[:take], np.uint8)
        filled += take
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if filled < n_pixels:
        raise ValueError(f"LZW stream ended at {filled}/{n_pixels} pixels")
    return out


class _BitWriterLSB:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.buf.append(self.acc & 0xFF)
            self.acc = self.nbits = 0
        return bytes(self.buf)


def lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """REAL variable-width LZW encoder (fixture/roundtrip support).

    Mirrors the decoder's width-growth timing exactly: the encoder's
    table is always one entry AHEAD of the decoder's (it adds entry i
    before emitting the code the decoder will use to infer entry i), so
    it widens when its table size passes 1<<width. On a full table it
    emits CLEAR and resets."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bw = _BitWriterLSB()
    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    bw.write(clear, width)
    w = b""
    for k in np.asarray(indices, dtype=np.uint8).tobytes():
        if k >= clear:
            raise ValueError(f"index {k} exceeds the {clear}-color palette")
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        bw.write(table[w], width)
        table[wk] = next_code
        next_code += 1
        # decoder's table after consuming that code has next_code-1
        # entries; it widens when that hits 1<<width
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            bw.write(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([k])
    if w:
        bw.write(table[w], width)
    bw.write(eoi, width)
    return bw.flush()


# ---------------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------------


def _deinterlace(idx: np.ndarray, w: int, h: int) -> np.ndarray:
    """Reverse the GIF 4-pass interlace row order."""
    img = idx.reshape(h, w)
    out = np.empty_like(img)
    rows = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    out[rows] = img
    return out.reshape(-1)


def decode_gif(payload: bytes) -> list[np.ndarray]:
    """REAL GIF decode: list of composed H×W×4 RGBA uint8 canvases,
    one per frame (a still GIF yields a single frame)."""
    if payload[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF payload (bad signature)")
    if len(payload) < 13:
        raise ValueError("truncated GIF header (needs 13 bytes)")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
        raise ValueError(f"GIF canvas {w}x{h} out of bounds")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n

    canvas = np.zeros((h, w, 4), dtype=np.uint8)
    frames: list[np.ndarray] = []
    transparent: int | None = None
    disposal = 0

    def read_subblocks(p: int) -> tuple[bytes, int]:
        parts = []
        while True:
            if p >= len(payload):
                raise ValueError("truncated GIF sub-blocks")
            ln = payload[p]
            p += 1
            if ln == 0:
                return b"".join(parts), p
            parts.append(payload[p : p + ln])
            if len(parts[-1]) < ln:
                raise ValueError("truncated GIF sub-block body")
            p += ln

    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(payload):
                raise ValueError("truncated GIF extension label")
            label = payload[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                body, pos = read_subblocks(pos)
                if len(body) >= 4:
                    disposal = (body[0] >> 2) & 0x07
                    transparent = body[3] if body[0] & 0x01 else None
            else:  # comment/plain-text/application: skip
                _, pos = read_subblocks(pos)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        # image descriptor
        if pos + 9 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        left = int.from_bytes(payload[pos : pos + 2], "little")
        top = int.from_bytes(payload[pos + 2 : pos + 4], "little")
        fw = int.from_bytes(payload[pos + 4 : pos + 6], "little")
        fh = int.from_bytes(payload[pos + 6 : pos + 8], "little")
        fpacked = payload[pos + 8]
        pos += 9
        if fw <= 0 or fh <= 0 or left + fw > w or top + fh > h:
            raise ValueError("GIF frame rectangle outside canvas")
        pal = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 0x07)
            pal = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame has neither global nor local palette")
        if pos >= len(payload):
            raise ValueError("truncated GIF LZW minimum-code byte")
        min_code = payload[pos]
        pos += 1
        data, pos = read_subblocks(pos)
        idx = lzw_decode(data, min_code, fw * fh)
        if fpacked & 0x40:
            idx = _deinterlace(idx, fw, fh)
        if int(idx.max()) >= len(pal):
            raise ValueError("GIF pixel index beyond palette size")
        if len(frames) >= _MAX_FRAMES:
            raise ValueError(f"GIF exceeds the {_MAX_FRAMES}-frame cap")

        rect = idx.reshape(fh, fw)
        rgba = np.empty((fh, fw, 4), dtype=np.uint8)
        rgba[..., :3] = pal[rect]
        rgba[..., 3] = 255
        region = canvas[top : top + fh, left : left + fw]
        if transparent is not None:
            mask = rect == transparent
            rgba[mask] = region[mask]  # transparent pixels keep the canvas
        saved = region.copy() if disposal == 3 else None
        canvas[top : top + fh, left : left + fw] = rgba
        frames.append(canvas.copy())
        if disposal == 2:  # restore to background = transparent
            canvas[top : top + fh, left : left + fw] = 0
        elif disposal == 3 and saved is not None:
            canvas[top : top + fh, left : left + fw] = saved
        transparent, disposal = None, 0
    if not frames:
        raise ValueError("GIF payload contains no image data")
    return frames


def encode_gif(
    frames: list[np.ndarray],
    palette: np.ndarray,
    transparent: int | None = None,
    interlace: bool = False,
    disposals: list[int] | None = None,
    offsets: list[tuple[int, int]] | None = None,
    canvas_wh: tuple[int, int] | None = None,
) -> bytes:
    """Fixture encoder: palette-index frames -> GIF89a bytes through the
    real LZW encoder. ``frames`` are 2-D uint8 index arrays; ``palette``
    is [n,3] uint8 with n a power of two >= 2."""
    palette = np.asarray(palette, dtype=np.uint8)
    n_colors = palette.shape[0]
    if n_colors < 2 or n_colors & (n_colors - 1):
        raise ValueError("palette size must be a power of two >= 2")
    size_field = n_colors.bit_length() - 2  # 2 << f == n_colors
    if canvas_wh is None:
        canvas_wh = (frames[0].shape[1], frames[0].shape[0])
    w, h = canvas_wh
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | size_field, 0, 0])  # GCT flag + size, bg, aspect
    out += palette.tobytes()
    min_code = max(2, n_colors.bit_length() - 1)
    for i, frame in enumerate(frames):
        disp = (disposals or [0] * len(frames))[i]
        left, top = (offsets or [(0, 0)] * len(frames))[i]
        if transparent is not None or disp:
            gce_flags = (disp << 2) | (1 if transparent is not None else 0)
            out += bytes([0x21, 0xF9, 4, gce_flags, 0, 0, transparent or 0, 0])
        fh, fw = frame.shape
        out += bytes([0x2C])
        out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += fw.to_bytes(2, "little") + fh.to_bytes(2, "little")
        out += bytes([0x40 if interlace else 0x00])
        idx = np.asarray(frame, dtype=np.uint8).reshape(-1)
        if interlace:
            rows = (
                list(range(0, fh, 8))
                + list(range(4, fh, 8))
                + list(range(2, fh, 4))
                + list(range(1, fh, 2))
            )
            idx = frame[rows].reshape(-1)
        out += bytes([min_code])
        data = lzw_encode(idx, min_code)
        for off in range(0, len(data), 255):
            chunk = data[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)
