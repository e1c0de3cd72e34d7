"""MPEG audio (MP3) bitstream-structure codec — REAL frame-level parse
with conformance validation, pure stdlib.

What is REAL here (and therefore reported as such):
- elementary-stream walk: ID3v2/ID3v1 skip, frame sync, header decode
  for every (version, layer) combination, frame-length arithmetic,
  free-format rejection;
- CRC-16 verification of protected frames (poly 0x8005, the ISO
  11172-3 2.4.3.1 protection scheme over header bits 16..31 + the
  Layer III side information);
- full Layer III side-information decode for BOTH MPEG-1 (2 granules,
  scfsi) and MPEG-2/2.5 LSF (1 granule, 9-bit scalefac_compress),
  with every field range-checked against the spec;
- bit-reservoir accounting: per frame, ``main_data_begin`` is checked
  against the bytes actually banked by previous frames, and every
  granule's ``part2_3_length`` against the main data available — the
  invariants a real full decoder relies on;
- Xing/Info VBR header parse (frame/byte counts, TOC presence).

What is NOT here and why: PCM synthesis. Decoding Layer III audio
needs two large blocks of NORMATIVE TABULATED DATA — the ISO 11172-3
Table B.7 Huffman code tables (~1,000 (hlen, hcod) entries across 15
distinct big-value tables) and the Table B.3 512-tap synthesis-window
prototype — which are arbitrary published constants, not derivable
from any formula. This container was searched for any copy to
validate against (``ldconfig``; filesystem ``find`` for libmad /
mpg123 / lame / libmpeg*; a scan of every Spark/Hadoop jar; CPython's
audio test data): none exists, and there is no reference decoder
either. Reproducing ~1,500 constants from memory with no validation
path risks a decoder that parses fine but emits silently-wrong PCM
tagged ``'ok'`` — the exact failure mode the ``decode_status``
contract exists to prevent. So PCM stays an honest ``fake_decoder`` stub in
ops/multimodal.py, while the structural layer here — which a 100 TB
crawl pipeline needs for audio triage (duration/bitrate/mode filters,
corrupt-stream quarantine) far more often than it needs samples — is
real, validated on the container's third-party MP3 fixture.

``encode_mp3_silence`` emits CONFORMANT digital-silence streams (all
``part2_3_length = 0`` — no Huffman data is needed for silence), used
by tests as ground-truth structural fixtures.

Reference parity: the reference repo has no media surface — extension
tier alongside ops/audio.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

_SAMPLE_RATES = {
    3: (44100, 48000, 32000),  # MPEG-1
    2: (22050, 24000, 16000),  # MPEG-2
    0: (11025, 12000, 8000),  # MPEG-2.5
}

# kbps by (version_key, layer): version_key 3 = MPEG-1, else LSF
_BITRATES_V1 = {
    1: (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    2: (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
}
_BITRATES_V2 = {
    1: (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    3: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}

MODE_NAMES = ("stereo", "joint_stereo", "dual_channel", "mono")


class _Bits:
    """MSB-first bit reader over bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("truncated MP3 side information")
            v = (v << 1) | ((self.data[byte] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v


def _crc16(data: bytes, crc: int = 0xFFFF) -> int:
    """ISO 11172-3 2.4.3.1 CRC check: x^16 + x^15 + x^2 + 1 (0x8005),
    MSB-first, initial state all-ones."""
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


@dataclass
class _Granule:
    part2_3_length: int
    big_values: int
    global_gain: int
    scalefac_compress: int
    window_switching: int
    block_type: int
    mixed_block: int
    table_select: tuple[int, ...]
    subblock_gain: tuple[int, ...]
    region0_count: int
    region1_count: int
    preflag: int
    scalefac_scale: int
    count1table_select: int


@dataclass
class FrameInfo:
    offset: int
    version: str  # '1' | '2' | '2.5'
    layer: int
    sample_rate: int
    bitrate_kbps: int
    mode: str
    mode_extension: int
    padding: int
    has_crc: bool
    crc_ok: bool | None
    frame_len: int
    samples: int
    main_data_begin: int = 0
    granules: list = field(default_factory=list)  # list[list[_Granule]] per gr, per ch


def _parse_header(data: bytes, pos: int):
    if pos + 4 > len(data):
        return None
    b0, b1, b2, b3 = data[pos : pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    ver_bits = (b1 >> 3) & 3
    if ver_bits == 1:
        return None  # reserved
    layer_bits = (b1 >> 1) & 3
    if layer_bits == 0:
        return None  # reserved
    layer = 4 - layer_bits  # 3->I ... 1->III becomes layer number 1..3
    protection = b1 & 1  # 0 = CRC present
    br_idx = (b2 >> 4) & 0xF
    sr_idx = (b2 >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free format / invalid
    rates = _SAMPLE_RATES[ver_bits]
    rate = rates[sr_idx]
    table = _BITRATES_V1 if ver_bits == 3 else _BITRATES_V2
    kbps = table[layer][br_idx]
    pad = (b2 >> 1) & 1
    mode = (b3 >> 6) & 3
    mode_ext = (b3 >> 4) & 3
    if layer == 1:
        flen = (12 * kbps * 1000 // rate + pad) * 4
        samples = 384
    elif layer == 2:
        flen = 144 * kbps * 1000 // rate + pad
        samples = 1152
    else:  # Layer III
        if ver_bits == 3:
            flen = 144 * kbps * 1000 // rate + pad
            samples = 1152
        else:
            flen = 72 * kbps * 1000 // rate + pad
            samples = 576
    version = {3: "1", 2: "2", 0: "2.5"}[ver_bits]
    return (version, ver_bits, layer, protection, kbps, rate, pad, mode, mode_ext, flen, samples)


def _parse_side_info_l3(
    si: bytes, ver_bits: int, n_ch: int
) -> tuple[int, list[list[_Granule]]]:
    """Layer III side info for MPEG-1 (2 granules + scfsi) and LSF
    (1 granule, 9-bit scalefac_compress, no preflag bit)."""
    br = _Bits(si)
    mpeg1 = ver_bits == 3
    main_data_begin = br.read(9 if mpeg1 else 8)
    br.read((5 if n_ch == 1 else 3) if mpeg1 else (1 if n_ch == 1 else 2))
    if mpeg1:
        for _ in range(n_ch):
            br.read(4)  # scfsi (used only by a full decoder)
    n_gr = 2 if mpeg1 else 1
    granules: list[list[_Granule]] = []
    for _gr in range(n_gr):
        chs = []
        for _ch in range(n_ch):
            part23 = br.read(12)
            big_values = br.read(9)
            if big_values > 288:
                raise ValueError(f"MP3 big_values {big_values} > 288")
            global_gain = br.read(8)
            scalefac_compress = br.read(4 if mpeg1 else 9)
            wsf = br.read(1)
            if wsf:
                block_type = br.read(2)
                if block_type == 0:
                    raise ValueError("MP3 window switching with block_type 0")
                mixed = br.read(1)
                tsel = (br.read(5), br.read(5))
                sbg = (br.read(3), br.read(3), br.read(3))
                # spec-fixed region counts under window switching
                r0 = 8 if block_type == 2 and not mixed else 7
                r1 = 20 - r0
                g = _Granule(
                    part23, big_values, global_gain, scalefac_compress,
                    1, block_type, mixed, tsel, sbg, r0, r1, 0, 0, 0,
                )
            else:
                tsel = (br.read(5), br.read(5), br.read(5))
                r0 = br.read(4)
                r1 = br.read(3)
                g = _Granule(
                    part23, big_values, global_gain, scalefac_compress,
                    0, 0, 0, tsel, (0, 0, 0), r0, r1, 0, 0, 0,
                )
            for t in g.table_select:
                if t in (4, 14):
                    raise ValueError(f"MP3 reserved Huffman table {t} selected")
            preflag = br.read(1) if mpeg1 else 0
            g.preflag = preflag
            g.scalefac_scale = br.read(1)
            g.count1table_select = br.read(1)
            chs.append(g)
        granules.append(chs)
    return main_data_begin, granules


_SIDE_LEN = {  # (mpeg1, n_ch) -> side info bytes
    (True, 1): 17,
    (True, 2): 32,
    (False, 1): 9,
    (False, 2): 17,
}


def parse_frames(payload: bytes, max_frames: int = 1 << 20) -> list[FrameInfo]:
    """Walk the elementary stream and return per-frame structure.

    Strict by design (this feeds ``decode_status``): a sync loss in
    the middle of the stream, an invalid header field, an impossible
    side-info value, or a reservoir violation raises ValueError. An
    ID3v2 prefix, an ID3v1 (128-byte 'TAG') trailer, and up to 3
    trailing slack bytes are accepted.
    """
    pos = 0
    end = len(payload)
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 header")
        sz = (
            ((payload[6] & 0x7F) << 21)
            | ((payload[7] & 0x7F) << 14)
            | ((payload[8] & 0x7F) << 7)
            | (payload[9] & 0x7F)
        )
        # ID3v2.4 footer flag (byte 5 bit 0x10): the syncsafe size
        # covers header+body but NOT the 10-byte footer — a spec-legal
        # footered tag would otherwise land mid-footer and die with
        # "MP3 sync lost" (round-8 ADVICE)
        pos = 10 + sz + (10 if payload[5] & 0x10 else 0)
    if end - pos >= 128 and payload[end - 128 : end - 125] == b"TAG":
        end -= 128

    frames: list[FrameInfo] = []
    reservoir = 0  # main-data bytes banked by previous frames
    first = None
    while pos + 4 <= end and len(frames) < max_frames:
        h = _parse_header(payload, pos)
        if h is None:
            raise ValueError(f"MP3 sync lost at byte {pos}")
        (version, ver_bits, layer, protection, kbps, rate, pad,
         mode, mode_ext, flen, samples) = h
        if first is None:
            first = (version, layer, rate)
        elif (version, layer, rate) != first:
            raise ValueError("MP3 stream changes version/layer/rate mid-stream")
        if pos + flen > end:
            raise ValueError(f"truncated MP3 frame at byte {pos}")
        body = pos + 4
        crc_ok: bool | None = None
        crc_stored = None
        if protection == 0:
            if body + 2 > end:
                raise ValueError("truncated MP3 CRC")
            crc_stored = int.from_bytes(payload[body : body + 2], "big")
            body += 2
        fi = FrameInfo(
            offset=pos, version=version, layer=layer, sample_rate=rate,
            bitrate_kbps=kbps, mode=MODE_NAMES[mode], mode_extension=mode_ext,
            padding=pad, has_crc=protection == 0, crc_ok=None,
            frame_len=flen, samples=samples,
        )
        if layer == 3:
            n_ch = 1 if mode == 3 else 2
            side_len = _SIDE_LEN[(ver_bits == 3, n_ch)]
            if body + side_len > pos + flen:
                raise ValueError("MP3 frame too short for Layer III side info")
            si = payload[body : body + side_len]
            if crc_stored is not None:
                calc = _crc16(payload[pos + 2 : pos + 4] + si)
                crc_ok = calc == crc_stored
            fi.main_data_begin, fi.granules = _parse_side_info_l3(
                si, ver_bits, n_ch
            )
            # reservoir invariants (11172-3 2.4.2.7): main_data_begin
            # points backwards into bytes banked by PREVIOUS frames
            if fi.main_data_begin > reservoir:
                raise ValueError(
                    f"MP3 main_data_begin {fi.main_data_begin} exceeds "
                    f"reservoir {reservoir} at frame {len(frames)}"
                )
            main_here = flen - 4 - (2 if protection == 0 else 0) - side_len
            part2_3_bits = sum(
                g.part2_3_length for gr in fi.granules for g in gr
            )
            avail_bits = (fi.main_data_begin + main_here) * 8
            if part2_3_bits > avail_bits:
                raise ValueError(
                    f"MP3 part2_3 bits {part2_3_bits} exceed available "
                    f"main data {avail_bits} at frame {len(frames)}"
                )
            # bank what this frame contributes, capped at the pointer
            # reach of the NEXT frame's main_data_begin field
            reservoir = min(reservoir + main_here, 511 if ver_bits == 3 else 255)
        elif crc_stored is not None:
            crc_ok = None  # Layer I/II CRC span (bit alloc) not modeled
        fi.crc_ok = crc_ok
        frames.append(fi)
        pos += flen
    if not frames:
        raise ValueError("no MP3 frames found")
    if end - pos > 3:
        raise ValueError(f"{end - pos} undecoded trailing bytes after MP3 frames")
    return frames


def _parse_xing(payload: bytes, f: FrameInfo) -> dict | None:
    """Xing/Info VBR header: lives in the first frame's main-data area
    right after the side info."""
    if f.layer != 3:
        return None
    n_ch = 1 if f.mode == "mono" else 2
    side_len = _SIDE_LEN[(f.version == "1", n_ch)]
    at = f.offset + 4 + (2 if f.has_crc else 0) + side_len
    tag = payload[at : at + 4]
    if tag not in (b"Xing", b"Info"):
        return None
    flags = int.from_bytes(payload[at + 4 : at + 8], "big")
    out = {"tag": tag.decode(), "flags": flags}
    p = at + 8
    if flags & 1:
        out["frames"] = int.from_bytes(payload[p : p + 4], "big")
        p += 4
    if flags & 2:
        out["bytes"] = int.from_bytes(payload[p : p + 4], "big")
        p += 4
    out["has_toc"] = bool(flags & 4)
    return out


def probe_mp3(payload: bytes) -> dict:
    """REAL MP3 stream probe: parse and validate every frame, return
    the stream-level metadata a triage pipeline filters on. Raises
    ValueError on any structural violation (-> decode_status)."""
    frames = parse_frames(payload)
    f0 = frames[0]
    xing = _parse_xing(payload, f0)
    n_audio_frames = len(frames) - (1 if xing else 0)
    total_samples = sum(f.samples for f in frames[1 if xing else 0 :])
    duration = total_samples / f0.sample_rate
    # same frame slice as total_samples: the Xing/Info frame carries no
    # audio, so counting its bytes while excluding its samples inflated
    # the VBR bitrate estimate (round-8 ADVICE)
    audio_bytes = sum(f.frame_len for f in frames[1 if xing else 0 :])
    kbps = sorted({f.bitrate_kbps for f in frames})
    crc_frames = [f for f in frames if f.has_crc and f.crc_ok is not None]
    block_types: dict[int, int] = {}
    for f in frames:
        for gr in f.granules:
            for g in gr:
                bt = g.block_type if g.window_switching else 0
                block_types[bt] = block_types.get(bt, 0) + 1
    return {
        "version": f0.version,
        "layer": f0.layer,
        "sample_rate": f0.sample_rate,
        "mode": f0.mode,
        "channels": 1 if f0.mode == "mono" else 2,
        "n_frames": n_audio_frames,
        "duration_s": duration,
        "cbr": len(kbps) == 1,
        "bitrate_kbps": (
            kbps[0] if len(kbps) == 1 else round(audio_bytes * 8 / duration / 1000)
        ),
        "audio_bytes": audio_bytes,
        "xing": xing,
        "crc_protected": f0.has_crc,
        "crc_ok_frames": sum(1 for f in crc_frames if f.crc_ok),
        "crc_bad_frames": sum(1 for f in crc_frames if not f.crc_ok),
        "block_type_counts": block_types,
    }


def encode_mp3_silence(
    n_frames: int = 8,
    *,
    mpeg1: bool = True,
    sr_idx: int = 0,
    br_idx: int = 4,
    mono: bool = True,
    with_crc: bool = False,
) -> bytes:
    """Emit a CONFORMANT Layer III digital-silence stream: every
    granule has part2_3_length = 0 and big_values = 0, so no Huffman
    data exists and any decoder reconstructs zeros. Used as structural
    ground truth by tests (and valid input to any external player)."""
    ver_bits = 3 if mpeg1 else 2
    rate = _SAMPLE_RATES[ver_bits][sr_idx]
    kbps = (_BITRATES_V1 if mpeg1 else _BITRATES_V2)[3][br_idx]
    mode = 3 if mono else 0
    n_ch = 1 if mono else 2
    flen = (144 if mpeg1 else 72) * kbps * 1000 // rate
    h0 = 0xFF
    h1 = 0xE0 | (ver_bits << 3) | (1 << 1) | (0 if with_crc else 1)
    h2 = (br_idx << 4) | (sr_idx << 2)
    h3 = mode << 6
    side_len = _SIDE_LEN[(mpeg1, n_ch)]

    # side info: all-zero fields EXCEPT global_gain (210 = unity) so
    # the frame is maximally typical; write it bit by bit
    bits: list[int] = []

    def put(v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            bits.append((v >> i) & 1)

    put(0, 9 if mpeg1 else 8)  # main_data_begin
    put(0, (5 if n_ch == 1 else 3) if mpeg1 else (1 if n_ch == 1 else 2))
    if mpeg1:
        for _ in range(n_ch):
            put(0, 4)  # scfsi
    for _ in range(2 if mpeg1 else 1):
        for _ in range(n_ch):
            put(0, 12)  # part2_3_length
            put(0, 9)  # big_values
            put(210, 8)  # global_gain
            put(0, 4 if mpeg1 else 9)  # scalefac_compress
            put(0, 1)  # window_switching
            put(0, 15)  # table_select x3
            put(0, 4)  # region0_count
            put(0, 3)  # region1_count
            if mpeg1:
                put(0, 1)  # preflag
            put(0, 1)  # scalefac_scale
            put(0, 1)  # count1table_select
    si = bytearray(side_len)
    for i, b in enumerate(bits):
        si[i >> 3] |= b << (7 - (i & 7))

    frame = bytearray([h0, h1, h2, h3])
    if with_crc:
        frame += _crc16(bytes([h2, h3]) + bytes(si)).to_bytes(2, "big")
    frame += si
    frame += b"\0" * (flen - len(frame))
    return bytes(frame * n_frames)
