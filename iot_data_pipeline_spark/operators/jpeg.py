"""Minimal numpy-accelerated baseline JPEG codec (B48's second real image
decode path, closing the round-2 "JPEG-dominated corpora" boundary).

The sandbox has no image libraries, so this vendors a from-scratch JPEG
(ITU-T T.81) decoder/encoder on ``struct`` + ``numpy`` only. Scope:

- decode: baseline sequential (SOF0), extended sequential (SOF1, incl.
  12-bit precision with pq=1 quantization tables, narrowed to the high
  8 bits like the PNG 16-bit path), AND progressive DCT (SOF2, Huffman:
  spectral selection + successive approximation with EOB-run coding,
  T.81 Annex G) -- all added/closed round 5; greyscale or YCbCr, luma
  sampling factors up to 2x2 (4:4:4, 4:2:2, 4:2:0), restart intervals.
  Arithmetic coding and CMYK raise ``JpegFormatError`` rather than
  silently mis-decoding.
- encode: baseline 4:4:4 / 4:2:2 / 4:2:0 / greyscale with the public
  Annex K quantization and Huffman tables, libjpeg-style quality scaling
  (quality=100 => all-ones tables, which makes flat 8x8 blocks bit-exact
  through the roundtrip -- the property the q130 oracle gate exploits);
  ``progressive=True`` emits an SOF2 scan script (restart intervals
  supported) producing the SAME final coefficients, so progressive
  decode is differential-tested against baseline decode
  pixel-for-pixel.

Determinism contract: every rounding step uses ``floor(x + 0.5)`` (never
banker's rounding), so the full decode math is expressible in closed form
in DuckDB SQL for solid-color fixtures. All IDCT/FDCT math is float64
matrix multiplication against the orthonormal DCT-II basis.

This runs INSIDE mapInPandas kernels (operators/multimodal.py);
throughput is secondary to having an honest end-to-end pixels path (a real
cluster vendors libjpeg-turbo via the cluster image, same kernel shape).

Format reference: the public JPEG specification (ITU-T T.81 / ISO 10918-1)
and JFIF 1.02. Huffman/quant table constants are Annex K spec data.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "JpegFormatError",
    "is_jpeg",
    "decode_jpeg",
    "encode_jpeg",
    "encode_jpeg12",
    "MAX_DECODED_BYTES",
]


class JpegFormatError(ValueError):
    """Raised for payloads that are not supported JPEG (baseline,
    extended-sequential, or progressive Huffman) or use unsupported
    features (arithmetic coding, CMYK)."""


#: Decompression-bomb guard, same rationale as png.MAX_DECODED_BYTES.
MAX_DECODED_BYTES = 64 * 1024 * 1024

_SOI = b"\xff\xd8"

#: zig-zag scan order (T.81 figure 5): index i of the scan -> (row, col).
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

#: Annex K.1/K.2 quantization tables (luminance, chrominance).
STD_LUMA_Q = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
STD_CHROMA_Q = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

#: Annex K.3 Huffman specs: (BITS counts for code lengths 1..16, HUFFVAL).
DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

#: AC Huffman spec for the PROGRESSIVE encoder's scans: Annex K's
#: baseline AC tables lack the EOBn run symbols (0x10..0xE0) progressive
#: coding emits (real encoders ship optimized per-image tables here), so
#: the progressive scans carry this flat table instead -- every (run,
#: size<=10) symbol at code length 8 (176 codes; Kraft 176/256 < 1, a
#: valid canonical prefix code). Wasteful on purpose: this encoder
#: exists to round-trip-test the decoder, not to compress.
PROG_AC_SPEC = (
    [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0],
    [(r << 4) | s for r in range(16) for s in range(11)],
)

#: Orthonormal DCT-II basis: A[u, x]; spatial = A.T @ coefs @ A.
_A = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _A[_u, _x] = (np.sqrt(1.0 / 8) if _u == 0 else np.sqrt(2.0 / 8)) * np.cos(
            (2 * _x + 1) * _u * np.pi / 16
        )


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """floor(x + 0.5): the codec-wide deterministic rounding (numpy's
    ``round`` is banker's rounding, which SQL cannot reproduce)."""
    return np.floor(x + 0.5)


def is_jpeg(payload: bytes) -> bool:
    return payload[:2] == _SOI


# --------------------------------------------------------------------------
# Huffman machinery (canonical codes from (BITS, HUFFVAL) per T.81 C.2)


def _build_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _build_encode_table(bits: list[int], vals: list[int]) -> dict:
    """symbol -> (code, length)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return out


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing; stops at any real marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise JpegFormatError("truncated entropy-coded segment")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise JpegFormatError("unexpected RST marker inside block")
            else:
                # real marker (EOI/next segment): T.81 pads the last byte
                # with 1-bits; feed 1s so a trailing partial code resolves.
                self.buf = (self.buf << 8) | 0xFF
                self.n += 8
                return
        else:
            self.pos += 1
        self.buf = (self.buf << 8) | b
        self.n += 8

    def read_bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.buf >> self.n) & 1

    def receive(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_expect_rst(self, which: int) -> None:
        """Byte-align and consume the RSTn marker (restart interval)."""
        self.buf = 0
        self.n = 0
        if self.pos + 1 >= len(self.data):
            raise JpegFormatError("truncated at restart marker")
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + which:
            raise JpegFormatError("missing restart marker")
        self.pos += 2


def _decode_symbol(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise JpegFormatError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: magnitude bits -> signed value."""
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


# --------------------------------------------------------------------------
# Decoder


def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Decode a baseline (SOF0) or progressive (SOF2) JPEG ->
    ``(width, height, channels, pixels)``, ``pixels`` flat row-major
    8-bit samples (RGB or greyscale) -- the same contract as
    :func:`png.decode_png`.

    Progressive decode (T.81 Annex G, Huffman): coefficients accumulate
    across scans -- spectral-selection bands and successive-approximation
    bit planes (DC/AC first + refinement passes, EOB-run coding) -- and
    dequant/IDCT run once at EOI over the completed coefficient planes.
    """
    if not is_jpeg(payload):
        raise JpegFormatError("bad JPEG SOI signature")
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    width = height = 0
    restart_interval = 0
    progressive = False
    precision = 8
    scans_seen = False
    pos = 2
    n = len(payload)
    while True:
        if pos + 2 > n:
            raise JpegFormatError("truncated segment stream")
        if payload[pos] != 0xFF:
            raise JpegFormatError("expected marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if progressive and scans_seen:
                return _finish_progressive(
                    width, height, comps, qtables, precision
                )
            raise JpegFormatError("no scan data before EOI")
        if pos + 2 > n:
            raise JpegFormatError("truncated segment stream")
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        seg = payload[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise JpegFormatError("truncated segment body")
        body_at = pos + 2
        pos += seglen
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                if pq not in (0, 1):
                    raise JpegFormatError(f"bad quant precision {pq}")
                n_bytes = 65 if pq == 0 else 129
                if off + n_bytes > len(seg):
                    raise JpegFormatError("truncated DQT segment")
                tbl = np.zeros(64)
                if pq == 0:
                    tbl[ZIGZAG] = np.frombuffer(
                        seg[off + 1 : off + 65], dtype=np.uint8
                    )
                else:  # 16-bit entries (the table form 12-bit frames use)
                    tbl[ZIGZAG] = np.frombuffer(
                        seg[off + 1 : off + 129], dtype=">u2"
                    ).astype(np.float64)
                qtables[tq] = tbl.reshape(8, 8)
                off += n_bytes
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                if off + 17 > len(seg):
                    raise JpegFormatError("truncated DHT segment")
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                bits = list(seg[off + 1 : off + 17])
                nv = sum(bits)
                vals = list(seg[off + 17 : off + 17 + nv])
                if len(vals) != nv:
                    raise JpegFormatError("DHT declares more codes than bytes")
                htables[(tc, th)] = _build_decode_table(bits, vals)
                off += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2 progressive
            progressive = marker == 0xC2
            prec, height, width, nc = struct.unpack(">BHHB", seg[:6])
            if prec not in (8, 12):
                raise JpegFormatError(f"unsupported sample precision {prec}")
            if prec == 12 and marker == 0xC0:
                raise JpegFormatError("12-bit precision needs SOF1/SOF2")
            precision = prec
            if nc not in (1, 3):
                raise JpegFormatError(f"unsupported component count {nc}")
            if len(seg) < 6 + 3 * nc:
                raise JpegFormatError("truncated SOF component list")
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                h, v = hv >> 4, hv & 0x0F
                if not (1 <= h <= 4 and 1 <= v <= 4):
                    raise JpegFormatError(f"bad sampling factors {h}x{v}")
                comps.append({"id": cid, "h": h, "v": v, "tq": tq})
            if progressive:
                _alloc_progressive(comps, width, height)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise JpegFormatError(
                "only baseline (SOF0), extended sequential (SOF1), and "
                f"progressive (SOF2) JPEG are supported; got SOF marker "
                f"0x{marker:02X}"
            )
        elif marker == 0xCC:
            raise JpegFormatError("arithmetic coding unsupported")
        elif marker == 0xDA:  # SOS
            scan_at = body_at + seglen - 2
            if not progressive:
                ns = seg[0]
                if ns != len(comps) or len(seg) < 1 + 2 * ns:
                    raise JpegFormatError("scan/frame component mismatch")
                for s in range(ns):
                    cs, tdta = seg[1 + 2 * s], seg[2 + 2 * s]
                    match = [c for c in comps if c["id"] == cs]
                    if not match:
                        raise JpegFormatError(
                            "scan references unknown component"
                        )
                    match[0]["td"] = tdta >> 4
                    match[0]["ta"] = tdta & 0x0F
                if any("td" not in c for c in comps):
                    raise JpegFormatError("scan leaves components unassigned")
                return _decode_scan(
                    payload, scan_at, width, height, comps, qtables,
                    htables, restart_interval, precision,
                )
            ns = seg[0]
            if len(seg) < 4 + 2 * ns:
                raise JpegFormatError("truncated progressive scan header")
            scan_comps = []
            for s in range(ns):
                cs, tdta = seg[1 + 2 * s], seg[2 + 2 * s]
                match = [c for c in comps if c["id"] == cs]
                if not match:
                    raise JpegFormatError("scan references unknown component")
                match[0]["td"] = tdta >> 4
                match[0]["ta"] = tdta & 0x0F
                scan_comps.append(match[0])
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            pos = _decode_progressive_scan(
                payload, scan_at, scan_comps, ss, se, ahal >> 4, ahal & 0x0F,
                htables, restart_interval,
            )
            scans_seen = True
        # else: APPn/COM -> skip


def _decode_scan(
    payload: bytes,
    pos: int,
    width: int,
    height: int,
    comps: list[dict],
    qtables: dict,
    htables: dict,
    restart_interval: int,
    precision: int = 8,
) -> tuple[int, int, int, bytearray]:
    if not comps or not width or not height:
        raise JpegFormatError("missing SOF0 frame header")
    nc = len(comps)
    if width * height * nc > MAX_DECODED_BYTES:
        raise JpegFormatError(
            f"decoded size {width}x{height}x{nc} exceeds "
            f"MAX_DECODED_BYTES ({MAX_DECODED_BYTES})"
        )
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax not in (1, 2) or vmax not in (1, 2):
        raise JpegFormatError("sampling factors beyond 2x2 unsupported")
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    for c in comps:
        bw = mcus_x * c["h"]
        bh = mcus_y * c["v"]
        c["coef"] = np.zeros((bh * 8, bw * 8))
        c["pred"] = 0
        if c["tq"] not in qtables:
            raise JpegFormatError("missing quantization table")
        if (0, c.get("td", 0)) not in htables or (1, c.get("ta", 0)) not in htables:
            raise JpegFormatError("missing Huffman table")

    reader = _BitReader(payload, pos)
    rst_count = 0
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                reader.align_and_expect_rst(rst_count % 8)
                rst_count += 1
                for c in comps:
                    c["pred"] = 0
            for c in comps:
                dc_tbl = htables[(0, c["td"])]
                ac_tbl = htables[(1, c["ta"])]
                q = qtables[c["tq"]]
                for j in range(c["v"]):
                    for i in range(c["h"]):
                        block = _decode_block(reader, dc_tbl, ac_tbl, c)
                        by = (my * c["v"] + j) * 8
                        bx = (mx * c["h"] + i) * 8
                        c["coef"][by : by + 8, bx : bx + 8] = block * q
            mcu_index += 1

    return _idct_output(width, height, comps, hmax, vmax, precision)


def _idct_output(
    width: int,
    height: int,
    comps: list[dict],
    hmax: int,
    vmax: int,
    precision: int = 8,
) -> tuple[int, int, int, bytearray]:
    """Shared decode tail: batched IDCT over each component's dequantized
    coefficient plane (``c["coef"]``), upsample, color-convert. 12-bit
    frames run the same math at the 12-bit scale (level shift 2048) and
    narrow to the high 8 bits at the end -- the same posture as the PNG
    16-bit path."""
    nc = len(comps)
    center = float(1 << (precision - 1))
    maxval = (1 << precision) - 1
    planes = []
    for c in comps:
        coef = c["coef"]
        bh, bw = coef.shape[0] // 8, coef.shape[1] // 8
        blocks = coef.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        spatial = np.einsum("ux,mnuv,vy->mnxy", _A, blocks, _A, optimize=True)
        plane = spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + center
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        planes.append(plane[:height, :width])

    def narrow(arr: np.ndarray) -> np.ndarray:
        vals = np.clip(_round_half_up(arr), 0, maxval).astype(np.int64)
        if precision > 8:
            vals >>= precision - 8
        return vals.astype(np.uint8)

    if nc == 1:
        return width, height, 1, bytearray(narrow(planes[0]).tobytes())
    y, cb, cr = planes
    # JFIF YCbCr -> RGB, floor(x+0.5) rounding (decode-side twin of encode).
    r = y + 1.402 * (cr - center)
    g = y - 0.344136 * (cb - center) - 0.714136 * (cr - center)
    b = y + 1.772 * (cb - center)
    rgb = np.stack([narrow(r), narrow(g), narrow(b)], axis=-1)
    return width, height, 3, bytearray(rgb.tobytes())


def _decode_block(
    reader: _BitReader, dc_tbl: dict, ac_tbl: dict, comp: dict
) -> np.ndarray:
    zz = np.zeros(64)
    t = _decode_symbol(reader, dc_tbl)
    if t > 16:
        raise JpegFormatError(f"DC category {t} out of range")
    diff = _extend(reader.receive(t), t) if t else 0
    comp["pred"] += diff
    zz[0] = comp["pred"]
    k = 1
    while k < 64:
        rs = _decode_symbol(reader, ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise JpegFormatError("AC run past end of block")
        zz[k] = _extend(reader.receive(s), s)
        k += 1
    out = np.zeros(64)
    out[ZIGZAG] = zz
    return out.reshape(8, 8)


# --------------------------------------------------------------------------
# Progressive decoder (T.81 Annex G, Huffman coding)


def _alloc_progressive(comps: list[dict], width: int, height: int) -> None:
    """Allocate per-component quantized-coefficient planes (zig-zag order)
    plus the two block geometries progressive scans use: interleaved scans
    traverse the MCU-padded grid, non-interleaved scans the component's
    own ceil grid (T.81 A.2.2/A.2.3 -- the classic off-by-a-block trap)."""
    nc = len(comps)
    if not width or not height:
        raise JpegFormatError("SOS before SOF2 frame header")
    if width * height * nc > MAX_DECODED_BYTES:
        raise JpegFormatError(
            f"decoded size {width}x{height}x{nc} exceeds "
            f"MAX_DECODED_BYTES ({MAX_DECODED_BYTES})"
        )
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax not in (1, 2) or vmax not in (1, 2):
        raise JpegFormatError("sampling factors beyond 2x2 unsupported")
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    for c in comps:
        c["zz"] = np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), np.int64)
        samples_w = -(-width * c["h"] // hmax)
        samples_h = -(-height * c["v"] // vmax)
        c["nbw"] = -(-samples_w // 8)
        c["nbh"] = -(-samples_h // 8)
        c["pred"] = 0
        c["_geom"] = (hmax, vmax, mcus_x, mcus_y)


def _next_marker(payload: bytes, pos: int) -> int:
    """Position of the next real marker after an entropy-coded segment
    (skipping 0xFF00 stuffing and stray RSTn)."""
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] == 0xFF:
            nxt = payload[pos + 1]
            if nxt == 0x00:
                pos += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                pos += 2
                continue
            return pos
        pos += 1
    raise JpegFormatError("entropy segment ran past end of payload")


def _decode_progressive_scan(
    payload: bytes,
    pos: int,
    scan_comps: list[dict],
    ss: int,
    se: int,
    ah: int,
    al: int,
    htables: dict,
    restart_interval: int,
) -> int:
    """Decode ONE progressive scan into the components' ``zz`` planes;
    returns the payload offset of the next marker."""
    if not (0 <= ss <= se <= 63):
        raise JpegFormatError(f"bad spectral band {ss}..{se}")
    if ss == 0 and se != 0:
        raise JpegFormatError("progressive DC scan must have Se = 0")
    if ss > 0 and len(scan_comps) != 1:
        raise JpegFormatError("progressive AC scans are single-component")
    reader = _BitReader(payload, pos)
    for c in scan_comps:
        c["pred"] = 0
    state = {"eobrun": 0}
    rst_count = 0

    def maybe_restart(unit_index: int) -> int:
        nonlocal rst_count
        if restart_interval and unit_index and unit_index % restart_interval == 0:
            reader.align_and_expect_rst(rst_count % 8)
            rst_count += 1
            for c in scan_comps:
                c["pred"] = 0
            state["eobrun"] = 0
        return unit_index + 1

    if ss == 0:
        # ---- DC scan: interleaved (MCU order) or single-component
        if ah == 0:
            for c in scan_comps:
                if (0, c.get("td", 0)) not in htables:
                    raise JpegFormatError("missing DC Huffman table")
        unit = 0
        if len(scan_comps) > 1:
            hmax, vmax, mcus_x, mcus_y = scan_comps[0]["_geom"]
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    unit = maybe_restart(unit)
                    for c in scan_comps:
                        for j in range(c["v"]):
                            for i in range(c["h"]):
                                _dc_pass(
                                    reader, c,
                                    c["zz"][my * c["v"] + j, mx * c["h"] + i],
                                    ah, al, htables,
                                )
        else:
            c = scan_comps[0]
            for by in range(c["nbh"]):
                for bx in range(c["nbw"]):
                    unit = maybe_restart(unit)
                    _dc_pass(reader, c, c["zz"][by, bx], ah, al, htables)
    else:
        # ---- AC scan: non-interleaved over the component's ceil grid
        c = scan_comps[0]
        if (1, c.get("ta", 0)) not in htables:
            raise JpegFormatError("missing AC Huffman table")
        ac_tbl = htables[(1, c["ta"])]
        unit = 0
        for by in range(c["nbh"]):
            for bx in range(c["nbw"]):
                unit = maybe_restart(unit)
                if ah == 0:
                    _ac_first_pass(reader, c["zz"][by, bx], ss, se, al,
                                   ac_tbl, state)
                else:
                    _ac_refine_pass(reader, c["zz"][by, bx], ss, se, al,
                                    ac_tbl, state)
    return _next_marker(payload, reader.pos)


def _dc_pass(
    reader: _BitReader, comp: dict, zz: np.ndarray, ah: int, al: int,
    htables: dict,
) -> None:
    if ah == 0:
        t = _decode_symbol(reader, htables[(0, comp["td"])])
        if t > 16:
            raise JpegFormatError(f"DC category {t} out of range")
        diff = _extend(reader.receive(t), t) if t else 0
        comp["pred"] += diff
        zz[0] = comp["pred"] << al
    else:
        # refinement: one raw bit; two's-complement OR restores the next
        # magnitude bit for positive AND negative values (the first pass
        # coded floor(dc >> al'), so lower bits of the raw value are 0)
        if reader.read_bit():
            zz[0] = int(zz[0]) | (1 << al)


def _ac_first_pass(
    reader: _BitReader, zz: np.ndarray, ss: int, se: int, al: int,
    ac_tbl: dict, state: dict,
) -> None:
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_symbol(reader, ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s:
            k += r
            if k > se:
                raise JpegFormatError("AC run past end of band")
            zz[k] = _extend(reader.receive(s), s) << al
            k += 1
        else:
            if r != 15:
                state["eobrun"] = (1 << r) - 1
                if r:
                    state["eobrun"] += reader.receive(r)
                return
            k += 16  # ZRL
    return


def _ac_refine_pass(
    reader: _BitReader, zz: np.ndarray, ss: int, se: int, al: int,
    ac_tbl: dict, state: dict,
) -> None:
    p1 = 1 << al
    m1 = -p1

    def correct(k: int) -> None:
        # history-nonzero coefficient: one correction bit appends the
        # next magnitude bit (T.81 G.1.2.3)
        if reader.read_bit():
            v = int(zz[k])
            if (v & p1) == 0:
                zz[k] = v + (p1 if v >= 0 else m1)

    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _decode_symbol(reader, ac_tbl)
            r, s = rs >> 4, rs & 0x0F
            newly = 0
            if s == 0:
                if r != 15:
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += reader.receive(r)
                    break
                # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise JpegFormatError(
                        "AC refinement symbol with size != 1"
                    )
                newly = p1 if reader.read_bit() else m1
            while k <= se:
                if int(zz[k]) != 0:
                    correct(k)
                else:
                    if r == 0:
                        if newly:
                            zz[k] = newly
                        k += 1
                        break
                    r -= 1
                k += 1
    if state["eobrun"] > 0:
        # inside an EOB run: the band's remaining history-nonzero
        # coefficients still carry correction bits
        while k <= se:
            if int(zz[k]) != 0:
                correct(k)
            k += 1
        state["eobrun"] -= 1


def _finish_progressive(
    width: int,
    height: int,
    comps: list[dict],
    qtables: dict,
    precision: int = 8,
) -> tuple[int, int, int, bytearray]:
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for c in comps:
        if c["tq"] not in qtables:
            raise JpegFormatError("missing quantization table")
        q = qtables[c["tq"]]
        zz = c["zz"].astype(np.float64)
        bh, bw = zz.shape[0], zz.shape[1]
        natural = np.zeros_like(zz)
        natural[:, :, ZIGZAG] = zz  # per block: natural[ZIGZAG[i]] = zz[i]
        c["coef"] = (
            (natural.reshape(bh, bw, 8, 8) * q)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
    return _idct_output(width, height, comps, hmax, vmax, precision)


# --------------------------------------------------------------------------
# Encoder


def _quality_scale(base: list[int], quality: int) -> np.ndarray:
    """libjpeg-style quality scaling; quality=100 -> all-ones (lossless for
    flat blocks)."""
    if not 1 <= quality <= 100:
        raise JpegFormatError("quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = [(b * scale + 50) // 100 for b in base]
    tbl = np.array([min(255, max(1, v)) for v in q], dtype=np.float64)
    out = np.zeros(64)
    out[ZIGZAG] = tbl  # base tables are in zig-zag order (Annex K)
    return out.reshape(8, 8)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def byte_align(self) -> None:
        """Pad to a byte boundary with 1-bits (T.81 F.1.2.3); an 0xFF pad
        byte gets stuffed like any entropy byte."""
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)

    def append_marker(self, marker: int) -> None:
        """Emit a raw (unstuffed) marker into the entropy stream."""
        self.byte_align()
        self.out.extend(bytes([0xFF, marker]))

    def flush(self) -> bytes:
        self.byte_align()
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """value -> (category, magnitude bits)."""
    t = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << t) - 1
    return t, bits


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _dqt_seg(tq: int, tbl: np.ndarray) -> bytes:
    zz = tbl.reshape(-1)[ZIGZAG].astype(np.uint8)
    return _seg(0xDB, bytes([tq]) + zz.tobytes())


def _dht_seg(tc: int, th: int, spec: tuple) -> bytes:
    bits, vals = spec
    return _seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))


def _encode_block(
    writer: _BitWriter,
    block: np.ndarray,
    q: np.ndarray,
    pred: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    coefs = _A @ block @ _A.T
    quant = _round_half_up(coefs / q).astype(np.int64)
    zz = quant.reshape(-1)[ZIGZAG]  # zz[i] = quant.flat[ZIGZAG[i]]
    dc = int(zz[0])
    t, bits = _magnitude(dc - pred)
    code, length = dc_codes[t]
    writer.write(code, length)
    if t:
        writer.write(bits, t)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        t, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | t]
        writer.write(code, length)
        writer.write(bits, t)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc


def encode_jpeg(
    width: int,
    height: int,
    channels: int,
    pixels: bytes | bytearray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Encode flat 8-bit row-major samples -> baseline JPEG bytes
    (greyscale or YCbCr, Annex K tables, deterministic output).

    ``subsampling``: ``'444'`` (one block per component per MCU),
    ``'422'`` (2x1 luma blocks per MCU, chroma averaged horizontally --
    the broadcast-video layout), or ``'420'`` (2x2 luma blocks per MCU,
    chroma averaged over 2x2 with the codec's floor(x+0.5) rounding --
    the dominant wild-corpus layout).
    ``restart_interval``: emit DRI + RSTn every N MCUs (0 = none); both
    exist chiefly so the DECODER's sampling/restart paths have real
    roundtrip coverage rather than dead branches.

    ``progressive=True`` emits SOF2 with a jpegtran-style scan script
    (DC at Al=1, two AC spectral bands at Al=1, AC refinement to Al=0,
    DC refinement) -- same final coefficients as baseline, so decoded
    pixels are bit-identical to the baseline encoding; exists so the
    DECODER's progressive paths (EOB runs, successive approximation)
    have real round-trip coverage."""
    if channels not in (1, 3):
        raise JpegFormatError(f"unsupported channel count {channels}")

    if subsampling not in ("444", "422", "420"):
        raise JpegFormatError(f"unsupported subsampling {subsampling!r}")
    if subsampling != "444" and channels == 1:
        subsampling = "444"  # greyscale has no chroma to subsample
    if len(pixels) != width * height * channels:
        raise JpegFormatError("pixel buffer does not match dimensions")
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
        height, width, channels
    ).astype(np.float64)
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        # JFIF RGB -> YCbCr, floor(x+0.5) rounding.
        y = _round_half_up(0.299 * r + 0.587 * g + 0.114 * b)
        cb = _round_half_up(128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b)
        cr = _round_half_up(128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b)
        planes = [np.clip(p, 0, 255) for p in (y, cb, cr)]
    else:
        planes = [arr[..., 0]]

    q_luma = _quality_scale(STD_LUMA_Q, quality)
    q_chroma = _quality_scale(STD_CHROMA_Q, quality)
    dc_l = _build_encode_table(*DC_LUMA_SPEC)
    ac_l = _build_encode_table(*AC_LUMA_SPEC)
    dc_c = _build_encode_table(*DC_CHROMA_SPEC)
    ac_c = _build_encode_table(*AC_CHROMA_SPEC)

    # Pad planes by edge replication: luma to the MCU multiple, chroma
    # (after any subsampling) to 8.
    lh, lv = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[subsampling]
    mcu_h, mcu_w = 8 * lv, 8 * lh
    ph = -(-height // mcu_h) * mcu_h
    pw = -(-width // mcu_w) * mcu_w

    def pad(p: np.ndarray, th: int, tw: int) -> np.ndarray:
        return np.pad(
            p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge"
        )

    luma = pad(planes[0], ph, pw) - 128.0
    chroma = []
    for p in planes[1:]:
        pp = pad(p, ph, pw)
        if subsampling == "420":
            pp = _round_half_up(
                (pp[0::2, 0::2] + pp[0::2, 1::2] + pp[1::2, 0::2] + pp[1::2, 1::2])
                / 4.0
            )
        elif subsampling == "422":
            # horizontal-only averaging (2x1), the broadcast-video layout
            pp = _round_half_up((pp[:, 0::2] + pp[:, 1::2]) / 2.0)
        chroma.append(pp - 128.0)

    if progressive:
        return _encode_progressive(
            width, height, channels, luma, chroma, q_luma, q_chroma, lh, lv,
            restart_interval,
        )

    writer = _BitWriter()
    preds = [0] * channels
    rst_count = 0
    mcu_index = 0
    for by in range(0, ph, mcu_h):
        for bx in range(0, pw, mcu_w):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                writer.append_marker(0xD0 + rst_count % 8)
                rst_count += 1
                preds = [0] * channels
            for j in range(lv):
                for i in range(lh):
                    y0, x0 = by + 8 * j, bx + 8 * i
                    preds[0] = _encode_block(
                        writer,
                        luma[y0 : y0 + 8, x0 : x0 + 8],
                        q_luma,
                        preds[0],
                        dc_l,
                        ac_l,
                    )
            for ci, p in enumerate(chroma, start=1):
                cy, cx = (by // lv, bx // lh)
                preds[ci] = _encode_block(
                    writer,
                    p[cy : cy + 8, cx : cx + 8],
                    q_chroma,
                    preds[ci],
                    dc_c,
                    ac_c,
                )
            mcu_index += 1
    scan = writer.flush()

    seg, dqt, dht = _seg, _dqt_seg, _dht_seg

    out = bytearray(_SOI)
    out += seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += dqt(0, q_luma)
    if channels == 3:
        out += dqt(1, q_chroma)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sof_comps = b""
    for ci in range(channels):
        hv = ((lh << 4) | lv) if ci == 0 else 0x11
        sof_comps += bytes([ci + 1, hv, 0 if ci == 0 else 1])
    out += seg(0xC0, struct.pack(">BHHB", 8, height, width, channels) + sof_comps)
    out += dht(0, 0, DC_LUMA_SPEC)
    out += dht(1, 0, AC_LUMA_SPEC)
    if channels == 3:
        out += dht(0, 1, DC_CHROMA_SPEC)
        out += dht(1, 1, AC_CHROMA_SPEC)
    sos_comps = b""
    for ci in range(channels):
        sos_comps += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    out += seg(0xDA, bytes([channels]) + sos_comps + b"\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------------------
# Progressive encoder (T.81 Annex G scan script; exists to round-trip-test
# the progressive decoder -- same quantized coefficients as baseline, so
# decoded pixels match the baseline encoding bit-for-bit)


def _quantize_grid(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Centered plane (multiple-of-8 dims) -> (BH, BW, 64) quantized
    coefficients in zig-zag order (same FDCT/quant math as baseline)."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coefs = np.einsum("ux,mnxy,vy->mnuv", _A, blocks, _A, optimize=True)
    quant = _round_half_up(coefs / q).astype(np.int64)
    return quant.reshape(bh, bw, 64)[:, :, ZIGZAG]


def _sig_trunc(v: int, al: int) -> int:
    """Point-transform for AC first scans: magnitude shift, sign kept
    (truncation toward zero, T.81 G.1.2.2 -- NOT the DC floor shift)."""
    t = abs(v) >> al
    return -t if v < 0 else t


class _EobState:
    """Deferred end-of-band run shared across a scan's blocks, with the
    correction bits that ride on the run (refinement scans)."""

    def __init__(self, writer: _BitWriter, ac_codes: dict):
        self.writer = writer
        self.ac_codes = ac_codes
        self.run = 0
        self.bits: list[int] = []

    def bump(self, bits: list[int]) -> None:
        self.run += 1
        self.bits.extend(bits)
        if self.run == 0x7FFF:
            self.flush()

    def flush(self) -> None:
        if self.run:
            r = self.run.bit_length() - 1
            code, length = self.ac_codes[r << 4]
            self.writer.write(code, length)
            if r:
                self.writer.write(self.run - (1 << r), r)
            for b in self.bits:
                self.writer.write(b, 1)
            self.run = 0
            self.bits = []


def _emit_dc_scan(
    writer: _BitWriter,
    grids: list[np.ndarray],
    metas: list[dict],
    mcus_x: int,
    mcus_y: int,
    ah: int,
    al: int,
    dc_codes: list[dict],
    restart_interval: int = 0,
) -> None:
    """Interleaved DC scan: first pass (ah=0) Huffman-codes diffs of the
    floor-shifted DC; refinement emits one raw bit per block. Restart
    markers (if any) byte-align and reset the DC predictors, mirroring
    the decoder's per-interval reset."""
    preds = [0] * len(grids)
    unit = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and unit and unit % restart_interval == 0:
                writer.append_marker(0xD0 + rst % 8)
                rst += 1
                preds = [0] * len(grids)
            unit += 1
            for ci, grid in enumerate(grids):
                h, v = metas[ci]["h"], metas[ci]["v"]
                for j in range(v):
                    for i in range(h):
                        dc = int(grid[my * v + j, mx * h + i, 0])
                        if ah == 0:
                            sh = dc >> al  # floor shift (two's complement)
                            t, bits = _magnitude(sh - preds[ci])
                            preds[ci] = sh
                            code, length = dc_codes[ci][t]
                            writer.write(code, length)
                            if t:
                                writer.write(bits, t)
                        else:
                            writer.write((dc >> al) & 1, 1)


def _emit_ac_first_scan(
    writer: _BitWriter,
    grid: np.ndarray,
    nbh: int,
    nbw: int,
    ss: int,
    se: int,
    al: int,
    ac_codes: dict,
    restart_interval: int = 0,
) -> None:
    eob = _EobState(writer, ac_codes)
    unit = 0
    rst = 0
    for by in range(nbh):
        for bx in range(nbw):
            if restart_interval and unit and unit % restart_interval == 0:
                eob.flush()  # an EOB run may not cross a restart
                writer.append_marker(0xD0 + rst % 8)
                rst += 1
            unit += 1
            band = [
                _sig_trunc(int(grid[by, bx, k]), al) for k in range(ss, se + 1)
            ]
            nz = [i for i, t in enumerate(band) if t]
            if not nz:
                eob.bump([])
                continue
            eob.flush()
            r = 0
            for i in range(nz[-1] + 1):
                t = band[i]
                if t == 0:
                    r += 1
                    continue
                while r > 15:
                    code, length = ac_codes[0xF0]
                    writer.write(code, length)
                    r -= 16
                s, bits = _magnitude(t)
                code, length = ac_codes[(r << 4) | s]
                writer.write(code, length)
                writer.write(bits, s)
                r = 0
            if nz[-1] < se - ss:
                eob.bump([])
    eob.flush()


def _emit_ac_refine_scan(
    writer: _BitWriter,
    grid: np.ndarray,
    nbh: int,
    nbw: int,
    ss: int,
    se: int,
    al: int,
    ac_codes: dict,
    restart_interval: int = 0,
) -> None:
    """Refinement pass Ah=al+1 -> Al=al (T.81 G.1.2.3): newly-significant
    coefficients run-code with size 1 + a sign bit; history-nonzero ones
    append one correction bit, buffered so it rides with the next symbol
    (or the deferred EOB run) exactly where the decoder's walk consumes
    it."""
    eob = _EobState(writer, ac_codes)
    unit = 0
    rst = 0
    for by in range(nbh):
        for bx in range(nbw):
            if restart_interval and unit and unit % restart_interval == 0:
                eob.flush()
                writer.append_marker(0xD0 + rst % 8)
                rst += 1
            unit += 1
            vals = [int(grid[by, bx, k]) for k in range(ss, se + 1)]
            ts = [abs(v) >> al for v in vals]
            eobpos = max((i for i, t in enumerate(ts) if t == 1), default=-1)
            r = 0
            pending: list[int] = []
            for i, v in enumerate(vals):
                t = ts[i]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= eobpos:
                    eob.flush()
                    code, length = ac_codes[0xF0]
                    writer.write(code, length)
                    r -= 16
                    for b in pending:
                        writer.write(b, 1)
                    pending = []
                if t > 1:
                    # history-nonzero: next magnitude bit only
                    pending.append(t & 1)
                    continue
                eob.flush()
                code, length = ac_codes[(r << 4) | 1]
                writer.write(code, length)
                writer.write(1 if v > 0 else 0, 1)
                for b in pending:
                    writer.write(b, 1)
                pending = []
                r = 0
            if r > 0 or pending:
                eob.bump(pending)
    eob.flush()


def _encode_progressive(
    width: int,
    height: int,
    channels: int,
    luma: np.ndarray,
    chroma: list[np.ndarray],
    q_luma: np.ndarray,
    q_chroma: np.ndarray,
    lh: int,
    lv: int,
    restart_interval: int = 0,
) -> bytes:
    hmax, vmax = lh, lv
    mcus_x = luma.shape[1] // (8 * lh)
    mcus_y = luma.shape[0] // (8 * lv)
    grids = [_quantize_grid(luma, q_luma)]
    metas = [{"id": 1, "h": lh, "v": lv, "tq": 0, "td": 0, "ta": 0}]
    for ci, p in enumerate(chroma, start=2):
        grids.append(_quantize_grid(p, q_chroma))
        metas.append({"id": ci, "h": 1, "v": 1, "tq": 1, "td": 1, "ta": 1})
    # non-interleaved (per-component ceil) grids for the AC scans --
    # ceil(samples/8) where samples = ceil(dim * sampling / max_sampling)
    for m in metas:
        sw = -(-width * m["h"] // hmax)
        sh = -(-height * m["v"] // vmax)
        m["nbw"] = -(-sw // 8)
        m["nbh"] = -(-sh // 8)

    dc_codes = [
        _build_encode_table(*(DC_LUMA_SPEC if m["td"] == 0 else DC_CHROMA_SPEC))
        for m in metas
    ]
    # both components' AC scans share the flat progressive table (slot 0)
    ac_codes = [_build_encode_table(*PROG_AC_SPEC) for _ in metas]
    for m in metas:
        m["ta"] = 0

    out = bytearray(_SOI)
    out += _seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += _dqt_seg(0, q_luma)
    if channels == 3:
        out += _dqt_seg(1, q_chroma)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sof_comps = b""
    for m in metas:
        sof_comps += bytes([m["id"], (m["h"] << 4) | m["v"], m["tq"]])
    out += _seg(0xC2, struct.pack(">BHHB", 8, height, width, channels) + sof_comps)
    out += _dht_seg(0, 0, DC_LUMA_SPEC)
    out += _dht_seg(1, 0, PROG_AC_SPEC)
    if channels == 3:
        out += _dht_seg(0, 1, DC_CHROMA_SPEC)

    def sos(scan_metas: list[dict], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(scan_metas)])
        for m in scan_metas:
            body += bytes([m["id"], (m["td"] << 4) | m["ta"]])
        body += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, body)

    # ---- scan script: DC@Al=1; AC 1-5 and 6-63 first@Al=1 per comp;
    #      AC refine ->Al=0 per comp; DC refine ->Al=0
    out += sos(metas, 0, 0, 0, 1)
    w = _BitWriter()
    _emit_dc_scan(
        w, grids, metas, mcus_x, mcus_y, 0, 1, dc_codes, restart_interval
    )
    out += w.flush()
    for bands in ((1, 5), (6, 63)):
        for ci, m in enumerate(metas):
            out += sos([m], bands[0], bands[1], 0, 1)
            w = _BitWriter()
            _emit_ac_first_scan(
                w, grids[ci], m["nbh"], m["nbw"], bands[0], bands[1], 1,
                ac_codes[ci], restart_interval,
            )
            out += w.flush()
    for ci, m in enumerate(metas):
        out += sos([m], 1, 63, 1, 0)
        w = _BitWriter()
        _emit_ac_refine_scan(
            w, grids[ci], m["nbh"], m["nbw"], 1, 63, 0, ac_codes[ci],
            restart_interval,
        )
        out += w.flush()
    out += sos(metas, 0, 0, 1, 0)
    w = _BitWriter()
    _emit_dc_scan(
        w, grids, metas, mcus_x, mcus_y, 1, 0, dc_codes, restart_interval
    )
    out += w.flush()
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------------------
# 12-bit extended-sequential encoder (decoder-coverage twin, same posture
# as the progressive encoder: spec-valid output whose job is exercising
# the SOF1 / pq=1-DQT / extended-Huffman decode paths)

#: Flat Huffman specs for 12-bit scans: DC categories reach 15 and AC
#: sizes reach 15 (coefficients span +-16384 at quality 100), beyond the
#: Annex K 8-bit tables -- so 12-bit scans carry complete flat codes
#: (256 length-8 AC symbols; 16 DC categories).
DC12_SPEC = (
    [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
    list(range(16)),
)
AC12_SPEC = (
    # 255 codes at length 8 + 1 at length 9: Kraft 255/256 + 1/512 < 1,
    # and the length-9 code (0x1FE) is not all-ones -- both constraints
    # a complete 256x8 table would violate (T.81 reserves the all-ones
    # prefix).
    [0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0],
    [(r << 4) | s for r in range(16) for s in range(16)],
)


def encode_jpeg12(
    width: int,
    height: int,
    channels: int,
    samples: list[int],
    quality: int = 90,
) -> bytes:
    """Encode 12-bit samples (interleaved ints in [0, 4095], greyscale or
    RGB, 4:4:4) -> extended-sequential (SOF1) 12-bit JPEG bytes with
    16-bit (pq=1) quantization tables."""
    if channels not in (1, 3):
        raise JpegFormatError(f"unsupported channel count {channels}")
    if len(samples) != width * height * channels:
        raise JpegFormatError("sample buffer does not match dimensions")
    arr = np.asarray(samples, dtype=np.float64).reshape(height, width, channels)
    if arr.min() < 0 or arr.max() > 4095:
        raise JpegFormatError("samples must be 12-bit (0..4095)")
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        y = _round_half_up(0.299 * r + 0.587 * g + 0.114 * b)
        cb = _round_half_up(2048.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b)
        cr = _round_half_up(2048.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b)
        planes = [np.clip(p, 0, 4095) for p in (y, cb, cr)]
    else:
        planes = [arr[..., 0]]

    q_luma = _quality_scale(STD_LUMA_Q, quality)
    q_chroma = _quality_scale(STD_CHROMA_Q, quality)
    dc_codes = _build_encode_table(*DC12_SPEC)
    ac_codes = _build_encode_table(*AC12_SPEC)

    ph = -(-height // 8) * 8
    pw = -(-width // 8) * 8
    padded = [
        np.pad(
            p, ((0, ph - height), (0, pw - width)), mode="edge"
        ) - 2048.0
        for p in planes
    ]

    writer = _BitWriter()
    preds = [0] * channels
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            for ci, p in enumerate(padded):
                q = q_luma if ci == 0 else q_chroma
                preds[ci] = _encode_block(
                    writer, p[by : by + 8, bx : bx + 8], q, preds[ci],
                    dc_codes, ac_codes,
                )
    scan = writer.flush()

    def dqt16(tq: int, tbl: np.ndarray) -> bytes:
        zz = tbl.reshape(-1)[ZIGZAG].astype(">u2")
        return _seg(0xDB, bytes([0x10 | tq]) + zz.tobytes())

    out = bytearray(_SOI)
    out += dqt16(0, q_luma)
    if channels == 3:
        out += dqt16(1, q_chroma)
    sof_comps = b""
    for ci in range(channels):
        sof_comps += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += _seg(0xC1, struct.pack(">BHHB", 12, height, width, channels) + sof_comps)
    out += _dht_seg(0, 0, DC12_SPEC)
    out += _dht_seg(1, 0, AC12_SPEC)
    sos_comps = b""
    for ci in range(channels):
        sos_comps += bytes([ci + 1, 0x00])
    out += _seg(0xDA, bytes([channels]) + sos_comps + b"\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"
    return bytes(out)
