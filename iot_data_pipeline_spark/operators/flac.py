"""Minimal pure-stdlib FLAC codec (B48's compressed-audio modality).

Companion to ``operators/audio.py`` (RIFF/WAVE PCM): a REAL decoder for
the public FLAC format (RFC 9639 / the xiph.org specification),
implemented from the spec with zero dependencies -- closing the
"compressed audio refuses honestly" boundary the round-4 review listed.
FLAC matters to the codec family because it is genuinely *compressed*
audio: rice-coded prediction residuals under fixed and LPC predictors,
so a correct decode exercises entropy coding + linear prediction, not
just container plumbing.

Decode scope: 8/12/16/20/24-bit samples, 1-8 channels, fixed and
variable blocking, all subframe types (CONSTANT, VERBATIM, FIXED orders
0-4, LPC orders 1-32), rice partitions (4- and 5-bit parameters,
escape-to-raw), wasted bits, and all stereo decorrelation modes
(left/side, right/side, mid/side). Frame-header CRC-8 is verified
(corruption fails loudly); the frame CRC-16 is read and checked too.

The encoder exists to round-trip-test the decoder (same posture as the
progressive-JPEG and interlaced-GIF encoders): 16-bit, fixed blocking,
CONSTANT / VERBATIM / FIXED subframes with single-partition rice
residuals, real CRCs. Everything is integer arithmetic -- decoded
samples are bit-identical across platforms and SQL-restatable for
closed-form oracles (q187).

Reference parity target: the reference has no media path at all
(`app/app.py:1-149` is JSONL-only); this extends SURVEY §2.2 B48.
"""

from __future__ import annotations

import struct

__all__ = [
    "FlacFormatError",
    "is_flac",
    "decode_flac_ex",
    "encode_flac",
    "MAX_DECODED_SAMPLES",
]


class FlacFormatError(ValueError):
    """Payload is not FLAC this decoder supports."""


#: Decompression-bomb guard (total samples across channels).
MAX_DECODED_SAMPLES = 16 * 1024 * 1024

_MAGIC = b"fLaC"

#: frame-header sample-rate codes (None = defer to STREAMINFO / follows)
_RATES = {
    0: None, 1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
#: size-code 0 defers to STREAMINFO; 3 is reserved; 7 (32-bit) is outside
#: this decoder's 8-24-bit scope and is rejected explicitly below.
_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}

#: FIXED predictor coefficients by order (applied to previous samples).
_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def is_flac(payload: bytes) -> bool:
    return payload[:4] == _MAGIC


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 (spec 9.1.1)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial 0x8005, init 0 (spec 9.1.2)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
            )
    return crc


class _BitReader:
    """MSB-first bit reader that remembers byte offsets (for CRC spans)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos  # next byte to load
        self.buf = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise FlacFormatError("truncated FLAC stream")
            self.buf = (self.buf << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= nbits
        v = (self.buf >> self.n) & ((1 << nbits) - 1)
        self.buf &= (1 << self.n) - 1
        return v

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v & (1 << (nbits - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 20:
                raise FlacFormatError("runaway unary code")
        return q

    def align(self) -> None:
        self.n -= self.n % 8  # drop partial-byte padding bits
        self.buf &= (1 << self.n) - 1

    def byte_offset(self) -> int:
        return self.pos - self.n // 8


def _read_utf8_number(r: _BitReader) -> int:
    """The frame header's UTF-8-style coded number (up to 36 bits)."""
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x40
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 1 or nbytes > 6:
        raise FlacFormatError("bad UTF-8 coded number")
    val = b0 & (mask - 1)
    for _ in range(nbytes):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise FlacFormatError("bad UTF-8 continuation byte")
        val = (val << 6) | (b & 0x3F)
    return val


def _read_residual(r: _BitReader, block_size: int, order: int) -> list[int]:
    method = r.read(2)
    if method not in (0, 1):
        raise FlacFormatError(f"reserved residual coding method {method}")
    param_bits = 4 if method == 0 else 5
    escape = (1 << param_bits) - 1
    po = r.read(4)
    if block_size % (1 << po):
        raise FlacFormatError("block size not divisible by partition count")
    out: list[int] = []
    for p in range(1 << po):
        count = (block_size >> po) - (order if p == 0 else 0)
        if count < 0:
            raise FlacFormatError("predictor order exceeds first partition")
        param = r.read(param_bits)
        if param == escape:
            raw = r.read(5)
            for _ in range(count):
                out.append(r.read_signed(raw) if raw else 0)
        else:
            for _ in range(count):
                q = r.read_unary()
                v = (q << param) | r.read(param)
                out.append((v >> 1) ^ -(v & 1))  # zigzag -> signed
    return out


def _decode_subframe(r: _BitReader, block_size: int, bps: int) -> list[int]:
    if r.read(1):
        raise FlacFormatError("subframe padding bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    bps -= wasted
    if bps <= 0:
        raise FlacFormatError("wasted bits exceed sample size")

    if stype == 0:  # CONSTANT
        samples = [r.read_signed(bps)] * block_size
    elif stype == 1:  # VERBATIM
        samples = [r.read_signed(bps) for _ in range(block_size)]
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        samples = [r.read_signed(bps) for _ in range(order)]
        res = _read_residual(r, block_size, order)
        coefs = _FIXED_COEFS[order]
        for i, e in enumerate(res):
            pred = sum(c * samples[order + i - 1 - j] for j, c in enumerate(coefs))
            samples.append(e + pred)
    elif stype & 0x20:  # LPC, order = low 5 bits + 1
        order = (stype & 0x1F) + 1
        samples = [r.read_signed(bps) for _ in range(order)]
        precision = r.read(4) + 1
        if precision == 16:
            raise FlacFormatError("invalid LPC precision code 15")
        shift = r.read_signed(5)
        if shift < 0:
            raise FlacFormatError("negative LPC shift")
        coefs = [r.read_signed(precision) for _ in range(order)]
        res = _read_residual(r, block_size, order)
        for i, e in enumerate(res):
            acc = sum(c * samples[order + i - 1 - j] for j, c in enumerate(coefs))
            samples.append(e + (acc >> shift))
    else:
        raise FlacFormatError(f"reserved subframe type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac_ex(payload: bytes) -> tuple[int, int, int, list[int]]:
    """Decode -> ``(sample_rate, channels, bits_per_sample, samples)``.

    The STREAMINFO bit depth is the amplitude full scale of the decoded
    integers; feature kernels must normalize by ``2**(bps-1)``, not a
    hardcoded 16-bit scale (round-5 advisor finding: a 24-bit stream
    silently yielded features up to ~256)."""
    if not is_flac(payload):
        raise FlacFormatError("bad fLaC signature")
    pos = 4
    streaminfo = None
    # metadata blocks
    while True:
        if pos + 4 > len(payload):
            raise FlacFormatError("truncated metadata block header")
        head = payload[pos]
        (blen,) = struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        body = payload[pos + 4 : pos + 4 + blen]
        if len(body) != blen:
            raise FlacFormatError("truncated metadata block")
        if head & 0x7F == 0:  # STREAMINFO
            if blen != 34:
                raise FlacFormatError("malformed STREAMINFO")
            streaminfo = body
        pos += 4 + blen
        if head & 0x80:  # last-metadata-block flag
            break
    if streaminfo is None:
        raise FlacFormatError("missing STREAMINFO")
    si = _BitReader(streaminfo)
    si.read(16)  # min block size
    si.read(16)  # max block size
    si.read(24)  # min frame size
    si.read(24)  # max frame size
    si_rate = si.read(20)
    si_channels = si.read(3) + 1
    si_bps = si.read(5) + 1
    if not 8 <= si_bps <= 24:
        raise FlacFormatError(
            f"STREAMINFO bit depth {si_bps} is outside this decoder's "
            "8-24-bit scope"
        )
    si_total = si.read(36)
    if si_total * si_channels > MAX_DECODED_SAMPLES:
        raise FlacFormatError(
            f"declared {si_total} samples x {si_channels} channels exceeds "
            f"MAX_DECODED_SAMPLES ({MAX_DECODED_SAMPLES})"
        )

    channels_out: list[list[int]] = [[] for _ in range(si_channels)]
    decoded = 0
    while pos < len(payload) and (si_total == 0 or decoded < si_total):
        frame_start = pos
        r = _BitReader(payload, pos)
        sync = r.read(14)
        if sync != 0x3FFE:
            raise FlacFormatError(f"bad frame sync 0x{sync:04x}")
        if r.read(1):
            raise FlacFormatError("reserved frame header bit set")
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        rate_code = r.read(4)
        ch_code = r.read(4)
        size_code = r.read(3)
        if r.read(1):
            raise FlacFormatError("reserved frame header bit set")
        _read_utf8_number(r)
        if bs_code == 0:
            raise FlacFormatError("reserved block size code 0")
        elif bs_code == 1:
            block_size = 192
        elif bs_code <= 5:
            block_size = 576 << (bs_code - 2)
        elif bs_code == 6:
            block_size = r.read(8) + 1
        elif bs_code == 7:
            block_size = r.read(16) + 1
        else:
            block_size = 256 << (bs_code - 8)
        if rate_code == 12:
            r.read(8)
        elif rate_code in (13, 14):
            r.read(16)
        elif rate_code == 15:
            raise FlacFormatError("invalid sample rate code 15")
        header_end = r.byte_offset()
        expect_crc8 = r.read(8)
        if _crc8(payload[frame_start:header_end]) != expect_crc8:
            raise FlacFormatError("frame header CRC-8 mismatch")

        bps = _SAMPLE_SIZES.get(size_code, si_bps)
        if size_code == 3:
            raise FlacFormatError("reserved sample size code 3")
        if size_code == 7:
            raise FlacFormatError(
                "32-bit samples are outside this decoder's 8-24-bit scope"
            )
        if ch_code <= 7:
            n_ch = ch_code + 1
            if n_ch != si_channels:
                raise FlacFormatError("frame/STREAMINFO channel mismatch")
            subs = [
                _decode_subframe(r, block_size, bps) for _ in range(n_ch)
            ]
        elif ch_code in (8, 9, 10):
            if si_channels != 2:
                raise FlacFormatError("stereo decorrelation in non-stereo stream")
            # the SIDE channel carries one extra bit
            if ch_code == 8:  # left/side
                left = _decode_subframe(r, block_size, bps)
                side = _decode_subframe(r, block_size, bps + 1)
                subs = [left, [left[i] - side[i] for i in range(block_size)]]
            elif ch_code == 9:  # right/side (side first)
                side = _decode_subframe(r, block_size, bps + 1)
                right = _decode_subframe(r, block_size, bps)
                subs = [[right[i] + side[i] for i in range(block_size)], right]
            else:  # mid/side
                mid = _decode_subframe(r, block_size, bps)
                side = _decode_subframe(r, block_size, bps + 1)
                subs = [[0] * block_size, [0] * block_size]
                for i in range(block_size):
                    m2 = (mid[i] << 1) | (side[i] & 1)
                    subs[0][i] = (m2 + side[i]) >> 1
                    subs[1][i] = (m2 - side[i]) >> 1
        else:
            raise FlacFormatError(f"reserved channel assignment {ch_code}")
        r.align()
        footer_at = r.byte_offset()
        expect_crc16 = r.read(16)
        if _crc16(payload[frame_start:footer_at]) != expect_crc16:
            raise FlacFormatError("frame CRC-16 mismatch")
        pos = r.byte_offset()

        if decoded + block_size > si_total > 0:
            block_size_keep = si_total - decoded
        else:
            block_size_keep = block_size
        for c in range(si_channels):
            channels_out[c].extend(subs[c][:block_size_keep])
        decoded += block_size_keep
        if (decoded + 1) * si_channels > MAX_DECODED_SAMPLES:
            raise FlacFormatError("stream exceeds MAX_DECODED_SAMPLES")

    rate = si_rate
    interleaved: list[int] = []
    for i in range(decoded):
        for c in range(si_channels):
            interleaved.append(channels_out[c][i])
    return rate, si_channels, si_bps, interleaved


# --------------------------------------------------------------------------
# Encoder (decoder round-trip coverage: 16-bit, fixed blocking,
# CONSTANT / VERBATIM / FIXED subframes, single-partition rice)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.buf = (self.buf << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.buf >> self.n) & 0xFF)
        self.buf &= (1 << self.n) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a 1

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.out)


def _write_utf8_number(w: _BitWriter, val: int) -> None:
    if val < 0x80:
        w.write(val, 8)
        return
    # count of continuation bytes needed
    for nbytes in range(1, 7):
        if val < (1 << (6 * nbytes + (6 - nbytes))):
            break
    lead_bits = 6 - nbytes
    w.write((0xFF << (lead_bits + 1)) & 0xFF | (val >> (6 * nbytes)), 8)
    for i in range(nbytes - 1, -1, -1):
        w.write(0x80 | ((val >> (6 * i)) & 0x3F), 8)


def _write_rice(w: _BitWriter, residual: list[int], param: int) -> None:
    for e in residual:
        # zigzag: non-negative -> 2e, negative -> -2e - 1
        v = (e << 1) if e >= 0 else (((-e) << 1) - 1)
        w.write_unary(v >> param)
        if param:
            w.write(v & ((1 << param) - 1), param)


def _best_rice_param(residual: list[int]) -> int:
    if not residual:
        return 0
    mean = sum(abs(e) for e in residual) // max(len(residual), 1)
    p = 0
    while (1 << (p + 1)) < mean + 1 and p < 14:
        p += 1
    return p


def encode_flac(
    samples: list[int],
    sample_rate: int = 16000,
    channels: int = 1,
    block_size: int = 1024,
) -> bytes:
    """Encode 16-bit signed PCM (interleaved) -> FLAC bytes.

    Per block and channel the encoder picks CONSTANT (all-equal),
    FIXED order 2 (default), or VERBATIM (whichever of fixed/verbatim
    is smaller), with a single rice partition -- simple, spec-valid
    output whose point is exercising the DECODER's prediction and
    entropy paths, not compression ratio."""
    if channels < 1 or len(samples) % channels:
        raise FlacFormatError("sample count not a multiple of channels")
    n_frames = len(samples) // channels
    if any(not -32768 <= s <= 32767 for s in samples):
        raise FlacFormatError("samples must be 16-bit signed")
    chans = [samples[c::channels] for c in range(channels)]

    out = bytearray(_MAGIC)
    si = _BitWriter()
    si.write(16, 16)  # min block size
    si.write(max(block_size, 16), 16)  # max block size
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(channels - 1, 3)
    si.write(15, 5)  # bps - 1
    si.write(n_frames, 36)
    body = si.bytes() + bytes(16)  # zero md5
    out += bytes([0x80]) + struct.pack(">I", len(body))[1:] + body

    frame_no = 0
    off = 0
    while off < n_frames:
        bs = min(block_size, n_frames - off)
        w = _BitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocking
        w.write(7, 4)  # block size: 16-bit at end
        w.write(0, 4)  # sample rate: from STREAMINFO
        w.write(channels - 1, 4)
        w.write(4, 3)  # 16-bit samples
        w.write(0, 1)
        _write_utf8_number(w, frame_no)
        w.write(bs - 1, 16)
        header = w  # CRC over emitted bytes so far (writer is byte-aligned)
        assert header.n == 0
        crc8 = _crc8(bytes(header.out))
        w.write(crc8, 8)

        for ch in chans:
            block = ch[off : off + bs]
            _encode_subframe(w, block)
        w.align()
        crc16 = _crc16(bytes(w.out))
        w.write(crc16, 16)
        out += w.bytes()
        off += bs
        frame_no += 1
    return bytes(out)


def _encode_subframe(w: _BitWriter, block: list[int]) -> None:
    bs = len(block)
    if all(s == block[0] for s in block):
        w.write(0, 1)
        w.write(0, 6)  # CONSTANT
        w.write(0, 1)
        w.write(block[0] & 0xFFFF, 16)
        return
    order = 2 if bs > 2 else 0
    coefs = _FIXED_COEFS[order]
    res = [
        block[i]
        - sum(c * block[i - 1 - j] for j, c in enumerate(coefs))
        for i in range(order, bs)
    ]
    param = _best_rice_param(res)
    # bits: warmup + rice stream vs verbatim
    rice_bits = sum(
        ((((e << 1) if e >= 0 else (((-e) << 1) - 1)) >> param) + 1 + param)
        for e in res
    )
    fixed_cost = order * 16 + 2 + 4 + 4 + rice_bits
    if fixed_cost >= bs * 16 or param > 14:
        w.write(0, 1)
        w.write(1, 6)  # VERBATIM
        w.write(0, 1)
        for s in block:
            w.write(s & 0xFFFF, 16)
        return
    w.write(0, 1)
    w.write(8 + order, 6)  # FIXED
    w.write(0, 1)
    for s in block[:order]:
        w.write(s & 0xFFFF, 16)
    w.write(0, 2)  # 4-bit rice params
    w.write(0, 4)  # partition order 0
    w.write(param, 4)
    _write_rice(w, res, param)
