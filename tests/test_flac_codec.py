"""Vendored FLAC codec (operators/flac.py): rice-coded prediction
residuals under fixed/LPC predictors, stereo decorrelation, CRCs --
B48's compressed-audio modality (round 5; previously refused)."""

from __future__ import annotations

import math
import random

import pytest

from iot_data_pipeline_spark.operators import flac
from iot_data_pipeline_spark.operators.flac import (
    _BitWriter,
    _crc8,
    _crc16,
    _write_rice,
    _write_utf8_number,
)


def _roundtrip(samples, ch=1, rate=16000, bs=1024):
    blob = flac.encode_flac(samples, sample_rate=rate, channels=ch, block_size=bs)
    drate, dch, _, ds = flac.decode_flac_ex(blob)
    assert (drate, dch) == (rate, ch)
    assert ds == samples


def test_roundtrip_shapes():
    rnd = random.Random(1)
    _roundtrip([0] * 500)
    _roundtrip([int(12000 * math.sin(i * 0.07)) for i in range(3000)], bs=192)
    _roundtrip([rnd.randint(-32768, 32767) for _ in range(4001)], bs=1024)
    _roundtrip(
        [rnd.randint(-200, 200) for _ in range(2500 * 2)], ch=2, bs=256
    )


def test_roundtrip_fuzz():
    rnd = random.Random(23)
    for trial in range(40):
        ch = rnd.choice([1, 2])
        n = rnd.randint(1, 3000)
        s = [rnd.randint(-32768, 32767) for _ in range(n * ch)]
        _roundtrip(s, ch=ch, bs=rnd.choice([64, 192, 1024]))


def _stream(channels, bs, subframe_writer, ch_code=None, rate=16000):
    """Build a one-frame FLAC stream; ``subframe_writer(w)`` emits the
    subframe bits for every channel."""
    import struct

    out = bytearray(b"fLaC")
    si = _BitWriter()
    si.write(16, 16)
    si.write(max(bs, 16), 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(channels - 1, 3)
    si.write(15, 5)
    si.write(bs, 36)
    body = si.bytes() + bytes(16)
    out += bytes([0x80]) + struct.pack(">I", len(body))[1:] + body

    w = _BitWriter()
    w.write(0x3FFE, 14)
    w.write(0, 2)
    w.write(7, 4)  # 16-bit block size at end
    w.write(0, 4)  # rate from STREAMINFO
    w.write(channels - 1 if ch_code is None else ch_code, 4)
    w.write(4, 3)  # 16 bit
    w.write(0, 1)
    _write_utf8_number(w, 0)
    w.write(bs - 1, 16)
    w.write(_crc8(bytes(w.out)), 8)
    subframe_writer(w)
    w.align()
    w.write(_crc16(bytes(w.out)), 16)
    out += w.bytes()
    return bytes(out)


def test_lpc_subframe_decodes():
    """LPC order-2: s[i] = res[i] + ((c0*s[i-1] + c1*s[i-2]) >> shift)."""
    bs = 16
    warm = [100, 103]
    c0, c1, shift, prec = 3, -1, 1, 5
    res = [2, -1, 0, 3, -2, 1, 0, 0, 5, -4, 2, 1, 0, -1]
    expect = list(warm)
    for e in res:
        expect.append(e + ((c0 * expect[-1] + c1 * expect[-2]) >> shift))

    def sub(w):
        w.write(0, 1)
        w.write(0x20 | (2 - 1), 6)  # LPC order 2
        w.write(0, 1)  # no wasted bits
        for s in warm:
            w.write(s & 0xFFFF, 16)
        w.write(prec - 1, 4)
        w.write(shift & 0x1F, 5)
        w.write(c0 & ((1 << prec) - 1), prec)
        w.write(c1 & ((1 << prec) - 1), prec)
        w.write(0, 2)  # 4-bit rice
        w.write(0, 4)  # partition order 0
        w.write(2, 4)  # rice param 2
        _write_rice(w, res, 2)

    rate, ch, _, got = flac.decode_flac_ex(_stream(1, bs, sub))
    assert got == expect


def test_stereo_decorrelation_modes():
    """left/side, right/side, mid/side all reconstruct the same L/R."""
    bs = 8
    left = [100, -50, 300, 7, -32768, 32767, 0, 12]
    right = [90, -60, 280, 9, -32768, 32767, -1, 13]
    side = [left[i] - right[i] for i in range(bs)]
    mid = [(left[i] + right[i]) >> 1 for i in range(bs)]

    def verbatim(w, vals, bits):
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in vals:
            w.write(v & ((1 << bits) - 1), bits)

    for code, first, fbits, second, sbits in (
        (8, left, 16, side, 17),
        (9, side, 17, right, 16),
        (10, mid, 16, side, 17),
    ):
        def subs(w, first=first, fbits=fbits, second=second, sbits=sbits):
            verbatim(w, first, fbits)
            verbatim(w, second, sbits)

        rate, ch, _, got = flac.decode_flac_ex(_stream(2, bs, subs, ch_code=code))
        assert ch == 2
        assert got[0::2] == left and got[1::2] == right, code


def test_wasted_bits_shift_back():
    bs = 6
    base = [10, -4, 7, 0, 3, -8]  # stored at bps-2 after 2 wasted bits

    def sub(w):
        w.write(0, 1)
        w.write(1, 6)  # VERBATIM
        w.write(1, 1)  # wasted flag
        w.write(1, 2)  # unary 1 -> wasted = 2
        for v in base:
            w.write(v & ((1 << 14) - 1), 14)

    rate, ch, _, got = flac.decode_flac_ex(_stream(1, bs, sub))
    assert got == [v << 2 for v in base]


def test_rice_escape_and_partitions():
    """Partition order 1 with one rice and one escaped-raw partition."""
    bs = 8
    res = [1, -2, 3, 0, 500, -500, 123, -7]  # order 0 fixed

    def sub(w):
        w.write(0, 1)
        w.write(8, 6)  # FIXED order 0
        w.write(0, 1)
        w.write(0, 2)  # 4-bit rice
        w.write(1, 4)  # partition order 1 -> two partitions of 4
        w.write(1, 4)  # partition 1: rice param 1
        _write_rice(w, res[:4], 1)
        w.write(15, 4)  # partition 2: escape
        w.write(12, 5)  # 12 raw bits each
        for e in res[4:]:
            w.write(e & 0xFFF, 12)

    rate, ch, _, got = flac.decode_flac_ex(_stream(1, bs, sub))
    assert got == res


def test_header_crc_detects_corruption():
    blob = bytearray(flac.encode_flac([5, 6, 7, 8] * 64, block_size=64))
    # flip a bit inside the first frame header (after magic+4+34 metadata)
    frame_at = 4 + 4 + 34
    blob[frame_at + 4] ^= 0x01
    with pytest.raises(flac.FlacFormatError, match="CRC|sync|reserved|sample rate|block size"):
        flac.decode_flac_ex(bytes(blob))


def test_not_flac_refused():
    with pytest.raises(flac.FlacFormatError):
        flac.decode_flac_ex(b"RIFF....WAVE")


def _stream_custom(channels, bs, bps_code, si_bps, subframe_writer, rate=16000):
    """Like _stream but with explicit sample-size code / STREAMINFO bps."""
    import struct

    out = bytearray(b"fLaC")
    si = _BitWriter()
    si.write(16, 16)
    si.write(max(bs, 16), 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(channels - 1, 3)
    si.write(si_bps - 1, 5)
    si.write(bs, 36)
    body = si.bytes() + bytes(16)
    out += bytes([0x80]) + struct.pack(">I", len(body))[1:] + body
    w = _BitWriter()
    w.write(0x3FFE, 14)
    w.write(0, 2)
    w.write(7, 4)
    w.write(0, 4)
    w.write(channels - 1, 4)
    w.write(bps_code, 3)
    w.write(0, 1)
    _write_utf8_number(w, 0)
    w.write(bs - 1, 16)
    w.write(_crc8(bytes(w.out)), 8)
    subframe_writer(w)
    w.align()
    w.write(_crc16(bytes(w.out)), 16)
    out += w.bytes()
    return bytes(out)


def test_24bit_samples_decode():
    """24-bit VERBATIM subframe (sample size code 6) -- the depth claim
    beyond the encoder's 16-bit scope, backed by a crafted stream."""
    bs = 4
    vals = [8_000_000, -8_000_000, 123_456, -1]

    def sub(w):
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in vals:
            w.write(v & 0xFFFFFF, 24)

    rate, ch, _, got = flac.decode_flac_ex(_stream_custom(1, bs, 6, 24, sub))
    assert got == vals


def test_eight_channel_interleaving():
    bs = 3
    chans = [[c * 100 + k for k in range(bs)] for c in range(8)]

    def subs(w):
        for c in range(8):
            w.write(0, 1)
            w.write(1, 6)
            w.write(0, 1)
            for v in chans[c]:
                w.write(v & 0xFFFF, 16)

    rate, ch, _, got = flac.decode_flac_ex(_stream_custom(8, bs, 4, 16, subs))
    assert ch == 8
    for c in range(8):
        assert got[c::8] == chans[c], c


def test_32bit_size_code_refused():
    """Frame size-code 7 (32-bit) is outside the documented 8-24-bit
    scope and must refuse loudly, not silently decode an untested depth
    (round-5 advisor finding)."""
    bs = 2

    def sub(w):
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in (1, -1):
            w.write(v & 0xFFFFFFFF, 32)

    with pytest.raises(flac.FlacFormatError, match="32-bit"):
        flac.decode_flac_ex(_stream_custom(1, bs, 7, 24, sub))


def test_32bit_streaminfo_depth_refused():
    """STREAMINFO declaring 32-bit (frames would inherit it via size
    code 0) is equally out of scope."""
    bs = 2

    def sub(w):
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in (1, -1):
            w.write(v & 0xFFFFFFFF, 32)

    with pytest.raises(flac.FlacFormatError, match="scope"):
        flac.decode_flac_ex(_stream_custom(1, bs, 0, 32, sub))


def test_decode_flac_ex_exposes_bit_depth():
    bs = 4
    vals = [8_000_000, -8_000_000, 123_456, -1]

    def sub(w):
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in vals:
            w.write(v & 0xFFFFFF, 24)

    rate, ch, bps, got = flac.decode_flac_ex(_stream_custom(1, bs, 6, 24, sub))
    assert (ch, bps) == (1, 24)
    assert got == vals


def test_24bit_flac_features_normalized_by_depth(spark):
    """The audio feature kernel must normalize by 2**(bps-1), not the
    16-bit constant: a constant-amplitude 24-bit stream's mean-|amp|
    cells are exactly A / 2**23 (round-5 advisor finding -- previously
    they came out ~256x too large)."""
    from iot_data_pipeline_spark.operators.multimodal import (
        extract_audio_features,
    )

    bs = 16
    amp = 4_000_000  # needs >16 bits

    def sub(w):
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for j in range(bs):
            v = amp if j % 2 == 0 else -amp
            w.write(v & 0xFFFFFF, 24)

    blob = _stream_custom(1, bs, 6, 24, sub)
    df = spark.createDataFrame(
        [(0, bytearray(blob))], "media_id long, content binary"
    )
    row = extract_audio_features(df, dim=4, mode="strict").collect()[0]
    assert list(row["features"]) == pytest.approx([amp / 2.0**23] * 4)
    assert row["zero_crossings"] == bs - 1
