"""Vendored baseline JPEG codec (operators/jpeg.py) + strict-mode kernels.

The determinism contract under test: quality=100 makes flat (solid-color)
8x8 blocks bit-exact through encode->decode, with the only value changes
being the documented floor(x+0.5) YCbCr double-rounding -- the closed-form
chain the q130 oracle replicates in SQL.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from iot_data_pipeline_spark.operators import jpeg


def _expected_solid_rgb(r: int, g: int, b: int) -> tuple[int, int, int]:
    """The codec's documented double-rounding chain for a flat block."""
    fl = lambda x: min(255, max(0, math.floor(x + 0.5)))  # noqa: E731
    y = fl(0.299 * r + 0.587 * g + 0.114 * b)
    cb = fl(128 - 0.168735892 * r - 0.331264108 * g + 0.5 * b)
    cr = fl(128 + 0.5 * r - 0.418687589 * g - 0.081312411 * b)
    return (
        fl(y + 1.402 * (cr - 128)),
        fl(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        fl(y + 1.772 * (cb - 128)),
    )


@pytest.mark.parametrize(
    "rgb", [(0, 0, 0), (255, 255, 255), (10, 200, 40), (7, 91, 203)]
)
def test_solid_color_quality100_exact(rgb):
    pix = bytes(rgb) * 64
    blob = jpeg.encode_jpeg(8, 8, 3, pix, quality=100)
    assert jpeg.is_jpeg(blob)
    w, h, ch, out = jpeg.decode_jpeg(blob)
    assert (w, h, ch) == (8, 8, 3)
    assert bytes(out) == bytes(_expected_solid_rgb(*rgb)) * 64


def test_random_roundtrip_bounded_and_deterministic():
    rnd = np.random.RandomState(7)
    pix = rnd.randint(0, 256, (16, 24, 3), dtype=np.uint8)
    blob = jpeg.encode_jpeg(24, 16, 3, pix.tobytes(), quality=95)
    assert blob == jpeg.encode_jpeg(24, 16, 3, pix.tobytes(), quality=95)
    w, h, ch, out = jpeg.decode_jpeg(blob)
    assert (w, h, ch) == (24, 16, 3)
    arr = np.frombuffer(bytes(out), dtype=np.uint8).reshape(16, 24, 3)
    # random noise is JPEG's worst case; q95 keeps it within a small bound
    assert np.abs(arr.astype(int) - pix.astype(int)).max() <= 32
    assert bytes(out) == bytes(jpeg.decode_jpeg(blob)[3])


def test_grayscale_odd_dimensions_padding():
    rnd = np.random.RandomState(3)
    gpix = rnd.randint(0, 256, (13, 11), dtype=np.uint8)
    blob = jpeg.encode_jpeg(11, 13, 1, gpix.tobytes(), quality=100)
    w, h, ch, out = jpeg.decode_jpeg(blob)
    assert (w, h, ch) == (11, 13, 1)
    garr = np.frombuffer(bytes(out), dtype=np.uint8).reshape(13, 11)
    assert np.abs(garr.astype(int) - gpix.astype(int)).max() <= 1


def test_malformed_refused():
    with pytest.raises(jpeg.JpegFormatError):
        jpeg.decode_jpeg(b"\xff\xd8\xff\xe0\x00\x10JFIF\x00" + bytes(64))
    with pytest.raises(jpeg.JpegFormatError):
        jpeg.decode_jpeg(b"not a jpeg at all")
    # a baseline-SOS stream relabeled SOF2 violates the progressive scan
    # rules (DC scan must have Se = 0) and must refuse, not mis-decode
    pix = bytes((1, 2, 3)) * 64
    blob = bytearray(jpeg.encode_jpeg(8, 8, 3, pix))
    sof_at = bytes(blob).find(b"\xff\xc0")
    blob[sof_at + 1] = 0xC2
    with pytest.raises(jpeg.JpegFormatError):
        jpeg.decode_jpeg(bytes(blob))


def test_progressive_matches_baseline_pixels():
    """Progressive decode (SOF2: spectral selection + successive
    approximation + EOB runs) is differential-tested against baseline:
    the progressive scan script encodes the SAME quantized coefficients,
    so decoded pixels must match bit-for-bit."""
    import random

    rnd = random.Random(99)
    for trial in range(25):
        ch = rnd.choice([1, 3])
        w, h = rnd.randint(1, 48), rnd.randint(1, 48)
        sub = rnd.choice(["444", "420"]) if ch == 3 else "444"
        q = rnd.choice([50, 90, 100])
        px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
        base = jpeg.decode_jpeg(
            jpeg.encode_jpeg(w, h, ch, px, quality=q, subsampling=sub)
        )
        prog = jpeg.decode_jpeg(
            jpeg.encode_jpeg(
                w, h, ch, px, quality=q, subsampling=sub, progressive=True
            )
        )
        assert base[:3] == prog[:3], (trial, w, h, ch, sub, q)
        assert bytes(base[3]) == bytes(prog[3]), (trial, w, h, ch, sub, q)


def test_progressive_eob_runs_and_sparse_blocks():
    """Flat and near-flat images drive multi-block EOB runs (EOBn
    symbols) and refinement ZRL paths -- the progressive-specific coding
    the random fuzz hits only occasionally."""
    import random

    rnd = random.Random(5)
    for w, h, ch in ((64, 64, 1), (48, 32, 3), (17, 23, 3)):
        flat = bytes([137]) * (w * h * ch)
        arr = bytearray(flat)
        for _ in range(4):  # a few spikes -> long EOB runs between them
            arr[rnd.randrange(len(arr))] = 255
        for px in (flat, bytes(arr)):
            base = jpeg.decode_jpeg(jpeg.encode_jpeg(w, h, ch, px, quality=75))
            prog = jpeg.decode_jpeg(
                jpeg.encode_jpeg(w, h, ch, px, quality=75, progressive=True)
            )
            assert bytes(base[3]) == bytes(prog[3])


def test_progressive_routes_through_strict_kernel():
    # the multimodal strict kernel calls decode_jpeg, so SOF2 payloads
    # decode through the same path with no routing change
    from iot_data_pipeline_spark.operators.multimodal import (
        _decode_image_features,
    )

    pix = bytes((10, 200, 30)) * (16 * 16)
    blob = jpeg.encode_jpeg(16, 16, 3, pix, quality=100, progressive=True)
    feats = _decode_image_features(blob, dim=4)
    base = _decode_image_features(
        jpeg.encode_jpeg(16, 16, 3, pix, quality=100), dim=4
    )
    assert feats == base


def test_dimension_bomb_refused_fast():
    import struct
    import time

    pix = bytes((9, 9, 9)) * 64
    blob = bytearray(jpeg.encode_jpeg(8, 8, 3, pix))
    sof_at = bytes(blob).find(b"\xff\xc0")
    # SOF0 body: len(2) prec(1) height(2) width(2) -- inflate both dims
    blob[sof_at + 5 : sof_at + 9] = struct.pack(">HH", 65000, 65000)
    t0 = time.perf_counter()
    with pytest.raises(jpeg.JpegFormatError, match="MAX_DECODED_BYTES"):
        jpeg.decode_jpeg(bytes(blob))
    assert time.perf_counter() - t0 < 1.0


def test_strict_kernel_decodes_jpeg_in_spark(spark):
    from iot_data_pipeline_spark.operators.multimodal import extract_features

    rows = []
    for i in range(5):
        v = 50 * i
        blob = jpeg.encode_jpeg(8, 8, 3, bytes([v, v, v]) * 64, quality=100)
        rows.append((i, bytearray(blob)))
    df = spark.createDataFrame(rows, "media_id long, content binary").repartition(2)
    got = {
        r["media_id"]: r["features"]
        for r in extract_features(df, dim=4, mode="strict").collect()
    }
    for i in range(5):
        v = 50 * i
        er, eg, eb = _expected_solid_rgb(v, v, v)
        luma = (299 * er + 587 * eg + 114 * eb) // 1000
        assert got[i] == pytest.approx([luma / 255.0] * 4), i


def test_420_solid_matches_444_exactly():
    # flat chroma planes are invariant under 2x2 averaging, so 4:2:0 and
    # 4:4:4 must decode to identical pixels for solid colors
    for rgb in [(10, 200, 40), (7, 91, 203)]:
        pix = bytes(rgb) * (16 * 16)
        b420 = jpeg.encode_jpeg(16, 16, 3, pix, quality=100, subsampling="420")
        b444 = jpeg.encode_jpeg(16, 16, 3, pix, quality=100, subsampling="444")
        assert jpeg.decode_jpeg(b420)[3] == jpeg.decode_jpeg(b444)[3]


@pytest.mark.parametrize("dims", [(17, 13), (9, 9), (1, 1), (8, 24)])
def test_420_preserves_luma_on_arbitrary_dims(dims):
    # chroma is averaged 2x2 (lossy on noise BY DESIGN); the luma channel
    # must survive subsampling within rounding. Also exercises the
    # decoder's 2x2 upsample + crop on non-MCU-multiple dimensions.
    w, h = dims
    rnd = np.random.RandomState(w * 100 + h)
    # mid-range pixels keep the chroma-averaged reconstruction inside
    # [0,255]: clamping would otherwise shift luma on saturated noise
    # (real behavior, but not the property under test)
    pix = rnd.randint(96, 160, (h, w, 3), dtype=np.uint8)
    blob = jpeg.encode_jpeg(w, h, 3, pix.tobytes(), quality=100, subsampling="420")
    rw, rh, rch, out = jpeg.decode_jpeg(blob)
    assert (rw, rh, rch) == (w, h, 3)
    arr = np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, w, 3).astype(float)
    want_y = 0.299 * pix[..., 0] + 0.587 * pix[..., 1] + 0.114 * pix[..., 2]
    got_y = 0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]
    assert np.abs(got_y - want_y).max() <= 3.0


@pytest.mark.parametrize("sub", ["444", "420"])
@pytest.mark.parametrize("interval", [1, 2, 5])
def test_restart_intervals_decode_identically(sub, interval):
    rnd = np.random.RandomState(42)
    pix = rnd.randint(0, 256, (24, 32, 3), dtype=np.uint8).tobytes()
    with_rst = jpeg.encode_jpeg(
        32, 24, 3, pix, quality=100, subsampling=sub, restart_interval=interval
    )
    without = jpeg.encode_jpeg(32, 24, 3, pix, quality=100, subsampling=sub)
    assert b"\xff\xdd" in with_rst and b"\xff\xdd" not in without
    assert jpeg.decode_jpeg(with_rst)[3] == jpeg.decode_jpeg(without)[3]


def test_dhash_collides_across_codecs_and_respects_nulls(spark):
    """The SAME image stored as PNG and as quality-100 JPEG must produce
    the same dHash (that is what makes it a perceptual dedup key, not a
    byte digest); NULL payloads pass through as NULL."""
    from iot_data_pipeline_spark.operators import png
    from iot_data_pipeline_spark.operators.imagehash import (
        dhash_bytes,
        dhash_images,
    )

    row = bytes(((x * 16) % 256) for x in range(16))
    pixels = row * 16
    as_png = png.encode_png(16, 16, 1, pixels)
    as_jpeg = jpeg.encode_jpeg(16, 16, 1, pixels, quality=100)
    assert dhash_bytes(as_png) == dhash_bytes(as_jpeg)

    df = spark.createDataFrame(
        [(0, bytearray(as_png)), (1, bytearray(as_jpeg)), (2, None)],
        "media_id long, content binary",
    )
    got = {r["media_id"]: r["dhash"] for r in dhash_images(df).collect()}
    assert got[0] == got[1] == dhash_bytes(as_png)
    assert got[2] is None


def test_progressive_422_and_restart_intervals():
    """4:2:2 encode (h=2,v=1 decoder path) and progressive restart
    markers: RSTn inside SOF2 scans must reset DC predictors and EOB
    runs on both sides -- the decoder path a jpegtran-produced DRI
    progressive file exercises."""
    import random

    rnd = random.Random(8)
    for trial in range(15):
        ch = rnd.choice([1, 3])
        w, h = rnd.randint(1, 50), rnd.randint(1, 50)
        sub = rnd.choice(["444", "422", "420"]) if ch == 3 else "444"
        ri = rnd.choice([1, 2, 4, 7])
        px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
        base = jpeg.decode_jpeg(
            jpeg.encode_jpeg(w, h, ch, px, quality=90, subsampling=sub)
        )
        prog = jpeg.decode_jpeg(
            jpeg.encode_jpeg(
                w, h, ch, px, quality=90, subsampling=sub,
                progressive=True, restart_interval=ri,
            )
        )
        assert base[:3] == prog[:3], (trial, w, h, ch, sub, ri)
        assert bytes(base[3]) == bytes(prog[3]), (trial, w, h, ch, sub, ri)
    # 4:2:2 baseline round-trip stays within the codec's lossy envelope
    px = bytes((40, 90, 200)) * 256
    w_, h_, c_, out = jpeg.decode_jpeg(
        jpeg.encode_jpeg(16, 16, 3, px, quality=100, subsampling="422")
    )
    import numpy as np

    a = np.frombuffer(bytes(out), np.uint8).astype(int)
    b = np.frombuffer(px, np.uint8).astype(int)
    assert np.abs(a - b).max() <= 1


def test_12bit_flat_exact_and_closed_form():
    """12-bit extended sequential (SOF1, pq=1 quant tables, extended flat
    Huffman): flat blocks at quality=100 decode to the 12-bit value's
    high byte exactly; RGB runs the same double-rounding chain at the
    12-bit scale (level shift 2048) before narrowing."""
    for v in (0, 4095, 2048, 1234):
        blob = jpeg.encode_jpeg12(8, 8, 1, [v] * 64, quality=100)
        w, h, ch, out = jpeg.decode_jpeg(blob)
        assert (w, h, ch) == (8, 8, 1) and set(out) == {v >> 4}, v
    fl = lambda x: min(4095, max(0, math.floor(x + 0.5)))  # noqa: E731
    r, g, b = 100, 2000, 3500
    y = fl(0.299 * r + 0.587 * g + 0.114 * b)
    cb = fl(2048 - 0.168735892 * r - 0.331264108 * g + 0.5 * b)
    cr = fl(2048 + 0.5 * r - 0.418687589 * g - 0.081312411 * b)
    exp = (
        fl(y + 1.402 * (cr - 2048)) >> 4,
        fl(y - 0.344136 * (cb - 2048) - 0.714136 * (cr - 2048)) >> 4,
        fl(y + 1.772 * (cb - 2048)) >> 4,
    )
    w, h, ch, out = jpeg.decode_jpeg(
        jpeg.encode_jpeg12(8, 8, 3, [r, g, b] * 64, quality=100)
    )
    assert bytes(out) == bytes(exp) * 64


def test_12bit_random_roundtrip_bounded():
    import random

    rnd = random.Random(8)
    for trial in range(8):
        w, h = rnd.randint(1, 20), rnd.randint(1, 20)
        s = [rnd.randrange(4096) for _ in range(w * h)]
        dw, dh, dc, out = jpeg.decode_jpeg(
            jpeg.encode_jpeg12(w, h, 1, s, quality=95)
        )
        assert (dw, dh, dc) == (w, h, 1)
        assert max(abs(out[i] - (s[i] >> 4)) for i in range(len(s))) <= 40


def test_12bit_requires_sof1():
    # precision 12 under a plain SOF0 is malformed per scope and refused
    blob = bytearray(jpeg.encode_jpeg12(8, 8, 1, [7] * 64))
    sof_at = bytes(blob).find(b"\xff\xc1")
    blob[sof_at + 1] = 0xC0
    with pytest.raises(jpeg.JpegFormatError, match="12-bit"):
        jpeg.decode_jpeg(bytes(blob))
