"""Vendored PNG codec (operators/png.py) + the strict-mode media kernels
that use it (B48's real decode path)."""

from __future__ import annotations

import random

import pytest

from iot_data_pipeline_spark.operators import png


def _random_pixels(w: int, h: int, ch: int, seed: int) -> bytes:
    rnd = random.Random(seed)
    return bytes(rnd.randrange(256) for _ in range(w * h * ch))


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_png_roundtrip_all_color_types(ch):
    w, h = 13, 7  # odd sizes catch stride bugs
    pixels = _random_pixels(w, h, ch, seed=ch)
    blob = png.encode_png(w, h, ch, pixels)
    assert png.is_png(blob)
    rw, rh, rch, rpix = png.decode_png(blob)
    assert (rw, rh, rch) == (w, h, ch)
    assert bytes(rpix) == pixels


def test_png_all_filter_types_decode():
    """Hand-build an IDAT using every filter type (0-4) and check the
    unfiltering reproduces the reference pixels."""
    import struct
    import zlib

    w, ch = 4, 3
    rows = [
        _random_pixels(w, 1, ch, seed=s) for s in range(5)
    ]  # 5 rows, one per filter type
    stride = w * ch

    # filter each row the way an encoder would
    def paeth(a, b, c):
        return png._paeth(a, b, c)

    raw = bytearray()
    prev = bytes(stride)
    for y, (ftype, row) in enumerate(zip([0, 1, 2, 3, 4], rows)):
        raw.append(ftype)
        for x in range(stride):
            left = row[x - ch] if x >= ch else 0
            up = prev[x]
            ul = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                raw.append(row[x])
            elif ftype == 1:
                raw.append((row[x] - left) & 0xFF)
            elif ftype == 2:
                raw.append((row[x] - up) & 0xFF)
            elif ftype == 3:
                raw.append((row[x] - ((left + up) >> 1)) & 0xFF)
            else:
                raw.append((row[x] - paeth(left, up, ul)) & 0xFF)
        prev = row

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    _, _, _, pix = png.decode_png(blob)
    assert bytes(pix) == b"".join(rows)


def test_png_rejects_unsupported():
    with pytest.raises(png.PngFormatError):
        png.decode_png(b"not a png at all----")
    # bogus color type refused, not mis-decoded
    import struct
    import zlib

    blob_bad = (
        b"\x89PNG\r\n\x1a\n"
        + png._chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 5, 0, 0, 0))
        + png._chunk(b"IDAT", zlib.compress(b"\x00" + b"\x00" * 3))
        + png._chunk(b"IEND", b"")
    )
    with pytest.raises(png.PngFormatError):
        png.decode_png(blob_bad)


def test_png_16bit_narrows_to_high_byte():
    """16-bit samples decode to their high byte (the standard 16->8
    approximation) through every filter unit -- bpp is 2 bytes/sample,
    so the Sub recurrence must stride 6 bytes for 16-bit RGB."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(9)
    w, h = 5, 4
    hi = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    lo = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw.extend(np.stack([hi[y], lo[y]], axis=-1).reshape(-1).tobytes())
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + png._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + png._chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + png._chunk(b"IEND", b"")
    )
    dw, dh, dc, out = png.decode_png(blob)
    assert (dw, dh, dc) == (w, h, 3)
    assert np.array_equal(
        np.frombuffer(bytes(out), np.uint8).reshape(h, w, 3), hi
    )


def test_luma_grid_features():
    # solid-grey features: every cell = v/255
    grey = bytes([100] * (3 * 3 * 3))
    feats = png.luma_grid_features(3, 3, 3, grey, 4)
    assert feats == pytest.approx([100 / 255.0] * 4)


def test_strict_mode_decodes_png_in_spark(spark):
    """extract_features(mode='strict') returns REAL luma features for PNG
    payloads distributed over partitions; non-PNG payloads raise."""
    from pyspark.sql import functions as F

    from iot_data_pipeline_spark.operators.multimodal import extract_features

    rows = []
    for i in range(6):
        v = 40 * i
        blob = png.encode_png(5, 4, 3, bytes([v] * (5 * 4 * 3)))
        rows.append((i, bytearray(blob)))
    df = spark.createDataFrame(rows, "media_id long, content binary").repartition(3)

    got = {
        r["media_id"]: r["features"]
        for r in extract_features(df, dim=4, mode="strict").collect()
    }
    for i in range(6):
        assert got[i] == pytest.approx([40 * i / 255.0] * 4), i

    bad = spark.createDataFrame(
        [(0, bytearray(b"JFIF-not-a-png"))], "media_id long, content binary"
    )
    with pytest.raises(Exception, match="PNG|NotImplemented"):
        extract_features(bad, dim=4, mode="strict").collect()


def test_truncated_chunk_raises_format_error():
    """A chunk declaring more bytes than remain must raise PngFormatError,
    not a raw zlib/slice error (ADVICE r2: bounds-check chunk lengths)."""
    import struct

    blob = bytearray(png.encode_png(4, 4, 3, bytes(48)))
    # Corrupt the first chunk's length field to point past the payload end.
    blob[8:12] = struct.pack(">I", len(blob))
    with pytest.raises(png.PngFormatError, match="truncated"):
        png.decode_png(bytes(blob))


def test_corrupt_idat_raises_format_error():
    blob = bytearray(png.encode_png(4, 4, 3, bytes(48)))
    # Flip bytes inside the IDAT zlib stream.
    idat_at = bytes(blob).find(b"IDAT") + 4
    blob[idat_at + 2 : idat_at + 6] = b"\x00\xff\x00\xff"
    with pytest.raises(png.PngFormatError, match="corrupt IDAT|IDAT length"):
        png.decode_png(bytes(blob))


def test_decompression_bomb_ihdr_refused_fast():
    """A tiny payload declaring a 65k x 65k image must be refused before any
    O(width*height) work happens (ADVICE r2: bomb surface on untrusted
    media bytes)."""
    import struct
    import time
    import zlib

    ihdr = struct.pack(">IIBBBBB", 65_000, 65_000, 8, 2, 0, 0, 0)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(100_000), 9))
        + chunk(b"IEND", b"")
    )
    t0 = time.perf_counter()
    with pytest.raises(png.PngFormatError, match="MAX_DECODED_BYTES"):
        png.decode_png(bomb)
    assert time.perf_counter() - t0 < 1.0


def test_non_image_payload_refused_with_documented_boundary(spark):
    """Payloads that are neither PNG nor baseline JPEG are a declared codec
    boundary (SCALE.md): strict-mode kernels must raise NotImplementedError
    naming the vendored scope."""
    from iot_data_pipeline_spark.operators.multimodal import extract_features

    mp3ish = b"ID3\x04\x00\x00\x00\x00\x00\x00" + bytes(64)
    df = spark.createDataFrame(
        [(0, bytearray(mp3ish))], "media_id long, content binary"
    )
    with pytest.raises(Exception, match="only PNG, JPEG"):
        extract_features(df, dim=4, mode="strict").collect()
    # Kernel-level twin (no Spark wrapping): message must name the boundary.
    with pytest.raises(png.PngFormatError):
        png.decode_png(mp3ish)


def test_palette_and_adam7_roundtrips():
    """Palette PNGs (depths 1/2/4/8, optional tRNS -> RGBA) and Adam7
    interlacing -- both previously refused, added round 5 -- round-trip
    through the codec's own encoders across 60 seeded draws."""
    import random

    import numpy as np

    rnd = random.Random(61)
    for trial in range(60):
        mode = rnd.choice(["truecolor_i", "palette", "palette_i"])
        w, h = rnd.randint(1, 33), rnd.randint(1, 33)
        if mode == "truecolor_i":
            ch = rnd.choice([1, 2, 3, 4])
            px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
            dw, dh, dc, out = png.decode_png(
                png.encode_png(w, h, ch, px, interlace=True)
            )
            assert (dw, dh, dc) == (w, h, ch) and bytes(out) == px, trial
            continue
        depth = rnd.choice([1, 2, 4, 8])
        n = rnd.randint(1, min(256, 1 << depth))
        pal = [
            (rnd.randrange(256), rnd.randrange(256), rnd.randrange(256))
            for _ in range(n)
        ]
        trns = (
            bytes(rnd.randrange(256) for _ in range(rnd.randint(1, n)))
            if rnd.random() < 0.5
            else None
        )
        idx = bytes(rnd.randrange(n) for _ in range(w * h))
        blob = png.encode_png_palette(
            w, h, pal, idx, depth=depth, trns=trns,
            interlace=mode.endswith("_i"),
        )
        dw, dh, dc, out = png.decode_png(blob)
        exp_ch = 4 if trns is not None else 3
        assert (dw, dh, dc) == (w, h, exp_ch), trial
        palarr = np.array(pal, dtype=np.uint8)
        if trns is not None:
            alpha = np.full(n, 255, np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, np.uint8)
            palarr = np.concatenate([palarr, alpha[:, None]], axis=1)
        expect = palarr[np.frombuffer(idx, np.uint8).reshape(h, w)]
        got = np.frombuffer(bytes(out), np.uint8).reshape(h, w, exp_ch)
        assert np.array_equal(got, expect), trial


def test_adam7_nonzero_filters_per_pass():
    """Interlaced decode must unfilter each pass INDEPENDENTLY: a Sub/Up
    filter row in pass N references pass-N rows, never the previous
    pass's bytes. Hand-built 9x9 RGB image, Sub+Up filters applied
    within each Adam7 pass."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    rng = np.random.RandomState(4)
    w = h = 9
    arr = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    raw = bytearray()
    for x0, xs, y0, ys in png._ADAM7:
        sub = arr[y0::ys, x0::xs, :].astype(np.int64)
        ph, pw = sub.shape[0], sub.shape[1]
        if pw == 0:
            continue
        for y in range(ph):
            row = sub[y].reshape(-1)
            if y == 0:  # Sub filter within the pass
                raw.append(1)
                prevpx = np.zeros(3, dtype=np.int64)
                for x in range(pw):
                    raw.extend(
                        ((row[3 * x : 3 * x + 3] - prevpx) & 0xFF).astype(
                            np.uint8
                        ).tobytes()
                    )
                    prevpx = row[3 * x : 3 * x + 3]
            else:  # Up filter against the PASS's previous row
                raw.append(2)
                up = sub[y - 1].reshape(-1)
                raw.extend(((row - up) & 0xFF).astype(np.uint8).tobytes())
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", _zlib.compress(bytes(raw), 6))
        + png._chunk(b"IEND", b"")
    )
    dw, dh, dc, out = png.decode_png(blob)
    assert (dw, dh, dc) == (w, h, 3)
    assert np.array_equal(
        np.frombuffer(bytes(out), np.uint8).reshape(h, w, 3), arr
    )


def test_palette_index_beyond_plte_refused():
    blob = bytearray(
        png.encode_png_palette(2, 2, [(1, 2, 3), (4, 5, 6)], bytes([0, 1, 1, 0]))
    )
    # enlarge an index beyond the 2-entry palette by rewriting the IDAT
    import struct as _struct
    import zlib as _zlib

    raw = bytearray()
    for row in ([0, 7], [1, 0]):
        raw.append(0)
        raw.extend(row)
    idat = _zlib.compress(bytes(raw), 6)
    out = bytearray()
    pos = 8
    out += blob[:8]
    while pos < len(blob):
        (length,) = _struct.unpack(">I", blob[pos : pos + 4])
        ctype = bytes(blob[pos + 4 : pos + 8])
        if ctype == b"IDAT":
            out += png._chunk(b"IDAT", idat)
        else:
            out += blob[pos : pos + 12 + length]
        pos += 12 + length
    with pytest.raises(png.PngFormatError, match="palette"):
        png.decode_png(bytes(out))
