"""Malformed-payload fuzz across every vendored codec: truncations,
bit flips, and garbage tails must surface the codec's own FormatError,
never a bare IndexError/KeyError/struct.error/OverflowError -- in
extract_features(mode='tolerant') the exception CLASS NAME is the
routed dead-letter value, so a leaked generic exception would both
crash strict jobs unhelpfully and corrupt the tolerant channel's
contract. (Round-5 sweep: this fuzz found and fixed seven parser gaps
in the JPEG segment walk alone.)"""

from __future__ import annotations

import random

from iot_data_pipeline_spark.operators import flac, gif, jpeg, mjpeg, png


def _mutations(rnd, valid, n):
    for _ in range(n):
        mode = rnd.choice(["truncate", "bitflip", "bitflip", "random"])
        if mode == "truncate":
            yield valid[: rnd.randrange(1, len(valid))]
        elif mode == "bitflip":
            b = bytearray(valid)
            for _ in range(rnd.randint(1, 8)):
                b[rnd.randrange(len(b))] ^= 1 << rnd.randrange(8)
            yield bytes(b)
        else:
            yield valid[:12] + bytes(
                rnd.randrange(256) for _ in range(rnd.randrange(400))
            )


def _probe(valid, decode, err_cls, seed, n=800):
    rnd = random.Random(seed)
    for payload in _mutations(rnd, valid, n):
        try:
            decode(payload)
        except err_cls:
            pass
        # anything else propagates and fails the test


def test_jpeg_baseline_malformed():
    rnd = random.Random(1)
    valid = jpeg.encode_jpeg(
        9, 9, 3, bytes(rnd.randrange(256) for _ in range(243))
    )
    _probe(valid, jpeg.decode_jpeg, jpeg.JpegFormatError, seed=11)


def test_jpeg_progressive_malformed():
    rnd = random.Random(2)
    valid = jpeg.encode_jpeg(
        9, 9, 3, bytes(rnd.randrange(256) for _ in range(243)),
        progressive=True,
    )
    _probe(valid, jpeg.decode_jpeg, jpeg.JpegFormatError, seed=12)


def test_mjpeg_malformed():
    rnd = random.Random(3)
    valid = mjpeg.encode_mjpeg_avi(
        8, 8,
        [bytes(rnd.randrange(256) for _ in range(192)) for _ in range(3)],
    )
    _probe(
        valid, mjpeg.decode_mjpeg_avi,
        (mjpeg.MjpegFormatError, jpeg.JpegFormatError), seed=13,
    )


def test_flac_malformed():
    rnd = random.Random(4)
    valid = flac.encode_flac(
        [rnd.randint(-30000, 30000) for _ in range(600)], block_size=192
    )
    _probe(valid, flac.decode_flac_ex, flac.FlacFormatError, seed=14)


def test_png_palette_interlaced_malformed():
    rnd = random.Random(5)
    valid = png.encode_png_palette(
        9, 9, [(1, 2, 3), (4, 5, 6), (7, 8, 9)],
        bytes(rnd.randrange(3) for _ in range(81)), depth=2, interlace=True,
    )
    _probe(valid, png.decode_png, png.PngFormatError, seed=15)


def test_gif_interlaced_malformed():
    rnd = random.Random(6)
    valid = gif.encode_gif(
        9, 9, [(1, 1, 1), (2, 2, 2), (3, 3, 3)],
        bytes(rnd.randrange(3) for _ in range(81)), interlaced=True,
    )
    _probe(valid, gif.decode_gif, gif.GifFormatError, seed=16)


def test_wav_malformed():
    from iot_data_pipeline_spark.operators import audio

    rnd = random.Random(7)
    valid = audio.encode_wav([rnd.randint(-30000, 30000) for _ in range(300)])
    _probe(valid, audio.decode_wav, audio.WavFormatError, seed=17)


def test_y4m_malformed():
    from iot_data_pipeline_spark.operators import y4m

    fr = [
        y4m.Y4mFrame(bytes([100]) * 256, b"\x80" * 64, b"\x80" * 64)
        for _ in range(3)
    ]
    valid = y4m.encode_y4m(16, 16, fr, "C420jpeg", (25, 1))
    _probe(valid, y4m.decode_y4m, y4m.Y4mFormatError, seed=18)
