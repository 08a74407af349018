"""Minimal pure-stdlib PNG codec (B48's real decode path).

The sandbox has no image libraries, so this vendors a from-scratch PNG
decoder/encoder on ``zlib`` + ``struct`` only (PNG is the one mainstream
image format fully decodable with the stdlib). Scope: 8-bit greyscale /
RGB / RGBA / greyscale+alpha, PALETTE (color type 3, depths 1/2/4/8,
tRNS transparency -> RGBA), Adam7 interlacing for every supported color
type (palette + Adam7 added round 5 -- previously refused), all five
scanline filters, and 16-bit samples (narrowed to their high byte, the
standard 16->8 approximation) -- i.e. everything common PNG writers
emit.

This runs INSIDE mapInPandas kernels (operators/multimodal.py),
so it must be dependency-free and deterministic; throughput is secondary
to having an honest end-to-end pixels path (the fast path on a real
cluster vendors libjpeg-turbo/ffmpeg via the cluster image).

Format reference: the public PNG specification (RFC 2083 / W3C PNG).
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: color_type -> samples per pixel (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class PngFormatError(ValueError):
    """Raised for payloads that are not PNG or use unsupported features."""


#: Decompression-bomb guard: max decoded sample buffer (width*height*channels)
#: accepted by ``decode_png``. 64 MiB covers any sane corpus thumbnail/image
#: while bounding the O(pixels) pure-Python unfilter loop an adversarial
#: 8-byte IHDR could otherwise trigger inside an executor kernel.
MAX_DECODED_BYTES = 64 * 1024 * 1024


def is_png(payload: bytes) -> bool:
    return payload[:8] == _SIGNATURE


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


#: Adam7 pass grid: (x_start, x_step, y_start, y_step) per pass.
_ADAM7 = (
    (0, 8, 0, 8),
    (4, 8, 0, 8),
    (0, 4, 4, 8),
    (2, 4, 0, 4),
    (0, 2, 2, 4),
    (1, 2, 0, 2),
    (0, 1, 1, 2),
)


def _unfilter(raw, offset, h, row_bytes, bpp):
    """Reverse the per-row filters over one (sub-)image of ``h`` rows of
    ``row_bytes`` filtered bytes each -> (h, row_bytes) uint8 array.

    None/Sub/Up rows (everything our own encoder and most tools emit)
    are numpy-vectorized: Sub's left-neighbor recurrence is a per-unit
    cumulative sum mod 256, Up is elementwise add with the previous
    output row. Average/Paeth keep the scalar loop -- their
    left-dependency mixes with the up-row through >>1 / the Paeth
    predictor, which has no closed prefix form; they stay correct, just
    on the slow path.
    """
    import numpy as np

    rawa = np.frombuffer(bytes(raw), dtype=np.uint8)
    out_np = np.empty((h, row_bytes), dtype=np.uint8)
    for y in range(h):
        fbyte = raw[offset + y * (row_bytes + 1)]
        line_off = offset + y * (row_bytes + 1) + 1
        line = rawa[line_off : line_off + row_bytes]
        if fbyte == 0:  # None
            out_np[y] = line
        elif fbyte == 1:  # Sub: per-unit cumsum mod 256
            cur = line.reshape(-1, bpp).astype(np.int64)
            out_np[y] = (
                (np.cumsum(cur, axis=0) & 0xFF).astype(np.uint8).reshape(-1)
            )
        elif fbyte == 2:  # Up
            if y:
                out_np[y] = line + out_np[y - 1]  # uint8 wraparound == mod 256
            else:
                out_np[y] = line
        elif fbyte in (3, 4):  # Average / Paeth: scalar (sequential in x)
            prev = bytes(out_np[y - 1]) if y else bytes(row_bytes)
            row = bytearray(row_bytes)
            if fbyte == 3:
                for x in range(row_bytes):
                    left = row[x - bpp] if x >= bpp else 0
                    row[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
            else:
                for x in range(row_bytes):
                    left = row[x - bpp] if x >= bpp else 0
                    ul = prev[x - bpp] if x >= bpp else 0
                    row[x] = (line[x] + _paeth(left, prev[x], ul)) & 0xFF
            out_np[y] = np.frombuffer(bytes(row), dtype=np.uint8)
        else:
            raise PngFormatError(f"bad filter byte {fbyte}")
    return out_np


def _unpack_indices(rows, pw, depth):
    """(h, row_bytes) packed palette rows -> (h, pw) per-pixel indices
    (MSB-first sub-byte packing per the PNG spec)."""
    import numpy as np

    if depth == 8:
        return rows[:, :pw]
    per_byte = 8 // depth
    mask = (1 << depth) - 1
    x = np.arange(pw)
    byte_ix = x // per_byte
    shift = 8 - depth * (x % per_byte + 1)
    return (rows[:, byte_ix] >> shift) & mask


def decode_png(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Decode a PNG -> ``(width, height, channels, pixels)``.

    ``pixels`` is a flat row-major bytearray of length
    ``width * height * channels`` (8 bits per sample). Palette images
    (color type 3, depths 1/2/4/8) decode to RGB -- or RGBA when a tRNS
    chunk is present; Adam7 interlacing is supported for every
    supported color type (round 5; both were previously refused).
    """
    import numpy as np

    if not is_png(payload):
        raise PngFormatError("bad PNG signature")
    pos = 8
    width = height = channels = -1
    depth = 8
    color = 0
    interlace = 0
    plte: bytes | None = None
    trns: bytes | None = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[
            pos + 4 : pos + 8
        ]
        if pos + 8 + length > len(payload):
            raise PngFormatError("chunk length exceeds payload (truncated PNG)")
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc (crc not verified)
        if ctype == b"IHDR":
            if len(data) != 13:
                raise PngFormatError("malformed IHDR chunk")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if color == 3:
                if depth not in (1, 2, 4, 8):
                    raise PngFormatError(
                        f"unsupported palette bit depth {depth}"
                    )
            elif color in _CHANNELS:
                if depth not in (8, 16):
                    raise PngFormatError(f"unsupported bit depth {depth}")
            else:
                raise PngFormatError(f"unsupported color type {color}")
            if interlace not in (0, 1):
                raise PngFormatError(f"bad interlace method {interlace}")
            if comp != 0 or filt != 0:
                raise PngFormatError("nonstandard compression/filter method")
            channels = 3 if color == 3 else _CHANNELS[color]
            # palette may widen to RGBA via tRNS: bound with 4
            if width * height * 4 > MAX_DECODED_BYTES:
                raise PngFormatError(
                    f"decoded size {width}x{height}x{channels} exceeds "
                    f"MAX_DECODED_BYTES ({MAX_DECODED_BYTES})"
                )
        elif ctype == b"PLTE":
            if len(data) % 3 or not data:
                raise PngFormatError("malformed PLTE chunk")
            plte = bytes(data)
        elif ctype == b"tRNS" and color == 3:
            trns = bytes(data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width < 0 or not idat:
        raise PngFormatError("missing IHDR or IDAT")
    if color == 3 and plte is None:
        raise PngFormatError("palette image missing PLTE chunk")

    bits_pp = depth * (1 if color == 3 else channels)
    bpp = max(1, bits_pp // 8)  # filter unit: 2 bytes/sample at depth 16

    def row_bytes(pw: int) -> int:
        return (pw * bits_pp + 7) // 8

    if interlace == 0:
        passes = [(0, 1, 0, 1, width, height)]
    else:
        passes = []
        for x0, xs, y0, ys in _ADAM7:
            pw = (width - x0 + xs - 1) // xs
            ph = (height - y0 + ys - 1) // ys
            passes.append((x0, xs, y0, ys, pw, ph))
    expected = sum(ph * (row_bytes(pw) + 1) for *_x, pw, ph in passes if pw and ph)
    try:
        # Bounded inflate: ask for at most expected+1 bytes so a bomb stream
        # stops at the cap instead of materializing; a too-long stream then
        # yields expected+1 bytes and fails the exact-length check below.
        raw = zlib.decompressobj().decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        raise PngFormatError(f"corrupt IDAT stream: {exc}") from exc
    if len(raw) != expected:
        raise PngFormatError("IDAT length does not match dimensions")

    if color == 3:
        img = np.zeros((height, width), dtype=np.uint8)  # palette indices
    else:
        img = np.zeros((height, width, channels), dtype=np.uint8)
    offset = 0
    for x0, xs, y0, ys, pw, ph in passes:
        if pw == 0 or ph == 0:
            continue
        rb = row_bytes(pw)
        rows = _unfilter(raw, offset, ph, rb, bpp)
        offset += ph * (rb + 1)
        if color == 3:
            img[y0::ys, x0::xs] = _unpack_indices(rows, pw, depth)
        elif depth == 16:
            # 16-bit samples narrow to their high byte (the standard
            # 16->8 approximation; the low byte is sub-8-bit detail)
            img[y0::ys, x0::xs, :] = rows.reshape(ph, pw, channels, 2)[
                :, :, :, 0
            ]
        else:
            img[y0::ys, x0::xs, :] = rows.reshape(ph, pw, channels)

    if color != 3:
        return width, height, channels, bytearray(img.tobytes())

    n_pal = len(plte) // 3
    if img.size and int(img.max()) >= n_pal:
        raise PngFormatError(
            f"palette index {int(img.max())} exceeds palette of {n_pal}"
        )
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(n_pal, 3)
    if trns is not None:
        alpha = np.full(n_pal, 255, dtype=np.uint8)
        alpha[: min(len(trns), n_pal)] = np.frombuffer(
            trns[:n_pal], dtype=np.uint8
        )
        pal = np.concatenate([pal, alpha[:, None]], axis=1)
    out = pal[img]
    return width, height, pal.shape[1], bytearray(out.tobytes())


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes | bytearray,
    interlace: bool = False,
) -> bytes:
    """Encode flat 8-bit row-major samples -> PNG bytes (filter 0 per row,
    fixed zlib level => byte-deterministic output). ``interlace=True``
    writes Adam7 passes -- exists so the decoder's interlace path has
    real round-trip coverage."""
    color = {1: 0, 3: 2, 2: 4, 4: 6}.get(channels)
    if color is None:
        raise PngFormatError(f"unsupported channel count {channels}")
    stride = width * channels
    if len(pixels) != stride * height:
        raise PngFormatError("pixel buffer does not match dimensions")

    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color, 0, 0, 1 if interlace else 0
    )
    raw = bytearray()
    if not interlace:
        for y in range(height):
            raw.append(0)
            raw.extend(pixels[y * stride : (y + 1) * stride])
    else:
        import numpy as np

        arr = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
            height, width, channels
        )
        for x0, xs, y0, ys in _ADAM7:
            sub = arr[y0::ys, x0::xs, :]
            for y in range(sub.shape[0]):
                if sub.shape[1] == 0:
                    continue
                raw.append(0)
                raw.extend(sub[y].tobytes())
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def encode_png_palette(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    indices: bytes | bytearray,
    depth: int = 8,
    trns: bytes | None = None,
    interlace: bool = False,
) -> bytes:
    """Encode palette indices -> color-type-3 PNG (PLTE + optional tRNS,
    MSB-first sub-byte packing for depths 1/2/4) -- the decoder-coverage
    twin of :func:`encode_png` for indexed images."""
    if depth not in (1, 2, 4, 8):
        raise PngFormatError(f"unsupported palette bit depth {depth}")
    if not 1 <= len(palette) <= min(256, 1 << depth):
        raise PngFormatError(
            f"palette size {len(palette)} out of range for depth {depth}"
        )
    if len(indices) != width * height:
        raise PngFormatError("index buffer does not match dimensions")
    if max(indices, default=0) >= len(palette):
        raise PngFormatError("pixel index exceeds palette")

    import numpy as np

    arr = np.frombuffer(bytes(indices), dtype=np.uint8).reshape(height, width)

    def pack_row(row: "np.ndarray") -> bytes:
        if depth == 8:
            return row.tobytes()
        per_byte = 8 // depth
        padded = np.zeros(((width + per_byte - 1) // per_byte) * per_byte,
                          dtype=np.uint8)
        padded[:width] = row
        grouped = padded.reshape(-1, per_byte)
        out = np.zeros(grouped.shape[0], dtype=np.uint8)
        for j in range(per_byte):
            out |= grouped[:, j] << (8 - depth * (j + 1))
        return out.tobytes()

    raw = bytearray()
    if not interlace:
        for y in range(height):
            raw.append(0)
            raw.extend(pack_row(arr[y]))
    else:
        for x0, xs, y0, ys in _ADAM7:
            sub = arr[y0::ys, x0::xs]
            pw = sub.shape[1]
            if pw == 0:
                continue
            per_byte = 8 // depth if depth < 8 else 1
            for y in range(sub.shape[0]):
                raw.append(0)
                if depth == 8:
                    raw.extend(sub[y].tobytes())
                else:
                    padded = np.zeros(
                        ((pw + per_byte - 1) // per_byte) * per_byte,
                        dtype=np.uint8,
                    )
                    padded[:pw] = sub[y]
                    grouped = padded.reshape(-1, per_byte)
                    out = np.zeros(grouped.shape[0], dtype=np.uint8)
                    for j in range(per_byte):
                        out |= grouped[:, j] << (8 - depth * (j + 1))
                    raw.extend(out.tobytes())
    ihdr = struct.pack(
        ">IIBBBBB", width, height, depth, 3, 0, 0, 1 if interlace else 0
    )
    out = bytearray(_SIGNATURE)
    out += _chunk(b"IHDR", ihdr)
    out += _chunk(b"PLTE", b"".join(bytes(c) for c in palette))
    if trns is not None:
        out += _chunk(b"tRNS", bytes(trns))
    out += _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
    out += _chunk(b"IEND", b"")
    return bytes(out)


def luma_grid_features(
    width: int, height: int, channels: int, pixels: bytes | bytearray, dim: int
) -> list[float]:
    """Real pixel features: mean luma over a ``g x g`` spatial grid
    (g = ceil(sqrt(dim))), flattened and truncated to ``dim``, each in
    [0, 1]. Luma uses integer Rec.601 weights so results are identical
    across platforms."""
    import numpy as np

    g = 1
    while g * g < dim:
        g += 1
    arr = (
        np.frombuffer(bytes(pixels), dtype=np.uint8)
        .reshape(height, width, channels)
        .astype(np.int64)
    )
    if channels >= 3:
        luma = (299 * arr[:, :, 0] + 587 * arr[:, :, 1] + 114 * arr[:, :, 2]) // 1000
    else:
        luma = arr[:, :, 0]
    gy = np.minimum(np.arange(height) * g // height, g - 1)
    gx = np.minimum(np.arange(width) * g // width, g - 1)
    cell = (gy[:, None] * g + gx[None, :]).ravel()
    # luma sums are integers exactly representable in float64 (<= 2^53),
    # so bincount-with-weights reproduces the scalar int accumulation
    sums = np.bincount(cell, weights=luma.ravel(), minlength=g * g)
    counts = np.bincount(cell, minlength=g * g)
    feats = np.where(
        counts > 0, sums / np.maximum(counts, 1) / 255.0, 0.0
    )
    return [float(v) for v in feats[:dim]]
