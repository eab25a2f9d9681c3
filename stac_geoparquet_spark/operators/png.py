"""Pure-stdlib PNG codec (zlib inflate + per-row unfilter).

The container ships no imaging libraries, so ``multimodal.decode_image``
gated its decode behind an import-try.  PNG, however, is decodable with
nothing but ``zlib`` and byte arithmetic: inflate the IDAT stream, then
invert the five per-row filters (None/Sub/Up/Average/Paeth) of the PNG
spec (RFC 2083 §6).  This module implements that — a REAL decode of a
real on-disk format, no deps — plus the minimal encoder the tests use
to build fixtures, and a nearest-neighbor resample so the resize
plumbing has a true pixel-grid path.

Scope (honest, documented): 8-bit samples, color types 0 (gray),
2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), no Adam7 interlace
(rejected with a clear error — interlaced PNGs are rare in training
corpora and re-encodable upstream).  16-bit depth raises rather than
silently truncating.

Worker-side use: a closure passed to mapInPandas may call these
functions like any other package code; the package registers itself to
pickle by value, so executors never import it.
"""

from __future__ import annotations

import struct
import zlib
from typing import NamedTuple

_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class DecodedImage(NamedTuple):
    """A decoded raster: 8-bit samples, row-major, interleaved
    channels (RGB for palette images — the palette is expanded)."""

    width: int
    height: int
    channels: int
    pixels: bytes

    def pixel(self, x: int, y: int) -> tuple[int, ...]:
        i = (y * self.width + x) * self.channels
        return tuple(self.pixels[i : i + self.channels])


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(payload: bytes) -> DecodedImage:
    """Decode a PNG byte payload to raw 8-bit pixels.

    Raises ValueError on malformed input and NotImplementedError on the
    documented out-of-scope shapes (16-bit, interlaced).
    """
    if payload[:8] != _MAGIC:
        raise ValueError("not a PNG payload (bad magic)")
    pos = 8
    ihdr = None
    plte = b""
    idat_parts: list[bytes] = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # skip CRC; integrity is the transport's job
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat_parts.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("unknown PNG compression/filter method")
    if interlace != 0:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    if depth != 8:
        raise NotImplementedError(f"bit depth {depth} not supported (8 only)")
    if color_type not in _CHANNELS:
        raise ValueError(f"unknown PNG color type {color_type}")
    nch = _CHANNELS[color_type]
    if not idat_parts:
        raise ValueError("PNG without IDAT data")
    try:
        raw = zlib.decompress(b"".join(idat_parts))
    except zlib.error as exc:
        # keep the documented contract: ValueError on malformed input
        # (a decode stage guarding `except ValueError` must not die on
        # zlib.error from corrupt deflate bytes)
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    stride = width * nch
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data length mismatch")

    out = bytearray(stride * height)
    prev_start = -1
    for y in range(height):
        fbyte = raw[y * (stride + 1)]
        row = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        o = y * stride
        if fbyte == 0:  # None
            out[o : o + stride] = row
        elif fbyte == 1:  # Sub
            for i in range(stride):
                left = out[o + i - nch] if i >= nch else 0
                out[o + i] = (row[i] + left) & 0xFF
        elif fbyte == 2:  # Up
            for i in range(stride):
                up = out[prev_start + i] if y else 0
                out[o + i] = (row[i] + up) & 0xFF
        elif fbyte == 3:  # Average
            for i in range(stride):
                left = out[o + i - nch] if i >= nch else 0
                up = out[prev_start + i] if y else 0
                out[o + i] = (row[i] + ((left + up) >> 1)) & 0xFF
        elif fbyte == 4:  # Paeth
            for i in range(stride):
                left = out[o + i - nch] if i >= nch else 0
                up = out[prev_start + i] if y else 0
                ul = out[prev_start + i - nch] if (y and i >= nch) else 0
                out[o + i] = (row[i] + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG row filter {fbyte}")
        prev_start = o

    if color_type == 3:
        if not plte or len(plte) % 3:
            raise ValueError("palette PNG without a valid PLTE")
        rgb = bytearray(width * height * 3)
        for i, idx in enumerate(out):
            if 3 * idx + 3 > len(plte):
                raise ValueError("palette index out of range")
            rgb[3 * i : 3 * i + 3] = plte[3 * idx : 3 * idx + 3]
        return DecodedImage(width, height, 3, bytes(rgb))
    return DecodedImage(width, height, nch, bytes(out))


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    row_filters: list[int] | None = None,
) -> bytes:
    """Minimal PNG encoder (8-bit gray/RGB/gray+alpha/RGBA), used by the
    test fixtures so the decoder is exercised against genuine PNG byte
    streams.  ``row_filters`` forces a specific filter per row (default
    all-None) so every unfilter branch gets covered by a roundtrip."""
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError("pixel buffer does not match dimensions")
    filters = row_filters or [0] * height
    raw = bytearray()
    for y in range(height):
        f = filters[y]
        row = pixels[y * stride : (y + 1) * stride]
        prev = pixels[(y - 1) * stride : y * stride] if y else bytes(stride)
        raw.append(f)
        if f == 0:
            raw.extend(row)
        elif f == 1:
            raw.extend(
                (row[i] - (row[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(stride)
            )
        elif f == 2:
            raw.extend((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif f == 3:
            raw.extend(
                (
                    row[i]
                    - (
                        ((row[i - channels] if i >= channels else 0) + prev[i])
                        >> 1
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        elif f == 4:
            raw.extend(
                (
                    row[i]
                    - _paeth(
                        row[i - channels] if i >= channels else 0,
                        prev[i],
                        prev[i - channels] if i >= channels else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        else:
            raise ValueError(f"unknown filter {f}")

    def chunk(ctag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctag
            + data
            + struct.pack(">I", zlib.crc32(ctag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (
        _MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def resize_nearest(img: DecodedImage, new_w: int, new_h: int) -> DecodedImage:
    """Nearest-neighbor resample on the decoded pixel grid — the true
    pixel-space counterpart of mm_resize's byte-stride stand-in."""
    if new_w <= 0 or new_h <= 0:
        raise ValueError("target dimensions must be positive")
    out = bytearray(new_w * new_h * img.channels)
    for y in range(new_h):
        sy = y * img.height // new_h
        for x in range(new_w):
            sx = x * img.width // new_w
            src = (sy * img.width + sx) * img.channels
            dst = (y * new_w + x) * img.channels
            out[dst : dst + img.channels] = img.pixels[
                src : src + img.channels
            ]
    return DecodedImage(new_w, new_h, img.channels, bytes(out))
