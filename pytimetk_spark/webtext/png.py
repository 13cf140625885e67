"""Pure-stdlib PNG decoder (zlib inflate + scanline unfilter).

The compressed web-image format in the REAL decode tier of
``decode_image_batch`` (webtext/multimodal.py): PNG's DEFLATE stream is
handled by the stdlib ``zlib`` module, so a dependency-free decode needs
only chunk parsing and the five scanline filters (RFC 2083 / W3C PNG
spec).

Supported: 8-bit samples, color types 0 (gray), 2 (RGB), 3 (palette +
PLTE), 4 (gray+alpha), 6 (RGBA), both non-interlaced and Adam7
interlaced (each of the 7 passes unfilters independently, then
scatters into the full grid by its origin/stride). Returns None for
1/2/4/16-bit depths or malformed streams — callers
fall back to the stub tier. Alpha is composited over white (web
convention for feature extraction); palette expands through PLTE.

Performance shape: inflate is C-speed (zlib); unfilter is per-ROW numpy
with vectorized None/Up rows and sequential Sub/Average/Paeth recurrences
per row (inherent data dependency along x). Runs per blob inside
mapInPandas, same boundary as the BMP/PPM decoder.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Crawl blobs are attacker-controlled: a tiny IDAT can declare a 2^31-pixel
# IHDR (allocation bomb) or inflate to multi-GB (decompression bomb). Cap
# the pixel count before any allocation and bound the inflate to exactly
# the scanline bytes the header implies.
MAX_PIXELS = 64_000_000  # 64 MP ≈ 8k×8k — far above real web images
# Adam7 pass geometry: (x_origin, y_origin, x_stride, y_stride)
ADAM7_PASSES = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _decode_png_impl(blob: bytes) -> np.ndarray | None:
    """Decode a PNG blob -> HxWx3 uint8 RGB, or None if out of scope."""
    if not blob.startswith(_SIG):
        return None
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    n = len(blob)
    while pos + 8 <= n:
        length, ctype = struct.unpack_from(">I4s", blob, pos)
        data = blob[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color not in _CHANNELS or comp != 0 or filt != 0:
                return None
            if interlace not in (0, 1):
                return None
            ihdr = (w, h, color, interlace)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        return None
    w, h, color, interlace = ihdr
    ch = _CHANNELS[color]
    if w == 0 or h == 0 or w * h > MAX_PIXELS:
        return None
    # Exact raw size the header implies: one filter byte + w*ch samples per
    # scanline (per Adam7 pass when interlaced). Inflate AT MOST that many
    # bytes — a stream that still has input left afterwards is a bomb.
    if interlace:
        expected = 0
        for x0, y0, dx, dy in ADAM7_PASSES:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:
                expected += ph * (pw * ch + 1)
    else:
        expected = h * (w * ch + 1)
    try:
        dobj = zlib.decompressobj()
        raw = dobj.decompress(bytes(idat), expected)
        if dobj.unconsumed_tail and dobj.decompress(
            dobj.unconsumed_tail, 1
        ):
            return None  # inflates past the declared geometry: reject
    except zlib.error:
        return None
    if interlace:
        img = np.zeros((h, w, ch), np.int32)
        off = 0
        for x0, y0, dx, dy in ADAM7_PASSES:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass carries no scanlines at all
            stride = pw * ch
            need = ph * (stride + 1)
            if len(raw) < off + need:
                return None
            rows = np.frombuffer(raw[off: off + need], np.uint8).reshape(
                ph, stride + 1
            )
            off += need
            sub = _unfilter(rows[:, 1:].astype(np.int32), rows[:, 0], ch)
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, ch)
    else:
        stride = w * ch
        if len(raw) < h * (stride + 1):
            return None
        rows = np.frombuffer(raw[: h * (stride + 1)], np.uint8).reshape(
            h, stride + 1
        )
        filters = rows[:, 0]
        img = _unfilter(rows[:, 1:].astype(np.int32), filters, ch)
        img = img.reshape(h, w, ch)
    if color == 3:
        if plte is None or (img[..., 0] >= len(plte)).any():
            return None
        return plte[img[..., 0]]
    if color == 0:
        g = img[..., 0].astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    if color == 2:
        return img.astype(np.uint8)
    # alpha variants: composite over white (feature-extraction convention)
    if color == 4:
        g, a = img[..., 0].astype(float), img[..., 1].astype(float) / 255.0
        g = g * a + 255.0 * (1 - a)
        g = np.clip(g, 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    rgbf = img[..., :3].astype(float)
    a = img[..., 3:4].astype(float) / 255.0
    out = rgbf * a + 255.0 * (1 - a)
    return np.clip(out, 0, 255).astype(np.uint8)


def _unfilter(rows: np.ndarray, filters: np.ndarray, bpp: int) -> np.ndarray:
    """Invert the five PNG scanline filters in place (rows int32,
    values mod 256 at the end). None/Up are whole-row vector ops; Sub/
    Average/Paeth carry an x-recurrence, looped per pixel position but
    vectorized over the ``bpp`` interleaved channels."""
    h, stride = rows.shape
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        r = rows[y]
        f = filters[y]
        if f == 0:
            r &= 0xFF
        elif f == 2:  # Up
            r += prev
            r &= 0xFF
        elif f == 1:  # Sub
            for x in range(bpp, stride):
                r[x] = (r[x] + r[x - bpp]) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                left = r[x - bpp] if x >= bpp else 0
                r[x] = (r[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = r[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                r[x] = (r[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        prev = r
    return rows


def decode_png(blob: bytes) -> np.ndarray | None:
    """Total wrapper: one corrupt blob in a crawl shard must fall to
    the None/stub path, never kill a Spark task — truncated or
    malformed streams surface as parser exceptions in the impl."""
    try:
        return _decode_png_impl(blob)
    except (IndexError, KeyError, ValueError, ZeroDivisionError,
            RecursionError, struct.error, MemoryError):
        return None
