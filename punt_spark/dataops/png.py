"""Pure-stdlib PNG codec (RFC 2083 / ISO 15948) — zlib is in the standard
library, so no transform math is needed: chunk framing, per-scanline
filters, and palette handling are the whole format.

No entry point imports this module: its one caller, the multimodal
operators, is deleted. It is the last module that ROADMAP item 4 still
has to delete, with ``tests/test_png.py``.

Scope:

* ``png_decode``: 8-bit greyscale (type 0), RGB (2), palette (3), and
  RGBA (6) — alpha is composited over black to keep the (h, w, 3)/(h, w)
  contract image decoders use; all five scanline filters (None/Sub/Up/
  Average/Paeth). 16-bit depths, sub-8-bit depths, and Adam7 interlace
  raise ``ValueError``.
* ``png_encode``: 8-bit RGB or greyscale, Sub filter (cheap and
  effective on the gradient-ish content the fixtures use), one IDAT.

The filter undo is a per-scanline loop (filters are sequentially
dependent by construction); within a line the math is vectorized where
the filter allows. Fine for thumbnail-sized images.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB or (h, w) greyscale → PNG bytes (8-bit,
    Sub-filtered, single IDAT)."""
    arr = np.asarray(arr)
    if arr.dtype != np.uint8:
        raise ValueError(f"png_encode wants uint8, got {arr.dtype}")
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError(f"unsupported array shape {arr.shape}")
    h, w = arr.shape[:2]
    color_type = 0 if gray else 2
    nch = 1 if gray else 3
    px = arr.reshape(h, w * nch).astype(np.int16)
    # Sub filter: delta against the pixel to the left (channel-aligned)
    left = np.zeros_like(px)
    left[:, nch:] = px[:, :-nch]
    filtered = ((px - left) & 0xFF).astype(np.uint8)
    raw = b"".join(b"\x01" + row.tobytes() for row in filtered)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def png_decode(payload: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8 RGB (types 2/3/6; RGBA composited
    over black) or (h, w) for greyscale (type 0). 8-bit, non-interlaced
    only — everything else raises ``ValueError``."""
    if payload[:8] != _SIG:
        raise ValueError("not a PNG payload (missing signature)")
    pos = 8
    ihdr = None
    palette = None
    idat = bytearray()
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # skip CRC
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG has no IHDR")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth} (8 only)")
    if interlace:
        raise ValueError("Adam7 interlaced PNG is not supported")
    if comp or filt:
        raise ValueError("non-standard PNG compression/filter method")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if nch is None:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if color_type == 3 and palette is None:
        raise ValueError("palette PNG without PLTE")
    raw = zlib.decompress(bytes(idat))
    stride = w * nch
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        if ftype == 0:  # None
            cur = line.copy()
        elif ftype == 2:  # Up
            cur = (line.astype(np.int16) + prev) .astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: left-dependent
            cur = np.zeros(stride, dtype=np.uint8)
            li = line.astype(np.int16)
            for x in range(stride):
                # plain Python ints throughout: mixing np.uint8 scalars
                # into p-a / abs() raises or wraps under numpy>=2 (NEP 50
                # ends value-based casting) — p ranges [-255, 510]
                a = int(cur[x - nch]) if x >= nch else 0
                if ftype == 1:
                    v = int(li[x]) + a
                elif ftype == 3:
                    v = int(li[x]) + ((a + int(prev[x])) >> 1)
                else:
                    c = int(prev[x - nch]) if x >= nch else 0
                    b = int(prev[x])
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = int(li[x]) + pred
                cur[x] = v & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    if color_type == 0:
        return out.reshape(h, w)
    if color_type == 3:
        idx = out.reshape(h, w)
        if idx.max() >= len(palette):
            raise ValueError("palette index out of range")
        return palette[idx]
    img = out.reshape(h, w, nch)
    if color_type == 2:
        return img.copy()
    # alpha (grey+alpha / RGBA): composite over black — keeps the
    # (h, w, 3) RGB contract
    rgb = img[..., :1] if color_type == 4 else img[..., :3]
    if color_type == 4:
        rgb = np.repeat(rgb, 3, axis=2)
    alpha = img[..., -1:].astype(np.float32) / 255.0
    return (rgb.astype(np.float32) * alpha).astype(np.uint8)
