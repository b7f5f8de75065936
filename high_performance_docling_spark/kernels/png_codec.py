"""Pure-Python PNG codec (stdlib zlib + numpy only — no PIL in this
sandbox).

Implements the PNG subset the engine needs for real image bytes in the
figure-crop sink (operators/figures.py): 8-bit greyscale (color type 0) and 8-bit RGB
(color type 2), non-interlaced. The ENCODER emits filter 0 (None) per
scanline with a fixed zlib level so output bytes are deterministic across
runs and hosts; the DECODER implements all five PNG filter types
(None/Sub/Up/Average/Paeth, RFC 2083 §6) so externally produced PNGs of
these color types decode too.

Reference analogue: the reference stores figure crops as PIL ImageRefs
(document_assembler.py:62-90); this module turns the engine's
deterministic bitmaps into actual portable image files.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """uint8 array (H,W) grey or (H,W,3) RGB → PNG bytes (deterministic:
    filter 0 scanlines, zlib level 6)."""
    arr = np.ascontiguousarray(img)
    if arr.dtype != np.uint8:
        raise ValueError(f"encode_png needs uint8, got {arr.dtype}")
    if arr.ndim == 2:
        color_type, channels = 0, 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        color_type, channels = 2, 3
    else:
        raise ValueError(f"unsupported shape {arr.shape}")
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # prepend the per-scanline filter byte (0 = None) with one reshape
    flat = arr.reshape(h, w * channels)
    raw = np.empty((h, 1 + w * channels), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = flat
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over one scanline (RFC 2083 §6.6)."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo per-scanline PNG filters (RFC 2083 §6): ``raw`` is (h,
    1+stride) with the filter byte in column 0."""
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype, line = raw[y, 0], raw[y, 1:].copy()
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:
            out[y] = line
        elif ftype == 1:  # Sub: left neighbor — inherently sequential
            for x in range(stride):
                left = out[y, x - bpp] if x >= bpp else 0
                out[y, x] = (int(line[x]) + int(left)) & 0xFF
        elif ftype == 2:  # Up
            out[y] = line + prev
        elif ftype == 3:  # Average
            for x in range(stride):
                left = int(out[y, x - bpp]) if x >= bpp else 0
                out[y, x] = (int(line[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = int(out[y, x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                out[y, x] = (
                    int(line[x]) + int(_paeth(
                        np.uint8(left), prev[x], np.uint8(ul)
                    ))
                ) & 0xFF
        else:
            raise ValueError(f"bad filter type {ftype}")
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array (H,W) grey or (H,W,3) RGB. Supports color
    types 0/2, bit depth 8, non-interlaced, all five scanline filters."""
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or color_type not in (0, 2) or comp or filt or interlace:
        raise ValueError(
            f"unsupported PNG: depth={depth} color={color_type} "
            f"interlace={interlace}"
        )
    channels = 1 if color_type == 0 else 3
    stride = w * channels
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    if raw.size != h * (1 + stride):
        raise ValueError("IDAT size mismatch")
    out = _unfilter(raw.reshape(h, 1 + stride), h, stride, channels)
    img = out.reshape(h, w, channels)
    return img[:, :, 0] if channels == 1 else img
