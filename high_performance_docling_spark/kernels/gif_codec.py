"""Pure-Python GIF codec (GIF87a/GIF89a per the public W3C/CompuServe
specification) — the second real image container behind the multimodal
decode seam (operators/multimodal.decode_media_batch), beside PNG.

Decoder: logical screen descriptor, global/local color tables, graphic
control extensions (frame delays, transparency index), interlaced row
ordering (the 4-pass scheme), multi-frame animations, and a full GIF
variable-width LZW decompressor (LSB-first bit packing, CLEAR/EOI
codes, the cScSc self-referential case, 12-bit cap with deferred-clear
tolerance). Returns (frames: uint8 [n, h, w, 3], delays_cs: list[int]).
Frames are the raw per-frame rasters mapped through their color table
(disposal compositing is out of scope for feature extraction;
documented here so the contract is explicit).

Encoder: single-frame GIF89a with a power-of-two-padded global palette
and an LZW stream produced by MIRRORING the decoder's table/width state
machine (a CLEAR resets the table whenever it nears the 12-bit cap), so
encode→decode round-trips bit-exactly — property-fuzzed in
tests/test_gif_codec.py.

No reference counterpart: the reference consumes decoded figure crops
(document_assembler.py:62-90); the container parsing here implements
the public spec from scratch, like kernels/png_codec.py.
"""

from __future__ import annotations

import struct

import numpy as np

_GIF_MAGICS = (b"GIF87a", b"GIF89a")


# --------------------------------------------------------------------- LZW

def _lzw_decode(min_code_size: int, data: bytes, max_pixels: int) -> bytearray:
    """GIF LZW: variable code width from min_code_size+1 to 12 bits,
    LSB-first packing, CLEAR resets the table, EOI terminates."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                # missing EOI: tolerated by real-world decoders
                return out
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            return out
        if code < len(table) and code != clear and code != eoi:
            entry = table[code]
            if not entry:
                raise ValueError("reference to empty table slot")
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the cScSc case
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        if len(out) > max_pixels:
            raise ValueError("LZW output exceeds frame size")
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def _lzw_encode(min_code_size: int, indexes: bytes) -> bytes:
    """All-literal LZW stream that mirrors the decoder's table/width
    state machine exactly (emits CLEAR before the table nears the
    12-bit cap) — simple, spec-valid, and bit-exact on round-trip."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    width = min_code_size + 1
    table_len = clear + 2
    first = True

    def emit(code: int, w: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    for px in indexes:
        emit(px, width)
        if first:
            first = False
        else:
            # decoder adds one table entry per code after the first
            if table_len < 4096:
                table_len += 1
                if table_len == (1 << width) and width < 12:
                    width += 1
        if table_len >= 4094:
            emit(clear, width)
            width = min_code_size + 1
            table_len = clear + 2
            first = True
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------- container

def _deinterlace(idx: np.ndarray, h: int, w: int) -> np.ndarray:
    """The 4-pass GIF interlace row order → sequential rows."""
    rows = idx.reshape(h, w)
    out = np.empty_like(rows)
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    for src, dst in enumerate(order):
        out[dst] = rows[src]
    return out


def decode_gif(data: bytes) -> tuple[np.ndarray, list[int]]:
    """GIF bytes → (frames uint8 [n, h, w, 3], per-frame delays in
    centiseconds). Raises ValueError on malformed input."""
    if len(data) < 13 or data[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("truncated global color table")
        gct = np.frombuffer(data[pos:pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    frames: list[np.ndarray] = []
    delays: list[int] = []
    delay = 0
    while True:
        if pos >= len(data):
            raise ValueError("missing trailer")
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(data):
                raise ValueError("truncated extension")
            label = data[pos]
            pos += 1
            sub = bytearray()
            while True:
                if pos >= len(data):
                    raise ValueError("truncated sub-blocks")
                ln = data[pos]
                pos += 1
                if ln == 0:
                    break
                sub += data[pos:pos + ln]
                pos += ln
            if label == 0xF9 and len(sub) >= 4:  # graphic control
                delay = struct.unpack("<H", bytes(sub[1:3]))[0]
            continue
        if block != 0x2C:
            raise ValueError(f"unknown block 0x{block:02x}")
        if pos + 9 > len(data):
            raise ValueError("truncated image descriptor")
        _l, _t, w, h, ipacked = struct.unpack("<HHHHB", data[pos:pos + 9])
        pos += 9
        if w == 0 or h == 0 or w > sw or h > sh:
            raise ValueError("bad frame geometry")
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(data):
                raise ValueError("truncated local color table")
            ct = np.frombuffer(data[pos:pos + 3 * n], np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("frame without any color table")
        if pos >= len(data):
            raise ValueError("missing LZW min code size")
        mcs = data[pos]
        pos += 1
        lzw = bytearray()
        while True:
            if pos >= len(data):
                raise ValueError("truncated image data")
            ln = data[pos]
            pos += 1
            if ln == 0:
                break
            lzw += data[pos:pos + ln]
            pos += ln
        idx = np.frombuffer(
            bytes(_lzw_decode(mcs, bytes(lzw), w * h)), np.uint8
        )
        if idx.size != w * h:
            raise ValueError(
                f"decoded {idx.size} pixels, frame is {w}x{h}"
            )
        if int(idx.max(initial=0)) >= len(ct):
            raise ValueError("pixel index outside color table")
        if ipacked & 0x40:
            idx = _deinterlace(idx, h, w).reshape(-1)
        frames.append(ct[idx].reshape(h, w, 3))
        delays.append(delay)
    if not frames:
        raise ValueError("GIF contains no frames")
    return np.stack(frames), delays


def encode_gif(indexes: np.ndarray, palette: np.ndarray) -> bytes:
    """Single-frame GIF89a: ``indexes`` uint8 [h, w] into ``palette``
    uint8 [n, 3] (n ≥ 2). The palette is padded to a power of two as
    the spec requires."""
    idx = np.asarray(indexes, np.uint8)
    pal = np.asarray(palette, np.uint8)
    if idx.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3:
        raise ValueError("indexes must be [h,w]; palette [n,3]")
    if idx.size == 0:
        raise ValueError("empty frame")
    if len(pal) < 2 or len(pal) > 256:
        raise ValueError("palette size out of range")
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("index outside palette")
    h, w = idx.shape
    bits = max(2, int(len(pal) - 1).bit_length())
    padded = np.zeros((1 << bits, 3), np.uint8)
    padded[: len(pal)] = pal
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 0x07), 0, 0)
    out += padded.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    mcs = bits
    out.append(mcs)
    lzw = _lzw_encode(mcs, idx.tobytes())
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)  # data terminator
    out.append(0x3B)  # trailer
    return bytes(out)
