"""Minimal pure-Python PDF text extraction — the real-input smoke seam.

The reference opens downloaded PDFs with docling's parse backend
(main.py:31-43 download → InputDocument; lambda_preprocessor.py:15-44
load_page → get_segmented_page → cells). That backend (qpdf/poppler
bindings) is not in this sandbox, so this module implements a small,
honest subset of ISO 32000 sufficient to prove the S1 contract on
NON-synthetic input: real PDF bytes → positioned text cells → elements →
the SAME assemble_spans kernel the synthetic pipeline uses → ordered
(kind, text, media_ref, order) spans.

Supported: classic-xref AND PDF 1.5+ cross-reference-stream files —
xref streams (ISO 32000 §7.5.8: /Type /XRef, /W field widths, /Index
subsections, /Prev chains, FlateDecode with TIFF/PNG predictors) and
object streams (§7.5.7: /Type /ObjStm compressed objects), including
hybrid-reference files (/XRefStm in a classic trailer); /Page objects
with /MediaBox and direct or array /Contents, ordered by the /Pages
/Kids tree when resolvable (object-number order otherwise); FlateDecode
(stdlib zlib) or plain streams; text operators BT/ET, Tf, Td, TD, TL,
Tm, T*, Tj, ', and TJ with literal `(...)` strings including escapes.
Glyph widths are approximated at half the font size (the Helvetica
average) — positions drive ordering, not typography, so the
approximation is immaterial to span output.

Out of scope (documented production seams): encrypted files,
CID/Type0 fonts, inline images. Cells use TOP-LEFT origin like the rest
of the engine (the PDF-native bottom-left y is flipped at parse time —
the one place the reference's coordinate flip, readingorder_model.py:56,
survives).
"""

from __future__ import annotations

import re
import zlib
from typing import Any

_AVG_GLYPH_W = 0.5  # fraction of font size (Helvetica-ish average width)


def _objects(data: bytes) -> dict[int, bytes]:
    """num → raw object bytes (between `N 0 obj` and `endobj`)."""
    out: dict[int, bytes] = {}
    for m in re.finditer(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", data, re.S):
        out[int(m.group(1))] = m.group(2)
    return out


def _stream_bytes(obj: bytes) -> bytes | None:
    m = re.search(rb"stream\r?\n(.*?)\r?\nendstream", obj, re.S)
    if not m:
        return None
    raw = m.group(1)
    if b"/FlateDecode" in obj.split(b"stream", 1)[0]:
        try:
            raw = zlib.decompress(raw)
        except zlib.error:  # corrupt stream → no cells, not a crash
            return None
    return raw


# ---------------------------------------------------------------------------
# PDF 1.5+ cross-reference streams + object streams (ISO 32000 §7.5.7/7.5.8)
# ---------------------------------------------------------------------------

_OBJ_HEAD = re.compile(rb"(\d+)\s+(\d+)\s+obj")


def _dict_span(data: bytes, start: int) -> tuple[bytes | None, int]:
    """The balanced ``<< ... >>`` beginning at the first ``<<`` at/after
    ``start`` → (dict bytes, index just past the closing ``>>``)."""
    i = data.find(b"<<", start)
    if i < 0:
        return None, start
    j, depth = i, 0
    while j < len(data):
        two = data[j:j + 2]
        if two == b"<<":
            depth += 1
            j += 2
        elif two == b">>":
            depth -= 1
            j += 2
            if depth == 0:
                return data[i:j], j
        else:
            j += 1
    return None, start


def _dict_int(d: bytes, key: bytes) -> int | None:
    """Direct integer value of ``key`` (None for absent or indirect-ref
    values like ``/Length 4 0 R``)."""
    m = re.search(key + rb"\s+(\d+)(?!\s+\d+\s+R)", d)
    return int(m.group(1)) if m else None


def _dict_int_array(d: bytes, key: bytes) -> list[int] | None:
    m = re.search(key + rb"\s*\[([^\]]*)\]", d)
    return [int(x) for x in re.findall(rb"\d+", m.group(1))] if m else None


def _object_at(data: bytes, off: int) -> tuple[int | None, bytes]:
    """Parse the indirect object at byte ``off`` → (num, body bytes in the
    same between-obj-and-endobj format _objects emits). Stream extents
    use /Length when it is a direct int (so binary payloads containing
    'endobj' can't truncate the object) and fall back to the first
    'endstream' otherwise."""
    m = _OBJ_HEAD.match(data, off)
    if not m:
        return None, b""
    num, i = int(m.group(1)), m.end()
    j = i
    while j < len(data) and data[j] in b" \r\n\t":
        j += 1
    if data[j:j + 2] == b"<<":
        d, j2 = _dict_span(data, j)
        if d is None:
            return None, b""
        sm = re.match(rb"\s*stream\r?\n", data[j2:])
        if sm:
            sstart = j2 + sm.end()
            ln = _dict_int(d, rb"/Length")
            if ln is not None and data[sstart + ln:sstart + ln + 2 + 11] \
                    .lstrip().startswith(b"endstream"):
                send = data.find(b"endstream", sstart + ln)
            else:
                send = data.find(b"endstream", sstart)
            if send < 0:
                return None, b""
            eo = data.find(b"endobj", send)
            return num, data[i:eo] if eo > 0 else data[i:send + 9]
        eo = data.find(b"endobj", j2)
        return num, data[i:eo] if eo > 0 else d
    eo = data.find(b"endobj", i)
    return (num, data[i:eo]) if eo > 0 else (None, b"")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unpredict(data: bytes, columns: int, predictor: int) -> bytes:
    """Undo the /DecodeParms predictor on xref-stream rows: 1 = none,
    2 = TIFF horizontal diff, 10-15 = PNG row filters (filter byte per
    row, bpp = 1 since Colors=1/BitsPerComponent=8 for xref streams)."""
    if predictor < 2 or columns <= 0:
        return data
    if predictor == 2:
        out = bytearray(data)
        for r in range(0, len(out) - columns + 1, columns):
            for c in range(1, columns):
                out[r + c] = (out[r + c] + out[r + c - 1]) & 0xFF
        return bytes(out)
    rowlen = columns + 1
    prev = bytearray(columns)
    out = bytearray()
    for r0 in range(0, len(data) - rowlen + 1, rowlen):
        ft = data[r0]
        row = bytearray(data[r0 + 1:r0 + 1 + columns])
        for c in range(columns):
            left = row[c - 1] if c else 0
            up = prev[c]
            ul = prev[c - 1] if c else 0
            if ft == 1:
                row[c] = (row[c] + left) & 0xFF
            elif ft == 2:
                row[c] = (row[c] + up) & 0xFF
            elif ft == 3:
                row[c] = (row[c] + (left + up) // 2) & 0xFF
            elif ft == 4:
                row[c] = (row[c] + _paeth(left, up, ul)) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _read_xref_stream(obj: bytes, type1: dict[int, int],
                      type2: dict[int, tuple[int, int]],
                      free: set[int]) -> dict[int, int]:
    """Decode one /Type /XRef stream object into the offset maps
    (first-seen wins — newer sections shadow /Prev chains; type-0 free
    entries are recorded as tombstones so a deletion in a NEWER section
    shadows the object's offset in an OLDER one). Returns the
    trailer-ish keys found in its dict ({'prev': n} when present)."""
    w = _dict_int_array(obj, rb"/W") or []
    size = _dict_int(obj, rb"/Size")
    if len(w) < 3 or size is None:
        raise ValueError("xref stream missing /W or /Size")
    index = _dict_int_array(obj, rb"/Index") or [0, size]
    data = _stream_bytes(obj)
    if data is None:
        raise ValueError("xref stream payload undecodable")
    pred = _dict_int(obj, rb"/Predictor") or 1
    cols = _dict_int(obj, rb"/Columns") or sum(w)
    data = _unpredict(data, cols, pred)
    ew = sum(w)
    pos = 0
    for si in range(0, len(index) - 1, 2):
        start, count = index[si], index[si + 1]
        for num in range(start, start + count):
            row = data[pos:pos + ew]
            pos += ew
            if len(row) < ew:
                break
            f = []
            o = 0
            for width in w:
                f.append(int.from_bytes(row[o:o + width], "big") if width
                         else None)
                o += width
            typ = f[0] if w[0] else 1  # w1=0 → type defaults to 1
            if num in type1 or num in type2 or num in free:
                continue  # a newer section already decided this object
            if typ == 1:
                type1[num] = f[1]
            elif typ == 2:
                type2[num] = (f[1], f[2] or 0)
            elif typ == 0:
                free.add(num)  # tombstone: deleted as of this section
    out = {}
    prev = _dict_int(obj, rb"/Prev")
    if prev is not None:
        out["prev"] = prev
    return out


_XREF_ENTRY = re.compile(rb"(\d{10})\s+(\d{5})\s+([nf])\s*")


def _read_classic_xref(data: bytes, off: int, type1: dict[int, int],
                       free: set[int]) -> dict:
    """Classic ``xref`` table at ``off`` → type-1 entries ('f' rows →
    tombstones; first-seen wins across sections either way); returns
    {'prev': n, 'xrefstm': n} keys from the trailer."""
    m = re.compile(rb"xref\s+").match(data, off)
    if not m:
        raise ValueError("no xref keyword at startxref offset")
    pos = m.end()
    while True:
        hm = re.compile(rb"(\d+)\s+(\d+)\s*").match(data, pos)
        if not hm:
            break
        start, count = int(hm.group(1)), int(hm.group(2))
        pos = hm.end()
        for k in range(count):
            em = _XREF_ENTRY.match(data, pos)
            if not em:
                break
            pos = em.end()
            num = start + k
            if num in type1 or num in free:
                continue  # a newer section already decided this object
            if em.group(3) == b"n":
                type1[num] = int(em.group(1))
            else:
                free.add(num)  # 'f' tombstone: deleted as of this section
    out: dict[str, int] = {}
    tm = re.compile(rb"trailer").search(data, pos)
    if tm:
        d, _ = _dict_span(data, tm.end())
        if d:
            for key, name in ((rb"/Prev", "prev"), (rb"/XRefStm", "xrefstm")):
                v = _dict_int(d, key)
                if v is not None:
                    out[name] = v
    return out


def _expand_objstms(objs: dict[int, bytes]) -> None:
    """Inflate every /Type /ObjStm member object into ``objs`` (without
    shadowing objects already present — the xref/top-level copy is the
    authoritative, possibly-updated one)."""
    for num in sorted(objs):
        obj = objs[num]
        if not re.search(rb"/Type\s*/ObjStm\b", obj):
            continue
        try:
            data = _stream_bytes(obj)
            n = _dict_int(obj, rb"/N")
            first = _dict_int(obj, rb"/First")
            if data is None or n is None or first is None:
                continue
            pairs = [int(x) for x in data[:first].split()[:2 * n]]
            nums, offs = pairs[0::2], pairs[1::2]
            for k, (onum, ooff) in enumerate(zip(nums, offs)):
                end = offs[k + 1] if k + 1 < len(offs) else len(data) - first
                objs.setdefault(onum, data[first + ooff:first + end])
        except (ValueError, IndexError):
            continue


def _objects_via_xref(data: bytes) -> tuple[dict[int, bytes], set[int]]:
    """Authoritative object load along the startxref → /Prev chain
    (classic tables, xref streams, and hybrid /XRefStm sections), then
    ObjStm member expansion. Returns (objects, tombstones): tombstones
    are object numbers FREED by the newest section that mentions them —
    the caller must exclude them when merging the regex-sweep floor, or
    an incremental update that deletes a page would resurrect it. Raises
    on files without a usable chain — the caller falls back to the
    whole-file regex sweep."""
    sx = data.rfind(b"startxref")
    if sx < 0:
        raise ValueError("no startxref")
    m = re.compile(rb"startxref\s+(\d+)").match(data, sx)
    if not m:
        raise ValueError("unparseable startxref")
    type1: dict[int, int] = {}
    type2: dict[int, tuple[int, int]] = {}
    free: set[int] = set()
    queue = [int(m.group(1))]
    seen: set[int] = set()
    while queue:
        off = queue.pop(0)
        if off in seen or not 0 <= off < len(data):
            continue
        seen.add(off)
        ws = off
        while ws < len(data) and data[ws] in b" \r\n\t":
            ws += 1
        if data[ws:ws + 4] == b"xref":
            links = _read_classic_xref(data, ws, type1, free)
        else:
            num, obj = _object_at(data, ws)
            if num is None or not re.search(rb"/Type\s*/XRef\b", obj):
                raise ValueError("startxref does not point at an xref section")
            links = _read_xref_stream(obj, type1, type2, free)
        for key in ("xrefstm", "prev"):  # XRefStm takes precedence (§7.5.8.4)
            if key in links:
                queue.append(links[key])
    objs: dict[int, bytes] = {}
    for num, off in type1.items():
        got, body = _object_at(data, off)
        if got is not None:
            # trust the entry's object number only if the bytes agree
            objs[got] = body
    _expand_objstms(objs)
    # type-2 members not covered (e.g. their ObjStm was missed) are
    # handled by the caller's regex-sweep fallback merge
    return objs, free


def _ref(obj: bytes, key: bytes) -> int | None:
    m = re.search(key + rb"\s+(\d+)\s+\d+\s+R", obj)
    return int(m.group(1)) if m else None


def _refs(obj: bytes, key: bytes) -> list[int]:
    m = re.search(key + rb"\s*\[(.*?)\]", obj, re.S)
    if m:
        return [int(x) for x in re.findall(rb"(\d+)\s+\d+\s+R", m.group(1))]
    one = _ref(obj, key)
    return [one] if one is not None else []


def _unescape(s: bytes) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i:i + 1]
        if c == b"\\" and i + 1 < len(s):
            nxt = s[i + 1:i + 2]
            mapping = {b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b",
                       b"f": "\f", b"(": "(", b")": ")", b"\\": "\\"}
            if nxt in mapping:
                out.append(mapping[nxt])
                i += 2
                continue
            if nxt.isdigit():  # octal escape (\8 / \9 are not octal)
                m = re.match(rb"\\([0-7]{1,3})", s[i:])
                if m:
                    # ISO 32000 7.3.4.2: "high-order overflow shall be
                    # ignored" — \400..\777 wrap to the byte value mod 256
                    out.append(chr(int(m.group(1), 8) & 0xFF))
                    i += 1 + len(m.group(1))
                    continue
            # ISO 32000 7.3.4.2: backslash-EOL is a line continuation
            # (emits nothing); any other backslash-X ignores the
            # backslash and keeps only X — never a literal backslash.
            if nxt in (b"\r", b"\n"):
                i += 2
                if nxt == b"\r" and s[i:i + 1] == b"\n":
                    i += 1
                continue
            out.append(nxt.decode("latin-1"))
            i += 2
            continue
        out.append(c.decode("latin-1"))
        i += 1
    return "".join(out)


_TOKEN = re.compile(
    rb"\((?:\\.|[^\\()])*\)"   # literal string
    rb"|\[|\]"
    rb"|/[A-Za-z0-9#+.-]+"
    rb"|[-+]?\d*\.?\d+"
    rb"|[A-Za-z'\"*]+"
)


def _text_cells(content: bytes, page_h: float) -> list[dict[str, Any]]:
    """Run the text-object state machine over one content stream."""
    cells: list[dict[str, Any]] = []
    fs = 12.0      # current font size (Tf)
    leading = 14.4  # TL
    x = y = 0.0    # current text-line origin (PDF bottom-left space)
    stack: list[bytes] = []

    def show(text: str) -> None:
        if not text.strip():
            return
        w = max(1.0, _AVG_GLYPH_W * fs * len(text))
        cells.append({
            "text": text,
            "l": x, "r": x + w,
            # flip to TOP-LEFT origin: baseline y + ascent ~ fs
            "t": page_h - y - fs, "b": page_h - y + 0.25 * fs,
            "font_size": fs,
        })

    for tok in _TOKEN.finditer(content):
        t = tok.group(0)
        if t.startswith(b"(") or t.startswith(b"/") or t in (b"[", b"]"):
            stack.append(t)
            continue
        if re.fullmatch(rb"[-+]?\d*\.?\d+", t):
            stack.append(t)
            continue
        op = t
        if op == b"Tf" and len(stack) >= 1:
            fs = float(stack[-1])
            leading = 1.2 * fs
        elif op in (b"Td", b"TD") and len(stack) >= 2:
            x += float(stack[-2])
            y += float(stack[-1])
            if op == b"TD":
                leading = -float(stack[-1])
        elif op == b"Tm" and len(stack) >= 6:
            x, y = float(stack[-2]), float(stack[-1])
        elif op == b"TL" and len(stack) >= 1:
            leading = float(stack[-1])
        elif op == b"T*":
            y -= leading
        elif op == b"Tj" and stack and stack[-1].startswith(b"("):
            show(_unescape(stack[-1][1:-1]))
        elif op == b"'" and stack and stack[-1].startswith(b"("):
            y -= leading
            show(_unescape(stack[-1][1:-1]))
        elif op == b"TJ":
            parts = [
                _unescape(s[1:-1]) for s in stack
                if s.startswith(b"(")
            ]
            show("".join(parts))
        elif op == b"BT":
            x = y = 0.0
        stack = []
    return cells


def _page_order(objs: dict[int, bytes]) -> list[int] | None:
    """Document page order from the /Pages /Kids tree (depth-first,
    cycle-guarded). None when no usable tree exists — the caller falls
    back to object-number order."""
    kids_of: dict[int, list[int]] = {}
    is_kid: set[int] = set()
    for num, obj in objs.items():
        if re.search(rb"/Type\s*/Pages\b", obj):
            kids = _refs(obj, rb"/Kids")
            kids_of[num] = kids
            is_kid.update(kids)
    roots = [n for n in kids_of if n not in is_kid]
    if len(roots) != 1:
        return None
    order: list[int] = []
    seen: set[int] = set()

    def walk(num: int) -> None:
        if num in seen:
            return
        seen.add(num)
        if num in kids_of:
            for k in kids_of[num]:
                walk(k)
        elif num in objs and re.search(rb"/Type\s*/Page\b(?!s)", objs[num]):
            order.append(num)

    walk(roots[0])
    return order or None


def parse_pdf_pages(data: bytes) -> list[dict[str, Any]]:
    """PDF bytes → [{page_no, width, height, cells:[{text,l,t,r,b,...}]}].
    Raises ValueError on non-PDF input; unsupported constructs simply
    yield fewer cells (this is a smoke-seam parser, not a validator)."""
    if not data.startswith(b"%PDF"):
        raise ValueError("not a PDF (missing %PDF header)")
    objs = _objects(data)          # whole-file sweep: the robust floor
    try:
        via_xref, free = _objects_via_xref(data)  # xref chain is authoritative
        objs.update(via_xref)
        # tombstoned objects (type-0 / classic 'f' in the NEWEST section
        # naming them) are deleted — the sweep floor must not resurrect
        # a page an incremental update removed
        for num in free:
            objs.pop(num, None)
    except (ValueError, IndexError, OverflowError, MemoryError):
        free = set()
    _expand_objstms(objs)          # backstop when the xref chain was broken
    for num in free:               # ObjStm backstop must not resurrect either
        objs.pop(num, None)
    page_nums = _page_order(objs)
    if page_nums is None:
        page_nums = [n for n in sorted(objs)
                     if re.search(rb"/Type\s*/Page\b(?!s)", objs[n])]
    pages = []
    for num in page_nums:
        obj = objs[num]
        mb = re.search(
            rb"/MediaBox\s*\[\s*([\d.]+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)", obj
        )
        w, h = (float(mb.group(3)), float(mb.group(4))) if mb else (612.0, 792.0)
        cells: list[dict[str, Any]] = []
        for cref in _refs(obj, rb"/Contents"):
            stream = _stream_bytes(objs.get(cref, b""))
            if stream:
                cells.extend(_text_cells(stream, h))
        pages.append({
            "page_no": len(pages), "width": w, "height": h, "cells": cells,
        })
    if not pages:
        raise ValueError("no /Page objects found")
    return pages


_LINE_GAP = 1.5   # max leading multiple for two lines to share a block
_X_ALIGN = 3.0    # max left-edge drift within a block (pt)


def pdf_to_elements(data: bytes) -> list[dict[str, Any]]:
    """Group parsed text cells into layout elements (the mini layout
    stage standing where RT-DETR would run): consecutive lines with the
    same left edge and a gap under ~1.5 line-heights form one block;
    blocks whose font size is >= 1.4x the page's body size are
    SECTION_HEADERs. Output matches the assemble_spans element contract."""
    elements: list[dict[str, Any]] = []
    for page in parse_pdf_pages(data):
        cells = sorted(page["cells"], key=lambda c: (round(c["l"] / 200.0), c["t"]))
        if not cells:
            continue
        body_fs = sorted(c["font_size"] for c in cells)[len(cells) // 2]
        blocks: list[list[dict]] = []
        for c in cells:
            prev = blocks[-1][-1] if blocks else None
            if (
                prev is not None
                and abs(c["l"] - prev["l"]) <= _X_ALIGN
                # top-to-top line step (boxes overlap by the descent)
                and 0 < c["t"] - prev["t"] <= _LINE_GAP * c["font_size"]
                and abs(c["font_size"] - prev["font_size"]) < 0.5
            ):
                blocks[-1].append(c)
            else:
                blocks.append([c])
        for blk in blocks:
            label = (
                "section_header"
                if blk[0]["font_size"] >= 1.4 * body_fs
                else "text"
            )
            elements.append({
                "cid": len(elements),
                "page_no": page["page_no"],
                "l": min(c["l"] for c in blk),
                "t": min(c["t"] for c in blk),
                "r": max(c["r"] for c in blk),
                "b": max(c["b"] for c in blk),
                "label": label,
                "text": "\n".join(c["text"] for c in blk),
                "media_ref": "",
                "children": [],
            })
    return elements


def extract_pdf_spans(data: bytes) -> list[dict[str, Any]]:
    """PDF bytes → ordered spans, through the SAME sanitize + reading
    order kernels as the synthetic pipeline (S1 contract on real input)."""
    from .reading_order import assemble_spans
    from .sanitize import sanitize_text

    elements = pdf_to_elements(data)
    for el in elements:
        el["text"] = sanitize_text(el["text"].split("\n"))
    return assemble_spans(elements)
