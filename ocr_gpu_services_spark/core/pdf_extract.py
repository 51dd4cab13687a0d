"""Minimal deterministic PDF text extractor (pdfminer-style, from scratch).

The reference rasterizes PDFs and OCRs them
(/root/reference/src/api/v1/routers/ocr.py:64-67 via docTR
``DocumentFile.from_pdf``).  At 10^12-document batch scale that is wasteful
for born-digital PDFs, so this engine parses the content streams directly and
reserves OCR for raster payloads — same output contract (text + spans), far
cheaper.  The subset implemented is the standard text-showing machinery:

* object parsing (``N 0 obj … endobj``), Flate, LZW and raw streams
  (core/decompress.py; a stream past its budget fails the document)
* OBJECT STREAMS (/Type /ObjStm, PDF 1.5 xref-stream files): compressed
  containers of bare objects are expanded into the object table, so
  files whose page tree lives inside an ObjStm (the modern default)
  parse identically; the xref/XRef stream itself is never needed (the
  object scan is exhaustive)
* page tree traversal (Catalog -> Pages /Kids order = page order)
* content-stream tokens: BT/ET, Tf, TL, Td, TD, Tm, T*, Tj, TJ, ``'``
* literal AND hex ``<...>`` strings
* CID (Type0) fonts: Tf tracks the font name, 2-byte CID strings are
  mapped through the font's /ToUnicode CMap (bfchar + bfrange)
* text matrix: translation composition (Td/TD/T*/Tm)
* TJ kerning: adjustment < -THRESH_TJ_SPACE inserts a word gap
* line grouping: y-cluster (tolerance 2.0 pt), reading order by descending y
* two-column pages: if both halves of the page hold >= 2 lines, the left
  column is read top-to-bottom before the right (pdfminer-style layout
  grouping, simplified to the deterministic case)
* SCANNED pages: a page with no text runs but an image XObject
  (/DeviceGray 8-bit) is a raster scan — its pixels route through the
  full image OCR kernel (crop -> rectify -> orient -> deskew ->
  components -> glyph OCR, core/image_page.py), closing the
  reference's rasterize-and-OCR path for image-only PDFs

Ties are broken by the total order (-y, x, stream sequence) so the output is
byte-stable under any parse order (SURVEY.md §7.3 item 2).
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass

import numpy as np

from .decompress import (MAX_STREAM_BYTES, DecodeLimitError, inflate,
                         lzw_decode)
from .normalize import canonical_text, collapse_ws
from .spans import Span

THRESH_TJ_SPACE = 150.0   # TJ adjustment (thousandths of em) that implies a gap
AVG_CHAR_WIDTH = 0.5      # em; Helvetica-ish average, used only for gap joins
Y_TOL = 2.0               # pt; runs within this y-distance share a line

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]")
_KIDS_RE = re.compile(rb"/Kids\s*\[((?:\s*\d+\s+\d+\s+R)+)\s*\]")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b")
_TYPE_PAGES_RE = re.compile(rb"/Type\s*/Pages\b")
_ROOT_RE = re.compile(rb"/Root\s+(\d+)\s+\d+\s+R")
_PAGES_REF_RE = re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R")
_XOBJ_DICT_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.S)
_XOBJ_REF_RE = re.compile(rb"/[^\s/<>\[\]()]+\s+(\d+)\s+\d+\s+R")
_IMG_SUBTYPE_RE = re.compile(rb"/Subtype\s*/Image\b")
_IMG_WIDTH_RE = re.compile(rb"/Width\s+(\d+)")
_IMG_HEIGHT_RE = re.compile(rb"/Height\s+(\d+)")
_IMG_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")
_IMG_GRAY_RE = re.compile(rb"/ColorSpace\s*/DeviceGray\b")
_IMG_RGB_RE = re.compile(rb"/ColorSpace\s*/DeviceRGB\b")
_IMG_DCT_RE = re.compile(rb"/Filter\s*/DCTDecode\b")


@dataclass
class _Run:
    x: float
    y: float
    size: float
    text: str
    seq: int


_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)")
_INT_RE = re.compile(rb"\d+")


def _parse_objects(data: bytes) -> dict[int, bytes]:
    objs = {int(m.group(1)): m.group(3) for m in _OBJ_RE.finditer(data)}
    # expand object streams: N (objnum, offset) header pairs, then bare
    # object bodies at offsets relative to /First
    for body in [b for b in objs.values() if _OBJSTM_RE.search(b)]:
        raw = _object_stream(body)
        nm = _OBJSTM_N_RE.search(body)
        fm = _OBJSTM_FIRST_RE.search(body)
        if raw is None or not nm or not fm:
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        header = [int(x.group()) for x in
                  _INT_RE.finditer(raw[:first])][:2 * n]
        pairs = list(zip(header[0::2], header[1::2]))
        for k, (num, off) in enumerate(pairs):
            end = (first + pairs[k + 1][1] if k + 1 < len(pairs)
                   else len(raw))
            objs.setdefault(num, raw[first + off:end])
    return objs


_STREAM_START_RE = re.compile(rb"stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)")


def _stream_span(body: bytes) -> tuple[bytes, int, int] | None:
    """(stream dict, payload start, stored length) of an object body's
    stream, or None when it has none.  The byte range comes from the
    dict's /Length when it is a direct integer — delimiter scanning
    alone is WRONG for binary streams: Flate data whose last byte is
    0x0D is silently truncated by a ``\\r?\\nendstream`` match
    (hypothesis found the 1-in-256 case).  Indirect /Length falls back
    to the delimiter scan (our writer never emits it).  Shared with
    core/pdf_crypt.py, which locates the encrypted bytes the same way."""
    sm = _STREAM_START_RE.search(body)
    if not sm:
        return None
    head = body[:sm.start()]
    lm = _LENGTH_RE.search(head)
    if lm:
        return head, sm.end(), int(lm.group(1))
    m = _STREAM_RE.search(body)
    if not m:
        return None
    return head, m.start(1), len(m.group(1))


def _object_stream(body: bytes) -> bytes | None:
    """Decoded stream payload of an object body (Flate, LZW or raw)."""
    span = _stream_span(body)
    if span is None:
        return None
    head, start, length = span
    raw = body[start:start + length]
    if b"/FlateDecode" in head:
        try:
            raw = inflate(raw, MAX_STREAM_BYTES + 1)
        except zlib.error:
            return None
        if len(raw) > MAX_STREAM_BYTES:
            raise DecodeLimitError(
                f"Flate stream over {MAX_STREAM_BYTES} bytes")
    elif b"/LZWDecode" in head:
        # legacy writers (pre-Flate Acrobat era) LZW-compress content
        # streams; the default /EarlyChange 1 is the shared decoder's
        # MSB-first variant, run open-length to the EOD code
        try:
            raw = lzw_decode(raw)
        except ValueError:
            return None
    return raw


def _page_order(data: bytes, objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in document order via the page tree; falls back to
    object-number order of /Type /Page objects for degenerate files."""
    def walk(num: int, out: list[int]):
        body = objs.get(num)
        if body is None:
            return
        if _TYPE_PAGES_RE.search(body):
            m = _KIDS_RE.search(body)
            if m:
                for ref in _REF_RE.finditer(m.group(1)):
                    walk(int(ref.group(1)), out)
        elif _TYPE_PAGE_RE.search(body):
            out.append(num)

    order: list[int] = []
    root_m = _ROOT_RE.search(data)
    if root_m:
        root_body = objs.get(int(root_m.group(1)), b"")
        pages_m = _PAGES_REF_RE.search(root_body)
        if pages_m:
            walk(int(pages_m.group(1)), order)
    if not order:
        order = sorted(n for n, b in objs.items()
                       if _TYPE_PAGE_RE.search(b) and not _TYPE_PAGES_RE.search(b))
    return order


# ----------------------------------------------------------------------------
# content-stream tokenizer
# ----------------------------------------------------------------------------

def _decode_pdf_string(tok: bytes) -> str:
    if b"\\" not in tok:       # fast path: no escapes (the common case)
        return tok.decode("latin-1")
    out = bytearray()
    i = 0
    while i < len(tok):
        c = tok[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= len(tok):
                break
            e = tok[i]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
            elif e in b"()\\":
                out.append(e)
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = bytearray([e])
                for _ in range(2):
                    if i + 1 < len(tok) and 0x30 <= tok[i + 1] <= 0x37:
                        i += 1
                        oct_digits.append(tok[i])
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e == 0x0A:
                pass  # line continuation
            elif e == 0x0D:
                # \<CR> and \<CRLF> are line continuations too (§7.3.4.2
                # — no characters); CRLF-line-ending writers emit them
                if i + 1 < len(tok) and tok[i + 1] == 0x0A:
                    i += 1
            else:
                out.append(e)
        else:
            out.append(c)
        i += 1
    return out.decode("latin-1")


# numbered groups dispatched on m.lastindex (int compare instead of
# lastgroup's string lookup); character classes and alternation order are
# byte-for-byte the former named-group scanner's.  The whitespace run
# stays its OWN alternative, NOT a folded prefix of the token match: \x00
# is a PDF whitespace byte, so on binary-ish streams a folded
# `[ws]*(?:tok)` degrades to O(run^2) re-consumption of long zero runs
# (measured 39% slower on real object streams, and a crawl-scale DoS
# surface), while a standalone ws token consumes each run once, linearly.
# groups: (1)=ws, (2)=num, (3)=name, (4)=op, (5)=lp, (6)=lb, (7)=lh
_TOK_RE = re.compile(
    rb"([ \t\r\n\x00]+)"
    rb"|([+-]?\d*\.?\d+)"
    rb"|(/[^\s()<>\[\]{}/%]*)"
    rb"|([A-Za-z'\"*]+)"
    rb"|(\()"
    rb"|(\[)"
    rb"|(<(?!<))")

# a run of string bytes containing no unescaped backslash or paren
_STR_CHUNK = re.compile(rb"(?:\\.|[^\\()])*", re.DOTALL)


def _tokenize(stream: bytes):
    """Yield ('num', float) | ('str', str) | ('arr', list) | ('op', bytes) |
    ('name', bytes).

    Single master-regex scanner (one C-level match per token instead of
    per-byte Python dispatch; measured ~2x on the PDF path).  Character
    classes are byte-for-byte those of the original per-byte tokenizer:
    whitespace is exactly [ \\t\\r\\n\\x00], ops are [A-Za-z'"*]+, names stop
    at PDF delimiters."""
    i, n = 0, len(stream)
    while i < n:
        m = _TOK_RE.match(stream, i)
        if m is None:
            i += 1                       # unknown byte; skip
            continue
        kind = m.lastindex
        i = m.end()
        if kind == 1:                    # ws
            continue
        if kind == 2:                    # num
            yield ("num", float(m.group()))
        elif kind == 3:                  # name
            yield ("name", m.group())
        elif kind == 4:                  # op
            yield ("op", m.group())
        elif kind == 7:                  # lh
            # hex string <48656C6C6F>; whitespace allowed, odd length
            # implies a trailing 0 nibble (spec 7.3.4.3)
            j = stream.find(b">", i)
            if j < 0:
                j = n
            hx = bytes(c for c in stream[i:j]
                       if c in b"0123456789abcdefABCDEF")
            if len(hx) % 2:
                hx += b"0"
            yield ("str", bytes.fromhex(hx.decode("ascii"))
                   .decode("latin-1"))
            i = j + 1
        elif kind == 5:                  # lp
            j, depth = i, 1
            while j < n and depth:
                mc = _STR_CHUNK.match(stream, j)
                j = mc.end()
                if j >= n:
                    break
                if stream[j] == 0x28:    # (
                    depth += 1
                elif stream[j] == 0x29:  # )
                    depth -= 1
                j += 1
            yield ("str", _decode_pdf_string(stream[i:j - 1]))
            i = j
        else:                            # kind == 6, "lb": array
            j, depth = i, 1
            while j < n and depth:
                cj = stream[j:j + 1]
                if cj == b"(":
                    d2 = 1
                    j += 1
                    while j < n and d2:
                        if stream[j] == 0x5C:
                            j += 2
                            continue
                        if stream[j] == 0x28:
                            d2 += 1
                        elif stream[j] == 0x29:
                            d2 -= 1
                        j += 1
                    continue
                if cj == b"[":
                    depth += 1
                elif cj == b"]":
                    depth -= 1
                j += 1
            inner = stream[i:j - 1]
            items = []
            for t, v in _tokenize(inner):
                if t in ("num", "str"):
                    items.append((t, v))
            yield ("arr", items)
            i = j


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXTOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _parse_tounicode(raw: bytes) -> dict[int, str]:
    """/ToUnicode CMap -> {cid: unicode string} (bfchar + bfrange)."""
    cmap: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(raw):
        toks = _HEXTOK_RE.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            cmap[int(src, 16)] = (bytes.fromhex(dst.decode("ascii"))
                                  .decode("utf-16-be"))
    for m in _BFRANGE_RE.finditer(raw):
        toks = _HEXTOK_RE.findall(m.group(1))
        for lo, hi, dst in zip(toks[0::3], toks[1::3], toks[2::3]):
            base = int(dst, 16)
            for k in range(int(hi, 16) - int(lo, 16) + 1):
                cmap[int(lo, 16) + k] = chr(base + k)
    return cmap


_FONT_DICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_NAME_REF_RE = re.compile(rb"(/[^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R")
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_TOUNI_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")


def _page_fonts(body: bytes, objs: dict[int, bytes]
                ) -> dict[bytes, dict[int, str] | None]:
    """Page font resources: {/name: cid->unicode map | None (simple)}."""
    fonts: dict[bytes, dict[int, str] | None] = {}
    fd = _FONT_DICT_RE.search(body)
    if fd is None:
        return fonts
    for m in _NAME_REF_RE.finditer(fd.group(1)):
        fbody = objs.get(int(m.group(2)))
        cmap = None
        if fbody is not None and _TYPE0_RE.search(fbody):
            tm = _TOUNI_RE.search(fbody)
            if tm:
                raw = _object_stream(objs.get(int(tm.group(1)), b""))
                if raw:
                    cmap = _parse_tounicode(raw)
        fonts[m.group(1)] = cmap
    return fonts


def _runs_from_stream(stream: bytes, seq0: int,
                      fonts: dict[bytes, dict[int, str] | None]
                      | None = None) -> list[_Run]:
    runs: list[_Run] = []
    stack: list = []
    size = 12.0
    leading = 0.0
    lx = ly = 0.0       # line-matrix translation (subset: translations only)
    cx = cy = 0.0       # current point
    seq = seq0
    in_text = False
    cid_map: dict[int, str] | None = None   # current font's CID->unicode

    def dec(s: str) -> str:
        """Map a string operand through the current font: CID fonts use
        2-byte codes (latin-1 is byte-transparent here)."""
        if cid_map is None:
            return s
        raw = s.encode("latin-1")
        return "".join(cid_map.get((raw[k] << 8) | raw[k + 1], "")
                       for k in range(0, len(raw) - 1, 2))

    def emit(text: str):
        nonlocal seq, cx
        if text:
            runs.append(_Run(cx, cy, size, text, seq))
            seq += 1
            cx += len(text) * AVG_CHAR_WIDTH * size

    for tok in _tokenize(stream):
        t, v = tok
        if t in ("num", "str", "arr", "name"):
            stack.append(tok)
            continue
        op = v
        if op == b"BT":
            in_text = True
            lx = ly = cx = cy = 0.0
        elif op == b"ET":
            in_text = False
        elif op == b"Tf" and len(stack) >= 1 and stack[-1][0] == "num":
            size = stack[-1][1]
            if fonts and len(stack) >= 2 and stack[-2][0] == "name":
                cid_map = fonts.get(stack[-2][1])
        elif op == b"TL" and stack and stack[-1][0] == "num":
            leading = stack[-1][1]
        elif op in (b"Td", b"TD") and len(stack) >= 2:
            ty = stack[-1][1] if stack[-1][0] == "num" else 0.0
            tx = stack[-2][1] if stack[-2][0] == "num" else 0.0
            if op == b"TD":
                leading = -ty
            lx += tx
            ly += ty
            cx, cy = lx, ly
        elif op == b"Tm" and len(stack) >= 6:
            nums = [s[1] for s in stack[-6:] if s[0] == "num"]
            if len(nums) == 6:
                lx, ly = nums[4], nums[5]
                cx, cy = lx, ly
        elif op == b"T*":
            ly -= leading
            cx, cy = lx, ly
        elif op == b"Tj" and stack and stack[-1][0] == "str" and in_text:
            emit(dec(stack[-1][1]))
        elif op == b"'" and stack and stack[-1][0] == "str" and in_text:
            ly -= leading
            cx, cy = lx, ly
            emit(dec(stack[-1][1]))
        elif op == b'"' and stack and stack[-1][0] == "str" and in_text:
            # aw ac (text) " — shorthand for Tw aw, Tc ac, ' (§9.4.3);
            # spacing operands are ignored like Tw/Tc themselves, but
            # the implied line advance and the shown string must land
            ly -= leading
            cx, cy = lx, ly
            emit(dec(stack[-1][1]))
        elif op == b"TJ" and stack and stack[-1][0] == "arr" and in_text:
            buf = []
            for it, iv in stack[-1][1]:
                if it == "str":
                    buf.append(dec(iv))
                elif it == "num" and iv < -THRESH_TJ_SPACE:
                    buf.append(" ")
            emit("".join(buf))
        stack.clear()
    return runs


# ----------------------------------------------------------------------------
# layout: runs -> lines -> reading order
# ----------------------------------------------------------------------------

def _group_lines(runs: list[_Run]) -> list[tuple[float, float, str, float]]:
    """Cluster runs into lines; returns (y, min_x, text, size) per line."""
    if not runs:
        return []
    runs_sorted = sorted(runs, key=lambda r: (-r.y, r.x, r.seq))
    lines: list[list[_Run]] = []
    for r in runs_sorted:
        if lines and abs(lines[-1][0].y - r.y) <= Y_TOL:
            lines[-1].append(r)
        else:
            lines.append([r])
    out = []
    for group in lines:
        group.sort(key=lambda r: (r.x, r.seq))
        parts: list[str] = []
        prev_end = None
        for r in group:
            if prev_end is not None:
                gap = r.x - prev_end
                if gap > 0.25 * r.size and parts and not parts[-1].endswith(" ") \
                        and not r.text.startswith(" "):
                    parts.append(" ")
            parts.append(r.text)
            prev_end = r.x + len(r.text) * AVG_CHAR_WIDTH * r.size
        text = collapse_ws("".join(parts))
        if text:
            out.append((group[0].y, min(r.x for r in group), text,
                        max(r.size for r in group)))
    return out


def _layout_lines(runs: list[_Run], page_mid: float):
    """Column-aware layout: if both page halves hold >= 2 lines, treat as a
    two-column page and read the left column fully before the right
    (pdfminer-style layout grouping, deterministic case).  ``page_mid``
    is the MediaBox midline in page coordinates (x0+x1)/2."""
    left = [r for r in runs if r.x < page_mid]
    right = [r for r in runs if r.x >= page_mid]
    l_lines, r_lines = _group_lines(left), _group_lines(right)
    key = lambda ln: (-ln[0], ln[1])
    if len(l_lines) >= 2 and len(r_lines) >= 2:
        return sorted(l_lines, key=key) + sorted(r_lines, key=key)
    return sorted(_group_lines(runs), key=key)


def _page_scan_images(body: bytes, objs: dict[int, bytes]):
    """Gray-equivalent rasters of the page's image XObjects (document
    order).

    Subset: /DeviceGray OR /DeviceRGB 8-bit, as a Flate/raw raster OR
    a /DCTDecode (embedded baseline/progressive JPEG — what real
    scan-to-PDF tools emit, decoded by core/jpeg) OR a 1-bit
    /CCITTFaxDecode Group 4 fax stream (/K -1, core/ccitt.py — the
    other shape real scan tooling emits).  Color rasters convert
    through the cv2-exact luma bridge (core/color.py), the same seam
    the standalone image route uses.  Returns [] when the page has no
    decodable image."""
    from .color import rgb_to_gray
    out = []
    xm = _XOBJ_DICT_RE.search(body)
    if xm is None:
        return out
    for ref in _XOBJ_REF_RE.finditer(xm.group(1)):
        xbody = objs.get(int(ref.group(1)))
        if xbody is None or not _IMG_SUBTYPE_RE.search(xbody):
            continue
        wm = _IMG_WIDTH_RE.search(xbody)
        hm = _IMG_HEIGHT_RE.search(xbody)
        bm = _IMG_BPC_RE.search(xbody)
        is_rgb = bool(_IMG_RGB_RE.search(xbody))
        if not (wm and hm and (is_rgb or _IMG_GRAY_RE.search(xbody))):
            continue
        is_ccitt = b"/CCITTFaxDecode" in xbody
        if bm and int(bm.group(1)) != (1 if is_ccitt else 8):
            continue
        raw = _object_stream(xbody)
        if raw is None:
            continue
        w, h = int(wm.group(1)), int(hm.group(1))
        if is_ccitt:
            # bilevel fax scan (the native scan-to-PDF shape): Group 4
            # only (/K -1); with the PDF default BlackIs1=false a black
            # run is sample 0, i.e. /DeviceGray ink
            km = re.search(rb"/K\s+(-?\d+)", xbody)
            if km is None or int(km.group(1)) != -1 or is_rgb:
                continue
            from .ccitt import g4_decode
            try:
                black = g4_decode(raw, w, h)
            except (ValueError, IndexError):
                continue
            out.append(np.where(black, 0, 255).astype(np.uint8))
            continue
        if _IMG_DCT_RE.search(xbody):
            from .jpeg import jpeg_decode
            try:
                img = jpeg_decode(raw)
            except (ValueError, IndexError):
                continue
            if img.ndim == 3:        # color /DCTDecode raster -> luma
                img = rgb_to_gray(img)
            if img.shape == (h, w):
                out.append(img)
            continue
        nch = 3 if is_rgb else 1
        pm = re.search(rb"/Predictor\s+(\d+)", xbody)
        if pm is not None:
            # PNG predictors (10-15) on Flate image data — common real
            # scan-to-PDF output.  The filtered stream is exactly PNG's
            # per-row layout (filter byte + row, left neighbor = Colors
            # bytes back), so the PNG unfilter is the decoder.
            pred = int(pm.group(1))
            if pred < 10:
                continue                     # TIFF predictor: not emitted
            from .png import _unfilter
            if len(raw) < h * (w * nch + 1):
                continue
            try:
                flat = _unfilter(raw[:h * (w * nch + 1)], h, w, nch)
            except (ValueError, IndexError):
                continue
            arr = flat.reshape(h, w, nch)
            out.append(rgb_to_gray(arr) if is_rgb
                       else arr.reshape(h, w).copy())
            continue
        if len(raw) < w * h * nch:
            continue
        if is_rgb:
            out.append(rgb_to_gray(
                np.frombuffer(raw[:w * h * 3], dtype=np.uint8)
                .reshape(h, w, 3)))
        else:
            out.append(np.frombuffer(raw[:w * h], dtype=np.uint8)
                       .reshape(h, w))
    return out


def _ocr_scanned_page(img) -> tuple[str, list[Span]]:
    """Route a scanned (raster) PDF page through the glyph-OCR kernel —
    the reference rasterizes and OCRs EVERY pdf
    (/root/reference/src/api/v1/routers/ocr.py:64-67, docTR
    ``DocumentFile.from_pdf``); this engine reserves that path for pages
    that actually are rasters.  The full image route applies: page crop,
    perspective rectification, orientation vote, deskew, connected
    components, QR/signature regions, glyph OCR
    (core/image_page.py)."""
    from .extract import get_atlas          # late: avoids import cycle
    from .image_page import process_image_page
    atlas, charset = get_atlas()
    return process_image_page(img, atlas, charset)


def extract_pdf(payload: bytes) -> tuple[str, list[Span]]:
    """Extract reading-order text + line spans from PDF bytes.

    Pages whose content produces no text runs but that carry an image
    XObject are SCANNED pages: their raster is OCRed via the image-page
    kernel (word/signature/qr spans in the page's canonical pixel frame)
    and the render joins the document text exactly like a born-digital
    page — whole-PDF text is the per-page renders joined by blank lines,
    matching the reference's concatenated per-page OCR output."""
    if b"/Encrypt" in payload:
        # owner-locked (empty-user-password) RC4 files decrypt in place
        # (length-preserving, so every offset and /Length stays valid);
        # AES / real-password files raise and degrade to the error column
        from .pdf_crypt import decrypt_pdf
        payload = decrypt_pdf(payload)
    objs = _parse_objects(payload)
    page_nums = _page_order(payload, objs)

    page_texts: list[str] = []
    spans: list[Span] = []
    seq = 0
    for pageno, pnum in enumerate(page_nums):
        body = objs.get(pnum, b"")
        mb = _MEDIABOX_RE.search(body)
        # column split at the page MIDLINE, not x1/2: an offset
        # MediaBox like [100 0 712 792] has its midline at 406, and
        # runs carry page-space x coordinates
        mid = ((float(mb.group(1)) + float(mb.group(3))) / 2.0
               if mb else 306.0)
        # /Resources may be indirect (/Resources 7 0 R — a very common
        # real-writer shape): append the referenced dict so the /Font
        # and /XObject searches see it
        rbody = body
        rm_ = re.search(rb"/Resources\s+(\d+)\s+\d+\s+R", body)
        if rm_:
            rbody = body + b"\n" + objs.get(int(rm_.group(1)), b"")
        # /Contents: single ref, ARRAY of refs (split content streams —
        # the spec says they form one logical stream, so join before
        # tokenizing: graphics/text state carries across the seams), or
        # the fixture-world inline stream on the page object itself
        streams: list[bytes] = []
        ca = re.search(rb"/Contents\s*\[(.*?)\]", body, re.S)
        cm = _CONTENTS_RE.search(body)
        if ca:
            for m_ in _REF_RE.finditer(ca.group(1)):
                s = _object_stream(objs.get(int(m_.group(1)), b""))
                if s:
                    streams.append(s)
        elif cm:
            s = _object_stream(objs.get(int(cm.group(1)), b""))
            if s:
                streams.append(s)
        else:
            s = _object_stream(body)
            if s:
                streams.append(s)
        runs: list[_Run] = []
        fonts = _page_fonts(rbody, objs)
        if streams:
            runs = _runs_from_stream(b"\n".join(streams), seq, fonts)
            seq += len(runs)
        if not runs:
            scans = _page_scan_images(rbody, objs)
            if scans:
                # honor the /Rotate page attribute (real scan-to-PDF
                # tools emit 90/180/270 for sideways captures): the flag
                # is the viewer's CLOCKWISE display rotation, so undo it
                # as an exact pixel permutation BEFORE the OCR route —
                # free and byte-exact, where the orientation vote would
                # merely be a fallback
                rm = re.search(rb"/Rotate\s+(-?\d+)", body)
                rot = (int(rm.group(1)) // 90) % 4 if rm else 0
                parts = []
                for img in scans:
                    if rot:
                        img = np.ascontiguousarray(np.rot90(img, -rot))
                    t, page_spans = _ocr_scanned_page(img)
                    parts.append(t)
                    spans.extend(page_spans)
                page_texts.append("\n\n".join(p for p in parts if p))
                continue
        lines = _layout_lines(runs, mid)
        page_texts.append("\n".join(ln[2] for ln in lines))
        for y, x, text, size in lines:
            norm = canonical_text(text)
            spans.append(Span(
                text=norm, conf=1.0,
                x0=float(x), y0=float(y),
                x1=float(x + len(norm) * AVG_CHAR_WIDTH * size),
                y1=float(y + size),
                kind="line",
            ))
    text = canonical_text("\n\n".join(t for t in page_texts if t))
    return text, spans
