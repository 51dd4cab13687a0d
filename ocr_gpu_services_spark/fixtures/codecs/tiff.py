"""Classic TIFF encoder for the fixture generator: 8-bit gray or RGB,
bilevel (BitsPerSample 1), none/PackBits/LZW/Group 4 strips, optional
predictor 2, either byte order, 64-row strips so the decoder's
strip-assembly path is exercised.  The decoder is core/tiff.py.

The LZW encoder follows the libtiff-matched width discipline: it grows
the code width when the next free code exceeds (1<<width)-1, the
decoder (core/decompress.lzw_decode) when it exceeds (1<<width)-2 — the
one-entry table lag between the two sides is exactly what the spec's
"early change" compensates.
"""

from __future__ import annotations

import struct

import numpy as np

from ...core.sniff import MAGIC_TIFF_BE, MAGIC_TIFF_LE
from ...core.tiff import (_T_BITS, _T_COMP, _T_LENGTH, _T_PHOTO,
                          _T_PREDICTOR, _T_ROWS_PER_STRIP, _T_SPP,
                          _T_STRIP_CNT, _T_STRIP_OFF, _T_WIDTH)
from .ccitt import g4_encode

_CLEAR, _EOI, _FIRST = 256, 257, 258


def packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 2:
            out.append(257 - (j - i))          # -(run-1) as unsigned
            out.append(data[i])
            i = j
            continue
        # literal: until next >=3 run or 128 bytes
        j = i + 1
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out.extend(data[i:j])
        i = j
    return bytes(out)


class _BitPackerMSB:
    def __init__(self):
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def put(self, code: int, width: int) -> None:
        self.acc = (self.acc << width) | code
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
            self.acc = self.nbits = 0
        return bytes(self.out)


def lzw_encode(data: bytes) -> bytes:
    bp = _BitPackerMSB()
    d: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt, width = _FIRST, 9
    bp.put(_CLEAR, width)
    omega = b""
    for byte in data:
        k = omega + bytes([byte])
        if k in d:
            omega = k
            continue
        bp.put(d[omega], width)
        if nxt == 4094:                        # table nearly full: reset
            bp.put(_CLEAR, width)
            d = {bytes([i]): i for i in range(256)}
            nxt, width = _FIRST, 9
        else:
            d[k] = nxt
            nxt += 1
            if nxt > (1 << width) - 1 and width < 12:
                width += 1
        omega = bytes([byte])
    if omega:
        bp.put(d[omega], width)
    bp.put(_EOI, width)
    return bp.flush()


def _predict2_encode(rows: np.ndarray) -> np.ndarray:
    """rows: (h, w, spp) uint8 -> differenced along w (mod 256)."""
    out = rows.astype(np.int16)
    out[:, 1:] -= rows[:, :-1].astype(np.int16)
    return (out & 0xFF).astype(np.uint8)


_ROWS_PER_STRIP = 64


def tiff_encode(img: np.ndarray, compression: str = "none",
                predictor: bool = False, big_endian: bool = False,
                bilevel: bool = False) -> bytes:
    """HxW uint8 gray or HxWx3 uint8 RGB -> classic TIFF bytes.

    compression: 'none' | 'packbits' | 'lzw'.  predictor=True applies
    horizontal differencing (LZW strips only, per real-world usage).
    bilevel=True packs a strictly-{0,255} gray image as BitsPerSample 1
    with the fax convention (PhotometricInterpretation 0 MinIsWhite,
    bit 1 = black ink), rows byte-aligned per the spec.
    """
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError("tiff_encode wants HxW or HxWx3 uint8")
    if img.ndim == 3 and img.shape[2] != 3:
        raise ValueError("tiff_encode wants 3 samples for color")
    if predictor and compression != "lzw":
        raise ValueError("predictor is emitted for lzw strips only")
    if bilevel:
        if img.ndim != 2 or not set(np.unique(img).tolist()) <= {0, 255}:
            raise ValueError("bilevel wants strictly {0,255} gray")
        if predictor:
            raise ValueError("predictor does not apply to bilevel")
    if compression == "g4" and not bilevel:
        raise ValueError("G4 applies to bilevel images only")
    h, w = img.shape[:2]
    spp = 1 if img.ndim == 2 else 3
    rows3 = img.reshape(h, w, spp)
    comp_id = {"none": 1, "packbits": 32773, "lzw": 5,
               "g4": 4}[compression]
    e = ">" if big_endian else "<"

    strips: list[bytes] = []
    for y0 in range(0, h, _ROWS_PER_STRIP):
        chunk = rows3[y0:y0 + _ROWS_PER_STRIP]
        if predictor:
            chunk = _predict2_encode(chunk)
        if compression == "g4":
            # semantic black = ink; each strip is its own T.6 entity
            strips.append(g4_encode(chunk[:, :, 0] < 128))
            continue
        if bilevel:
            # MinIsWhite: ink (gray 0) packs as bit 1
            raw = np.packbits(chunk[:, :, 0] < 128, axis=1).tobytes()
        else:
            raw = chunk.tobytes()
        if compression == "none":
            strips.append(raw)
        elif compression == "packbits":
            strips.append(packbits_encode(raw))
        else:
            strips.append(lzw_encode(raw))

    n_strips = len(strips)
    # layout: header(8) IFD(2 + 12*n + 4) [tag arrays] [strip data]
    tags: list[tuple[int, int, int, int]] = []   # (tag, type, count, val)
    extra = bytearray()       # out-of-line arrays, offset-patched below

    def tag_short(t, v):
        tags.append((t, 3, 1, v))

    def tag_long(t, v):
        tags.append((t, 4, 1, v))

    ntags = 9 + (1 if predictor else 0)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * ntags + 4

    def arr_long(t, vals):
        nonlocal extra
        if len(vals) == 1:
            tag_long(t, vals[0])
            return
        tags.append((t, 4, len(vals), data_off + len(extra)))
        extra += b"".join(struct.pack(e + "I", v) for v in vals)

    tag_short(_T_WIDTH, w)
    tag_short(_T_LENGTH, h)
    if spp == 3:
        # BitsPerSample count 3 -> out of line (3 SHORTs = 6 bytes)
        tags.append((_T_BITS, 3, 3, 0))        # offset patched below
    else:
        tag_short(_T_BITS, 1 if bilevel else 8)
    tag_short(_T_COMP, comp_id)
    tag_short(_T_PHOTO, 2 if spp == 3 else (0 if bilevel else 1))
    if spp == 3:
        tag_short(_T_SPP, 3)
    else:
        tag_short(_T_SPP, 1)
    tag_short(_T_ROWS_PER_STRIP, _ROWS_PER_STRIP)
    if predictor:
        tag_short(_T_PREDICTOR, 2)

    # place BitsPerSample array, then strip tables, then strip data
    if spp == 3:
        bits_off = data_off + len(extra)
        extra += struct.pack(e + "HHH", 8, 8, 8)
        tags = [(t, ty, c, bits_off) if t == _T_BITS and c == 3
                else (t, ty, c, v) for (t, ty, c, v) in tags]
    counts = [len(s) for s in strips]
    # strip data begins after extra arrays; offsets known once the
    # offset/count arrays themselves are sized
    n_oop = (0 if n_strips == 1 else 4 * n_strips)
    strip_data_off = data_off + len(extra) + 2 * n_oop
    offs = []
    cur = strip_data_off
    for c in counts:
        offs.append(cur)
        cur += c
    arr_long(_T_STRIP_OFF, offs)
    arr_long(_T_STRIP_CNT, counts)

    tags.sort(key=lambda t: t[0])              # spec: ascending tag order
    out = bytearray()
    out += (MAGIC_TIFF_BE if big_endian else MAGIC_TIFF_LE)
    out += struct.pack(e + "I", ifd_off)
    out += struct.pack(e + "H", ntags)
    for (t, ty, c, v) in tags:
        if ty == 3 and c == 1:
            # SHORT value sits in the FIRST two bytes of the 4-byte
            # field in the file's byte order, trailing bytes zero
            val = struct.pack(e + "H", v) + b"\x00\x00"
        else:
            val = struct.pack(e + "I", v)
        out += struct.pack(e + "HHI", t, ty, c) + val
    out += struct.pack(e + "I", 0)             # next IFD: none
    assert len(out) == data_off
    out += extra
    for s in strips:
        out += s
    return bytes(out)
