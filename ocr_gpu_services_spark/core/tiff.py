"""Classic TIFF codec — pure numpy/stdlib, from the published TIFF 6.0
specification.

S3 format breadth: the reference accepts any cv2-decodable upload
(`cv2.imdecode`, /root/reference/src/api/v1/utils.py:15-18) and TIFF is
the native container of scan-to-file tooling, the exact provenance of
the scanned documents this pipeline OCRs.  Scope covers the baseline
that real scanner output uses:

* both byte orders (II little / MM big), classic (magic 42) only
* 8-bit grayscale (PhotometricInterpretation 1 BlackIsZero and
  0 WhiteIsZero — the decoder inverts the latter) and 8-bit RGB
* Compression 1 (none), 32773 (PackBits) and 5 (LZW with the spec's
  early-change code widths and ClearCode table resets)
* Predictor 2 (horizontal differencing) for LZW strips
* multi-strip images (RowsPerStrip + StripOffsets/StripByteCounts
  arrays) — the encoder emits 64-row strips so the strip-assembly path
  is actually exercised

Anything else (tiles, planar config 2, bit depths != 8, other
compressions) raises ValueError; the extraction pipeline degrades such
rows to the ``error`` column (core/extract.py convention).

Encoder exists for the fixture generator (deterministic bytes); the
decoder is the product path.  LZW strips decode through the shared
core/decompress.lzw_decode at their exact strip length.  The encoder
follows the libtiff-matched width discipline: it grows the code width
when the next free code exceeds (1<<width)-1, the decoder when it
exceeds (1<<width)-2 — the one-entry table lag between the two sides
is exactly what the spec's "early change" compensates.
"""

from __future__ import annotations

import struct

import numpy as np

from .decompress import lzw_decode
from .sniff import MAGIC_TIFF_BE, MAGIC_TIFF_LE, MAX_PIXELS

_CLEAR, _EOI, _FIRST = 256, 257, 258

# tag ids
_T_WIDTH, _T_LENGTH, _T_BITS, _T_COMP, _T_PHOTO = 256, 257, 258, 259, 262
_T_STRIP_OFF, _T_SPP, _T_ROWS_PER_STRIP, _T_STRIP_CNT = 273, 277, 278, 279
_T_PREDICTOR = 317


# ---------------------------------------------------------------------------
# PackBits (TIFF 6.0 section 9)
# ---------------------------------------------------------------------------

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


def packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        c = data[i]
        i += 1
        if c < 128:                            # literal c+1 bytes
            if i + c + 1 > n:
                raise ValueError("PackBits: truncated literal")
            out.extend(data[i:i + c + 1])
            i += c + 1
        elif c > 128:                          # repeat next byte 257-c
            if i >= n:
                raise ValueError("PackBits: truncated run")
            out.extend(data[i:i + 1] * (257 - c))
            i += 1
        # c == 128: noop
    if len(out) != expected:
        raise ValueError("PackBits: wrong decoded length")
    return bytes(out)


# ---------------------------------------------------------------------------
# LZW encoder (TIFF 6.0 section 13: MSB-first, early change); the decoder
# is core/decompress.lzw_decode
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# predictor 2 (horizontal differencing)
# ---------------------------------------------------------------------------

def _predict2_encode(rows: np.ndarray) -> np.ndarray:
    """rows: (h, w, spp) uint8 -> differenced along w (mod 256)."""
    out = rows.astype(np.int16)
    out[:, 1:] -= rows[:, :-1].astype(np.int16)
    return (out & 0xFF).astype(np.uint8)


def _predict2_decode(rows: np.ndarray) -> np.ndarray:
    return np.cumsum(rows.astype(np.int64), axis=1).astype(np.uint8)


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

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
            from .ccitt import g4_encode
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


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _read_tag_values(payload, e, ty, count, val_bytes):
    size = {1: 1, 3: 2, 4: 4}.get(ty)
    if size is None:
        # a tag type this decoder never consumes (ASCII=2, RATIONAL=5,
        # SBYTE.. DOUBLE): SKIP it rather than reject the file — the
        # baseline-standard XResolution/YResolution (RATIONAL) and
        # Software/DateTime (ASCII) tags ride in virtually every
        # scanner/libtiff output, and every tag the decode path reads
        # is integer-typed
        return None
    total = size * count
    if total <= 4:
        buf = val_bytes[:total]
    else:
        off = struct.unpack(e + "I", val_bytes)[0]
        if off + total > len(payload):
            raise ValueError("TIFF: tag data out of range")
        buf = payload[off:off + total]
    fmt = {1: "B", 3: "H", 4: "I"}[ty]
    return list(struct.unpack(e + str(count) + fmt, buf))


def tiff_decode(payload: bytes) -> np.ndarray:
    """-> HxW uint8 gray or HxWx3 uint8 RGB (first IFD only)."""
    if payload[:4] == MAGIC_TIFF_LE:
        e = "<"
    elif payload[:4] == MAGIC_TIFF_BE:
        e = ">"
    else:
        raise ValueError("not a TIFF")
    ifd_off = struct.unpack_from(e + "I", payload, 4)[0]
    if ifd_off + 2 > len(payload):
        raise ValueError("TIFF: bad IFD offset")
    ntags = struct.unpack_from(e + "H", payload, ifd_off)[0]
    tags: dict[int, list[int]] = {}
    for k in range(ntags):
        off = ifd_off + 2 + 12 * k
        if off + 12 > len(payload):
            raise ValueError("TIFF: truncated IFD")
        t, ty, c = struct.unpack_from(e + "HHI", payload, off)
        vals = _read_tag_values(payload, e, ty, c,
                                payload[off + 8:off + 12])
        if vals is not None:
            tags[t] = vals

    def one(t, default=None):
        if t not in tags:
            if default is None:
                raise ValueError(f"TIFF: missing tag {t}")
            return default
        return tags[t][0]

    w, h = one(_T_WIDTH), one(_T_LENGTH)
    # dimension cap: a crafted header must not drive a giant allocation
    # (a tiny G4 stream can fill all-white rows at ~1 bit each, so the
    # raw-length checks alone don't bound memory) — 256 MPix is far
    # beyond any real scan; the row degrades via the error column
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError("TIFF: bad dimensions")
    spp = one(_T_SPP, 1)
    bits = tags.get(_T_BITS, [8])
    bilevel = bits == [1] and spp == 1
    if spp not in (1, 3) or (not bilevel and any(b != 8 for b in bits)):
        raise ValueError(f"TIFF: unsupported spp={spp} bits={bits}")
    comp = one(_T_COMP, 1)
    if comp not in (1, 4, 5, 32773):
        raise ValueError(f"TIFF: unsupported compression {comp}")
    if comp == 4 and not bilevel:
        raise ValueError("TIFF: G4 on non-bilevel image")
    photo = one(_T_PHOTO)
    if photo not in (0, 1, 2):
        raise ValueError(f"TIFF: unsupported photometric {photo}")
    if (photo == 2) != (spp == 3):
        raise ValueError("TIFF: photometric/spp mismatch")
    predictor = one(_T_PREDICTOR, 1)
    if predictor not in (1, 2):
        raise ValueError(f"TIFF: unsupported predictor {predictor}")
    rows_per_strip = one(_T_ROWS_PER_STRIP, h)
    offs = tags.get(_T_STRIP_OFF)
    cnts = tags.get(_T_STRIP_CNT)
    if not offs or not cnts or len(offs) != len(cnts):
        raise ValueError("TIFF: bad strip tables")

    rowbytes = (w + 7) // 8 if bilevel else w * spp
    chunks = []
    for k, (off, cnt) in enumerate(zip(offs, cnts)):
        if off + cnt > len(payload):
            raise ValueError("TIFF: strip out of range")
        n_rows = min(rows_per_strip, h - k * rows_per_strip)
        if n_rows <= 0:
            raise ValueError("TIFF: too many strips")
        expected = n_rows * rowbytes
        raw = payload[off:off + cnt]
        if comp == 4:
            # T.6 decode yields semantic black; apply the photometric
            # convention directly (photo 0: bit 1 = min = white-is-min
            # -> ink) and build the strip without the packbits ->
            # unpackbits round trip the byte-oriented branches need
            from .ccitt import g4_decode
            if predictor == 2:
                raise ValueError("TIFF: predictor on bilevel")
            blk = g4_decode(raw, w, n_rows)
            bits1 = blk if photo == 0 else ~blk
            chunks.append((bits1 * np.uint8(255)).reshape(n_rows, w, 1))
            continue
        elif comp == 1:
            if len(raw) < expected:
                raise ValueError("TIFF: truncated strip")
            raw = raw[:expected]
        elif comp == 32773:
            raw = packbits_decode(raw, expected)
        else:
            raw = lzw_decode(raw, expected)
        if bilevel:
            packed = np.frombuffer(raw, np.uint8).reshape(n_rows,
                                                          rowbytes)
            b = np.unpackbits(packed, axis=1)[:, :w]
            strip = (b * np.uint8(255)).reshape(n_rows, w, 1)
        else:
            strip = np.frombuffer(raw, np.uint8).reshape(n_rows, w, spp)
        if predictor == 2:
            if bilevel:
                raise ValueError("TIFF: predictor on bilevel")
            strip = _predict2_decode(strip)
        chunks.append(strip)
    img = np.concatenate(chunks, axis=0)
    if img.shape[0] != h:
        raise ValueError("TIFF: strip rows != ImageLength")
    if spp == 1:
        img = img.reshape(h, w)
        if photo == 0:                         # WhiteIsZero
            img = 255 - img
        return np.ascontiguousarray(img)
    return np.ascontiguousarray(img)
