"""Classic TIFF decoder — pure numpy/stdlib, from the published TIFF 6.0
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
  arrays)

Anything else (tiles, planar config 2, bit depths != 8, other
compressions) raises ValueError; the extraction pipeline degrades such
rows to the ``error`` column (core/extract.py convention).

LZW strips decode through the shared core/decompress.lzw_decode at
their exact strip length.
"""

from __future__ import annotations

import struct

import numpy as np

from .decompress import lzw_decode
from .sniff import MAGIC_TIFF_BE, MAGIC_TIFF_LE, MAX_PIXELS

# tag ids
_T_WIDTH, _T_LENGTH, _T_BITS, _T_COMP, _T_PHOTO = 256, 257, 258, 259, 262
_T_STRIP_OFF, _T_SPP, _T_ROWS_PER_STRIP, _T_STRIP_CNT = 273, 277, 278, 279
_T_PREDICTOR = 317


# ---------------------------------------------------------------------------
# PackBits (TIFF 6.0 section 9)
# ---------------------------------------------------------------------------

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
# predictor 2 (horizontal differencing)
# ---------------------------------------------------------------------------

def _predict2_decode(rows: np.ndarray) -> np.ndarray:
    return np.cumsum(rows.astype(np.int64), axis=1).astype(np.uint8)


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
