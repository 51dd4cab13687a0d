"""Minimal 8-bit PNG codec (stdlib zlib/struct only).

Used by the fixture generator (encode) and the OCR kernel (decode).  The
container has no image libraries (SURVEY.md §7.0), so image payloads are
real PNGs produced and consumed by this codec.

Decode supports every 8-bit color type — 0 grayscale, 2 RGB, 3 palette,
4 gray+alpha, 6 RGBA — and all five filter types, returning an (H, W)
gray array or an (H, W, 3) RGB array; alpha is dropped, matching the
reference's cv2.imdecode IMREAD_COLOR behavior
(/root/reference/src/api/v1/utils.py:15-18).  The grayscale bridge for
color arrays lives in core/color.py.  Encoders emit filter 0 only.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .decompress import inflate
from .sniff import MAGIC_PNG, MAX_PIXELS

# bytes per pixel by color type (8-bit depth)
_BPP = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


# Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _interlace_raw(arr3: np.ndarray, h: int, w: int, bpp: int) -> bytes:
    """Filtered raw stream for an Adam7-interlaced image (filter 0 per
    sub-image scanline); empty passes contribute no bytes."""
    parts = []
    for x0, y0, dx, dy in _ADAM7:
        sub = arr3[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        ph, pw = sub.shape[:2]
        flat = np.ascontiguousarray(sub).reshape(ph, pw * bpp)
        parts.append(b"".join(b"\x00" + flat[r].tobytes()
                              for r in range(ph)))
    return b"".join(parts)


def _encode_raw(arr2d: np.ndarray, ctype: int, w: int, h: int,
                extra: bytes = b"", interlace: bool = False) -> bytes:
    bpp = _BPP[ctype]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0,
                       1 if interlace else 0)
    if interlace:
        raw = _interlace_raw(arr2d.reshape(h, w, bpp), h, w, bpp)
    else:
        raw = b"".join(b"\x00" + arr2d[r].tobytes() for r in range(h))
    return (MAGIC_PNG + _chunk(b"IHDR", ihdr) + extra
            + _chunk(b"IDAT", zlib.compress(raw, 6))
            + _chunk(b"IEND", b""))


def png_encode_bilevel(gray: np.ndarray) -> bytes:
    """1-bit grayscale PNG (depth 1, color type 0) — the native shape
    of bilevel scans.  Input must be strictly two-valued {0, 255}."""
    if gray.ndim != 2 or gray.dtype != np.uint8:
        raise ValueError("png_encode_bilevel wants HxW uint8")
    vals = np.unique(gray)
    if not set(vals.tolist()) <= {0, 255}:
        raise ValueError("png_encode_bilevel wants strictly {0,255}")
    h, w = gray.shape
    packed = np.packbits(gray > 127, axis=1)     # 1 = white per PNG gray
    ihdr = struct.pack(">IIBBBBB", w, h, 1, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + packed[r].tobytes() for r in range(h))
    return (MAGIC_PNG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw, 6))
            + _chunk(b"IEND", b""))


def png_encode(gray: np.ndarray, interlace: bool = False) -> bytes:
    """Encode a 2-D uint8 array as grayscale PNG (color type 0);
    ``interlace`` emits the Adam7 seven-pass layout."""
    assert gray.ndim == 2 and gray.dtype == np.uint8
    h, w = gray.shape
    return _encode_raw(gray, 0, w, h, interlace=interlace)


def png_encode_rgb(rgb: np.ndarray, interlace: bool = False) -> bytes:
    """Encode an (H, W, 3) uint8 array as truecolor PNG (color type 2)."""
    assert rgb.ndim == 3 and rgb.shape[2] == 3 and rgb.dtype == np.uint8
    h, w = rgb.shape[:2]
    return _encode_raw(rgb.reshape(h, w * 3), 2, w, h, interlace=interlace)


def png_encode_graya(gray: np.ndarray, alpha: int = 255) -> bytes:
    """Encode (H, W) gray as gray+alpha PNG (color type 4)."""
    assert gray.ndim == 2 and gray.dtype == np.uint8
    h, w = gray.shape
    ga = np.stack([gray, np.full((h, w), alpha, dtype=np.uint8)], axis=2)
    return _encode_raw(ga.reshape(h, w * 2), 4, w, h)


def png_encode_rgba(rgb: np.ndarray, alpha: int = 255) -> bytes:
    """Encode (H, W, 3) RGB as RGBA PNG (color type 6, constant alpha)."""
    assert rgb.ndim == 3 and rgb.shape[2] == 3 and rgb.dtype == np.uint8
    h, w = rgb.shape[:2]
    rgba = np.concatenate(
        [rgb, np.full((h, w, 1), alpha, dtype=np.uint8)], axis=2)
    return _encode_raw(rgba.reshape(h, w * 4), 6, w, h)


def png_encode_palette(rgb: np.ndarray) -> bytes:
    """Encode (H, W, 3) RGB as indexed PNG (color type 3).  Requires
    <= 256 distinct colors (always true for the fixture colorizer, which
    maps each of <= 256 gray levels to one color)."""
    assert rgb.ndim == 3 and rgb.shape[2] == 3 and rgb.dtype == np.uint8
    h, w = rgb.shape[:2]
    flat = rgb.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"{len(palette)} colors exceed palette capacity")
    idx = inverse.astype(np.uint8).reshape(h, w)
    plte = _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    return _encode_raw(idx, 3, w, h, extra=plte)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, height: int, width: int, bpp: int) -> np.ndarray:
    """PNG filter reconstruction -> (height, width*bpp) uint8.  Filters
    operate per byte with the 'left' neighbor ``bpp`` bytes back."""
    stride = width * bpp + 1
    nb = width * bpp
    arr = np.frombuffer(raw, dtype=np.uint8)
    if arr.size == height * stride:
        mat = arr.reshape(height, stride)
        if not mat[:, 0].any():
            # filter-0 fast path (what our encoders and most scanners of
            # flat scans emit): the whole image is one reshape + slice
            return np.ascontiguousarray(mat[:, 1:])
    img = np.zeros((height, nb), dtype=np.uint8)
    prev = np.zeros(nb, dtype=np.int32)
    for r in range(height):
        row = raw[r * stride:(r + 1) * stride]
        ftype = row[0]
        scan = np.frombuffer(row[1:], dtype=np.uint8).astype(np.int32)
        if ftype == 0:
            cur = scan
        elif ftype == 1:                         # Sub
            cur = scan.copy()
            for i in range(bpp, nb):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
        elif ftype == 2:                         # Up
            cur = (scan + prev) & 0xFF
        elif ftype == 3:                         # Average
            cur = scan.copy()
            for i in range(bpp):
                cur[i] = (cur[i] + prev[i] // 2) & 0xFF
            for i in range(bpp, nb):
                cur[i] = (cur[i] + (cur[i - bpp] + prev[i]) // 2) & 0xFF
        elif ftype == 4:                         # Paeth
            cur = scan.copy()
            for i in range(bpp):
                cur[i] = (cur[i] + _paeth(0, int(prev[i]), 0)) & 0xFF
            for i in range(bpp, nb):
                cur[i] = (cur[i] + _paeth(int(cur[i - bpp]), int(prev[i]),
                                          int(prev[i - bpp]))) & 0xFF
        else:
            raise ValueError(f"bad filter {ftype}")
        img[r] = cur.astype(np.uint8)
        prev = cur
    return img


def _deinterlace(raw: bytes, height: int, width: int, bpp: int
                 ) -> np.ndarray:
    """Reassemble an Adam7 stream: each non-empty pass is an
    independently filtered sub-image (its own filter bytes and
    left/up neighbors), scattered onto the full-resolution grid."""
    img = np.zeros((height, width, bpp), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = pw * bpp + 1
        sub = _unfilter(raw[pos:pos + ph * stride], ph, pw, bpp)
        pos += ph * stride
        img[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
    if pos != len(raw):
        raise ValueError("interlaced PNG length mismatch")
    return img.reshape(height, width * bpp)


def png_decode(data: bytes) -> np.ndarray:
    """Decode an 8-bit PNG.  Returns (H, W) uint8 for grayscale inputs
    (color types 0 and 4, alpha dropped) or (H, W, 3) uint8 RGB for
    color inputs (types 2, 3, 6 — palette expanded, alpha dropped)."""
    if data[:8] != MAGIC_PNG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = ctype = None
    ilace = 0
    palette = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            width, height, depth, ctype, _comp, _filt, ilace = \
                struct.unpack(">IIBBBBB", body[:13])
            if not (depth == 8 and ctype in _BPP) \
                    and not (depth == 1 and ctype == 0):
                raise ValueError(
                    f"unsupported PNG (depth {depth}, color type {ctype})")
            if ilace not in (0, 1) or (depth == 1 and ilace):
                raise ValueError(f"bad interlace method {ilace}")
        elif tag == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    if width * height > MAX_PIXELS:   # crafted-header guard
        raise ValueError("PNG: bad dimensions")
    rowbytes = (width + 7) // 8 if depth == 1 else width * _BPP[ctype]
    # past the longest raw stream the IHDR allows (Adam7 filter bytes
    # included): a longer stream decodes the same from its first bytes
    raw = inflate(bytes(idat), height * (rowbytes + 2) + 8)
    if depth == 1:
        # bilevel: filters act on the packed row bytes (bpp quantum 1);
        # unpack MSB-first, 1 = white per the PNG grayscale convention
        flat = _unfilter(raw, height, rowbytes, 1)
        bits = np.unpackbits(flat, axis=1)[:, :width]
        return (bits * np.uint8(255)).astype(np.uint8)
    bpp = _BPP[ctype]
    flat = _deinterlace(raw, height, width, bpp) if ilace \
        else _unfilter(raw, height, width, bpp)
    if ctype == 0:
        return flat.reshape(height, width)
    if ctype == 2:
        return flat.reshape(height, width, 3)
    if ctype == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        return palette[flat.reshape(height, width)]
    if ctype == 4:                               # gray + alpha
        return np.ascontiguousarray(
            flat.reshape(height, width, 2)[:, :, 0])
    return np.ascontiguousarray(                 # 6: RGBA
        flat.reshape(height, width, 4)[:, :, :3])
