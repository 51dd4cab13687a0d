"""BMP (Windows DIB) decoder — pure numpy, from the published format.

S3 format breadth: the reference accepts any cv2-decodable upload
(`cv2.imdecode`, /root/reference/src/api/v1/utils.py:15-18) and BMP is
in cv2's built-in set; scanner/fax tooling still emits it.  Scope is
the uncompressed BITMAPINFOHEADER core that covers real-world files:
8-bit palettized (incl. the gray-ramp palette every grayscale BMP
uses) and 24-bit BGR, bottom-up or top-down row order, 4-byte row
padding.  Compressed variants (BI_RLE8/4) are rejected with a clear
error — the extraction pipeline degrades the row to its ``error``
column rather than crashing (core/extract.py convention).
"""

from __future__ import annotations

import struct

import numpy as np

from .sniff import MAGIC_BMP, MAX_PIXELS

_FILE_HDR = struct.Struct("<2sIHHI")    # magic, filesize, res, res, off
_INFO_HDR = struct.Struct("<IiiHHIIiiII")  # size w h planes bpp comp ...


def bmp_decode(payload: bytes) -> np.ndarray:
    """-> HxW uint8 gray (gray-ramp palette) or HxWx3 uint8 RGB."""
    if payload[:2] != MAGIC_BMP or len(payload) < 54:
        raise ValueError("not a BMP")
    _m, _fsz, _r1, _r2, off = _FILE_HDR.unpack_from(payload, 0)
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"BMP: unsupported header size {hdr_size}")
    (_sz, w, h, planes, bpp, comp, _isz, _xp, _yp, n_colors,
     _imp) = _INFO_HDR.unpack_from(payload, 14)
    if planes != 1:
        raise ValueError("BMP: planes != 1")
    if comp != 0:
        raise ValueError(f"BMP: unsupported compression {comp}")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0 or w * h > MAX_PIXELS:
        raise ValueError("BMP: bad dimensions")
    if bpp == 8:
        n_colors = n_colors or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(payload, np.uint8, n_colors * 4,
                            pal_off).reshape(n_colors, 4)
        stride = (w + 3) & ~3
        need = stride * h
        if off + need > len(payload):
            raise ValueError("BMP: truncated pixel data")
        rows = np.frombuffer(payload, np.uint8, need,
                             off).reshape(h, stride)[:, :w]
        if not top_down:
            rows = rows[::-1]
        b, g, r = pal[:, 0], pal[:, 1], pal[:, 2]
        if bool((b == g).all() and (g == r).all()):
            return np.ascontiguousarray(r[rows])      # gray ramp
        return np.ascontiguousarray(
            np.stack([r[rows], g[rows], b[rows]], axis=-1))
    if bpp == 24:
        stride = (3 * w + 3) & ~3
        need = stride * h
        if off + need > len(payload):
            raise ValueError("BMP: truncated pixel data")
        rows = np.frombuffer(payload, np.uint8, need,
                             off).reshape(h, stride)[:, :3 * w]
        if not top_down:
            rows = rows[::-1]
        return np.ascontiguousarray(
            rows.reshape(h, w, 3)[:, :, ::-1])        # BGR -> RGB
    raise ValueError(f"BMP: unsupported bit depth {bpp}")
