"""GIF87a/GIF89a decoder — pure numpy + Python, from the published spec.

S3 format breadth: GIF is one of the most common raster formats in real
web crawls (the reference accepts any cv2/PIL-decodable upload and grays
it immediately, /root/reference/src/api/v1/utils.py:15-18); a crawl
extraction engine that rejects GIF drops a visible slice of image rows.
Scope is the still-image core that covers crawl reality: global/local
color tables, interlaced or sequential row order, variable-width
LSB-first LZW with clear/EOI handling (including the "deferred clear"
encoders that keep emitting 12-bit codes at a full table).  Animation
is out of scope by design — the FIRST image frame is the document page
(the same first-frame convention PIL applies on `.convert()`); later
frames are ignored, matching a single-page extraction semantics.

Per-row failures raise ValueError and degrade to the ``error`` column
(core/extract.py convention) — including the crafted-header
pixel-count cap shared with the BMP/TIFF decoders.
"""

from __future__ import annotations

import struct

import numpy as np

from .decompress import lzw_decode
from .sniff import MAGIC_GIF87, MAGIC_GIF89, MAX_PIXELS

# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    """Row indices in GIF interlace emission order."""
    return np.concatenate([np.arange(start, h, step)
                           for start, step in _INTERLACE_PASSES])


def gif_decode(payload: bytes) -> np.ndarray:
    """First image frame of a GIF87a/89a stream.

    Returns (H,W) uint8 when the active palette is a neutral gray ramp
    (every used entry has R==G==B), else (H,W,3) uint8 RGB — the same
    gray/color contract as the PNG/BMP/TIFF decoders, so the
    decode_image seam grays color frames with the shared cv2-exact
    weights (core/color.py)."""
    if payload[:6] not in (MAGIC_GIF87, MAGIC_GIF89):
        raise ValueError("GIF: bad magic")
    if len(payload) < 13:
        raise ValueError("GIF: truncated header")
    _sw, _sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[pos:pos + 3 * n], dtype=np.uint8)
        if len(gct) != 3 * n:
            raise ValueError("GIF: truncated global color table")
        gct = gct.reshape(n, 3)
        pos += 3 * n
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:                 # trailer before any image
            raise ValueError("GIF: no image frame")
        if block == 0x21:                 # extension: label + sub-blocks
            pos += 1
            while True:
                if pos >= len(payload):
                    raise ValueError("GIF: truncated extension")
                sz = payload[pos]
                pos += 1 + sz
                if sz == 0:
                    break
            continue
        if block != 0x2C:
            raise ValueError(f"GIF: unknown block 0x{block:02x}")
        if pos + 9 > len(payload):
            raise ValueError("GIF: truncated image descriptor")
        _left, _top, w, h, ipack = struct.unpack_from("<HHHHB",
                                                      payload, pos)
        pos += 9
        if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
            raise ValueError("GIF: bad dimensions")
        pal = gct
        if ipack & 0x80:
            n = 2 << (ipack & 0x07)
            pal = np.frombuffer(payload[pos:pos + 3 * n], dtype=np.uint8)
            if len(pal) != 3 * n:
                raise ValueError("GIF: truncated local color table")
            pal = pal.reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF: no color table")
        if pos >= len(payload):
            raise ValueError("GIF: truncated image data")
        mcs = payload[pos]
        pos += 1
        parts = []
        while True:
            if pos >= len(payload):
                raise ValueError("GIF: truncated image data")
            sz = payload[pos]
            pos += 1
            if sz == 0:
                break
            if pos + sz > len(payload):
                raise ValueError("GIF: truncated sub-block")
            parts.append(payload[pos:pos + sz])
            pos += sz
        data = b"".join(parts)
        idx = np.frombuffer(lzw_decode(data, w * h, min_code_size=mcs,
                                       lsb_first=True), dtype=np.uint8)
        if idx.max(initial=0) >= len(pal):
            raise ValueError("GIF: palette index out of range")
        idx = idx.reshape(h, w)
        if ipack & 0x40:                  # interlaced: undo emission order
            rows = np.empty(h, dtype=np.int64)
            rows[_interlace_order(h)] = np.arange(h)
            idx = idx[rows]
        used = pal[idx]                   # (H, W, 3)
        if np.array_equal(used[..., 0], used[..., 1]) and \
                np.array_equal(used[..., 1], used[..., 2]):
            return np.ascontiguousarray(used[..., 0])
        return np.ascontiguousarray(used)
    raise ValueError("GIF: truncated stream")
