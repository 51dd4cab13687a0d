"""GIF87a/GIF89a codec — pure numpy + Python, from the published spec.

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

The decoder is the product path; the encoder exists for the fixture
generator (deterministic bytes, exact ≤256-color palettes — the
fixture colorizer is a 256-entry LUT so every colorized page fits a
GIF palette losslessly).

Per-row failures raise ValueError and degrade to the ``error`` column
(core/extract.py convention) — including the crafted-header
pixel-count cap shared with the BMP/TIFF decoders.
"""

from __future__ import annotations

import struct

import numpy as np

from .decompress import lzw_decode
from .sniff import MAGIC_GIF87, MAGIC_GIF89, MAX_PIXELS

_MAX_CODE = 1 << 12                      # GIF caps LZW codes at 12 bits


# ---------------------------------------------------------------------------
# LZW encoder (GIF variant: LSB-first bit packing, variable 3..12-bit
# codes); the decoder is core/decompress.lzw_decode
# ---------------------------------------------------------------------------

def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """Encode pixel indices as a GIF LZW stream (not yet sub-blocked)."""
    clear = 1 << mcs
    eoi = clear + 1
    out = bytearray()
    buf = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    table = {bytes((c,)): c for c in range(clear)}
    nxt = eoi + 1
    width = mcs + 1
    emit(clear, width)
    w = b""
    for b in indices:
        wc = w + bytes((b,))
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = nxt
        nxt += 1
        # mirror of the decoder's growth point: the decoder assigns this
        # entry one code later, so the encoder bumps at (1<<width) + 1
        if nxt == (1 << width) + 1 and width < 12:
            width += 1
        if nxt == _MAX_CODE:               # full table: reset (no deferral)
            emit(clear, width)
            table = {bytes((c,)): c for c in range(clear)}
            nxt = eoi + 1
            width = mcs + 1
        w = bytes((b,))
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    """Row indices in GIF interlace emission order."""
    return np.concatenate([np.arange(start, h, step)
                           for start, step in _INTERLACE_PASSES])


def _sub_blocks(data: bytes) -> bytes:
    """Chop a byte stream into ≤255-byte counted sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def gif_encode(img: np.ndarray, interlace: bool = False) -> bytes:
    """Deterministic GIF for the fixture generator.

    Gray (H,W) uint8 pages use the identity 256-entry gray-ramp global
    palette (lossless, and the decoder hands back the exact 2-D array);
    RGB (H,W,3) pages build an exact palette from the distinct colors —
    the fixture colorizer is a 256-entry LUT, so ≤256 always holds.
    """
    if img.dtype != np.uint8:
        raise ValueError("gif_encode wants uint8")
    if img.ndim == 2:
        h, w = img.shape
        palette = np.repeat(np.arange(256, dtype=np.uint8), 3)
        indices = img
        pal_bits = 8
    elif img.ndim == 3 and img.shape[2] == 3:
        h, w = img.shape[:2]
        flat = img.reshape(-1, 3)
        colors, inverse = np.unique(flat, axis=0, return_inverse=True)
        if len(colors) > 256:
            raise ValueError("gif_encode: more than 256 distinct colors")
        pal_bits = max(1, int(len(colors) - 1).bit_length())
        # an RGB-path table always carries at least one non-neutral
        # entry (in an unused padding slot if the image itself collapsed
        # to grays — e.g. a strongly-clipped tint) so the format probe's
        # gray/rgb call is a pure function of the encode path; the
        # decoder's gray/color decision looks at USED pixels only
        neutral = bool((colors[:, 0] == colors[:, 1]).all()
                       and (colors[:, 1] == colors[:, 2]).all())
        if neutral and len(colors) == (1 << pal_bits) and pal_bits < 8:
            pal_bits += 1
        pal = np.zeros((1 << pal_bits, 3), dtype=np.uint8)
        pal[:len(colors)] = colors
        if neutral and len(colors) < (1 << pal_bits):
            pal[len(colors)] = (1, 0, 2)
        palette = pal.reshape(-1)
        indices = inverse.astype(np.uint8).reshape(h, w)
    else:
        raise ValueError("gif_encode wants HxW or HxWx3")
    if interlace:
        indices = indices[_interlace_order(h)]
    mcs = max(2, pal_bits)
    lzw = _lzw_encode(indices.tobytes(), mcs)
    head = (MAGIC_GIF89
            + struct.pack("<HHBBB", w, h,
                          0x80 | ((pal_bits - 1) << 4) | (pal_bits - 1),
                          0, 0)
            + palette.tobytes())
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                 0x40 if interlace else 0)
    return head + desc + bytes((mcs,)) + _sub_blocks(lzw) + b"\x3b"


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
