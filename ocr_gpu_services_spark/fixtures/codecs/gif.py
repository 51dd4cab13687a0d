"""Deterministic GIF89a encoder for the fixture generator: exact
≤256-color palettes (the fixture colorizer is a 256-entry LUT, so every
colorized page fits a GIF palette losslessly), sequential or interlaced
rows.  The decoder is core/gif.py.
"""

from __future__ import annotations

import struct

import numpy as np

from ...core.gif import _interlace_order
from ...core.sniff import MAGIC_GIF89
from .webp import _BitWriter

_MAX_CODE = 1 << 12                      # GIF caps LZW codes at 12 bits


def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """Encode pixel indices as a GIF LZW stream (LSB-first, variable
    3..12-bit codes; not yet sub-blocked).  The decoder is
    core/decompress.lzw_decode."""
    clear = 1 << mcs
    eoi = clear + 1
    bw = _BitWriter()
    table = {bytes((c,)): c for c in range(clear)}
    nxt = eoi + 1
    width = mcs + 1
    bw.write(clear, width)
    w = b""
    for b in indices:
        wc = w + bytes((b,))
        if wc in table:
            w = wc
            continue
        bw.write(table[w], width)
        table[wc] = nxt
        nxt += 1
        # mirror of the decoder's growth point: the decoder assigns this
        # entry one code later, so the encoder bumps at (1<<width) + 1
        if nxt == (1 << width) + 1 and width < 12:
            width += 1
        if nxt == _MAX_CODE:               # full table: reset (no deferral)
            bw.write(clear, width)
            table = {bytes((c,)): c for c in range(clear)}
            nxt = eoi + 1
            width = mcs + 1
        w = bytes((b,))
    if w:
        bw.write(table[w], width)
    bw.write(eoi, width)
    return bw.done()


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
