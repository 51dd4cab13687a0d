"""BMP encoders for the fixture generator: 8-bit gray-ramp palettized
and 24-bit BGR, bottom-up.  The decoder is core/bmp.py."""

from __future__ import annotations

import struct

import numpy as np

from ...core.bmp import _FILE_HDR, _INFO_HDR
from ...core.sniff import MAGIC_BMP


def bmp_encode_gray8(img: np.ndarray) -> bytes:
    """8-bit palettized BMP with the identity gray ramp, bottom-up."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("bmp_encode_gray8 wants HxW uint8")
    h, w = img.shape
    stride = (w + 3) & ~3
    palette = b"".join(struct.pack("<BBBB", g, g, g, 0)
                       for g in range(256))
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w] = img[::-1]                      # bottom-up
    pix = rows.tobytes()
    off = _FILE_HDR.size + _INFO_HDR.size + len(palette)
    info = _INFO_HDR.pack(_INFO_HDR.size, w, h, 1, 8, 0,
                          len(pix), 2835, 2835, 256, 0)
    return (_FILE_HDR.pack(MAGIC_BMP, off + len(pix), 0, 0, off)
            + info + palette + pix)


def bmp_encode_rgb24(rgb: np.ndarray) -> bytes:
    """24-bit BGR BMP, bottom-up."""
    if rgb.ndim != 3 or rgb.shape[2] != 3 or rgb.dtype != np.uint8:
        raise ValueError("bmp_encode_rgb24 wants HxWx3 uint8")
    h, w = rgb.shape[:2]
    stride = (3 * w + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :3 * w] = rgb[::-1, :, ::-1].reshape(h, 3 * w)  # BGR
    pix = rows.tobytes()
    off = _FILE_HDR.size + _INFO_HDR.size
    info = _INFO_HDR.pack(_INFO_HDR.size, w, h, 1, 24, 0,
                          len(pix), 2835, 2835, 0, 0)
    return (_FILE_HDR.pack(MAGIC_BMP, off + len(pix), 0, 0, off)
            + info + pix)
