"""Minimal deterministic VP8L (lossless WebP) encoder for the fixture
generator: no transforms, no color cache, literal-only prefix codes,
optionally wrapped as a single-frame animation.  The decoder is
core/webp.py; tests/test_webp.py pins the encoded bytes against the
system libwebp.
"""

from __future__ import annotations

import struct

import numpy as np

from ...core.sniff import MAGIC_RIFF, MAGIC_WEBP
from ...core.webp import _CLC_ORDER, _VP8L_SIG


class _BitWriter:
    """LSB-first bit packer (VP8L and GIF LZW share the bit order); the
    final partial byte is zero-padded."""

    __slots__ = ("buf", "acc", "nacc")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, value: int, n: int) -> None:     # LSB-first
        self.acc |= (value & ((1 << n) - 1)) << self.nacc
        self.nacc += n
        while self.nacc >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nacc -= 8

    def write_code(self, code: int, n: int) -> None:
        """Prefix-code bits: MSB of the canonical code goes first."""
        for k in range(n - 1, -1, -1):
            self.write((code >> k) & 1, 1)

    def done(self) -> bytes:
        if self.nacc:
            self.buf.append(self.acc & 0xFF)
        return bytes(self.buf)


def _write_literal_tree(bw: _BitWriter, alphabet: int) -> None:
    """Emit the fixed fixture prefix code: all 256 byte symbols at
    length 8 (Kraft-complete), any trailing alphabet symbols zero via
    a repeat-zero run."""
    bw.write(0, 1)                                  # normal form
    # CLC lengths: symbol 8 -> 1 bit, symbol 18 -> 1 bit; _CLC_ORDER
    # positions: 8 at slot 11, 18 at slot 1 -> 12 slots transmitted
    bw.write(12 - 4, 4)                             # 12 CLC slots
    clc = {8: 1, 18: 1}
    for i in range(12):
        bw.write(clc.get(_CLC_ORDER[i], 0), 3)
    bw.write(0, 1)                                  # no explicit max
    # canonical CLC codes: 8 -> 0, 18 -> 1 (1 bit each)
    for _ in range(256):
        bw.write_code(0, 1)                         # length 8
    if alphabet > 256:
        rest = alphabet - 256
        bw.write_code(1, 1)                         # CL symbol 18
        bw.write(rest - 11, 7)


def _lit_code(v: int) -> tuple[int, int]:
    """Canonical (code, nbits) under the fixture literal tree: all 256
    symbols at length 8, so the canonical code IS the byte value."""
    return v, 8


def _write_single_tree(bw: _BitWriter, symbol: int) -> None:
    bw.write(1, 1)                                  # simple form
    bw.write(0, 1)                                  # one symbol
    if symbol < 2:
        bw.write(0, 1)
        bw.write(symbol, 1)
    else:
        bw.write(1, 1)
        bw.write(symbol, 8)


def vp8l_encode(img: np.ndarray, animated: bool = False) -> bytes:
    """Minimal deterministic VP8L stream for the fixture generator: no
    transforms, no cache, literal-only codes (decodes with any
    conformant reader — pinned against libwebp in tests).

    ``animated=True`` wraps the same pixels as a single-frame animation
    (VP8X + ANIM + ANMF container) so fixture rows exercise the
    animated-crawl decode path with byte-identical extraction."""
    if img.ndim == 2:
        rgb = np.stack([img] * 3, axis=2)
    else:
        rgb = img
    if rgb.dtype != np.uint8 or rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("vp8l_encode wants HxW or HxWx3 uint8")
    h, w = rgb.shape[:2]
    if not (0 < w <= 1 << 14 and 0 < h <= 1 << 14):
        raise ValueError("vp8l_encode: dimensions exceed VP8L limits")
    bw = _BitWriter()
    bw.write(_VP8L_SIG, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)                                  # no alpha
    bw.write(0, 3)                                  # version
    bw.write(0, 1)                                  # no transforms
    bw.write(0, 1)                                  # no color cache
    bw.write(0, 1)                                  # no meta codes
    _write_literal_tree(bw, 256 + 24)               # green
    _write_literal_tree(bw, 256)                    # red
    _write_literal_tree(bw, 256)                    # blue
    _write_single_tree(bw, 255)                     # alpha: constant
    _write_single_tree(bw, 0)                       # distance: unused
    flat = rgb.reshape(-1, 3)
    for r, g, b in flat:
        c, n = _lit_code(int(g))
        bw.write_code(c, n)
        c, n = _lit_code(int(r))
        bw.write_code(c, n)
        c, n = _lit_code(int(b))
        bw.write_code(c, n)
    chunk = bw.done()
    if len(chunk) & 1:
        chunk += b"\x00"
    vp8l = b"VP8L" + struct.pack("<I", len(chunk)) + chunk
    if not animated:
        return (MAGIC_RIFF + struct.pack("<I", 4 + len(vp8l))
                + MAGIC_WEBP + vp8l)
    # VP8X flags: bit 1 = animation; canvas dims as width-1/height-1
    # 24-bit LE
    vp8x = (b"VP8X" + struct.pack("<I", 10) + bytes([0x02, 0, 0, 0])
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little"))
    anim = (b"ANIM" + struct.pack("<I", 6)
            + struct.pack("<IH", 0xFFFFFFFF, 0))   # white bg, loop 0
    frame_hdr = (b"\x00" * 6                        # frame x/2, y/2 = 0
                 + (w - 1).to_bytes(3, "little")
                 + (h - 1).to_bytes(3, "little")
                 + (100).to_bytes(3, "little")      # duration ms
                 + b"\x00")                         # flags
    anmf_body = frame_hdr + vp8l
    anmf = b"ANMF" + struct.pack("<I", len(anmf_body)) + anmf_body
    if len(anmf) & 1:
        anmf += b"\x00"
    payload = vp8x + anim + anmf
    return (MAGIC_RIFF + struct.pack("<I", 4 + len(payload))
            + MAGIC_WEBP + payload)
