"""Exact-luma page colorization for the color-format fixture rows.

Maps a grayscale page to an RGB page whose cv2-exact luma
(core/color.py fixed-point BT.601) is byte-identical to the input: the
color payload then decodes -> grays back to EXACTLY the original page,
so extraction output — and therefore every golden — is byte-identical
to the never-colorized twin.  Lossless formats (color PNG variants) get
this for free; color JPEG additionally relies on the quality-100 band
contract (fixtures/codecs/jpeg.py docstring): the luma channel
round-trips within a few gray levels and ink(<128) / bed(176) /
paper(>230) classification is preserved.

The solver works per gray level (a 256-entry LUT): pick R = g + dr,
G = g + dg from the page tint, then solve the exact integer range of B
with (4899 R + 9617 G + 1868 B + 8192) >> 14 == g; the rounding window
is ~16384/1868 = 8.8 wide, so a valid B almost always exists — pixels
where clipping breaks feasibility fall back to neutral gray (R=G=B=g,
exact because the weights sum to 2**14).
"""

from __future__ import annotations

import random

import numpy as np

from ..core.color import luma_int


def _solve_b(g: int, r: int, gg: int) -> int | None:
    """Integer B with exact luma g for channel values (r, gg, B)."""
    a = 16384 * g - 8192 - 4899 * r - 9617 * gg
    lo = -(-a // 1868)                   # ceil
    hi = (a + 16383) // 1868             # floor of the window top
    b = max(0, min(255, (lo + hi) // 2))
    return b if luma_int(r, gg, b) == g else None


def tint_lut(dr: int, dg: int) -> np.ndarray:
    """(256, 3) uint8 LUT: gray level -> exact-luma tinted RGB."""
    lut = np.empty((256, 3), dtype=np.uint8)
    for g in range(256):
        r = max(0, min(255, g + dr))
        gg = max(0, min(255, g + dg))
        b = _solve_b(g, r, gg)
        if b is None:
            r = gg = b = g                # neutral fallback, exact
        lut[g] = (r, gg, b)
    return lut


def colorize_exact(gray: np.ndarray, rng: random.Random) -> np.ndarray:
    """(H, W) uint8 -> (H, W, 3) uint8 with byte-identical luma.
    Consumes exactly two draws from ``rng`` (the page tint)."""
    dr = rng.randrange(-28, 29)
    dg = rng.randrange(-28, 29)
    if dr == 0 and dg == 0:
        dr = 11                           # never emit a neutral "color" page
    return tint_lut(dr, dg)[gray]
