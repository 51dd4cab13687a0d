"""CCITT Group 4 (ITU-T T.6) encoder for the fixture generator: TIFF
Compression 4 strips and PDF /CCITTFaxDecode XObjects.  The decoder and
the T.4/T.6 code tables are core/ccitt.py; the decoder is also checked
against hand-derived bit vectors in tests/test_rasters.py, so the two
sides cannot share a transcription error silently.
"""

from __future__ import annotations

import numpy as np

from ...core.ccitt import (_BLACK_MAKEUP, _BLACK_TERM, _EXT_MAKEUP, _MODE_H,
                           _MODE_PASS, _MODE_V, _WHITE_MAKEUP, _WHITE_TERM,
                           _transitions)

_EOFB = "000000000001" * 2


def _encode_run(run: int, black: bool, out: list[str]) -> None:
    term = _BLACK_TERM if black else _WHITE_TERM
    makeup = _BLACK_MAKEUP if black else _WHITE_MAKEUP
    while run >= 2624:                      # repeated largest makeup
        out.append(_EXT_MAKEUP[2560])
        run -= 2560
    if run >= 64:
        mk = (run // 64) * 64
        if mk > 1728:
            out.append(_EXT_MAKEUP[mk])
        else:
            out.append(makeup[mk])
        run -= mk
    out.append(term[run])


def g4_encode(black: np.ndarray) -> bytes:
    """(h, w) bool/0-1 array (True = black) -> T.6 stream incl. EOFB."""
    black = np.asarray(black, dtype=bool)
    h, w = black.shape
    out: list[str] = []
    ref: list[int] = []                     # all-white reference line
    for r in range(h):
        cur = _transitions(black[r])
        pos, color = -1, False
        ci = 0                              # index into cur of next a1
        # monotone b-pointer: pos never decreases within a row and ref
        # is sorted, so the first reference transition > pos only moves
        # forward — O(transitions) per row instead of the quadratic
        # from-zero rescan (a 1728px alternating halftone row has ~1700
        # transitions; quadratic makes a single fax page take minutes)
        bstart = 0
        while pos < w:
            a1 = cur[ci] if ci < len(cur) else w
            # b1: first ref change > pos with colour opposite `color`
            # (changes to black sit at even indices); consecutive
            # transitions alternate parity, so it is bstart or bstart+1
            want = 0 if not color else 1
            while bstart < len(ref) and ref[bstart] <= pos:
                bstart += 1
            bi = bstart if bstart % 2 == want else bstart + 1
            b1 = ref[bi] if bi < len(ref) else w
            b2 = ref[bi + 1] if bi + 1 < len(ref) else w
            if b2 < a1:
                out.append(_MODE_PASS)
                pos = b2
            elif abs(a1 - b1) <= 3:
                out.append(_MODE_V[a1 - b1])
                pos = a1
                color = not color
                ci += 1
            else:
                a2 = cur[ci + 1] if ci + 1 < len(cur) else w
                out.append(_MODE_H)
                start = 0 if pos < 0 else pos
                _encode_run(a1 - start, color, out)
                _encode_run(a2 - a1, not color, out)
                pos = a2
                ci += 2
        ref = cur
    out.append(_EOFB)
    bits = "".join(out)
    bits += "0" * (-len(bits) % 8)
    return bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
