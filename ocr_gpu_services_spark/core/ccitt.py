"""CCITT Group 4 (ITU-T T.6) two-dimensional MMR decoder — pure
Python/numpy, from the published recommendation.

G4 is THE fax/scan compression: virtually every scan-to-TIFF and
scan-to-PDF tool emits bilevel pages as T.6 streams (TIFF Compression 4,
PDF /CCITTFaxDecode K=-1), the exact provenance of the documents the
reference OCRs.  Everything here derives from the public spec:

* vertical modes V(0)/VR(1-3)/VL(1-3), pass mode (0001), horizontal
  mode (001) with T.4 modified-Huffman white/black run-length tables
  (terminating codes 0-63, makeup codes 64-1728, shared extended
  makeup 1792-2560; runs > 2560 emit repeated 2560 makeups)
* every line is coded against the previous line's changing elements
  (first reference line = all white), so flat regions cost ~1 bit/line
* EOFB terminator, MSB-first bit packing

The code tables are transcribed from T.4/T.6 and sanity-checked at
import (prefix-free within each table, exact counts).  The decoder is
additionally exercised against hand-derived bit vectors in
tests/test_rasters.py, so it and the fixture encoder
(fixtures/codecs/ccitt.py, which imports these tables) cannot share a
transcription error silently.

Coding state follows the spec's changing-element formulation: a0 is
the last coded position (imaginary white element before the row at
start), a1 the next change on the coding line, b1 the first change on
the reference line right of a0 with colour opposite a0's, b2 the next
after b1.
"""

from __future__ import annotations

import numpy as np

from .sniff import MAX_PIXELS

# ---------------------------------------------------------------------------
# T.4 modified-Huffman run-length tables (published constants)
# ---------------------------------------------------------------------------

_WHITE_TERM = [
    "00110101", "000111", "0111", "1000", "1011", "1100", "1110", "1111",
    "10011", "10100", "00111", "01000", "001000", "000011", "110100",
    "110101", "101010", "101011", "0100111", "0001100", "0001000",
    "0010111", "0000011", "0000100", "0101000", "0101011", "0010011",
    "0100100", "0011000", "00000010", "00000011", "00011010", "00011011",
    "00010010", "00010011", "00010100", "00010101", "00010110",
    "00010111", "00101000", "00101001", "00101010", "00101011",
    "00101100", "00101101", "00000100", "00000101", "00001010",
    "00001011", "01010010", "01010011", "01010100", "01010101",
    "00100100", "00100101", "01011000", "01011001", "01011010",
    "01011011", "01001010", "01001011", "00110010", "00110011",
    "00110100",
]
_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}
_BLACK_TERM = [
    "0000110111", "010", "11", "10", "011", "0011", "0010", "00011",
    "000101", "000100", "0000100", "0000101", "0000111", "00000100",
    "00000111", "000011000", "0000010111", "0000011000", "0000001000",
    "00001100111", "00001101000", "00001101100", "00000110111",
    "00000101000", "00000010111", "00000011000", "000011001010",
    "000011001011", "000011001100", "000011001101", "000001101000",
    "000001101001", "000001101010", "000001101011", "000011010010",
    "000011010011", "000011010100", "000011010101", "000011010110",
    "000011010111", "000001101100", "000001101101", "000011011010",
    "000011011011", "000001010100", "000001010101", "000001010110",
    "000001010111", "000001100100", "000001100101", "000001010010",
    "000001010011", "000000100100", "000000110111", "000000111000",
    "000000100111", "000000101000", "000001011000", "000001011001",
    "000000101011", "000000101100", "000001011010", "000001100110",
    "000001100111",
]
_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

_MODE_V = {0: "1", 1: "011", -1: "010", 2: "000011", -2: "000010",
           3: "0000011", -3: "0000010"}
_MODE_H = "001"
_MODE_PASS = "0001"

# decode tries: code-string -> (value, is_makeup)
def _runs_table(term, makeup):
    t = {}
    for run, code in enumerate(term):
        t[code] = (run, False)
    for run, code in makeup.items():
        t[code] = (run, True)
    for run, code in _EXT_MAKEUP.items():
        t[code] = (run, True)
    return t


_WHITE_DEC = _runs_table(_WHITE_TERM, _WHITE_MAKEUP)
_BLACK_DEC = _runs_table(_BLACK_TERM, _BLACK_MAKEUP)


def _assert_prefix_free(codes):
    s = sorted(codes)
    for a, b in zip(s, s[1:]):
        assert not b.startswith(a), (a, b)


assert len(_WHITE_TERM) == 64 and len(_BLACK_TERM) == 64
assert len(_WHITE_MAKEUP) == 27 and len(_BLACK_MAKEUP) == 27
assert len(_EXT_MAKEUP) == 13
_assert_prefix_free(list(_WHITE_DEC))
_assert_prefix_free(list(_BLACK_DEC))
# mode codes must be prefix-free against each other
_assert_prefix_free(list(_MODE_V.values()) + [_MODE_H, _MODE_PASS])


def _transitions(black_row: np.ndarray) -> list[int]:
    """Positions where the colour changes (index of the first pixel of
    each new run), with an imaginary white pixel before the row: a
    change at even list index is a change TO black."""
    t = (np.flatnonzero(black_row[1:] != black_row[:-1]) + 1).tolist()
    if black_row.size and black_row[0]:
        t.insert(0, 0)
    return t


def g4_decode(data: bytes, w: int, h: int) -> np.ndarray:
    """T.6 stream -> (h, w) bool array (True = black)."""
    # crafted-header guard at the shared choke point (TIFF strips AND
    # PDF /CCITTFaxDecode XObjects land here): all-white G4 rows cost
    # ~1 bit each, so a ~13 KB stream with declared 100k x 100k
    # dimensions would otherwise allocate a 10 GB page and OOM the
    # executor instead of degrading to the error column
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError(f"G4: implausible dimensions {w}x{h}")
    nbits = len(data) * 8

    def bit(p: int) -> int:
        return (data[p >> 3] >> (7 - (p & 7))) & 1

    pos_bits = 0

    def read_code(candidates: dict) -> tuple:
        nonlocal pos_bits
        s = ""
        p = pos_bits
        while len(s) < 14:
            if p >= nbits:
                raise ValueError("G4: truncated stream")
            s += "1" if bit(p) else "0"
            p += 1
            if s in candidates:
                pos_bits = p
                return candidates[s]
        raise ValueError(f"G4: bad code near bit {pos_bits}")

    _modes = {}
    for d, code in _MODE_V.items():
        _modes[code] = ("v", d)
    _modes[_MODE_H] = ("h", 0)
    _modes[_MODE_PASS] = ("p", 0)
    _modes["000000000001"] = ("eol", 0)

    def read_run(black: bool) -> int:
        total = 0
        table = _BLACK_DEC if black else _WHITE_DEC
        while True:
            run, is_makeup = read_code(table)
            total += run
            if not is_makeup:
                return total

    out = np.zeros((h, w), dtype=bool)
    ref: list[int] = []
    for r in range(h):
        row = out[r]
        pos, color = -1, False
        # monotone b-pointer (as in fixtures/codecs/ccitt.g4_encode):
        # linear per row, and on an invalid stream whose pos regresses
        # the pointer simply yields a farther b1 — decode still
        # terminates (read_code exhausts the stream) and valid streams
        # are unaffected
        bstart = 0
        while pos < w:
            kind, d = read_code(_modes)
            if kind == "eol":
                raise ValueError("G4: unexpected EOL inside image")
            want = 0 if not color else 1
            while bstart < len(ref) and ref[bstart] <= pos:
                bstart += 1
            bi = bstart if bstart % 2 == want else bstart + 1
            b1 = ref[bi] if bi < len(ref) else w
            b2 = ref[bi + 1] if bi + 1 < len(ref) else w
            start = 0 if pos < 0 else pos
            if kind == "p":
                if color:
                    row[start:b2] = True
                pos = b2
            elif kind == "v":
                a1 = b1 + d
                if a1 < 0 or a1 > w:
                    raise ValueError("G4: vertical out of range")
                if color:
                    row[start:a1] = True
                pos = a1
                color = not color
            else:                           # horizontal: two runs
                r1 = read_run(color)
                r2 = read_run(not color)
                a1 = start + r1
                a2 = a1 + r2
                if a2 > w:
                    raise ValueError("G4: horizontal overruns row")
                if color:
                    row[start:a1] = True
                else:
                    row[a1:a2] = True
                pos = a2
        # reference transitions rebuilt from the decoded row (simpler
        # and safer than maintaining them across mode edge cases)
        ref = _transitions(row)
    return out
