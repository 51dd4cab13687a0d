"""1-D barcodes — EAN-13 (ISO/IEC 15420), Code 128 (ISO/IEC 15417) and
Code 39 (ISO/IEC 16388): scanline decoders.

Symbologies for U3: the reference's pyzbar.decode reads 1-D retail and
logistics codes alongside QR (/root/reference/src/infrastructure/
services/optional_services.py:56-78 returns {data, type} for every
symbol class pyzbar knows).  Everything here derives from the published
standards.

EAN-13: 95 modules = guard 101 + six left digits (7 modules each, L/G
alphabets whose parity pattern encodes the leading 13th digit) +
center 01010 + six right digits (R alphabet) + guard 101, with the
mod-10 weighted checksum.

Code 128: variable-length — start A/B/C (values 103/104/105), data
codewords (code-set state machine with CODE/SHIFT latches, set C packs
digit pairs), a mod-103 position-weighted check codeword, and the
13-module stop pattern.  Every data symbol is 11 modules as 3 bars +
3 spaces of widths 1-4 (bar modules always even — the symbology's
self-checking parity, asserted on the table at import).

Code 39: '*'-delimited, 43-character set (0-9 A-Z - . space $ / + %),
each character 9 elements (5 bars / 4 spaces) of which exactly 3 are
wide, characters separated by a narrow gap.  No checksum in the base
standard — rejection power comes from structure: every 9-element group
must be one of the 44 published patterns, gaps must be narrow, and the
delimiters must be '*' exactly (interior '*' rejects).

All decoders sample a single scanline of the symbol's joint bar bbox,
tolerate either scan direction, and reject on any guard/parity/
checksum/codeword mismatch — a run of page components that merely
looks bar-ish cannot emit a span.  The three symbologies cannot
cross-read (run-count classes and width-sum checks are mutually
exclusive — exercised in tests/test_barcode.py).
"""

from __future__ import annotations

import numpy as np

MODULE_W = 2      # rendered pixels per module (fixture scale)

# L-codes for digits 0-9; G = bitwise reverse of R; R = complement of L
_L = ["0001101", "0011001", "0010011", "0111101", "0100011",
      "0110001", "0101111", "0111011", "0110111", "0001011"]
_R = ["".join("1" if c == "0" else "0" for c in p) for p in _L]
_G = [p[::-1] for p in _R]

# leading-digit -> parity pattern of the six left digits (L/G)
_PARITY = ["LLLLLL", "LLGLGG", "LLGGLG", "LLGGGL", "LGLLGG",
           "LGGLLG", "LGGGLL", "LGLGLG", "LGLGGL", "LGGLGL"]

_L_REV = {p: d for d, p in enumerate(_L)}
_G_REV = {p: d for d, p in enumerate(_G)}
_R_REV = {p: d for d, p in enumerate(_R)}
_PARITY_REV = {p: d for d, p in enumerate(_PARITY)}


def checksum(digits12: str) -> int:
    """EAN-13 check digit for the first 12 digits (weights 1/3
    alternating from the left, check chosen to zero the sum mod 10)."""
    s = sum(int(d) * (1 if i % 2 == 0 else 3)
            for i, d in enumerate(digits12))
    return (10 - s % 10) % 10


def _parse_bits(bits: str) -> str | None:
    """95-character '0'/'1' string -> 13 digits, or None."""
    if len(bits) != 95:
        return None
    if bits[0:3] != "101" or bits[45:50] != "01010" or bits[92:95] != "101":
        return None
    parity = ""
    digits = []
    for k in range(6):
        pat = bits[3 + 7 * k:10 + 7 * k]
        if pat in _L_REV:
            parity += "L"
            digits.append(_L_REV[pat])
        elif pat in _G_REV:
            parity += "G"
            digits.append(_G_REV[pat])
        else:
            return None
    if parity not in _PARITY_REV:
        return None
    lead = _PARITY_REV[parity]
    for k in range(6):
        pat = bits[50 + 7 * k:57 + 7 * k]
        if pat not in _R_REV:
            return None
        digits.append(_R_REV[pat])
    full = str(lead) + "".join(map(str, digits))
    if int(full[12]) != checksum(full[:12]):
        return None
    return full


# --------------------------------------------------------------------
# Code 128 (ISO/IEC 15417)
# --------------------------------------------------------------------

# value -> (b s b s b s) module widths, values 0-105 (103/104/105 are
# the start codes); the 13-module stop is separate.  Published constant
# table of the standard.
_C128 = [
    "212222", "222122", "222221", "121223", "121322", "131222", "122213",
    "122312", "132212", "221213", "221312", "231212", "112232", "122132",
    "122231", "113222", "123122", "123221", "223211", "221132", "221231",
    "213212", "223112", "312131", "311222", "321122", "321221", "312212",
    "322112", "322211", "212123", "212321", "232121", "111323", "131123",
    "131321", "112313", "132113", "132311", "211313", "231113", "231311",
    "112133", "112331", "132131", "113123", "113321", "133121", "313121",
    "211331", "231131", "213113", "213311", "213131", "311123", "311321",
    "331121", "312113", "312311", "332111", "314111", "221411", "431111",
    "111224", "111422", "121124", "121421", "141122", "141221", "112214",
    "112412", "122114", "122411", "142112", "142211", "241211", "221114",
    "413111", "241112", "134111", "111242", "121142", "121241", "114212",
    "124112", "124211", "411212", "421112", "421211", "212141", "214121",
    "412121", "111143", "111341", "131141", "114113", "114311", "411113",
    "411311", "113141", "114131", "311141", "411131", "211412", "211214",
    "211232",
]
_C128_STOP = "2331112"          # 4 bars / 3 spaces, 13 modules
_C128_REV = {p: v for v, p in enumerate(_C128)}

# self-checks on the published table: 11 modules each, all distinct,
# and the symbology's even-bar-module parity (its self-checking core)
assert len(_C128) == 106 and len(_C128_REV) == 106
assert all(sum(map(int, p)) == 11 for p in _C128)
assert all(sum(map(int, p[0::2])) % 2 == 0 for p in _C128)
assert sum(map(int, _C128_STOP)) == 13

_START_A, _START_B, _START_C = 103, 104, 105
_SHIFT, _CODE_C = 98, 99


def _c128_text(vals: list[int]) -> str | None:
    """Data codewords (between start and check) -> decoded text via the
    code-set state machine.  ``vals[0]`` is the start code.  FNC1-4
    symbols are rejected (conservative: no GS1/extended payloads)."""
    start = vals[0]
    if start not in (_START_A, _START_B, _START_C):
        return None
    cur = {_START_A: "A", _START_B: "B", _START_C: "C"}[start]
    out: list[str] = []
    shift: str | None = None
    for v in vals[1:]:
        s = shift or cur
        shift = None
        if s == "C":
            if v <= 99:
                out.append(f"{v:02d}")
            elif v == 100:
                cur = "B"
            elif v == 101:
                cur = "A"
            else:
                return None                     # FNC1
        else:
            if v <= (63 if s == "A" else 95):
                out.append(chr(v + 32))
            elif s == "A" and v <= 95:
                out.append(chr(v - 64))         # control chars
            elif v == _SHIFT:
                shift = "B" if s == "A" else "A"
            elif v == _CODE_C:
                cur = "C"
            elif v == (100 if s == "A" else 101):
                cur = "B" if s == "A" else "A"
            else:
                return None                     # FNC1-4
    if shift is not None:
        return None                             # dangling SHIFT
    return "".join(out)


def _c128_parse_runs(runs: np.ndarray) -> str | None:
    """Pixel run lengths (bar first, bar last) -> decoded payload."""
    R = runs.size
    if R < 25 or R % 6 != 1:    # m 11-module symbols + 7-run stop; m>=3
        return None
    m = (R - 7) // 6
    total_mod = 11 * m + 13
    mw = float(runs.sum()) / total_mod
    widths = np.rint(runs / mw).astype(int)
    if widths.min() < 1 or widths.max() > 4 or widths.sum() != total_mod:
        return None
    if "".join(map(str, widths[6 * m:])) != _C128_STOP:
        return None
    vals = []
    for k in range(m):
        v = _C128_REV.get("".join(map(str, widths[6 * k:6 * k + 6])))
        if v is None:
            return None
        vals.append(v)
    check = (vals[0] + sum(k * v
                           for k, v in enumerate(vals[1:-1], 1))) % 103
    if check != vals[-1]:
        return None
    return _c128_text(vals[:-1])


def _middle_scanline_runs(crop: np.ndarray) -> np.ndarray | None:
    """Run lengths of the middle scanline, trimmed to first/last ink
    (threshold < 128), alternating bar,space,...,bar — the shared
    preamble of every run-length symbology here."""
    h, w = crop.shape
    line = crop[h // 2] < 128
    on = np.nonzero(line)[0]
    if on.size == 0:
        return None
    seg = line[on[0]:on[-1] + 1]
    edges = np.nonzero(np.diff(seg.astype(np.int8)))[0]
    return np.diff(np.concatenate(([0], edges + 1, [seg.size])))


def try_decode_code128(crop: np.ndarray) -> str | None:
    """Decode an upright Code 128 crop (joint bbox of its bars) from its
    middle scanline's run lengths.  Tries both scan directions."""
    h, w = crop.shape
    if h < 3 or w < 41:          # >= 4 symbols + stop at 1px modules
        return None
    runs = _middle_scanline_runs(crop)
    if runs is None:
        return None
    got = _c128_parse_runs(runs)
    if got is None:
        got = _c128_parse_runs(runs[::-1])
    return got


# --------------------------------------------------------------------
# Code 39 (ISO/IEC 16388)
# --------------------------------------------------------------------

# char -> 9-element wide flags ('1' = wide), elements alternating
# bar,space,...,bar (5 bars, 4 spaces).  Published constant table of
# the standard; every character has exactly 3 wide elements, and all
# but $ / + % have exactly 2 wide bars + 1 wide space (those four have
# 3 wide spaces) — both invariants asserted at import.
_C39 = {
    "0": "000110100", "1": "100100001", "2": "001100001", "3": "101100000",
    "4": "000110001", "5": "100110000", "6": "001110000", "7": "000100101",
    "8": "100100100", "9": "001100100", "A": "100001001", "B": "001001001",
    "C": "101001000", "D": "000011001", "E": "100011000", "F": "001011000",
    "G": "000001101", "H": "100001100", "I": "001001100", "J": "000011100",
    "K": "100000011", "L": "001000011", "M": "101000010", "N": "000010011",
    "O": "100010010", "P": "001010010", "Q": "000000111", "R": "100000110",
    "S": "001000110", "T": "000010110", "U": "110000001", "V": "011000001",
    "W": "111000000", "X": "010010001", "Y": "110010000", "Z": "011010000",
    "-": "010000101", ".": "110000100", " ": "011000100", "*": "010010100",
    "$": "010101000", "/": "010100010", "+": "010001010", "%": "000101010",
}
_C39_REV = {p: ch for ch, p in _C39.items()}

assert len(_C39) == 44 and len(_C39_REV) == 44
for _ch, _p in _C39.items():
    assert len(_p) == 9 and _p.count("1") == 3, _ch
    _wb = sum(_p[k] == "1" for k in (0, 2, 4, 6, 8))
    assert _wb == (0 if _ch in "$/+%" else 2), _ch
del _ch, _p, _wb

_C39_WIDE = 2   # wide element = 2 modules (narrow = 1) at fixture scale


def _c39_parse_runs(runs: np.ndarray) -> str | None:
    """Pixel run lengths (bar first, bar last) -> decoded payload."""
    R = runs.size
    if R < 29 or R % 10 != 9:   # n chars = 9n elements + (n-1) gaps, n>=3
        return None
    n = (R + 1) // 10
    total_mod = n * (6 + 3 * _C39_WIDE) + (n - 1)
    mw = float(runs.sum()) / total_mod
    widths = np.rint(runs / mw).astype(int)
    if (widths.min() < 1 or widths.max() > _C39_WIDE
            or widths.sum() != total_mod):
        return None
    out: list[str] = []
    for k in range(n):
        if k and widths[10 * k - 1] != 1:       # inter-char gap narrow
            return None
        ch = _C39_REV.get("".join("1" if w == _C39_WIDE else "0"
                                  for w in widths[10 * k:10 * k + 9]))
        if ch is None:
            return None
        out.append(ch)
    if out[0] != "*" or out[-1] != "*" or "*" in out[1:-1]:
        return None
    return "".join(out[1:-1])


def try_decode_code39(crop: np.ndarray) -> str | None:
    """Decode an upright Code 39 crop (joint bbox of its bars) from its
    middle scanline's run lengths.  Tries both scan directions."""
    h, w = crop.shape
    if h < 3 or w < 29:
        return None
    runs = _middle_scanline_runs(crop)
    if runs is None:
        return None
    got = _c39_parse_runs(runs)
    if got is None:
        got = _c39_parse_runs(runs[::-1])
    return got


def try_decode_region(crop: np.ndarray) -> str | None:
    """Decode an upright symbol crop (the joint bbox of its bars) by
    sampling the middle scanline at the 95 module centers.  Tries both
    scan directions (a 180-degree page scan reverses the sequence)."""
    h, w = crop.shape
    if h < 3 or w < 95:
        return None
    line = crop[h // 2] < 128
    on = np.nonzero(line)[0]
    if on.size == 0:
        return None
    x0, x1 = int(on[0]), int(on[-1])
    span = x1 - x0 + 1
    centers = x0 + ((np.arange(95) + 0.5) * span / 95.0).astype(int)
    bits = "".join("1" if line[c] else "0" for c in centers)
    got = _parse_bits(bits)
    if got is None:
        got = _parse_bits(bits[::-1])
    return got
