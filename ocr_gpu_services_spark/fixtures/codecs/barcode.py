"""1-D barcode encoders for the fixture generator: EAN-13, Code 128
(set B or C) and Code 39 symbols rendered at fixture scale.  The
pattern tables and the scanline decoders are core/barcode.py."""

from __future__ import annotations

import numpy as np

from ...core.barcode import (_C39, _C39_WIDE, _C128, _C128_STOP, _G, _L,
                             _PARITY, _R, _START_B, _START_C, MODULE_W,
                             checksum)

BAR_H = 40        # rendered bar height
INK, PAPER = 0, 255


def modules(digits12: str) -> np.ndarray:
    """12 data digits -> the 95-module pattern (True = bar)."""
    if len(digits12) != 12 or not digits12.isdigit():
        raise ValueError("EAN-13 encodes exactly 12 data digits")
    full = digits12 + str(checksum(digits12))
    lead = int(full[0])
    bits = "101"
    for ch, par in zip(full[1:7], _PARITY[lead]):
        bits += (_L if par == "L" else _G)[int(ch)]
    bits += "01010"
    for ch in full[7:13]:
        bits += _R[int(ch)]
    bits += "101"
    return np.array([c == "1" for c in bits], dtype=bool)


def encode(digits12: str) -> np.ndarray:
    """12 data digits -> uint8 image (ink bars on paper)."""
    mods = modules(digits12)
    row = np.where(np.repeat(mods, MODULE_W), INK, PAPER).astype(np.uint8)
    return np.tile(row, (BAR_H, 1))


def _c128_values(text: str) -> list[int]:
    """Encode text -> codeword values (start..data, no check/stop).
    Set C for even-length all-digit payloads (digit pairs), else set B
    (printable ASCII 32-126)."""
    if text.isdigit() and len(text) % 2 == 0 and len(text) >= 4:
        return [_START_C] + [int(text[k:k + 2])
                             for k in range(0, len(text), 2)]
    if not text or any(not 32 <= ord(c) <= 126 for c in text):
        raise ValueError("Code 128 set B encodes printable ASCII only")
    return [_START_B] + [ord(c) - 32 for c in text]


def code128_modules(text: str) -> np.ndarray:
    """Payload -> module pattern (True = bar) incl. check + stop."""
    vals = _c128_values(text)
    check = (vals[0] + sum(k * v for k, v in enumerate(vals[1:], 1))) % 103
    widths = "".join(_C128[v] for v in vals + [check]) + _C128_STOP
    bits: list[bool] = []
    for k, w in enumerate(widths):
        bits.extend([k % 2 == 0] * int(w))     # even runs are bars
    return np.array(bits, dtype=bool)


def encode_code128(text: str) -> np.ndarray:
    """Payload -> uint8 image (ink bars on paper), fixture scale."""
    mods = code128_modules(text)
    row = np.where(np.repeat(mods, MODULE_W), INK, PAPER).astype(np.uint8)
    return np.tile(row, (BAR_H, 1))


def code39_modules(text: str) -> np.ndarray:
    """Payload -> module pattern (True = bar) incl. '*' delimiters."""
    if not text or any(c not in _C39 or c == "*" for c in text):
        raise ValueError("Code 39 encodes 0-9 A-Z -. space $/+% only")
    bits: list[bool] = []
    for j, ch in enumerate("*" + text + "*"):
        if j:
            bits.append(False)                  # narrow inter-char gap
        for k, f in enumerate(_C39[ch]):
            bits.extend([k % 2 == 0] * (_C39_WIDE if f == "1" else 1))
    return np.array(bits, dtype=bool)


def encode_code39(text: str) -> np.ndarray:
    """Payload -> uint8 image (ink bars on paper), fixture scale."""
    mods = code39_modules(text)
    row = np.where(np.repeat(mods, MODULE_W), INK, PAPER).astype(np.uint8)
    return np.tile(row, (BAR_H, 1))
