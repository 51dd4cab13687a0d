"""Minimal deterministic VP8 (lossy WebP) encoder for the fixture
generator — RFC 6386 keyframe subset.  The decoder is core/vp8.py.

Purpose-built like fixtures/codecs/jpeg.py's quality-100 encoder: the
tightest quantizers the format offers (q_index 0 -> dc/ac step 4) so
decoded pages stay within a couple of gray levels of the render and the
ink/paper band contract holds; every macroblock is intra 4x4 (B_DC
sub-modes, DC chroma), no segmentation, no loop filter, one token
partition, default probability tables.  The encoder runs a CLOSED LOOP
over its own B_DC predictor and RFC 6386 §14.3 inverse transform —
integer-exact, so any conformant decoder (core/vp8.py, or libwebp,
pinned in tests/test_vp8_write.py) reproduces the encoder's
reconstruction exactly.  It shares only the spec tables with the
decoder, never its hot-loop functions, so a decoder rewrite cannot
move fixture bytes.

Luma carries the page; chroma is written as all-zero residuals over
the implicit 128 DC prediction, so U = V = 128 exactly and the
decoded RGB is neutral gray.  ``_Y_FOR_GRAY`` picks the Y value whose
fancy-upsampled fixed-point RGB -> BT.601 gray round trip lands
closest to the target gray level.

The boolean arithmetic encoder uses arbitrary-precision ``low``
(carries are automatic in Python ints) and serializes the interval
base with the decoder's 8 guard bits — see _BoolEnc.bytes().
"""

from __future__ import annotations

import struct

import numpy as np

from ...core.color import rgb_to_gray
from ...core.sniff import MAGIC_RIFF, MAGIC_WEBP
from ...core.vp8 import B_DC
from ...core.vp8_tables import (CAT_BASE, COEFF_PROBA0, COEFF_UPDATE_PROBA,
                                K_AC_TABLE, K_BANDS, K_BMODES_PROBA, K_CAT,
                                K_DC_TABLE, ZIGZAG)

_QDC = K_DC_TABLE[0]                                # 4
_QAC = K_AC_TABLE[0]                                # 4


class _BoolEnc:
    """RFC 6386 §8 boolean encoder; ``low`` is unbounded so carry
    propagation is free, ``nbits`` counts renormalization shifts."""

    __slots__ = ("low", "range", "nbits")

    def __init__(self):
        self.low = 0
        self.range = 255
        self.nbits = 0

    def put(self, prob: int, bit: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.low += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            self.low <<= 1
            self.nbits += 1

    def literal(self, v: int, n: int) -> None:
        for k in range(n - 1, -1, -1):
            self.put(128, (v >> k) & 1)

    def bytes(self) -> bytes:
        """The stream is ``low`` as the leading (nbits + 8) bits — the
        +8 keeps the decoder's split<<8 guard aligned — zero-padded so
        trailing reads see zeros."""
        bitlen = self.nbits + 8
        nby = (bitlen + 7) // 8
        v = self.low << (nby * 8 - bitlen)
        return v.to_bytes(nby, "big") + b"\x00\x00"


def _fdct_matrix() -> np.ndarray:
    """Float inverse of the decoder's 4x4 transform (linearized: the
    fixed-point multiplies as exact ratios, the (x+4)>>3 as /8)."""
    m = np.zeros((16, 16))
    mul1 = 20091 / 65536 + 1.0
    mul2 = 35468 / 65536
    for k in range(16):
        c = np.zeros(16)
        c[k] = 1.0
        tmp = np.zeros(16)
        for i in range(4):
            a = c[i] + c[8 + i]
            b = c[i] - c[8 + i]
            c1 = c[4 + i] * mul2 - c[12 + i] * mul1
            d = c[4 + i] * mul1 + c[12 + i] * mul2
            tmp[i] = a + d
            tmp[12 + i] = a - d
            tmp[4 + i] = b + c1
            tmp[8 + i] = b - c1
        out = np.zeros(16)
        for i in range(4):
            r = 4 * i
            a = tmp[r] + tmp[r + 2]
            b = tmp[r] - tmp[r + 2]
            c1 = tmp[r + 1] * mul2 - tmp[r + 3] * mul1
            d = tmp[r + 1] * mul1 + tmp[r + 3] * mul2
            out[r] = (a + d) / 8
            out[r + 1] = (b + c1) / 8
            out[r + 2] = (b - c1) / 8
            out[r + 3] = (a - d) / 8
        m[:, k] = out
    return np.linalg.inv(m)


_FDCT = _fdct_matrix()


def _build_y_for_gray() -> np.ndarray:
    """Y value per target gray so that fancy-upsampled (u=v=128) RGB
    -> BT.601 gray lands nearest the target."""
    ys = np.arange(256, dtype=np.int64)
    yv = (ys * 19077) >> 8
    r = yv + ((128 * 26149) >> 8) - 14234
    g = yv - ((128 * 6419) >> 8) - ((128 * 13320) >> 8) + 8708
    b = yv + ((128 * 33050) >> 8) - 17685
    rgb = np.stack([r, g, b], axis=1)
    rgb = np.where(rgb < 0, 0, np.where(rgb > 16383, 255, rgb >> 6))
    gray = rgb_to_gray(rgb.astype(np.uint8).reshape(256, 1, 3)
                       ).reshape(256).astype(np.int64)
    targets = np.arange(256)[:, None]
    return np.argmin(np.abs(gray[None, :] - targets), axis=1
                     ).astype(np.uint8)


_Y_FOR_GRAY = _build_y_for_gray()


def _mul1(a):
    """a * sqrt(2) * cos(pi/8) in the §14.3 fixed point."""
    return ((a * 20091) >> 16) + a


def _mul2(a):
    """a * sqrt(2) * sin(pi/8) in the §14.3 fixed point."""
    return (a * 35468) >> 16


def _idct_add(coefs: list[int], recon: np.ndarray, sy: int, sx: int
              ) -> None:
    """RFC 6386 §14.3 inverse DCT of one 4x4 block (natural order),
    added to the prediction at (sy, sx) and clamped to 0..255: a
    vertical pass over the columns, then a horizontal pass over the
    rows, with the spec's integer rounding."""
    c = np.array(coefs, np.int64).reshape(4, 4)
    a, b = c[0] + c[2], c[0] - c[2]
    c1 = _mul2(c[1]) - _mul1(c[3])
    d = _mul1(c[1]) + _mul2(c[3])
    t = np.stack([a + d, b + c1, b - c1, a - d])
    a, b = t[:, 0] + 4 + t[:, 2], t[:, 0] + 4 - t[:, 2]
    c1 = _mul2(t[:, 1]) - _mul1(t[:, 3])
    d = _mul1(t[:, 1]) + _mul2(t[:, 3])
    res = np.stack([a + d, b + c1, b - c1, a - d], axis=1) >> 3
    recon[sy:sy + 4, sx:sx + 4] = np.clip(
        recon[sy:sy + 4, sx:sx + 4] + res, 0, 255)


def _write_coeffs(be: _BoolEnc, probs, ctx: int, qc: list) -> int:
    """Token-encode one 4x4 block (natural-order quantizer indices), the
    inverse of the decoder's token tree (§13).  Returns the nz flag."""
    last = -1
    for k in range(16):
        if qc[ZIGZAG[k]]:
            last = k
    n = 0
    nz = 0
    allow_eob = True
    while n < 16:
        p = probs[K_BANDS[n]][ctx]
        if n > last:
            if allow_eob:
                be.put(p[0], 0)
            return nz
        if allow_eob:
            be.put(p[0], 1)
        v = qc[ZIGZAG[n]]
        av = -v if v < 0 else v
        if av == 0:
            be.put(p[1], 0)
            ctx = 0
            allow_eob = False
            n += 1
            continue
        be.put(p[1], 1)
        allow_eob = True
        nz = 1
        if av == 1:
            be.put(p[2], 0)
            ctx = 1
        else:
            be.put(p[2], 1)
            ctx = 2
            if av <= 4:
                be.put(p[3], 0)
                if av == 2:
                    be.put(p[4], 0)
                else:
                    be.put(p[4], 1)
                    be.put(p[5], 1 if av == 4 else 0)
            else:
                be.put(p[3], 1)
                cat = 5
                for c in range(5):
                    if av < CAT_BASE[c + 1]:
                        cat = c
                        break
                if cat <= 1:
                    be.put(p[6], 0)
                    be.put(p[7], cat)
                elif cat <= 3:
                    be.put(p[6], 1)
                    be.put(p[8], 0)
                    be.put(p[9], cat - 2)
                else:
                    be.put(p[6], 1)
                    be.put(p[8], 1)
                    be.put(p[10], cat - 4)
                extra = av - CAT_BASE[cat]
                cps = K_CAT[cat]
                for k in range(len(cps) - 1, -1, -1):
                    be.put(cps[len(cps) - 1 - k], (extra >> k) & 1)
        be.put(128, 1 if v < 0 else 0)
        n += 1
    return nz


def vp8_encode_gray(img: np.ndarray) -> bytes:
    """Gray page -> lossy WebP bytes (RIFF + VP8 key frame).  Decoded
    gray differs from ``img`` by at most a few levels (q-step 4 +
    Y<->gray mapping) — the analogue of jpeg_encode's quality-100
    contract; tests pin a hard max-error bound and libwebp parity."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("vp8_encode_gray wants HxW uint8")
    height, width = img.shape
    if not (0 < width < (1 << 14) and 0 < height < (1 << 14)):
        raise ValueError("vp8_encode_gray: bad dimensions")
    mb_w = (width + 15) >> 4
    mb_h = (height + 15) >> 4

    # target luma plane, edge-replicated to MB multiples
    ysrc = _Y_FOR_GRAY[img].astype(np.int32)
    ypad = np.empty((mb_h * 16, mb_w * 16), np.int32)
    ypad[:height, :width] = ysrc
    ypad[height:, :width] = ysrc[-1:, :]
    ypad[:, width:] = ypad[:, width - 1:width]

    # --- first partition: header + modes
    p0 = _BoolEnc()
    p0.put(128, 0)                                  # color space
    p0.put(128, 0)                                  # clamping
    p0.put(128, 0)                                  # no segmentation
    p0.put(128, 0)                                  # filter type normal
    p0.literal(0, 6)                                # filter level 0
    p0.literal(0, 3)                                # sharpness
    p0.put(128, 0)                                  # no lf deltas
    p0.literal(0, 2)                                # 1 token partition
    p0.literal(0, 7)                                # q_index 0
    for _ in range(5):                              # dq deltas absent
        p0.put(128, 0)
    p0.put(128, 0)                                  # refresh entropy
    for t in range(4):                              # no prob updates
        for b in range(8):
            for c in range(3):
                upd = COEFF_UPDATE_PROBA[t][b][c]
                for k in range(11):
                    p0.put(upd[k], 0)
    p0.put(128, 0)                                  # no skip flags
    pdc = K_BMODES_PROBA[B_DC][B_DC]
    for _ in range(mb_w * mb_h):
        p0.put(145, 0)                              # is_i4x4
        for _k in range(16):
            p0.put(pdc[0], 0)                       # B_DC sub-mode
        p0.put(142, 0)                              # chroma DC

    # --- token partition: closed-loop residuals
    tp = _BoolEnc()
    probs_y = COEFF_PROBA0[3]                       # i4x4 luma
    probs_uv = COEFF_PROBA0[2]
    recon = np.empty((mb_h * 16 + 1, mb_w * 16 + 1), np.uint8)
    recon[0, :] = 127
    recon[:, 0] = 129
    recon[0, 0] = 127
    above_nz = [[0] * 8 for _ in range(mb_w)]
    fdct = _FDCT
    for mb_y in range(mb_h):
        left_nz = [0] * 8
        for mb_x in range(mb_w):
            y0, x0 = 1 + mb_y * 16, 1 + mb_x * 16
            anz = above_nz[mb_x]
            for j in range(4):
                for i in range(4):
                    sy, sx = y0 + 4 * j, x0 + 4 * i
                    # B_DC prediction (§12.3): the rounded mean of the
                    # four pixels above and the four to the left
                    recon[sy:sy + 4, sx:sx + 4] = (
                        int(recon[sy - 1, sx:sx + 4].sum())
                        + int(recon[sy:sy + 4, sx - 1].sum()) + 4) >> 3
                    res = (ypad[sy - 1:sy + 3, sx - 1:sx + 3]
                           - recon[sy:sy + 4, sx:sx + 4]).reshape(16)
                    coefs = fdct @ res
                    qcl = [0] * 16
                    cap = CAT_BASE[5] + 2047       # cat6 ceiling
                    for k in range(16):
                        q = _QDC if k == 0 else _QAC
                        v = int(np.rint(coefs[k] / q))
                        qcl[k] = -cap if v < -cap \
                            else (cap if v > cap else v)
                    nz = _write_coeffs(tp, probs_y,
                                       left_nz[j] + anz[i], qcl)
                    left_nz[j] = anz[i] = nz
                    deq = [qcl[k] * (_QDC if k == 0 else _QAC)
                           for k in range(16)]
                    if any(deq):
                        _idct_add(deq, recon, sy, sx)
            # chroma: all-zero blocks over the implicit 128 DC pred
            for base in (4, 6):
                for j in range(2):
                    for i in range(2):
                        nz = _write_coeffs(tp, probs_uv,
                                           left_nz[base + j]
                                           + anz[base + i],
                                           [0] * 16)
                        left_nz[base + j] = anz[base + i] = nz

    part0 = p0.bytes()
    tokens = tp.bytes()
    tag = (len(part0) << 5) | (1 << 4)              # show_frame, key
    frame = (bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
             + b"\x9d\x01\x2a"
             + struct.pack("<HH", width, height)
             + part0 + tokens)
    chunk = b"VP8 " + struct.pack("<I", len(frame)) + frame
    if len(frame) & 1:
        chunk += b"\x00"
    return (MAGIC_RIFF + struct.pack("<I", 4 + len(chunk)) + MAGIC_WEBP
            + chunk)
