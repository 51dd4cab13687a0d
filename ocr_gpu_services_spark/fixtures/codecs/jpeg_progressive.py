"""Progressive JPEG (ITU T.81 Annex G) encoder for the fixture
generator.  The decoder is core/jpeg.jpeg_decode, which decodes the
Annex G scans too.

The encoder emits a libjpeg-style script (DC with one bit of successive
approximation, two spectral AC bands, two AC refinement passes, one DC
refinement) so a round trip exercises every decode path; coefficients
after all passes equal the baseline encoder's exactly, asserted in
tests via pixel-identical decodes.
"""

from __future__ import annotations

import numpy as np

from ...core.jpeg import _DCT, _ZIGZAG
from .jpeg import (_DC_CODES, _DC_COUNTS, _DC_VALUES, _BitWriter,
                   _build_codes, _magnitude, _pad_plane, _rgb_to_ycc,
                   _ycc_planes)

# The sequential Annex-K AC tables carry no EOBn symbols (r<<4 for
# 0<r<15 — progressive-only codes), so the encoder emits its own
# COMPLETE canonical AC table: 255 symbols at 8 bits + symbol 255 at
# 9 bits (the 9-bit code is 111111110, keeping the all-ones code
# unassigned as Annex C requires).  Compression is not the fixture
# encoder's goal; the decoder builds whatever the DHT declares.
_PROG_AC_COUNTS = [0] * 7 + [255, 1] + [0] * 7
_PROG_AC_VALUES = list(range(256))
_PROG_AC_CODES = _build_codes(_PROG_AC_COUNTS, _PROG_AC_VALUES)


class _AcFirstEncoder:
    """AC spectral-selection first pass with EOB-run accumulation."""

    def __init__(self, bw: _BitWriter):
        self.bw = bw
        self.eobrun = 0

    def flush_eobrun(self):
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            code, ln = _PROG_AC_CODES[nbits << 4]
            self.bw.write(code, ln)
            if nbits:
                self.bw.write(self.eobrun - (1 << nbits), nbits)
            self.eobrun = 0

    def block(self, zz: np.ndarray, ss: int, se: int, al: int):
        r = 0
        wrote = False
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = (abs(v) >> al)
            if t == 0:
                r += 1
                continue
            if v < 0:
                t = -t
            self.flush_eobrun()
            while r > 15:
                code, ln = _PROG_AC_CODES[0xF0]
                self.bw.write(code, ln)
                r -= 16
            s, bits = _magnitude(t)
            code, ln = _PROG_AC_CODES[(r << 4) | s]
            self.bw.write(code, ln)
            self.bw.write(bits, s)
            r = 0
            wrote = True
        if r > 0 or not wrote:
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()


class _AcRefineEncoder:
    """AC successive-approximation refinement with buffered correction
    bits (spec G.1.2.3 encoder side)."""

    def __init__(self, bw: _BitWriter):
        self.bw = bw
        self.eobrun = 0
        self.pending: list[int] = []     # correction bits awaiting emit

    def _emit_pending(self):
        for b in self.pending:
            self.bw.write(b, 1)
        self.pending = []

    def flush_eobrun(self):
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            code, ln = _PROG_AC_CODES[nbits << 4]
            self.bw.write(code, ln)
            if nbits:
                self.bw.write(self.eobrun - (1 << nbits), nbits)
            self.eobrun = 0
        self._emit_pending()

    def block(self, zz: np.ndarray, ss: int, se: int, al: int):
        absval = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        # EOB = index just past the last NEWLY-significant coefficient
        eob = 0
        for j, t in enumerate(absval):
            if t == 1:
                eob = j + 1
        r = 0
        buffered: list[int] = []
        for j, t in enumerate(absval):
            if t == 0:
                r += 1
                continue
            while r > 15 and j < eob:
                self.flush_eobrun()
                code, ln = _PROG_AC_CODES[0xF0]
                self.bw.write(code, ln)
                r -= 16
                for b in buffered:
                    self.bw.write(b, 1)
                buffered = []
            if t > 1:
                # previously significant: plain correction bit, run of
                # zero-HISTORY coefficients is not reset
                buffered.append(t & 1)
                continue
            # newly significant
            self.flush_eobrun()
            code, ln = _PROG_AC_CODES[(r << 4) | 1]
            self.bw.write(code, ln)
            self.bw.write(0 if int(zz[ss + j]) < 0 else 1, 1)
            for b in buffered:
                self.bw.write(b, 1)
            buffered = []
            r = 0
        if r > 0 or buffered:
            self.eobrun += 1
            self.pending.extend(buffered)
            if self.eobrun == 0x7FFF or len(self.pending) > 900:
                self.flush_eobrun()


def _quant_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(padded plane) -> (nblocks, 64) quantized zigzag coefficients in
    block raster order (identical rounding to the baseline encoder)."""
    ph, pw = plane.shape
    b = plane.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3) \
        .reshape(-1, 8, 8)
    coefs = _DCT @ b @ _DCT.T
    return np.rint(coefs.reshape(-1, 64)[:, _ZIGZAG] / q).astype(np.int64)


# libjpeg-style default script (grayscale / per-component AC):
# every decode path — DC SA, AC spectral first with Al>0, AC
# refinement, DC refinement — is exercised
_SCRIPT_DC = [("dc_first", 0, 0, 0, 1), ("dc_refine", 0, 0, 1, 0)]
_SCRIPT_AC = [("ac_first", 1, 5, 0, 2), ("ac_first", 6, 63, 0, 2),
              ("ac_refine", 1, 63, 2, 1), ("ac_refine", 1, 63, 1, 0)]


def jpeg_encode_progressive(img: np.ndarray, quant: int = 1,
                            subsampling: str = "444") -> bytes:
    """Progressive baseline-data JPEG.  ``img`` is (H, W) grayscale or
    (H, W, 3) RGB, encoded as YCbCr with ``subsampling`` "444", "422"
    or "420" (chroma planes as in ``jpeg_encode_color``).  The
    coefficient stream equals the sequential encoder's exactly — only
    the scan structure differs — so the quality-100 fixture exactness
    contract carries over unchanged."""
    color = img.ndim == 3
    h, w = img.shape[:2]
    q = np.full(64, quant, dtype=np.int32)
    if color:
        ys, _mcu_h, _mcu_w, planes, _sched = _ycc_planes(_rgb_to_ycc(img),
                                                         subsampling)
        samp = [(ys >> 4, ys & 0xF), (1, 1), (1, 1)]
    else:
        planes = [_pad_plane(img, 8)]
        samp = [(1, 1)]
    zzs = [_quant_blocks(p, q) for p in planes]
    grids = [(p.shape[1] // 8, p.shape[0] // 8) for p in planes]
    hmax, vmax = samp[0]
    # chroma (or the one gray plane) has exactly one block per MCU
    mcus_x, mcus_y = grids[-1]

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq in range(2 if color else 1):
        dqt = bytes([tq]) + bytes(int(x) & 0xFF for x in q)
        out += b"\xff\xdb" + (len(dqt) + 2).to_bytes(2, "big") + dqt
    if color:
        sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
            + bytes([3, 1, ys, 0, 2, 0x11, 1, 3, 0x11, 1])
    else:
        sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
            + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc2" + (len(sof) + 2).to_bytes(2, "big") + sof
    for tc, counts, values in (
            (0x00, _DC_COUNTS, _DC_VALUES),
            (0x01, _DC_COUNTS, _DC_VALUES),
            (0x10, _PROG_AC_COUNTS, _PROG_AC_VALUES),
            (0x11, _PROG_AC_COUNTS, _PROG_AC_VALUES)):
        seg = bytes([tc]) + bytes(counts) + bytes(values)
        out += b"\xff\xc4" + (len(seg) + 2).to_bytes(2, "big") + seg

    def sos_header(comp_ids: list[int], ss, se, ah, al) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            tabs = 0x00 if cid == 1 else 0x11
            body += bytes([cid, tabs])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + (len(body) + 2).to_bytes(2, "big") + body

    ncomp = 3 if color else 1
    # DC scans: all components in one, interleaved MCU by MCU, each
    # component contributing its hs x vs blocks (gray: raster order)
    dc_order = [(ci, (my * vs + jr) * grids[ci][0] + mx * hs + jc)
                for my in range(mcus_y) for mx in range(mcus_x)
                for ci, (hs, vs) in enumerate(samp)
                for jr in range(vs) for jc in range(hs)]
    for kind, ss, se, ah, al in _SCRIPT_DC:
        out += sos_header(list(range(1, ncomp + 1)), ss, se, ah, al)
        bw = _BitWriter()
        pred = [0] * ncomp
        for ci, bi in dc_order:
            dcv = int(zzs[ci][bi][0])
            if kind == "dc_first":
                # DC point transform is an ARITHMETIC shift (G.1.2.1)
                t = dcv >> al
                diff = t - pred[ci]
                pred[ci] = t
                s, bits = _magnitude(diff)
                code, ln = _DC_CODES[s]
                bw.write(code, ln)
                if s:
                    bw.write(bits, s)
            else:
                bw.write((dcv >> al) & 1, 1)
        bw.flush()
        out += bw.buf
    # AC scans per component, over its own block grid (T.81 A.2: a
    # non-interleaved scan skips the MCU padding blocks)
    for ci, (hs, vs) in enumerate(samp):
        cw = -(-w * hs // hmax)              # component size in pixels
        ch = -(-h * vs // vmax)
        cbw, cbh = -(-cw // 8), -(-ch // 8)
        for kind, ss, se, ah, al in _SCRIPT_AC:
            out += sos_header([ci + 1], ss, se, ah, al)
            bw = _BitWriter()
            enc = _AcFirstEncoder(bw) if kind == "ac_first" \
                else _AcRefineEncoder(bw)
            for by in range(cbh):
                for bx in range(cbw):
                    enc.block(zzs[ci][by * grids[ci][0] + bx], ss, se, al)
            enc.flush_eobrun()
            bw.flush()
            out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)
