"""Progressive JPEG (ITU T.81 Annex G) scan decoders.

core/jpeg parses the stream (marker walk, frame, scans with the
Huffman tables in force at each SOS) and reconstructs pixels; this
module holds only the entropy decoding of progressive scans:

* spectral selection: AC coefficients arrive in per-band scans
  (Ss..Se), always single-component; DC scans (Ss=Se=0) may be
  interleaved across components
* successive approximation: first scans carry the point-transformed
  coefficients (>> Al); refinement scans (Ah = Al+1) add one bit of
  precision per coefficient — newly-significant coefficients are coded
  as +-1<<Al with a sign bit, previously-significant ones receive
  plain correction bits appended after each symbol
* EOB runs: a run of blocks whose remaining band is all zero is coded
  once as an EOBn symbol with n extra bits
* DRI restart intervals reset DC predictors and EOB runs
"""

from __future__ import annotations

import numpy as np

from .jpeg import _UNZIGZAG, _sync_restart_pos, _unstuffed_u32


# ---------------------------------------------------------------------------
# bit reader (progressive scans interleave Huffman symbols with raw
# refinement bits, so a stateful reader is the natural shape; symbol
# lookup still uses the 16-bit peek LUTs)
# ---------------------------------------------------------------------------


class _Reader:
    def __init__(self, scan: bytes):
        self.u32 = _unstuffed_u32(scan)
        self.pos = 0

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        r = self.pos & 7
        v = (self.u32[self.pos >> 3] >> (32 - r - n)) & ((1 << n) - 1)
        self.pos += n
        return v

    def bit(self) -> int:
        r = self.pos & 7
        v = (self.u32[self.pos >> 3] >> (31 - r)) & 1
        self.pos += 1
        return v

    def symbol(self, lut: list[int]) -> int:
        w = self.u32[self.pos >> 3]
        e = lut[(w >> (16 - (self.pos & 7))) & 0xFFFF]
        if not e:
            raise ValueError("invalid Huffman code")
        self.pos += e >> 8
        return e & 0xFF

    def sync_restart(self):
        self.pos = _sync_restart_pos(self.u32, self.pos)


def _extend(v: int, s: int) -> int:
    return v if v >> (s - 1) else v - (1 << s) + 1


# ---------------------------------------------------------------------------
# scan decoders
# ---------------------------------------------------------------------------

def decode_scans(scans: list[tuple], comps: list[tuple], h: int, w: int,
                 mcus_x: int, mcus_y: int) -> list[np.ndarray]:
    """Entropy-decode every progressive scan (core/jpeg._parse's scan
    tuples) into per-component dense coefficient planes in frame order:
    (blocks, 64) int32, natural 8x8 order, in raster block order over
    the MCU-padded component grid."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    geo = {}
    coef = {}
    for ci, (cid, hs, vs, _tq) in enumerate(comps):
        bw_, bh_ = mcus_x * hs, mcus_y * vs
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        geo[cid] = (ci, hs, vs, bw_, bh_, -(-cw // 8), -(-ch // 8))
        coef[cid] = np.zeros((bh_ * bw_, 64), dtype=np.int32)

    for scomps, ss, se, ah, al, sri, sdata in scans:
        rd = _Reader(sdata)
        if ss == 0:
            _dc_scan(rd, scomps, geo, coef, ah, al, sri,
                     mcus_x, mcus_y, len(comps) > 1 and len(scomps) > 1)
        else:
            if len(scomps) != 1:
                raise ValueError("AC progressive scan must be 1-component")
            cid, _dc, ac_lut = scomps[0]
            _ac_scan(rd, ac_lut, geo[cid], coef[cid], ss, se, ah, al, sri)
    return [coef[cid][:, _UNZIGZAG] for cid, _hs, _vs, _tq in comps]


def _dc_scan(rd, scomps, geo, coef, ah, al, ri, mcus_x, mcus_y,
             interleaved):
    pred = {cid: 0 for cid, _d, _a in scomps}
    n_mcu = mcus_x * mcus_y

    def one(cid, dc_lut, bi):
        block = coef[cid][bi]
        if ah == 0:
            s = rd.symbol(dc_lut)
            diff = _extend(rd.bits(s), s) if s else 0
            pred[cid] += diff
            block[0] = pred[cid] << al
        else:
            if rd.bit():
                block[0] |= 1 << al

    if interleaved:
        for mi in range(n_mcu):
            if ri and mi and mi % ri == 0:
                rd.sync_restart()
                for cid in pred:
                    pred[cid] = 0
            my, mx = divmod(mi, mcus_x)
            for cid, dc_lut, _ac in scomps:
                _ci, hs, vs, bw_, _bh, _cbw, _cbh = geo[cid]
                for jr in range(vs):
                    for jc in range(hs):
                        one(cid, dc_lut,
                            (my * vs + jr) * bw_ + mx * hs + jc)
    else:
        cid, dc_lut, _ac = scomps[0]
        _ci, _hs, _vs, bw_, _bh, cbw, cbh = geo[cid]
        k = 0
        for by in range(cbh):
            for bx in range(cbw):
                if ri and k and k % ri == 0:
                    rd.sync_restart()
                    pred[cid] = 0
                one(cid, dc_lut, by * bw_ + bx)
                k += 1


def _ac_scan(rd, ac_lut, g, cf, ss, se, ah, al, ri):
    """Non-interleaved AC scan over one component's real block grid."""
    _ci, _hs, _vs, bw_, _bh, cbw, cbh = g
    eobrun = 0
    k_blk = 0
    for by in range(cbh):
        for bx in range(cbw):
            if ri and k_blk and k_blk % ri == 0:
                rd.sync_restart()
                eobrun = 0
            k_blk += 1
            block = cf[by * bw_ + bx]
            if ah == 0:
                eobrun = _ac_first_block(rd, ac_lut, block, ss, se, al,
                                         eobrun)
            else:
                eobrun = _ac_refine_block(rd, ac_lut, block, ss, se, al,
                                          eobrun)


def _ac_first_block(rd, ac_lut, block, ss, se, al, eobrun) -> int:
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = rd.symbol(ac_lut)
        r, s = rs >> 4, rs & 15
        if s:
            k += r
            if k > se:
                raise ValueError("AC index overflow")
            block[k] = _extend(rd.bits(s), s) << al
            k += 1
        else:
            if r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += rd.bits(r)
                return eobrun - 1
            k += 16
    return 0


def _ac_refine_block(rd, ac_lut, block, ss, se, al, eobrun) -> int:
    """Spec G.1.2.3 AC refinement: newly-significant coefficients are
    coded as +-1<<Al; every nonzero coefficient crossed receives one
    correction bit."""
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = rd.symbol(ac_lut)
            r, s = rs >> 4, rs & 15
            val = 0
            if s:
                val = p1 if rd.bit() else m1
            else:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += rd.bits(r)
                    break
            while k <= se:
                if block[k]:
                    if rd.bit() and (block[k] & p1) == 0:
                        block[k] += p1 if block[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                block[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if block[k]:
                if rd.bit() and (block[k] & p1) == 0:
                    block[k] += p1 if block[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun
