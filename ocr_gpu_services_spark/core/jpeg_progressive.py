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

Each component's coefficients live in one flat int32 ``array`` (64
per block, zigzag order) while the scans run: plain-int element access
at 4 bytes a coefficient, where a list would also hold a 32-byte int
object for most nonzero values.  Each scan keeps its bit position in a
local: a Huffman symbol is one peek-LUT index into the sliding 32-bit
windows of ``core/jpeg._unstuffed_u32``, and a raw bit or bit field is
one window read.  The arrays become the dense natural-order planes
once, after the last scan.  A scan that runs past the end of its data
reads past the end of the window list and raises IndexError, as a
truncated stream should.
"""

from __future__ import annotations

from array import array

import numpy as np

from .jpeg import _UNZIGZAG, _sync_restart_pos, _unstuffed_u32


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
    for cid, hs, vs, _tq in comps:
        bw_, bh_ = mcus_x * hs, mcus_y * vs
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        geo[cid] = (hs, vs, bw_, -(-cw // 8), -(-ch // 8))
        coef[cid] = array("i", [0]) * (64 * bw_ * bh_)

    for scomps, ss, se, ah, al, ri, sdata in scans:
        u32 = _unstuffed_u32(sdata)
        if ss == 0:
            _dc_scan(u32, scomps, geo, coef, ah, al, ri, mcus_x, mcus_y,
                     len(comps) > 1 and len(scomps) > 1)
        else:
            if len(scomps) != 1:
                raise ValueError("AC progressive scan must be 1-component")
            cid, _dc, ac_lut = scomps[0]
            scan = _ac_first_scan if ah == 0 else _ac_refine_scan
            scan(u32, ac_lut, geo[cid], coef[cid], ss, se, al, ri)
    return [np.frombuffer(coef[cid], np.int32).reshape(-1, 64)[:, _UNZIGZAG]
            for cid, _hs, _vs, _tq in comps]


def _dc_scan(u32, scomps, geo, coef, ah, al, ri, mcus_x, mcus_y,
             interleaved):
    """DC first (ah == 0) or refinement scan.  Its coding units are whole
    MCUs when the scan is interleaved, else the blocks of one
    component's own grid; ``layout`` lists each unit's blocks as (scan
    component slot, coefficient offset in unit (0, 0), offset step per
    unit row, per unit column).  Restart intervals count units."""
    if interleaved:
        grid_h, grid_w = mcus_y, mcus_x
        layout = []
        for slot, (cid, _dc, _ac) in enumerate(scomps):
            hs, vs, bw_, _cbw, _cbh = geo[cid]
            layout += [(slot, 64 * (jr * bw_ + jc), 64 * vs * bw_, 64 * hs)
                       for jr in range(vs) for jc in range(hs)]
    else:
        _hs, _vs, bw_, grid_w, grid_h = geo[scomps[0][0]]
        layout = [(0, 0, 64 * bw_, 64)]
    cids = [cid for cid, _dc, _ac in scomps]
    luts = [dc_lut for _cid, dc_lut, _ac in scomps]
    pred = dict.fromkeys(cids, 0)
    bit_al = 1 << al
    pos = 0
    mi = 0
    for uy in range(grid_h):
        for ux in range(grid_w):
            if ri and mi and mi % ri == 0:
                pos = _sync_restart_pos(u32, pos)
                pred = dict.fromkeys(cids, 0)
            mi += 1
            for slot, off, row, col in layout:
                cf = coef[cids[slot]]
                off += uy * row + ux * col
                if ah:
                    if (u32[pos >> 3] >> (31 - (pos & 7))) & 1:
                        cf[off] |= bit_al
                    pos += 1
                    continue
                w = u32[pos >> 3]
                e = luts[slot][(w >> (16 - (pos & 7))) & 0xFFFF]
                if not e:
                    raise ValueError("invalid Huffman code")
                pos += e >> 8
                s = e & 0xFF
                cid = cids[slot]
                if s:
                    v = (u32[pos >> 3] >> (32 - (pos & 7) - s)) \
                        & ((1 << s) - 1)
                    pos += s
                    pred[cid] += v if v >> (s - 1) else v - (1 << s) + 1
                # a crafted stream can push a DC sum past int32; the
                # plane keeps it wrapped, as int32 arithmetic would
                cf[off] = (((pred[cid] << al) + 0x80000000) & 0xFFFFFFFF) \
                    - 0x80000000


def _ac_first_scan(u32, ac_lut, g, cf, ss, se, al, ri):
    """AC first scan over one component's real block grid: run/size
    symbols, magnitudes << Al, EOB runs."""
    _hs, _vs, bw_, cbw, cbh = g
    pos = 0
    eobrun = 0
    k_blk = 0
    for by in range(cbh):
        for bx in range(cbw):
            if ri and k_blk and k_blk % ri == 0:
                pos = _sync_restart_pos(u32, pos)
                eobrun = 0
            k_blk += 1
            if eobrun:
                eobrun -= 1
                continue
            base = 64 * (by * bw_ + bx)
            k = ss
            while k <= se:
                w = u32[pos >> 3]
                e = ac_lut[(w >> (16 - (pos & 7))) & 0xFFFF]
                if not e:
                    raise ValueError("invalid Huffman code")
                pos += e >> 8
                r = (e >> 4) & 15
                s = e & 15
                if s:
                    k += r
                    if k > se:
                        raise ValueError("AC index overflow")
                    v = (u32[pos >> 3] >> (32 - (pos & 7) - s)) \
                        & ((1 << s) - 1)
                    pos += s
                    cf[base + k] = (v if v >> (s - 1)
                                    else v - (1 << s) + 1) << al
                    k += 1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += (u32[pos >> 3] >> (32 - (pos & 7) - r)) \
                            & ((1 << r) - 1)
                        pos += r
                    eobrun -= 1
                    break
                else:
                    k += 16


def _ac_refine_scan(u32, ac_lut, g, cf, ss, se, al, ri):
    """AC refinement scan (G.1.2.3) over one component's real block
    grid: newly-significant coefficients are coded as +-1<<Al; every
    nonzero coefficient crossed receives one correction bit, which sets
    bit Al of its magnitude."""
    _hs, _vs, bw_, cbw, cbh = g
    p1 = 1 << al
    m1 = -(1 << al)
    pos = 0
    eobrun = 0
    k_blk = 0
    for by in range(cbh):
        for bx in range(cbw):
            if ri and k_blk and k_blk % ri == 0:
                pos = _sync_restart_pos(u32, pos)
                eobrun = 0
            k_blk += 1
            base = 64 * (by * bw_ + bx)
            k = ss
            if eobrun == 0:
                while k <= se:
                    w = u32[pos >> 3]
                    e = ac_lut[(w >> (16 - (pos & 7))) & 0xFFFF]
                    if not e:
                        raise ValueError("invalid Huffman code")
                    pos += e >> 8
                    r = (e >> 4) & 15
                    val = 0
                    if e & 15:
                        val = p1 if (u32[pos >> 3] >> (31 - (pos & 7))) & 1 \
                            else m1
                        pos += 1
                    elif r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += (u32[pos >> 3]
                                       >> (32 - (pos & 7) - r)) \
                                & ((1 << r) - 1)
                            pos += r
                        break
                    # skip r zero-history coefficients; each nonzero one
                    # crossed gets its correction bit
                    while k <= se:
                        c = cf[base + k]
                        if c:
                            if (u32[pos >> 3] >> (31 - (pos & 7))) & 1 \
                                    and not c & p1:
                                cf[base + k] = c + p1 if c > 0 else c + m1
                            pos += 1
                        elif r:
                            r -= 1
                        else:
                            break
                        k += 1
                    if val and k <= se:
                        cf[base + k] = val
                    k += 1
            if eobrun:
                # rest of the band: only correction bits
                band = cf[base + k:base + se + 1]
                if any(band):
                    for j, c in enumerate(band, base + k):
                        if c:
                            if (u32[pos >> 3] >> (31 - (pos & 7))) & 1 \
                                    and not c & p1:
                                cf[j] = c + p1 if c > 0 else c + m1
                            pos += 1
                eobrun -= 1
