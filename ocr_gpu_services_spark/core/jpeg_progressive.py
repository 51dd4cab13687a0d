"""Progressive JPEG (ITU T.81 Annex G) decoder.

Progressive streams are common on the real web (libjpeg's default
scan script for web export), and the reference accepts them through
cv2/PIL (/root/reference/src/api/v1/utils.py:15-18), so S3 breadth
needs the format.  Everything here derives from the published spec:

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
* Huffman tables may be redefined (DHT) between scans; DRI restart
  intervals reset DC predictors and EOB runs

The decoder accumulates per-component dense coefficient planes across
scans and finishes with the shared dequant + batched-IDCT path from
core/jpeg.
"""

from __future__ import annotations

import numpy as np

from .jpeg import (_DCT, _ZIGZAG, _build_peek_lut, _sync_restart_pos,
                   _unstuffed_u32)
from .sniff import MAX_PIXELS


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
# decoder
# ---------------------------------------------------------------------------

def _scan_end(data: bytes, start: int) -> int:
    """Index just past the entropy-coded segment starting at ``start``
    (stops at the first marker that is not a stuffed byte or RSTn)."""
    i = start
    while True:
        j = data.find(b"\xff", i)
        if j < 0 or j + 1 >= len(data):
            return len(data)
        nxt = data[j + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            i = j + 2
            continue
        return j


def decode_progressive(data: bytes) -> np.ndarray:
    """Full progressive decode: gray -> (H, W) uint8, YCbCr ->
    (H, W, 3) uint8 RGB (same contract as core/jpeg.jpeg_decode)."""
    i = 2
    qt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, list[int]] = {}
    ac_tabs: dict[int, list[int]] = {}
    comps: list[tuple] = []          # (cid, hs, vs, tq)
    h = w = None
    ri = 0
    scans = []                       # (scan_comps, Ss, Se, Ah, Al, ri, bytes)
    while i < len(data):
        if data[i] != 0xFF:
            raise ValueError("bad marker")
        marker = data[i + 1]
        if marker == 0xD9:
            break
        seg_len = int.from_bytes(data[i + 2:i + 4], "big")
        seg = data[i + 4:i + 2 + seg_len]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                if pq:
                    raise ValueError("16-bit quant unsupported")
                qt[tq] = np.frombuffer(seg[j + 1:j + 65],
                                       dtype=np.uint8).astype(np.int32)
                j += 65
        elif marker == 0xC2:
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if seg[0] != 8 or nc not in (1, 3):
                raise ValueError("only 8-bit gray/YCbCr progressive")
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c:9 + 3 * c]
                hs, vs = samp >> 4, samp & 0xF
                # a zero nibble would divide-by-zero at the MCU grid;
                # JPEG allows 1..4 only.  ValueError (not the raw
                # ZeroDivisionError) so pdf_extract's per-image skip
                # catches it
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise ValueError("invalid sampling factor")
                comps.append((cid, hs, vs, tq))
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                counts = tuple(seg[j + 1:j + 17])
                nvals = sum(counts)
                values = tuple(seg[j + 17:j + 17 + nvals])
                (dc_tabs if tc == 0 else ac_tabs)[th] = \
                    _build_peek_lut(counts, values)
                j += 17 + nvals
        elif marker == 0xDD:
            ri = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:
            ns = seg[0]
            scomps = []
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                scomps.append((cid, dc_tabs.get(tabs >> 4),
                               ac_tabs.get(tabs & 0xF)))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah_al = seg[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 0xF
            if (ss == 0) != (se == 0) or se > 63 or \
                    (ah != 0 and ah != al + 1):
                raise ValueError("invalid progressive scan header")
            # a scan referencing an undefined Huffman slot stored None
            # and blew up as TypeError deep in the entropy loop; reject
            # as ValueError here.  First DC scans (ah=0) Huffman-code
            # magnitudes; DC refinements read raw bits (no table); AC
            # scans (first AND refinement) both read EOB runs via the
            # AC table
            for _cid, _dc, _ac in scomps:
                if (ss == 0 and ah == 0 and _dc is None) or \
                        (ss > 0 and _ac is None):
                    raise ValueError("scan references undefined "
                                     "Huffman table")
            start = i + 2 + seg_len
            end = _scan_end(data, start)
            scans.append((scomps, ss, se, ah_al >> 4, ah_al & 0xF,
                          ri, data[start:end]))
            i = end
            continue
        i += 2 + seg_len
    if h is None or not comps or not scans:
        raise ValueError("truncated progressive JPEG")
    # crafted-header guard (same cap as the other raster decoders): a
    # few-hundred-byte stream declaring 65535x65535 would otherwise
    # allocate ~17 GB of coefficient planes per component before any
    # entropy data is validated
    if h <= 0 or w <= 0 or h * w > MAX_PIXELS:
        raise ValueError(f"implausible progressive JPEG {w}x{h}")
    for _cid, _hs, _vs, tq in comps:
        if tq not in qt:
            raise ValueError("component references undefined quant table")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # dense zigzag-order coefficient planes, MCU-padded raster grids
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

    from .jpeg import jpeg_decode  # noqa: F401  (doc pointer only)
    planes = []
    for cid, hs, vs, tq in comps:
        _ci, _hs, _vs, bw_, bh_, _cbw, _cbh = geo[cid]
        c = coef[cid].astype(np.float64)
        nat = np.zeros_like(c)
        nat[:, _ZIGZAG] = c * qt[tq]
        blocks = _DCT.T @ nat.reshape(-1, 8, 8) @ _DCT
        plane = blocks.reshape(bh_, bw_, 8, 8) \
            .transpose(0, 2, 1, 3).reshape(bh_ * 8, bw_ * 8)
        if hs != hmax or vs != vmax:
            plane = plane.repeat(vmax // vs, axis=0) \
                         .repeat(hmax // hs, axis=1)
        planes.append(plane[:h, :w] + 128.0)
    if len(planes) == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    cb = cb - 128.0
    cr = cr - 128.0
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136286 * cb - 0.714136286 * cr,
                    y + 1.772 * cb], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


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
