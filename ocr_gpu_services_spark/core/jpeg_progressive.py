"""Progressive JPEG (ITU T.81 Annex G) — decoder + encoder.

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
core/jpeg.  The encoder emits a libjpeg-style script (DC with one bit
of successive approximation, two spectral AC bands, two AC refinement
passes, one DC refinement) so a round trip exercises every decode
path; coefficients after all passes equal the baseline encoder's
exactly, asserted in tests via pixel-identical decodes.
"""

from __future__ import annotations

import numpy as np

from .jpeg import (_DC_CODES, _DCT, _ZIGZAG, _BitWriter, _build_codes,
                   _build_peek_lut, _magnitude, _pad_plane, _rgb_to_ycc,
                   _sync_restart_pos, _unstuffed_u32)
from .sniff import MAX_PIXELS

# The sequential Annex-K AC tables carry no EOBn symbols (r<<4 for
# 0<r<15 — progressive-only codes), so the encoder emits its own
# COMPLETE canonical AC table: 255 symbols at 8 bits + symbol 255 at
# 9 bits (the 9-bit code is 111111110, keeping the all-ones code
# unassigned as Annex C requires).  Compression is not the fixture
# encoder's goal; the decoder builds whatever the DHT declares.
_PROG_AC_COUNTS = [0] * 7 + [255, 1] + [0] * 7
_PROG_AC_VALUES = list(range(256))
_PROG_AC_CODES = _build_codes(_PROG_AC_COUNTS, _PROG_AC_VALUES)

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


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

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


def jpeg_encode_progressive(img: np.ndarray, quant: int = 1) -> bytes:
    """Progressive baseline-data JPEG.  ``img`` is (H, W) grayscale or
    (H, W, 3) RGB (encoded as 4:4:4 YCbCr).  The coefficient stream
    equals the sequential encoder's exactly — only the scan structure
    differs — so the quality-100 fixture exactness contract carries
    over unchanged."""
    color = img.ndim == 3
    h, w = img.shape[:2]
    q = np.full(64, quant, dtype=np.int32)
    if color:
        ycc = _rgb_to_ycc(img)
        planes = [_pad_plane(ycc[..., c], 8) for c in range(3)]
    else:
        planes = [_pad_plane(img, 8)]
    zzs = [_quant_blocks(p, q) for p in planes]
    grids = [(p.shape[1] // 8, p.shape[0] // 8) for p in planes]

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq in range(2 if color else 1):
        dqt = bytes([tq]) + bytes(int(x) & 0xFF for x in q)
        out += b"\xff\xdb" + (len(dqt) + 2).to_bytes(2, "big") + dqt
    if color:
        sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
            + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    else:
        sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
            + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc2" + (len(sof) + 2).to_bytes(2, "big") + sof
    from .jpeg import _DC_COUNTS, _DC_VALUES
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
    # DC scans: all components in one (interleaved iff ncomp > 1)
    for kind, ss, se, ah, al in _SCRIPT_DC:
        out += sos_header(list(range(1, ncomp + 1)), ss, se, ah, al)
        bw = _BitWriter()
        pred = [0] * ncomp
        nb = grids[0][0] * grids[0][1]       # 4:4:4 -> same grid per comp
        for bi in range(nb):
            for ci in range(ncomp):
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
    # AC scans per component
    for ci in range(ncomp):
        for kind, ss, se, ah, al in _SCRIPT_AC:
            out += sos_header([ci + 1], ss, se, ah, al)
            bw = _BitWriter()
            enc = _AcFirstEncoder(bw) if kind == "ac_first" \
                else _AcRefineEncoder(bw)
            for bi in range(zzs[ci].shape[0]):
                enc.block(zzs[ci][bi], ss, se, al)
            enc.flush_eobrun()
            bw.flush()
            out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)
