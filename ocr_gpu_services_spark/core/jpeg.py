"""JPEG (ITU T.81) decoder, from scratch: baseline and progressive.

S3 (image decode) needs JPEG, the format the reference's OCR endpoints
see most, and scan-to-PDF tools embed it as /DCTDecode XObjects;
``jpeg_decode`` serves ``decode_image`` and core/pdf_extract alike.
Both modes run one pipeline:

1. parse: ``_segments`` walks the markers; ``_parse`` turns an 8-bit
   gray or YCbCr SOF0/SOF2 frame into components, quant tables and
   scans, each holding the Huffman tables in force at its SOS;
2. entropy decode: ``decode_scans`` runs every scan into per-component
   coefficient arrays.  A scan with Ss = 0 -- the one sequential scan,
   or a progressive DC scan -- runs ``_mcu_scan``, which walks the
   scan's coding units (whole MCUs when it is interleaved, else the
   blocks of one component's grid) and decodes each block's DC and,
   when Se > 0, its AC band 1..63;
3. one reconstruction: dequantize, batched 8x8 IDCT, plane assembly,
   chroma upsample (4:4:4, 4:2:2, 4:2:0), YCbCr->RGB.

Progressive streams (Annex G) add, on top of that one walk:

* spectral selection: AC coefficients arrive in per-band scans
  (Ss..Se), always single-component; DC scans (Ss=Se=0) may be
  interleaved across components
* successive approximation: first scans carry the point-transformed
  coefficients (>> Al); refinement scans (Ah = Al+1) add one bit of
  precision per coefficient -- newly-significant coefficients are coded
  as +-1<<Al with a sign bit, previously-significant ones receive
  plain correction bits appended after each symbol
* EOB runs: a run of blocks whose remaining band is all zero is coded
  once as an EOBn symbol with n extra bits
* DRI restart intervals reset EOB runs, as they reset the DC
  predictors in both modes

Each component's coefficients live in one flat int32 ``array`` (64
per block, zigzag order) while the scans run: plain-int element access
at 4 bytes a coefficient, where a list would also hold a 32-byte int
object for most nonzero values.  Each scan keeps its bit position in a
local: a Huffman symbol is one peek-LUT index into the sliding 32-bit
windows of ``_unstuffed_u32``, and a raw bit or bit field is one window
read.  The arrays become the dense natural-order planes once, after the
last scan.  A scan that runs past the end of its data reads past the
end of the window list and raises IndexError, as a truncated stream
should.

Malformed streams raise ValueError or IndexError, so the row lands in
the kernel's ``error`` column and pdf_extract skips just that image.
"""

from __future__ import annotations

import re
from array import array
from functools import lru_cache

import numpy as np

from .sniff import MAGIC_TIFF_BE, MAGIC_TIFF_LE, MAX_PIXELS

# ---------------------------------------------------------------------------
# DCT
# ---------------------------------------------------------------------------

_DCT = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * \
            (np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8))

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])
_UNZIGZAG = np.argsort(_ZIGZAG)         # natural index -> zigzag index


# ---------------------------------------------------------------------------
# marker walk
# ---------------------------------------------------------------------------

# a marker other than 0xFF00 stuffing or RST0..RST7
_SCAN_END = re.compile(rb"\xff[^\x00\xd0-\xd7]")


def _segments(data: bytes):
    """Yield ``(marker, body, entropy)`` for each marker segment after
    SOI, up to EOI or the end of ``data``.  ``entropy`` is the
    entropy-coded data after an SOS header (empty for other markers):
    a scan ends at the first marker that is neither 0xFF00 stuffing nor
    RSTn.  This is the only JPEG marker walk in the codecs."""
    i = 2
    n = len(data)
    while i < n:
        if data[i] != 0xFF:
            raise ValueError("bad marker")
        marker = data[i + 1]
        if marker == 0xD9:
            return
        body_end = i + 2 + int.from_bytes(data[i + 2:i + 4], "big")
        body = data[i + 4:body_end]
        i = body_end
        entropy = b""
        if marker == 0xDA:
            m = _SCAN_END.search(data, i)
            i = m.start() if m else n
            entropy = data[body_end:i]
        yield marker, body, entropy


# ---------------------------------------------------------------------------
# EXIF orientation (tag 0x0112) — cameras/phones store the sensor frame
# and flag the display transform; honoring it is an exact pixel
# permutation (the same argument as the PDF /Rotate attribute,
# core/pdf_extract.py), where the orientation vote would only recover
# pure quarter turns and never the mirrored variants
# ---------------------------------------------------------------------------

def exif_orientation(data: bytes) -> int:
    """EXIF orientation (1..8) from the APP1 segment; 1 when absent or
    malformed (never raises — a bad EXIF block must not degrade an
    otherwise decodable image)."""
    import struct
    try:
        for marker, body, _entropy in _segments(data):
            if marker == 0xDA:
                return 1
            if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
                t = body[6:]
                if t[:4] == MAGIC_TIFF_LE:
                    e = "<"
                elif t[:4] == MAGIC_TIFF_BE:
                    e = ">"
                else:
                    return 1
                ifd = struct.unpack_from(e + "I", t, 4)[0]
                ntags = struct.unpack_from(e + "H", t, ifd)[0]
                for k in range(ntags):
                    tag, ty, cnt = struct.unpack_from(
                        e + "HHI", t, ifd + 2 + 12 * k)
                    if tag == 0x0112 and ty == 3 and cnt == 1:
                        v = struct.unpack_from(
                            e + "H", t, ifd + 2 + 12 * k + 8)[0]
                        return v if 1 <= v <= 8 else 1
                return 1
    except (struct.error, ValueError, IndexError):
        pass
    return 1


def apply_exif_orientation(img: np.ndarray, o: int) -> np.ndarray:
    """Stored-frame pixels -> upright display pixels (PIL
    ``exif_transpose`` semantics; exact permutations, gray or color)."""
    if o == 2:
        out = img[:, ::-1]
    elif o == 3:
        out = img[::-1, ::-1]
    elif o == 4:
        out = img[::-1]
    elif o == 5:
        out = np.swapaxes(img, 0, 1)
    elif o == 6:
        out = np.rot90(img, -1)
    elif o == 7:
        out = np.swapaxes(img, 0, 1)[::-1, ::-1]
    elif o == 8:
        out = np.rot90(img, 1)
    else:
        return img
    return np.ascontiguousarray(out)


# ---------------------------------------------------------------------------
# entropy decode
# ---------------------------------------------------------------------------
#
# Table-driven: a 65536-entry LUT maps the next 16 bits of the stream
# directly to (code length << 8 | symbol), so each Huffman symbol costs
# one list index instead of up to 16 read_bit calls.

@lru_cache(maxsize=32)
def _build_peek_lut(counts: tuple, values: tuple) -> list[int]:
    """lut[next16bits] = (codelen << 8) | symbol; 0 = invalid prefix.
    A table whose codes do not fit their lengths, or whose last code is
    all ones, is rejected as libjpeg's ``jpeg_make_d_derived_tbl`` does
    (and before any entry is written: an over-subscribed length would
    otherwise write past the 65536 entries and grow the list)."""
    lut = [0] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        span = 1 << (16 - length)
        if code + counts[length - 1] >= 1 << length:
            raise ValueError("bad Huffman table")
        for _ in range(counts[length - 1]):
            base = code << (16 - length)
            lut[base:base + span] = [(length << 8) | values[k]] * span
            code += 1
            k += 1
        code <<= 1
    return lut


def _unstuffed_u32(scan: bytes) -> list[int]:
    """Byte-unstuffed entropy segment as a sliding 32-bit window list:
    u32[i] = big-endian bytes i..i+3 = the 32 bits starting at bit 8*i
    (4 zero pad bytes keep the last window readable)."""
    data = scan.replace(b"\xff\x00", b"\xff") + b"\x00\x00\x00\x00"
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint32)
    return ((b[:-3] << 24) | (b[1:-2] << 16)
            | (b[2:-1] << 8) | b[3:]).tolist()


def _sync_restart_pos(u32: list[int], pos: int) -> int:
    """Byte-align, verify an RSTn marker, return the position after it."""
    pos = (pos + 7) & ~7
    marker = (u32[pos >> 3] >> 16) & 0xFFFF
    if not (0xFFD0 <= marker <= 0xFFD7):
        raise ValueError("missing restart marker")
    return pos + 16


def decode_scans(scans: list[tuple], comps: list[tuple], h: int, w: int,
                 mcus_x: int, mcus_y: int) -> list[np.ndarray]:
    """Entropy-decode every scan (``_parse``'s scan tuples) into
    per-component dense coefficient planes in frame order: (blocks, 64)
    int32, natural 8x8 order, in raster block order over the MCU-padded
    component grid."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    geo = {}
    for cid, hs, vs, _tq in comps:
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        geo[cid] = (hs, vs, mcus_x * hs, -(-cw // 8), -(-ch // 8))
    for scomps, ss, se, _ah, _al, _ri, sdata in scans:
        # every block of a scan with Ss = 0 codes at least one bit, two
        # with an AC band; a scan too short for its blocks would run
        # past its data, so it fails before a crafted header's planes
        # are allocated (4 bytes a coefficient)
        if ss == 0:
            if len(comps) > 1 and len(scomps) > 1:
                blocks = mcus_x * mcus_y * sum(geo[cid][0] * geo[cid][1]
                                               for cid, _dc, _ac in scomps)
            else:
                blocks = geo[scomps[0][0]][3] * geo[scomps[0][0]][4]
            if blocks * (2 if se else 1) > 8 * (len(sdata) + 4):
                raise IndexError("scan data ends before its blocks do")
    coef = {cid: array("i", [0]) * (64 * mcus_x * hs * mcus_y * vs)
            for cid, hs, vs, _tq in comps}

    for scomps, ss, se, ah, al, ri, sdata in scans:
        u32 = _unstuffed_u32(sdata)
        if ss == 0:
            _mcu_scan(u32, scomps, geo, coef, se, ah, al, ri, mcus_x, mcus_y,
                      len(comps) > 1 and len(scomps) > 1)
        else:
            if len(scomps) != 1:
                raise ValueError("AC progressive scan must be 1-component")
            cid, _dc, ac_lut = scomps[0]
            scan = _ac_first_scan if ah == 0 else _ac_refine_scan
            scan(u32, ac_lut, geo[cid], coef[cid], ss, se, al, ri)
    return [np.frombuffer(coef[cid], np.int32).reshape(-1, 64)[:, _UNZIGZAG]
            for cid, _hs, _vs, _tq in comps]


def _mcu_scan(u32, scomps, geo, coef, se, ah, al, ri, mcus_x, mcus_y,
              interleaved):
    """A scan with Ss = 0: DC first (ah == 0) or refinement, plus the AC
    band 1..se of each block when se > 0 (the sequential scan).  Its
    coding units are whole MCUs when the scan is interleaved, else the
    blocks of one component's own grid; ``layout`` lists each unit's
    blocks in scan-header order (T.81 A.2.3) as (DC predictor index,
    coefficient array, DC table, AC table, offset in unit (0, 0), offset
    step per unit row, per unit column).  Restart intervals count
    units."""
    cids = [cid for cid, _dc, _ac in scomps]
    if interleaved:
        grid_h, grid_w = mcus_y, mcus_x
        layout = []
        for cid, dc_lut, ac_lut in scomps:
            hs, vs, bw_, _cbw, _cbh = geo[cid]
            layout += [(cids.index(cid), coef[cid], dc_lut, ac_lut,
                        64 * (jr * bw_ + jc), 64 * vs * bw_, 64 * hs)
                       for jr in range(vs) for jc in range(hs)]
    else:
        cid, dc_lut, ac_lut = scomps[0]
        _hs, _vs, bw_, grid_w, grid_h = geo[cid]
        layout = [(0, coef[cid], dc_lut, ac_lut, 0, 64 * bw_, 64)]
    pred = [0] * len(scomps)
    bit_al = 1 << al
    pos = 0
    mi = 0
    for uy in range(grid_h):
        for ux in range(grid_w):
            if ri and mi and mi % ri == 0:
                pos = _sync_restart_pos(u32, pos)
                pred = [0] * len(scomps)
            mi += 1
            for pi, cf, dc_lut, ac_lut, off, row, col in layout:
                off += uy * row + ux * col
                if ah:
                    if (u32[pos >> 3] >> (31 - (pos & 7))) & 1:
                        cf[off] |= bit_al
                    pos += 1
                    continue
                e = dc_lut[(u32[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF]
                if not e:
                    raise ValueError("invalid Huffman code")
                pos += e >> 8
                s = e & 0xFF
                if s:
                    v = (u32[pos >> 3] >> (32 - (pos & 7) - s)) \
                        & ((1 << s) - 1)
                    pos += s
                    pred[pi] += v if v >> (s - 1) else v - (1 << s) + 1
                # a crafted stream can push a DC sum past int32; the
                # plane keeps it wrapped, as int32 arithmetic would
                cf[off] = (((pred[pi] << al) + 0x80000000) & 0xFFFFFFFF) \
                    - 0x80000000
                k = 1
                while k <= se:
                    e = ac_lut[(u32[pos >> 3] >> (16 - (pos & 7))) & 0xFFFF]
                    if not e:
                        raise ValueError("invalid Huffman code")
                    pos += e >> 8
                    s = e & 15
                    if s:
                        k += (e >> 4) & 15
                        if k > se:
                            raise ValueError("AC index overflow")
                        v = (u32[pos >> 3] >> (32 - (pos & 7) - s)) \
                            & ((1 << s) - 1)
                        pos += s
                        cf[off + k] = v if v >> (s - 1) else v - (1 << s) + 1
                        k += 1
                    elif e & 0xF0 == 0xF0:           # ZRL
                        k += 16
                    else:                            # EOB (T.81 F.13)
                        break


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


def _parse(data: bytes):
    """Frame and scans of a baseline (SOF0) or progressive (SOF2)
    stream: ``(h, w, comps, qt, scans)``.  ``comps`` lists
    (cid, hs, vs, tq) in SOF order; each scan is (scan components, Ss,
    Se, Ah, Al, restart interval, entropy bytes) and its components are
    (cid, dc_lut, ac_lut) with the Huffman tables in force at its SOS
    (DHT may redefine a slot between progressive scans)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    progressive = False
    h = w = None
    comps: list[tuple] = []
    qt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, list[int]] = {}
    ac_tabs: dict[int, list[int]] = {}
    restart_interval = 0
    scans: list[tuple] = []
    for marker, seg, entropy in _segments(data):
        if marker == 0xDB:                       # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                if pq:
                    raise ValueError("16-bit quant unsupported")
                qt[tq] = np.frombuffer(seg[j + 1:j + 65],
                                       dtype=np.uint8).astype(np.int32)
                j += 65
        elif marker in (0xC0, 0xC2):             # SOF0 / SOF2
            progressive = marker == 0xC2
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if seg[0] != 8 or nc not in (1, 3):
                raise ValueError("only 8-bit gray/YCbCr " + (
                    "progressive" if progressive else "baseline"))
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c:9 + 3 * c]
                hs, vs = samp >> 4, samp & 0xF
                # zero nibbles divide-by-zero at the MCU grid; JPEG
                # allows 1..4 only.  ValueError so pdf_extract's
                # per-image skip catches it
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise ValueError("invalid sampling factor")
                comps.append((cid, hs, vs, tq))
            if nc == 1:
                # T.81 A.2: a single-component scan is NON-interleaved
                # (MCU = one data unit, blocks in raster order over the
                # component grid) — declared sampling factors play no
                # layout role, so normalize them; honoring them as an
                # MCU grid would silently SCRAMBLE blocks in 2x2-MCU
                # order for streams declaring e.g. 0x22
                comps = [(comps[0][0], 1, 1, comps[0][3])]
        elif 0xC1 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xC4:                     # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                counts = tuple(seg[j + 1:j + 17])
                nvals = sum(counts)
                values = tuple(seg[j + 17:j + 17 + nvals])
                (dc_tabs if tc == 0 else ac_tabs)[th] = \
                    _build_peek_lut(counts, values)
                j += 17 + nvals
        elif marker == 0xDD:                     # DRI
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:                     # SOS
            ns = seg[0]
            scomps = [(seg[1 + 2 * c], dc_tabs.get(seg[2 + 2 * c] >> 4),
                       ac_tabs.get(seg[2 + 2 * c] & 0xF))
                      for c in range(ns)]
            if {cid for cid, _dc, _ac in scomps} \
                    - {cid for cid, *_ in comps}:
                raise ValueError("scan names a component the frame lacks")
            if progressive:
                # Ss = 0 with Se > 0 is sequential-only: _mcu_scan reads
                # an AC band exactly when Se > 0
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
                if (ss == 0) != (se == 0) or se > 63 or \
                        (ah != 0 and ah != al + 1):
                    raise ValueError("invalid progressive scan header")
            else:
                # a sequential scan codes the full band, whatever
                # its header says
                ss, se, ah, al = 0, 63, 0, 0
            # a scan needs its DC table when it Huffman-codes DC
            # magnitudes (DC refinements read raw bits) and its AC table
            # when it codes an AC band (first and refinement alike)
            if any((ss == 0 and ah == 0 and dc is None)
                   or (se and ac is None) for _cid, dc, ac in scomps):
                raise ValueError("scan references undefined Huffman table")
            scans.append((scomps, ss, se, ah, al, restart_interval,
                          entropy))
            if not progressive:
                break                            # one sequential scan
    if h is None or not comps or not scans:
        raise ValueError("truncated JPEG")
    # crafted-header guard (same cap as the other raster decoders): a
    # few-hundred-byte stream declaring 65535x65535 would otherwise
    # allocate ~17 GB of coefficient planes per component before any
    # entropy data is validated
    if h <= 0 or w <= 0 or h * w > MAX_PIXELS:
        raise ValueError(f"implausible JPEG dimensions {w}x{h}")
    if not progressive and \
            {cid for cid, *_ in comps} - {cid for cid, *_ in scans[0][0]}:
        # a 3-component frame whose SOS covers fewer components is a
        # multi-scan sequential file; only its first scan is read, so
        # reject it rather than leave the other components all zero
        raise ValueError("multi-scan baseline unsupported")
    if any(tq not in qt for _c, _h, _v, tq in comps):
        raise ValueError("component references undefined quant table")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if any(hmax % c[1] or vmax % c[2] for c in comps):
        raise ValueError("unsupported sampling factors")
    return h, w, comps, qt, scans


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode a baseline or progressive JPEG: grayscale streams return
    an (H, W) uint8 array; 3-component YCbCr streams (4:4:4, 4:2:2,
    4:2:0) return an (H, W, 3) uint8 RGB array."""
    h, w, comps, qt, scans = _parse(data)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    coefs = decode_scans(scans, comps, h, w, mcus_x, mcus_y)
    # one component at a time, so its dequantized coefficients and IDCT
    # temporaries are freed before the next is built; color components
    # add their terms straight into one float RGB array, in the order
    # y + 1.402 cr, y - 0.344136286 cb - 0.714136286 cr, y + 1.772 cb
    for k, (_cid, hs, vs, tq) in enumerate(comps):
        deq = coefs[k] * qt[tq][_UNZIGZAG].astype(np.float64)
        coefs[k] = None
        blocks = _DCT.T @ deq.reshape(-1, 8, 8)
        del deq
        blocks = blocks @ _DCT
        bw, bh = mcus_x * hs, mcus_y * vs
        plane = blocks.reshape(bh, bw, 8, 8) \
            .transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        del blocks
        if hs != hmax or vs != vmax:             # chroma upsample
            plane = plane.repeat(vmax // vs, axis=0) \
                         .repeat(hmax // hs, axis=1)
        plane = plane[:h, :w] + 128.0
        if len(comps) == 1:
            return np.clip(np.rint(plane), 0, 255).astype(np.uint8)
        if k == 0:                               # Y
            rgb = np.empty((h, w, 3))
            rgb[...] = plane[..., None]
            continue
        plane -= 128.0
        if k == 1:                               # Cb
            rgb[..., 1] -= 0.344136286 * plane
            rgb[..., 2] += 1.772 * plane
        else:                                    # Cr
            rgb[..., 0] += 1.402 * plane
            rgb[..., 1] -= 0.714136286 * plane
        del plane
    np.rint(rgb, out=rgb)
    np.clip(rgb, 0, 255, out=rgb)
    return rgb.astype(np.uint8)
