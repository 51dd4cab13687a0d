"""JPEG (ITU T.81) decoder, from scratch: baseline and progressive.

S3 (image decode) needs JPEG, the format the reference's OCR endpoints
see most, and scan-to-PDF tools embed it as /DCTDecode XObjects;
``jpeg_decode`` serves ``decode_image`` and core/pdf_extract alike.
Both modes run one pipeline:

1. parse: ``_segments`` walks the markers; ``_parse`` turns an 8-bit
   gray or YCbCr SOF0/SOF2 frame into components, quant tables and
   scans, each holding the Huffman tables in force at its SOS;
2. entropy decode, the only step that differs by mode: ``_decode_scan``
   for the one sequential scan, ``core/jpeg_progressive.decode_scans``
   for the Annex G scans; both fill dense coefficient planes (natural
   8x8 order, raster block order over the MCU-padded component grids);
3. one reconstruction: dequantize, batched 8x8 IDCT, plane assembly,
   chroma upsample (4:4:4, 4:2:2, 4:2:0), YCbCr->RGB.

Malformed streams raise ValueError or IndexError, so the row lands in
the kernel's ``error`` column and pdf_extract skips just that image.
"""

from __future__ import annotations

import re

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

from functools import lru_cache


@lru_cache(maxsize=32)
def _build_peek_lut(counts: tuple, values: tuple) -> list[int]:
    """lut[next16bits] = (codelen << 8) | symbol; 0 = invalid prefix."""
    lut = [0] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        span = 1 << (16 - length)
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
    (4 zero pad bytes keep the last window readable).  Shared by the
    sequential and the progressive scan decoders so the stuffing,
    padding, and window-shape invariants live in ONE place."""
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


def _decode_scan(scan: bytes, schedule: list[tuple], n_mcus: int,
                 ncomp: int, restart_interval: int = 0):
    """Entropy-decode ``n_mcus`` MCUs.  ``schedule`` lists the blocks of
    one MCU in order as (component index, dc_lut, ac_lut).  Returns, per
    component, parallel lists (sequential block index, zigzag index,
    dequant-ready value) with DC prediction already folded in (values
    are absolute DC / raw AC).  Honors DRI restart markers: every
    ``restart_interval`` MCUs the stream byte-aligns, an RSTn marker is
    skipped, and the DC predictors reset."""
    u32 = _unstuffed_u32(scan)
    pos = 0
    prev_dc = [0] * ncomp
    nblk = [0] * ncomp
    out = [([], [], []) for _ in range(ncomp)]
    for mi in range(n_mcus):
        if restart_interval and mi and mi % restart_interval == 0:
            pos = _sync_restart_pos(u32, pos)
            prev_dc = [0] * ncomp
        for ci, dc_lut, ac_lut in schedule:
            w = u32[pos >> 3]
            e = dc_lut[(w >> (16 - (pos & 7))) & 0xFFFF]
            if not e:
                raise ValueError("invalid Huffman code")
            cat = e & 0xFF
            pos += e >> 8
            if cat:
                r = pos & 7
                bits = (u32[pos >> 3] >> (32 - r - cat)) & ((1 << cat) - 1)
                pos += cat
                prev_dc[ci] += bits if bits >> (cat - 1) \
                    else bits - (1 << cat) + 1
            bidx, kidx, vals = out[ci]
            bi = nblk[ci]
            nblk[ci] = bi + 1
            bidx.append(bi)
            kidx.append(0)
            vals.append(prev_dc[ci])
            k = 1
            while k < 64:
                w = u32[pos >> 3]
                e = ac_lut[(w >> (16 - (pos & 7))) & 0xFFFF]
                if not e:
                    raise ValueError("invalid Huffman code")
                rs = e & 0xFF
                pos += e >> 8
                if rs == 0x00:                   # EOB
                    break
                if rs == 0xF0:                   # ZRL
                    k += 16
                    continue
                k += rs >> 4
                cat = rs & 0xF
                if k > 63:
                    raise ValueError("AC index overflow")
                if cat:
                    r = pos & 7
                    bits = (u32[pos >> 3] >> (32 - r - cat)) \
                        & ((1 << cat) - 1)
                    pos += cat
                    vals.append(bits if bits >> (cat - 1)
                                else bits - (1 << cat) + 1)
                    bidx.append(bi)
                    kidx.append(k)
                k += 1
    return out


def _parse(data: bytes):
    """Frame and scans of a baseline (SOF0) or progressive (SOF2)
    stream: ``(progressive, h, w, comps, qt, scans)``.  ``comps`` lists
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
            if progressive:
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
                if (ss == 0) != (se == 0) or se > 63 or \
                        (ah != 0 and ah != al + 1):
                    raise ValueError("invalid progressive scan header")
                if {cid for cid, _dc, _ac in scomps} \
                        - {cid for cid, *_ in comps}:
                    raise ValueError("scan names a component the frame "
                                     "lacks")
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
        # multi-scan sequential file this single-scan decoder does not
        # handle — reject cleanly instead of KeyError
        raise ValueError("multi-scan baseline unsupported")
    if any(tq not in qt for _c, _h, _v, tq in comps):
        raise ValueError("component references undefined quant table")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if any(hmax % c[1] or vmax % c[2] for c in comps):
        raise ValueError("unsupported sampling factors")
    return progressive, h, w, comps, qt, scans


def _baseline_coefs(scan: tuple, comps: list[tuple], mcus_x: int,
                    mcus_y: int) -> list[np.ndarray]:
    """Entropy-decode the sequential scan into per-component dense
    coefficient planes: (blocks, 64) int32, natural 8x8 order, in raster
    block order over the MCU-padded component grid."""
    scomps, _ss, _se, _ah, _al, restart_interval, entropy = scan
    tabs = {cid: (dc_lut, ac_lut) for cid, dc_lut, ac_lut in scomps}
    schedule = [(ci, *tabs[cid])
                for ci, (cid, hs, vs, _tq) in enumerate(comps)
                for _ in range(hs * vs)]
    per_comp = _decode_scan(entropy, schedule, mcus_x * mcus_y,
                            len(comps), restart_interval)
    out = []
    for (bidx, kidx, vals), (_cid, hs, vs, _tq) in zip(per_comp, comps):
        # _decode_scan numbers blocks in MCU order (MCU, then row and
        # column within it); raster[i] is the i-th block's raster index
        raster = np.arange(mcus_y * vs * mcus_x * hs).reshape(
            mcus_y, vs, mcus_x, hs).transpose(0, 2, 1, 3).ravel()
        coef = np.zeros((raster.size, 64), dtype=np.int32)
        # via int64: a crafted DC sum can leave int32, and numpy rejects
        # out-of-range Python ints with an OverflowError (arrays wrap)
        coef[raster[np.asarray(bidx, dtype=np.int64)],
             _ZIGZAG[np.asarray(kidx, dtype=np.int64)]] = \
            np.asarray(vals, dtype=np.int64)
        out.append(coef)
    return out


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode a baseline or progressive JPEG: grayscale streams return
    an (H, W) uint8 array; 3-component YCbCr streams (4:4:4, 4:2:2,
    4:2:0) return an (H, W, 3) uint8 RGB array."""
    progressive, h, w, comps, qt, scans = _parse(data)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    if progressive:
        from .jpeg_progressive import decode_scans
        coefs = decode_scans(scans, comps, h, w, mcus_x, mcus_y)
    else:
        coefs = _baseline_coefs(scans[0], comps, mcus_x, mcus_y)
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
