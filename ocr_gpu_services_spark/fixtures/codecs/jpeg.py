"""Baseline JPEG (ITU T.81) encoder for the fixture generator: gray or
YCbCr (4:4:4, 4:2:2, 4:2:0), Annex-K standard Huffman tables, optional
DRI restart intervals and an EXIF orientation segment.  The decoder is
core/jpeg.py.

Exactness contract with the page pipeline: the encoder uses an
all-ones quantization table ("quality 100"), so reconstruction error is
DCT rounding only (max +-2 gray levels, no Gibbs ringing from zeroed
coefficients).  Ink (0), paper (255) and scanner-bed gray (176) all
stay strictly inside their classification bands (<128, >230, between),
so the ink mask — and therefore connected components, orientation
votes, OCR glyph matching, QR sampling and signature density — is
IDENTICAL to the PNG path and extraction stays byte-exact.
"""

from __future__ import annotations

import numpy as np

from ...core.jpeg import _DCT, _ZIGZAG, apply_exif_orientation
from ...core.sniff import MAGIC_TIFF_LE

# Annex K standard luminance Huffman tables: (bits-counts, values)
_DC_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALUES = list(range(12))
_AC_COUNTS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALUES = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]


def _build_codes(counts: list[int], values: list[int]) -> dict[int, tuple]:
    """symbol -> (code, length) per the spec's canonical assignment."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_CODES = _build_codes(_DC_COUNTS, _DC_VALUES)
_AC_CODES = _build_codes(_AC_COUNTS, _AC_VALUES)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, extra-bits value) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


class _BitWriter:
    """Token-collecting bit writer: ``write`` is a cheap list append;
    ``flush`` packs every token into stuffed scan bytes in ONE
    vectorized numpy pass (repeat/packbits) — byte-identical to the
    naive per-bit emitter, ~15x faster on coefficient-dense pages
    (barcode bars / large QR symbols at quant=1)."""

    def __init__(self):
        self.vals: list[int] = []
        self.lens: list[int] = []
        self.buf = bytearray()

    def write(self, code: int, length: int):
        if length:
            self.vals.append(code & ((1 << length) - 1))
            self.lens.append(length)

    def flush(self):
        v = np.asarray(self.vals, dtype=np.int64)
        ln = np.asarray(self.lens, dtype=np.int64)
        total = int(ln.sum())
        pad = (-total) % 8
        if pad:                              # pad with 1s per spec
            v = np.append(v, np.int64((1 << pad) - 1))
            ln = np.append(ln, np.int64(pad))
            total += pad
        offs = np.cumsum(ln) - ln            # start bit of each token
        idx = np.arange(total, dtype=np.int64)
        shift = np.repeat(offs + ln, ln) - 1 - idx
        bits = (np.repeat(v, ln) >> shift) & 1
        packed = np.packbits(bits.astype(np.uint8)).tobytes()
        self.buf = bytearray(packed.replace(b"\xff", b"\xff\x00"))


def _encode_block(bw: _BitWriter, block: np.ndarray, q: np.ndarray,
                  prev_dc: int) -> int:
    """FDCT + quantize + entropy-code one 8x8 block (level-shifted
    float64 in); returns the new DC predictor."""
    coef = _DCT @ block @ _DCT.T
    zz = np.rint(coef.reshape(64)[_ZIGZAG] / q).astype(np.int64)
    diff = int(zz[0]) - prev_dc
    new_dc = int(zz[0])
    cat, bits = _magnitude(diff)
    code, ln = _DC_CODES[cat]
    bw.write(code, ln)
    if cat:
        bw.write(bits, cat)
    run = 0
    last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 \
        if (zz[1:] != 0).any() else 0
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = _AC_CODES[0xF0]           # ZRL
            bw.write(code, ln)
            run -= 16
        cat, bits = _magnitude(v)
        code, ln = _AC_CODES[(run << 4) | cat]
        bw.write(code, ln)
        bw.write(bits, cat)
        run = 0
    if last_nz < 63:
        code, ln = _AC_CODES[0x00]               # EOB
        bw.write(code, ln)
    return new_dc


def _pad_plane(img: np.ndarray, mult: int) -> np.ndarray:
    """Edge-replicate pad to a multiple of ``mult``, level-shifted."""
    h, w = img.shape
    ph, pw = -(-h // mult) * mult, -(-w // mult) * mult
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = img
    padded[h:, :w] = img[h - 1:h, :]
    padded[:, w:] = padded[:, w - 1:w]
    padded -= 128.0
    return padded


def _huffman_segments() -> bytes:
    """DHT segments for tables 0 (luma) and 1 (chroma).  Both slots
    carry the Annex-K luminance tables — legal baseline JPEG (the
    decoder always builds from DHT) and keeps this module free of the
    chrominance table transcription."""
    out = bytearray()
    for tc in (0x00, 0x10, 0x01, 0x11):
        counts, values = (_DC_COUNTS, _DC_VALUES) if tc < 0x10 \
            else (_AC_COUNTS, _AC_VALUES)
        seg = bytes([tc]) + bytes(counts) + bytes(values)
        out += b"\xff\xc4" + (len(seg) + 2).to_bytes(2, "big") + seg
    return bytes(out)


class _RestartScan:
    """Splits entropy-coded data into DRI restart segments: each segment
    is independently flushed (bit-padded with 1s, 0xFF bytes stuffed) and
    segments are separated by RST0..RST7 markers cycling mod 8; DC
    predictors reset at every marker (T.81 §F.1.2.3 / E.1.4)."""

    def __init__(self, interval: int):
        self.interval = interval
        self.bw = _BitWriter()
        self.scan = bytearray()
        self.mcu = 0
        self.rst = 0

    def next_mcu(self) -> bool:
        """Call before each MCU; True -> the caller must reset its DC
        predictors (a restart marker was just emitted)."""
        restart = bool(self.interval) and self.mcu > 0 \
            and self.mcu % self.interval == 0
        if restart:
            self.bw.flush()
            self.scan += self.bw.buf
            self.scan += bytes([0xFF, 0xD0 + self.rst])
            self.rst = (self.rst + 1) & 7
            self.bw = _BitWriter()
        self.mcu += 1
        return restart

    def finish(self) -> bytes:
        self.bw.flush()
        self.scan += self.bw.buf
        return bytes(self.scan)


def _dri_segment(restart_interval: int) -> bytes:
    return b"\xff\xdd\x00\x04" + restart_interval.to_bytes(2, "big") \
        if restart_interval else b""


def _exif_app1(orientation: int) -> bytes:
    """Minimal APP1 Exif segment carrying just the orientation tag."""
    import struct
    tiff = (MAGIC_TIFF_LE + struct.pack("<I", 8)         # IFD0 at 8
            + struct.pack("<H", 1)                       # one tag
            + struct.pack("<HHIHH", 0x0112, 3, 1, orientation, 0)
            + struct.pack("<I", 0))                      # no next IFD
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + (len(body) + 2).to_bytes(2, "big") + body


def unapply_exif_orientation(img: np.ndarray, o: int) -> np.ndarray:
    """Upright pixels -> stored frame (the fixture writer's inverse;
    2/3/4/5/7 are involutions, 6/8 swap)."""
    if o == 6:
        return np.ascontiguousarray(np.rot90(img, 1))
    if o == 8:
        return np.ascontiguousarray(np.rot90(img, -1))
    return apply_exif_orientation(img, o)


def jpeg_encode(img: np.ndarray, quant: int = 1,
                restart_interval: int = 0,
                exif_orientation: int = 0) -> bytes:
    """Grayscale baseline JPEG; ``quant`` fills the whole quantization
    table (1 = the exactness contract above).  ``restart_interval`` > 0
    emits a DRI segment plus RSTn markers every that-many MCUs — the
    shape camera/scanner firmware emits for error resilience.
    ``exif_orientation`` 2..8 writes an APP1 Exif segment (the caller
    passes pixels already in the STORED frame)."""
    h, w = img.shape
    q = np.full(64, quant, dtype=np.int32)
    padded = _pad_plane(img, 8)
    ph, pw = padded.shape

    rs = _RestartScan(restart_interval)
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            if rs.next_mcu():
                prev_dc = 0
            prev_dc = _encode_block(rs.bw, padded[by:by + 8, bx:bx + 8],
                                    q, prev_dc)
    scan_bytes = rs.finish()

    out = bytearray(b"\xff\xd8")                      # SOI
    if exif_orientation:
        out += _exif_app1(exif_orientation)
    out += b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    dqt = bytes([0x00]) + bytes(int(x) & 0xFF for x in q)
    out += b"\xff\xdb" + (len(dqt) + 2).to_bytes(2, "big") + dqt
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
    for tc, counts, values in ((0x00, _DC_COUNTS, _DC_VALUES),
                               (0x10, _AC_COUNTS, _AC_VALUES)):
        seg = bytes([tc]) + bytes(counts) + bytes(values)
        out += b"\xff\xc4" + (len(seg) + 2).to_bytes(2, "big") + seg
    out += _dri_segment(restart_interval)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
    out += scan_bytes
    out += b"\xff\xd9"                                # EOI
    return bytes(out)


# JFIF RGB <-> YCbCr (ITU T.871); float, rounded at the uint8 boundary
_YCC = np.array([[0.299, 0.587, 0.114],
                 [-0.168735892, -0.331264108, 0.5],
                 [0.5, -0.418687589, -0.081312411]])


def _rgb_to_ycc(rgb: np.ndarray) -> np.ndarray:
    ycc = rgb.astype(np.float64) @ _YCC.T
    ycc[..., 1:] += 128.0
    return np.clip(np.rint(ycc), 0, 255)


def _ycc_planes(ycc: np.ndarray, subsampling: str):
    """Level-shifted, MCU-padded Y, Cb, Cr planes for ``subsampling``
    plus the luma sampling byte, the MCU size and the block schedule of
    one MCU as (plane, jr, jc)."""
    if subsampling not in ("444", "422", "420"):
        raise ValueError("subsampling must be '444', '422' or '420'")
    if subsampling == "444":
        ys, mcu_h, mcu_w = 0x11, 8, 8
        planes = [_pad_plane(ycc[..., c], 8) for c in range(3)]
        sched = [(0, 0, 0), (1, 0, 0), (2, 0, 0)]   # (plane, jr, jc)
    elif subsampling == "422":
        ys, mcu_h, mcu_w = 0x21, 8, 16
        ypad = _pad_plane(ycc[..., 0], 8)
        if ypad.shape[1] % 16:
            ypad = np.concatenate([ypad, ypad[:, -8:]], axis=1)
        sub = []
        for c in (1, 2):
            p = _pad_plane(ycc[..., c], 8) + 128.0
            if p.shape[1] % 16:
                p = np.concatenate([p, p[:, -8:]], axis=1)
            cs = np.rint((p[:, 0::2] + p[:, 1::2]) / 2.0)
            sub.append(cs - 128.0)
        planes = [ypad] + sub
        sched = [(0, 0, 0), (0, 0, 1), (1, 0, 0), (2, 0, 0)]
    else:
        ys, mcu_h, mcu_w = 0x22, 16, 16
        ypad = _pad_plane(ycc[..., 0], 16)
        # 2x2 box-average chroma on the padded grid, then pad to 8
        sub = []
        for c in (1, 2):
            p = _pad_plane(ycc[..., c], 16) + 128.0   # un-shift for avg
            cs = np.rint((p[0::2, 0::2] + p[0::2, 1::2]
                          + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0)
            sub.append(cs - 128.0)
        planes = [ypad] + sub
        sched = [(0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1),
                 (1, 0, 0), (2, 0, 0)]
    return ys, mcu_h, mcu_w, planes, sched


def jpeg_encode_color(rgb: np.ndarray, quant: int = 1,
                      subsampling: str = "444",
                      restart_interval: int = 0,
                      exif_orientation: int = 0) -> bytes:
    """Baseline YCbCr JPEG from an (H, W, 3) uint8 RGB array.

    ``subsampling`` is "444" (no chroma subsampling; MCU = 8x8),
    "422" (2x1 horizontally box-averaged chroma; MCU = 8x16) or
    "420" (2x2 box-averaged chroma; MCU = 16x16 with four Y blocks).
    Quant table ``quant`` fills both the luma and chroma tables — 1 is
    the fixture exactness contract (error stays within the ink/paper/
    bed classification bands, see module docstring)."""
    assert rgb.ndim == 3 and rgb.shape[2] == 3
    h, w = rgb.shape[:2]
    ycc = _rgb_to_ycc(rgb)
    q = np.full(64, quant, dtype=np.int32)
    ys, mcu_h, mcu_w, planes, sched = _ycc_planes(ycc, subsampling)
    ph, pw = planes[0].shape
    rs = _RestartScan(restart_interval)
    dc = [0, 0, 0]
    for my in range(0, ph, mcu_h):
        for mx in range(0, pw, mcu_w):
            if rs.next_mcu():
                dc = [0, 0, 0]
            for pl, jr, jc in sched:
                if pl == 0:
                    by, bx = my + jr * 8, mx + jc * 8
                else:
                    by, bx = my // (mcu_h // 8), mx // (mcu_w // 8)
                dc[pl] = _encode_block(
                    rs.bw, planes[pl][by:by + 8, bx:bx + 8], q, dc[pl])
    scan_bytes = rs.finish()

    out = bytearray(b"\xff\xd8")
    if exif_orientation:
        out += _exif_app1(exif_orientation)
    out += b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq in (0, 1):                        # luma + chroma quant tables
        dqt = bytes([tq]) + bytes(int(x) & 0xFF for x in q)
        out += b"\xff\xdb" + (len(dqt) + 2).to_bytes(2, "big") + dqt
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([3, 1, ys, 0, 2, 0x11, 1, 3, 0x11, 1])
    out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
    out += _huffman_segments()
    out += _dri_segment(restart_interval)
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
    out += scan_bytes
    out += b"\xff\xd9"
    return bytes(out)
