"""Baseline JPEG (ITU T.81) grayscale codec, from scratch.

The reference's OCR endpoints accept any PIL-decodable upload — JPEG
first among them (/root/reference/src/api/v1/routers/ocr.py uploads,
classification.py:31 ``Image.open``).  Real crawls are JPEG-heavy, so
S3 (image decode) needs the format; this module implements the public
baseline subset from the spec: SOI/APP0/DQT/SOF0/DHT/SOS/EOI segments,
8x8 FDCT/IDCT, zigzag, DC prediction, AC run-length with ZRL/EOB,
byte stuffing, Annex-K standard Huffman tables (encoder side; the
decoder builds its tables from the DHT segments, so any baseline
grayscale stream decodes).

Exactness contract with the page pipeline: the FIXTURE encoder uses an
all-ones quantization table ("quality 100"), so reconstruction error is
DCT rounding only (max +-2 gray levels, no Gibbs ringing from zeroed
coefficients).  Ink (0), paper (255) and scanner-bed gray (176) all
stay strictly inside their classification bands (<128, >230, between),
so the ink mask — and therefore connected components, orientation
votes, OCR glyph matching, QR sampling and signature density — is
IDENTICAL to the PNG path and extraction stays byte-exact.

Performance honesty: Huffman entropy decode is a sequential bit loop —
the one place pure Python is genuinely slow (~0.2 s/page).  JPEG rows
therefore live in the correctness corpus (tiny goldens, registry
oracle), not the throughput bench mix; a production deployment swaps
``jpeg_decode`` for a libjpeg binding at this exact seam with no other
pipeline change.
"""

from __future__ import annotations

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


# ---------------------------------------------------------------------------
# EXIF orientation (tag 0x0112) — cameras/phones store the sensor frame
# and flag the display transform; honoring it is an exact pixel
# permutation (the same argument as the PDF /Rotate attribute,
# core/pdf_extract.py), where the orientation vote would only recover
# pure quarter turns and never the mirrored variants
# ---------------------------------------------------------------------------

def _exif_app1(orientation: int) -> bytes:
    """Minimal APP1 Exif segment carrying just the orientation tag."""
    import struct
    tiff = (MAGIC_TIFF_LE + struct.pack("<I", 8)         # IFD0 at 8
            + struct.pack("<H", 1)                       # one tag
            + struct.pack("<HHIHH", 0x0112, 3, 1, orientation, 0)
            + struct.pack("<I", 0))                      # no next IFD
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + (len(body) + 2).to_bytes(2, "big") + body


def exif_orientation(data: bytes) -> int:
    """EXIF orientation (1..8) from the APP1 segment; 1 when absent or
    malformed (never raises — a bad EXIF block must not degrade an
    otherwise decodable image)."""
    import struct
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            return 1
        marker = data[i + 1]
        if marker in (0xDA, 0xD9):
            return 1
        seg_len = int.from_bytes(data[i + 2:i + 4], "big")
        if marker == 0xE1 and data[i + 4:i + 10] == b"Exif\x00\x00":
            t = data[i + 10:i + 2 + seg_len]
            try:
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
            except (struct.error, IndexError):
                return 1
            return 1
        i += 2 + seg_len
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
    if subsampling not in ("444", "422", "420"):
        raise ValueError("subsampling must be '444', '422' or '420'")
    h, w = rgb.shape[:2]
    ycc = _rgb_to_ycc(rgb)
    q = np.full(64, quant, dtype=np.int32)
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


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------
#
# The entropy decoder is table-driven: a 65536-entry LUT maps the next
# 16 bits of the stream directly to (code length << 8 | symbol), so each
# Huffman symbol costs one list index instead of up to 16 read_bit calls
# (same vectorization playbook as the OCR decode loop).  Coefficients
# are accumulated as flat (block, zigzag-k, value) triples and scattered
# into an (nblocks, 64) array once; the IDCT runs as a single batched
# float64 matmul, bit-identical to the per-block product.

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
    sequential decoder and the progressive _Reader so the stuffing,
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


def _idct_blocks(bidx, kidx, vals, q: np.ndarray, nblocks: int
                 ) -> np.ndarray:
    """Scatter coefficient triples, dequantize, batched IDCT -> float64
    (nblocks, 8, 8) pixel blocks (still level-shifted by -128)."""
    coefs = np.zeros((nblocks, 64), dtype=np.float64)
    kk = np.asarray(kidx, dtype=np.int64)
    coefs[np.asarray(bidx, dtype=np.int64), _ZIGZAG[kk]] = \
        np.asarray(vals, dtype=np.float64) * q[kk]
    return _DCT.T @ coefs.reshape(-1, 8, 8) @ _DCT


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode a JPEG: grayscale streams return an (H, W) uint8 array;
    3-component YCbCr streams (4:4:4, 4:2:2, 4:2:0) return an
    (H, W, 3) uint8 RGB array.  Progressive streams (SOF2) dispatch to
    core/jpeg_progressive; malformed ones raise so the extraction
    kernel lands the row in its ``error`` column instead of
    crashing."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    i = 2
    qt = {}
    h = w = None
    comps: list[tuple] = []      # (cid, hs, vs, tq) in SOF order
    dc_tabs, ac_tabs = {}, {}
    scan = None
    scan_tabs: dict[int, tuple] = {}
    restart_interval = 0
    while i < len(data):
        if data[i] != 0xFF:
            raise ValueError("bad marker")
        marker = data[i + 1]
        if marker == 0xD9:
            break
        seg_len = int.from_bytes(data[i + 2:i + 4], "big")
        seg = data[i + 4:i + 2 + seg_len]
        if marker == 0xDB:                       # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                if pq:
                    raise ValueError("16-bit quant unsupported")
                qt[tq] = np.frombuffer(seg[j + 1:j + 65],
                                       dtype=np.uint8).astype(np.int32)
                j += 65
        elif marker == 0xC0:                     # SOF0 baseline
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if seg[0] != 8 or nc not in (1, 3):
                raise ValueError("only 8-bit gray/YCbCr baseline")
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c:9 + 3 * c]
                hs_, vs_ = samp >> 4, samp & 0xF
                # zero nibbles divide-by-zero at the MCU grid; JPEG
                # allows 1..4 only.  ValueError so pdf_extract's
                # per-image skip catches it
                if not (1 <= hs_ <= 4 and 1 <= vs_ <= 4):
                    raise ValueError("invalid sampling factor")
                comps.append((cid, hs_, vs_, tq))
            if nc == 1:
                # T.81 A.2: a single-component scan is NON-interleaved
                # (MCU = one data unit, blocks in raster order over the
                # component grid) — declared sampling factors play no
                # layout role, so normalize them; honoring them as an
                # MCU grid would silently SCRAMBLE blocks in 2x2-MCU
                # order for streams declaring e.g. 0x22
                comps = [(comps[0][0], 1, 1, comps[0][3])]
        elif marker == 0xC2:                     # SOF2 progressive
            from .jpeg_progressive import decode_progressive
            return decode_progressive(data)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xC4:                     # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                counts = tuple(seg[j + 1:j + 17])
                nvals = sum(counts)
                values = tuple(seg[j + 17:j + 17 + nvals])
                tab = _build_peek_lut(counts, values)
                (dc_tabs if tc == 0 else ac_tabs)[th] = tab
                j += 17 + nvals
        elif marker == 0xDD:                     # DRI
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:                     # SOS
            ns = seg[0]
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                if tabs >> 4 not in dc_tabs or tabs & 0xF not in ac_tabs:
                    raise ValueError("scan references undefined "
                                     "Huffman table")
                scan_tabs[cid] = (dc_tabs[tabs >> 4], ac_tabs[tabs & 0xF])
            scan_start = i + 2 + seg_len
            end = data.find(b"\xff\xd9", scan_start)
            scan = data[scan_start:end if end >= 0 else len(data)]
            break
        i += 2 + seg_len
    if h is None or scan is None or not comps:
        raise ValueError("truncated JPEG")
    # crafted-header guard, same cap as the other raster decoders
    if h <= 0 or w <= 0 or h * w > MAX_PIXELS:
        raise ValueError(f"implausible JPEG dimensions {w}x{h}")
    if any(cid not in scan_tabs for cid, _h, _v, _t in comps):
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
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    schedule = []
    for ci, (cid, hs, vs, _tq) in enumerate(comps):
        dc_lut, ac_lut = scan_tabs[cid]
        for _ in range(hs * vs):
            schedule.append((ci, dc_lut, ac_lut))
    per_comp = _decode_scan(scan, schedule, mcus_x * mcus_y,
                            len(comps), restart_interval)
    planes = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        bidx, kidx, vals = per_comp[ci]
        nblocks = mcus_x * mcus_y * hs * vs
        blocks = _idct_blocks(bidx, kidx, vals, qt[tq], nblocks)
        plane = blocks.reshape(mcus_y, mcus_x, vs, hs, 8, 8) \
            .transpose(0, 2, 4, 1, 3, 5) \
            .reshape(mcus_y * vs * 8, mcus_x * hs * 8)
        if hs != hmax or vs != vmax:             # chroma upsample
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
