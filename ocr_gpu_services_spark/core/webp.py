"""WebP lossless (VP8L) decoder — pure numpy + Python, from RFC 9649.

S3 format breadth: WebP is the highest-volume modern image format in
real web crawls after JPEG/PNG (the reference accepts any
cv2-decodable upload and grays it immediately,
/root/reference/src/api/v1/utils.py:15-18; cv2 links libwebp).  This
module implements the complete VP8L *lossless* bitstream: container
(incl. VP8X extended layout), all four transforms (predictor,
cross-color, subtract-green, color-indexing with sub-byte packing),
color cache, meta-prefix (spatially varying) code groups, and the
LZ77 backward references with the 2D distance map — i.e. everything
libwebp's lossless encoder emits at any quality/effort setting.

Lossy VP8 — the dominant WebP flavor in real crawls — decodes via
core/vp8.py (a from-scratch RFC 6386 intra-frame decoder, pinned
byte-exact against libwebp at both the YUV and fancy-upsampled RGB
stages); this module routes the container chunk there.

Performance shape (same playbook as core/jpeg.py): fixed-stride
literal-only streams (the fixture encoder's shape) decode fully
vectorized in numpy — the gate-corpus rows cost ~10-30 ms/page like
PNG; general libwebp streams run the packed-LUT loop over 32-bit
windows with bulk-slice LZ77 copies plus a predictor inverse that
vectorizes the left-free modes per tile span (~0.1-0.5 s/megapixel,
the documented slow lane — acceptable because no bench-corpus row
takes it, and a JPEG-style full vectorization of an LZ77-entangled
stream has no table-driven equivalent).

Interop is pinned in tests/test_webp.py against the system libwebp
via ctypes where present: libwebp-encoded images (which exercise
transforms, cache and backrefs) must decode to the exact pixels.

Per-row failures raise ValueError, including the crafted-header
pixel-count cap WebP shares with core/vp8 (``MAX_PIXELS_WEBP``).
"""

from __future__ import annotations

import struct

import numpy as np

from .sniff import MAGIC_RIFF, MAGIC_WEBP, MAX_PIXELS_WEBP

_VP8L_SIG = 0x2F

# RFC 9649 §4.2.2: LZ77 distance codes 1..120 address a 2D neighborhood
# (dx, dy) around the current pixel; codes >120 are linear distances.
# Table verified empirically against libwebp (crafted single-backref
# streams per code, decoded via WebPDecodeRGBA — tests/test_webp.py).
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]

# code-length-code transmission order (same idea as DEFLATE's; note 16
# sits after 5, not at the end — RFC 9649 kCodeLengthCodeOrder)
_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
              13, 14, 15]


class _BitReader:
    """LSB-first bit reader (VP8L packs bits little-endian within
    bytes; prefix-code bits are read one at a time, first bit = MSB of
    the canonical code).

    ``words()``/``words_np()`` expose the stream as 32-bit sliding
    windows (word[i] = bytes i..i+3 little-endian = the 32 bits
    starting at bit 8*i), built once and cached: the entropy-decode
    hot loop indexes these instead of slicing bytes per read — the
    same table-driven playbook as the JPEG scan decoders
    (core/jpeg.py _mcu_scan)."""

    __slots__ = ("data", "pos", "_w", "_wnp")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0                     # bit position
        self._w = None
        self._wnp = None

    def words_np(self) -> np.ndarray:
        if self._wnp is None:
            # 12 pad bytes: one decode-loop iteration past a truncated
            # stream consumes <= ~60 bits before the loop-head check
            # fires, so window indices stay in range
            b = np.frombuffer(self.data + b"\x00" * 12, np.uint8
                              ).astype(np.uint32)
            self._wnp = (b[:-3] | (b[1:-2] << 8) | (b[2:-1] << 16)
                         | (b[3:] << 24))
        return self._wnp

    def words(self) -> list[int]:
        if self._w is None:
            self._w = self.words_np().tolist()
        return self._w

    def bits(self, n: int) -> int:
        p = self.pos
        end = p + n
        if (end + 7) >> 3 > len(self.data):
            raise ValueError("WebP: bitstream truncated")
        word = int.from_bytes(
            self.data[p >> 3:(end + 7) >> 3], "little")
        self.pos = end
        return (word >> (p & 7)) & ((1 << n) - 1)

    def bit(self) -> int:
        return self.bits(1)


# --------------------------------------------------------- prefix codes

class _Prefix:
    """Canonical prefix code as a flat peek table: entry at every index
    whose low ``length`` bits spell the code (bit-reversed, because the
    stream is read LSB-first while codes are assigned MSB-first).

    ``packed`` is the hot-loop form: packed[idx] = (codelen << 16) |
    symbol, -1 for invalid prefixes; a zero-bit single-symbol code is
    packed[0] with codelen 0 so the decode loop needs no branch.
    ``uniform`` (all codes one length) + ``max_sym`` let the decoder
    spot fixed-stride literal-only streams and leave Python entirely."""

    __slots__ = ("packed", "peek", "single", "uniform", "max_sym")

    def __init__(self, lengths: list[int]):
        maxlen = max(lengths, default=0)
        if maxlen == 0:
            raise ValueError("WebP: empty prefix code")
        if maxlen > 15:
            raise ValueError("WebP: prefix code too deep")
        syms = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
        self.max_sym = max(s for _, s in syms)
        if len(syms) == 1:
            self.single = syms[0][1]
            self.peek = 0
            self.uniform = 0
            self.packed = [self.single]
            return
        self.single = None
        self.peek = maxlen
        self.uniform = maxlen if syms[0][0] == maxlen else None
        # Kraft sum must be EXACTLY full (libwebp rejects both ways):
        # under-full leaves unreachable -1 entries, and over-subscribed
        # lengths would overflow the canonical code counter so a later
        # code silently OVERWRITES an earlier symbol's table entries —
        # the table ends up with no -1 sentinel left to catch it at
        # decode time, and the stream decodes to garbage instead of
        # raising
        if sum(1 << (maxlen - l) for l, _ in syms) != 1 << maxlen:
            raise ValueError("WebP: invalid prefix code (Kraft sum)")
        table = [-1] * (1 << maxlen)
        code = 0
        prev_len = syms[0][0]
        for l, s in syms:
            code <<= l - prev_len
            prev_len = l
            rev = int(f"{code:0{l}b}"[::-1], 2)
            step = 1 << l
            ent = (l << 16) | s
            for idx in range(rev, 1 << maxlen, step):
                table[idx] = ent
            code += 1
        self.packed = table

    @classmethod
    def pair(cls, first: int, second: int) -> "_Prefix":
        """Two-symbol simple code: codes are assigned in TRANSMISSION
        order (first -> 0, second -> 1), not canonical symbol order."""
        p = cls.__new__(cls)
        p.single = None
        p.peek = 1
        p.uniform = 1
        p.max_sym = max(first, second)
        p.packed = [(1 << 16) | first, (1 << 16) | second]
        return p

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        p = br.pos
        data = br.data
        avail = (len(data) << 3) - p
        n = self.peek if avail >= self.peek else avail
        if n <= 0:
            raise ValueError("WebP: bitstream truncated")
        word = int.from_bytes(data[p >> 3:(p + n + 7) >> 3], "little")
        ent = self.packed[(word >> (p & 7)) & ((1 << n) - 1)]
        if ent < 0 or ent >> 16 > avail:
            raise ValueError("WebP: bad prefix code in stream")
        br.pos = p + (ent >> 16)
        return ent & 0xFFFF


def _read_prefix_code(br: _BitReader, alphabet: int) -> _Prefix:
    """One prefix code: simple (1-2 symbols) or normal (code-length
    coded) form, RFC 9649 §4.6.2."""
    if br.bit():                                    # simple form
        nsym = br.bit() + 1
        first = br.bits(8) if br.bit() else br.bit()
        lengths = [0] * alphabet
        if first >= alphabet:
            raise ValueError("WebP: simple-code symbol out of range")
        if nsym == 1:
            lengths[first] = 1           # zero-bit code, handled as single
            return _Prefix(lengths)
        second = br.bits(8)
        if second >= alphabet or second == first:
            raise ValueError("WebP: bad simple code pair")
        return _Prefix.pair(first, second)
    # normal form: code lengths themselves prefix-coded
    n_clc = 4 + br.bits(4)
    clc_lengths = [0] * 19
    for i in range(n_clc):
        clc_lengths[_CLC_ORDER[i]] = br.bits(3)
    clc = _Prefix(clc_lengths)
    lengths = [0] * alphabet
    if br.bit():                                    # explicit max reads
        length_nbits = 2 + 2 * br.bits(3)
        max_reads = 2 + br.bits(length_nbits)
    else:
        max_reads = alphabet
    sym = 0
    prev = 8
    while sym < alphabet:
        if max_reads <= 0:
            break
        max_reads -= 1
        cl = clc.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev = cl
        elif cl == 16:
            rep = 3 + br.bits(2)
            lengths[sym:sym + rep] = [prev] * min(rep, alphabet - sym)
            sym += rep
        elif cl == 17:
            sym += 3 + br.bits(3)
        else:                                       # 18
            sym += 11 + br.bits(7)
    if sym > alphabet:
        raise ValueError("WebP: code lengths overflow alphabet")
    return _Prefix(lengths)


# ------------------------------------------------------- image decoding

def _decode_uniform_literals(br: _BitReader, n: int,
                             trees: tuple) -> np.ndarray:
    """Fully-vectorized decode for fixed-stride literal-only streams:
    every tree's codes share one length and the green tree carries no
    backref/cache symbols, so pixel i's g/r/b/a codes sit at bit
    ``start + i*stride (+channel offset)`` — a numpy gather + LUT per
    channel, no Python loop.  This is exactly the shape the fixture
    encoder (fixtures/codecs/webp.vp8l_encode) emits, so fixture rows
    decode at PNG-like speed; general libwebp streams take the LUT-loop
    path below."""
    g_t, r_t, b_t, a_t, _ = trees
    lg, lr, lb, la = (g_t.uniform, r_t.uniform, b_t.uniform,
                      a_t.uniform)
    stride = lg + lr + lb + la
    start = br.pos
    total = start + n * stride
    if (total + 7) >> 3 > len(br.data):
        raise ValueError("WebP: bitstream truncated")
    w32 = br.words_np()
    chans = []
    base = start + stride * np.arange(n, dtype=np.int64)
    off = 0
    for t, L in ((g_t, lg), (r_t, lr), (b_t, lb), (a_t, la)):
        if L == 0:                                  # zero-bit single
            chans.append(np.full(n, t.single, np.int32))
        else:
            p = base + off
            vals = ((w32[p >> 3] >> (p & 7).astype(np.uint32))
                    & np.uint32((1 << L) - 1))
            lut = (np.array(t.packed, np.int64)
                   & 0xFFFF).astype(np.int32)
            chans.append(lut[vals])
        off += L
    br.pos = total
    g, r, b, a = chans
    return np.stack([a, r, g, b], axis=1).astype(np.uint8)


def _decode_pixels(br: _BitReader, w: int, h: int,
                   main: bool = False) -> np.ndarray:
    """Decode one (entropy-coded) ARGB image to an (h*w, 4) uint8 array
    in ARGB channel order, §4.6.1-4.6.3.

    The general path is the JPEG-playbook LUT loop: each prefix symbol
    costs one index into the packed peek table addressed by a 32-bit
    sliding window, pixels accumulate as ARGB ints so LZ77 backrefs are
    bulk list slices and the color cache is plain int hashing."""
    cache_bits = 0
    if br.bit():
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"WebP: bad color-cache size {cache_bits}")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    meta = None
    hbits = 0
    ngroups = 1
    if main and br.bit():                           # meta prefix codes
        hbits = br.bits(3) + 2
        mw = (w + (1 << hbits) - 1) >> hbits
        mh = (h + (1 << hbits) - 1) >> hbits
        mimg = _decode_pixels(br, mw, mh)
        # meta index = (red << 8) | green
        meta = ((mimg[:, 1].astype(np.int32) << 8)
                | mimg[:, 2]).reshape(mh, mw)
        ngroups = int(meta.max()) + 1

    galpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(ngroups):
        groups.append((_read_prefix_code(br, galpha),
                       _read_prefix_code(br, 256),
                       _read_prefix_code(br, 256),
                       _read_prefix_code(br, 256),
                       _read_prefix_code(br, 40)))

    n = w * h
    if (meta is None and not cache_bits
            and groups[0][0].max_sym < 256
            and all(t.uniform is not None for t in groups[0][:4])):
        return _decode_uniform_literals(br, n, groups[0])

    u32 = br.words()
    data_bits = len(br.data) << 3
    pos = br.pos
    packed_groups = [tuple((t.packed, (1 << t.peek) - 1) for t in g)
                     for g in groups]
    (tg, mg), (tr, mr), (tb, mb), (ta, ma), (td, md) = packed_groups[0]
    out: list[int] = []                             # ARGB ints
    append = out.append
    dist_map = _DIST_MAP
    cache_shift = 32 - cache_bits if cache_bits else 0
    meta_rows = meta.tolist() if meta is not None else None
    grow = meta_rows[0] if meta_rows is not None else None
    i = 0
    x = 0
    y = 0
    gi_last = 0
    while i < n:
        if pos > data_bits:           # ran off a truncated stream; the
            break                     # post-loop check raises

        if grow is not None:
            gi = grow[x >> hbits]
            if gi != gi_last:
                ((tg, mg), (tr, mr), (tb, mb), (ta, ma),
                 (td, md)) = packed_groups[gi]
                gi_last = gi
        e = tg[(u32[pos >> 3] >> (pos & 7)) & mg]
        if e < 0:
            raise ValueError("WebP: bad prefix code in stream")
        pos += e >> 16
        s = e & 0xFFFF
        if s < 256:                                 # literal
            # the r/b/a reads need the same -1 sentinel check as green:
            # an invalid prefix here would otherwise step pos BACKWARD
            # (-1 >> 16 is -1 in Python) and pack 0xFFFF into the
            # channel, overflowing the uint32 conversion downstream
            e = tr[(u32[pos >> 3] >> (pos & 7)) & mr]
            if e < 0:
                raise ValueError("WebP: bad prefix code in stream")
            pos += e >> 16
            r = e & 0xFFFF
            e = tb[(u32[pos >> 3] >> (pos & 7)) & mb]
            if e < 0:
                raise ValueError("WebP: bad prefix code in stream")
            pos += e >> 16
            b = e & 0xFFFF
            e = ta[(u32[pos >> 3] >> (pos & 7)) & ma]
            if e < 0:
                raise ValueError("WebP: bad prefix code in stream")
            pos += e >> 16
            argb = ((e & 0xFFFF) << 24) | (r << 16) | (s << 8) | b
            append(argb)
            if cache_bits:
                cache[(0x1E35A7BD * argb & 0xFFFFFFFF)
                      >> cache_shift] = argb
            i += 1
            x += 1
            if x == w:
                x = 0
                y += 1
                if meta_rows is not None and y < h:
                    grow = meta_rows[y >> hbits]
        elif s < 256 + 24:                          # LZ77 backref
            lc = s - 256
            if lc < 4:
                length = lc + 1
            else:
                eb = (lc - 2) >> 1
                length = (((2 + (lc & 1)) << eb) + 1
                          + ((u32[pos >> 3] >> (pos & 7))
                             & ((1 << eb) - 1)))
                pos += eb
            e = td[(u32[pos >> 3] >> (pos & 7)) & md]
            if e < 0:
                raise ValueError("WebP: bad prefix code in stream")
            pos += e >> 16
            dc = e & 0xFFFF
            if dc < 4:
                dv = dc + 1
            else:
                eb = (dc - 2) >> 1
                dv = (((2 + (dc & 1)) << eb) + 1
                      + ((u32[pos >> 3] >> (pos & 7))
                         & ((1 << eb) - 1)))
                pos += eb
            if dv > 120:
                dist = dv - 120
            else:
                dx, dy = dist_map[dv - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > i or i + length > n:
                raise ValueError("WebP: LZ77 reference out of range")
            if dist >= length:
                out.extend(out[i - dist:i - dist + length])
            else:
                for k in range(i, i + length):      # self-overlapping
                    append(out[k - dist])
            if cache_bits:
                for argb in out[i:i + length]:
                    cache[(0x1E35A7BD * argb & 0xFFFFFFFF)
                          >> cache_shift] = argb
            i += length
            x = i % w
            if meta_rows is not None:
                y = i // w
                grow = meta_rows[y >> hbits] if y < h else grow
        else:                                       # color-cache hit
            idx = s - 256 - 24
            if cache is None or idx >= len(cache):
                raise ValueError("WebP: cache index without cache")
            append(cache[idx])
            i += 1
            x += 1
            if x == w:
                x = 0
                y += 1
                if meta_rows is not None and y < h:
                    grow = meta_rows[y >> hbits]
    if pos > data_bits:
        raise ValueError("WebP: bitstream truncated")
    br.pos = pos
    arr = np.array(out, np.uint32)
    return np.stack([(arr >> 24), (arr >> 16) & 0xFF,
                     (arr >> 8) & 0xFF, arr & 0xFF],
                    axis=1).astype(np.uint8)


# ----------------------------------------------------------- transforms

def _avg2v(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (a + b) >> 1


# predictor modes whose value needs only the ALREADY-complete previous
# row (no left-pixel dependency): vectorizable over a whole tile span
_L_FREE_MODES = frozenset((0, 2, 3, 4, 8, 9))


def _inv_predictor(img: np.ndarray, modes: np.ndarray,
                   hbits: int) -> None:
    """In-place inverse predictor transform, §4.2.1.1.  ``img`` is
    (h, w, 4) int32 residuals -> pixels.

    Row 0 is a cumulative sum; per later row, tile spans whose mode
    doesn't involve the left pixel apply as one numpy slice op, and
    left-dependent spans run a plain-int loop (no per-pixel numpy
    temporaries — the loop body is branches and shifts on ints)."""
    h, w = img.shape[:2]
    img[0, 0, 0] += 255                             # black TL seed
    np.cumsum(img[0], axis=0, out=img[0])           # row 0 = mode L
    img[0] &= 0xFF
    for y in range(1, h):
        row = img[y]
        above = img[y - 1]
        row[0] = (row[0] + above[0]) & 0xFF         # col 0 = mode T
        mrow = modes[y >> hbits]
        x = 1
        while x < w:
            tx = x >> hbits
            xe = min(w, (tx + 1) << hbits)
            mode = int(mrow[tx])
            if mode in _L_FREE_MODES:
                if mode == 0:
                    row[x:xe, 0] += 255
                    row[x:xe] &= 0xFF
                    x = xe
                    continue
                if mode == 2:
                    pred = above[x:xe]
                elif mode == 4:
                    pred = above[x - 1:xe - 1]
                elif mode == 8:
                    pred = _avg2v(above[x - 1:xe - 1], above[x:xe])
                else:                               # 3 / 9 need TR
                    if xe < w:
                        tr = above[x + 1:xe + 1]
                    else:
                        # right-edge TR: rows are contiguous in
                        # libwebp, so top[w] is THIS row's pixel 0
                        # (already decoded)
                        tr = np.concatenate(
                            [above[x + 1:w], row[0:1]])
                    pred = tr if mode == 3 \
                        else _avg2v(above[x:xe], tr)
                row[x:xe] = (row[x:xe] + pred) & 0xFF
                x = xe
                continue
            if not 0 <= mode <= 13:
                raise ValueError(f"WebP: bad predictor mode {mode}")
            # left-dependent span: ints only
            la, lr, lg, lb = row[x - 1].tolist()
            ab = above[x - 1:min(xe + 1, w)].tolist()
            if xe >= w:
                ab.append(row[0].tolist())          # TR at edge = this
                                                    # row's pixel 0
            res = row[x:xe].tolist()
            seg = []
            for k in range(xe - x):
                tla, tlr, tlg, tlb = ab[k]
                ta, tr_, tg, tb = ab[k + 1]
                if mode == 1:
                    pa, pr, pg, pb = la, lr, lg, lb
                elif mode == 5:
                    ra, rr, rg, rb = ab[k + 2]
                    pa = ((((la + ra) >> 1) + ta) >> 1)
                    pr = ((((lr + rr) >> 1) + tr_) >> 1)
                    pg = ((((lg + rg) >> 1) + tg) >> 1)
                    pb = ((((lb + rb) >> 1) + tb) >> 1)
                elif mode == 6:
                    pa = (la + tla) >> 1
                    pr = (lr + tlr) >> 1
                    pg = (lg + tlg) >> 1
                    pb = (lb + tlb) >> 1
                elif mode == 7:
                    pa = (la + ta) >> 1
                    pr = (lr + tr_) >> 1
                    pg = (lg + tg) >> 1
                    pb = (lb + tb) >> 1
                elif mode == 10:
                    ra, rr, rg, rb = ab[k + 2]
                    pa = ((((la + tla) >> 1) + ((ta + ra) >> 1)) >> 1)
                    pr = ((((lr + tlr) >> 1) + ((tr_ + rr) >> 1)) >> 1)
                    pg = ((((lg + tlg) >> 1) + ((tg + rg) >> 1)) >> 1)
                    pb = ((((lb + tlb) >> 1) + ((tb + rb) >> 1)) >> 1)
                elif mode == 11:                    # Select
                    fa = la + ta - tla
                    fr = lr + tr_ - tlr
                    fg = lg + tg - tlg
                    fb = lb + tb - tlb
                    pl = (abs(fa - la) + abs(fr - lr)
                          + abs(fg - lg) + abs(fb - lb))
                    pt = (abs(fa - ta) + abs(fr - tr_)
                          + abs(fg - tg) + abs(fb - tb))
                    if pl < pt:
                        pa, pr, pg, pb = la, lr, lg, lb
                    else:
                        pa, pr, pg, pb = ta, tr_, tg, tb
                elif mode == 12:                    # ClampAddSubFull
                    pa = la + ta - tla
                    pa = 0 if pa < 0 else (255 if pa > 255 else pa)
                    pr = lr + tr_ - tlr
                    pr = 0 if pr < 0 else (255 if pr > 255 else pr)
                    pg = lg + tg - tlg
                    pg = 0 if pg < 0 else (255 if pg > 255 else pg)
                    pb = lb + tb - tlb
                    pb = 0 if pb < 0 else (255 if pb > 255 else pb)
                else:                               # 13 ClampAddSubHalf
                    aa = (la + ta) >> 1
                    d = aa - tla
                    pa = aa + (d >> 1 if d >= 0 else -((-d) >> 1))
                    pa = 0 if pa < 0 else (255 if pa > 255 else pa)
                    aa = (lr + tr_) >> 1
                    d = aa - tlr
                    pr = aa + (d >> 1 if d >= 0 else -((-d) >> 1))
                    pr = 0 if pr < 0 else (255 if pr > 255 else pr)
                    aa = (lg + tg) >> 1
                    d = aa - tlg
                    pg = aa + (d >> 1 if d >= 0 else -((-d) >> 1))
                    pg = 0 if pg < 0 else (255 if pg > 255 else pg)
                    aa = (lb + tb) >> 1
                    d = aa - tlb
                    pb = aa + (d >> 1 if d >= 0 else -((-d) >> 1))
                    pb = 0 if pb < 0 else (255 if pb > 255 else pb)
                rk = res[k]
                la = (rk[0] + pa) & 0xFF
                lr = (rk[1] + pr) & 0xFF
                lg = (rk[2] + pg) & 0xFF
                lb = (rk[3] + pb) & 0xFF
                seg.append((la, lr, lg, lb))
            row[x:xe] = seg
            x = xe


def _ct_delta(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    """ColorTransformDelta: (int8)t * (int8)c >> 5, vectorized."""
    ts = t.astype(np.int8).astype(np.int32)
    cs = c.astype(np.int8).astype(np.int32)
    return (ts * cs) >> 5


def _inv_color_transform(img: np.ndarray, cts: np.ndarray,
                         hbits: int) -> None:
    """In-place inverse cross-color transform, §4.2.1.2.  ``cts`` is the
    (bh, bw, 4) transform image: red ch = red_to_blue, green ch =
    green_to_blue, blue ch = green_to_red."""
    h, w = img.shape[:2]
    ys = (np.arange(h) >> hbits)
    xs = (np.arange(w) >> hbits)
    g2r = cts[:, :, 3][np.ix_(ys, xs)]
    g2b = cts[:, :, 2][np.ix_(ys, xs)]
    r2b = cts[:, :, 1][np.ix_(ys, xs)]
    g = img[:, :, 2]
    r = (img[:, :, 1] + _ct_delta(g2r, g)) & 0xFF
    b = (img[:, :, 3] + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
    img[:, :, 1] = r
    img[:, :, 3] = b


def _decode_sub_image(br: _BitReader, w: int, h: int) -> np.ndarray:
    """Transform/meta sub-image -> (h, w, 4) uint8 ARGB."""
    return _decode_pixels(br, w, h).reshape(h, w, 4)


def vp8l_decode(data: bytes) -> np.ndarray:
    """Decode a raw VP8L chunk payload -> (h, w, 3) uint8 RGB (alpha is
    dropped: the extraction pipeline pages are opaque; partially
    transparent crawl images still gray deterministically)."""
    if not data or data[0] != _VP8L_SIG:
        raise ValueError("WebP: bad VP8L signature")
    br = _BitReader(data)
    br.pos = 8
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bit()                                        # alpha hint
    if br.bits(3) != 0:
        raise ValueError("WebP: unknown VP8L version")
    if w * h > MAX_PIXELS_WEBP:                     # crafted-header guard
        raise ValueError("WebP: bad dimensions")

    # transforms, in bitstream order; inverses apply in reverse
    transforms = []
    seen = set()
    eff_w = w
    while br.bit():
        t = br.bits(2)
        if t in seen:
            raise ValueError("WebP: repeated transform")
        seen.add(t)
        if t == 2:                                  # subtract green
            transforms.append(("subgreen",))
        elif t in (0, 1):                           # predictor / color
            sb = br.bits(3) + 2
            bw = (eff_w + (1 << sb) - 1) >> sb
            bh = (h + (1 << sb) - 1) >> sb
            sub = _decode_sub_image(br, bw, bh)
            transforms.append(("pred" if t == 0 else "color", sb, sub))
        else:                                       # color indexing
            psize = br.bits(8) + 1
            pal = _decode_sub_image(br, psize, 1)[0].astype(np.int32)
            pal = (np.cumsum(pal, axis=0) & 0xFF).astype(np.uint8)
            if psize <= 2:
                wbits = 3
            elif psize <= 4:
                wbits = 2
            elif psize <= 16:
                wbits = 1
            else:
                wbits = 0
            transforms.append(("palette", pal, wbits, eff_w))
            eff_w = (eff_w + (1 << wbits) - 1) >> wbits

    img = _decode_pixels(br, eff_w, h, main=True) \
        .reshape(h, eff_w, 4).astype(np.int32)

    for tr in reversed(transforms):
        if tr[0] == "palette":
            _, pal, wbits, orig_w = tr
            if wbits:
                per = 1 << wbits                    # pixels per green byte
                bits = 8 >> wbits
                g = img[:, :, 2].astype(np.uint8)
                cols = []
                for k in range(per):
                    cols.append((g >> (k * bits)) & ((1 << bits) - 1))
                idx = np.stack(cols, axis=2).reshape(h, -1)[:, :orig_w]
            else:
                idx = img[:, :, 2][:, :orig_w]
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("WebP: palette index out of range")
            img = pal[idx].astype(np.int32)
        elif tr[0] == "subgreen":
            img[:, :, 1] = (img[:, :, 1] + img[:, :, 2]) & 0xFF
            img[:, :, 3] = (img[:, :, 3] + img[:, :, 2]) & 0xFF
        elif tr[0] == "color":
            _inv_color_transform(img, tr[2].astype(np.int32), tr[1])
        else:                                       # predictor
            _inv_predictor(img, tr[2][:, :, 2], tr[1])

    return img[:, :, 1:4].astype(np.uint8)          # ARGB -> RGB


def webp_decode(payload: bytes) -> np.ndarray:
    """-> HxWx3 uint8 RGB from a WebP container: lossless VP8L (this
    module) or lossy VP8 key frames (core/vp8.py, byte-identical to
    libwebp's fancy-upsampled RGB output).

    Animated containers (VP8X + ANIM + ANMF) decode to their FIRST
    frame's pixels — the representative still for feature extraction,
    matching how crawl pipelines treat animated GIF/WebP."""
    if payload[:4] != MAGIC_RIFF or payload[8:12] != MAGIC_WEBP:
        raise ValueError("not a WebP")

    def scan(buf: bytes, pos: int, end: int):
        while pos + 8 <= end:
            fourcc = buf[pos:pos + 4]
            size = struct.unpack_from("<I", buf, pos + 4)[0]
            if fourcc in (b"VP8L", b"VP8 "):
                return fourcc, buf[pos + 8:pos + 8 + size]
            if fourcc == b"ANMF" and size > 16:
                # 16-byte frame header (x/2, y/2, w-1, h-1, duration,
                # flags), then the frame's own image subchunks
                sub = scan(buf, pos + 8 + 16, min(pos + 8 + size, end))
                if sub is not None:
                    return sub
            pos += 8 + size + (size & 1)
        return None

    found = scan(payload, 12, len(payload))
    if found is None:
        raise ValueError("WebP: no image chunk found")
    fourcc, body = found
    if fourcc == b"VP8L":
        return vp8l_decode(body)
    from .vp8 import vp8_decode
    return vp8_decode(body)

