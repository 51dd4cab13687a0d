"""VP8 intra-frame (lossy WebP) decoder — pure Python, RFC 6386.

WebP lossy payloads are always VP8 KEY frames (the container carries a
single still), which prunes the spec to its intra half: boolean
arithmetic decoder (§7), keyframe header + per-MB intra modes (§9/§11),
token/coefficient decode with the default probability tables (§13),
4x4 IDCT / WHT (§14), intra prediction (§12), and the in-loop
deblocking filter (§15).  No inter prediction, motion vectors, or
golden/altref state — a keyframe never references them.

The per-bool, per-coefficient and per-pixel loops run on Python ints:
the token decoder keeps the boolean decoder's state in locals, and the
Y/U/V planes are row-strided ``bytearray``s that prediction and the
inverse transforms read and write directly.  Each plane becomes numpy
once, for the loop filter and the crop.  A partition that ends early
reads as zero bytes past its end, so a truncated stream decodes to
the planes its zero-filled tail codes for (``tests/
test_decoder_truncation.py`` pins those outcomes).

Constants live in core/vp8_tables.py (published RFC 6386 tables).
Decode parity is pinned bit-exactly against the system libwebp in
tests/test_vp8.py at the YUV stage (WebPDecodeYUV) and at the RGB
stage (WebPDecodeRGB, fancy upsampling) across encoder quality /
method / segment settings.

The reference accepts any cv2-decodable upload
(/root/reference/src/api/v1/utils.py:15-18); cv2 links libwebp, so
lossy WebP — the dominant WebP flavor in real crawls — belongs at the
S3 decode seam next to JPEG/PNG/GIF/VP8L.
"""

from __future__ import annotations

import numpy as np

from .sniff import MAX_PIXELS_WEBP
from .vp8_tables import (CAT_BASE, COEFF_PROBA0, COEFF_UPDATE_PROBA,
                         K_AC_TABLE, K_BANDS, K_BMODES_PROBA, K_CAT,
                         K_DC_TABLE, ZIGZAG)

# 16x16 luma / 8x8 chroma prediction modes
DC_PRED, TM_PRED, V_PRED, H_PRED, B_PRED = 0, 1, 2, 3, 4
# 4x4 ("B") prediction modes, RFC order
(B_DC, B_TM, B_VE, B_HE, B_RD, B_VR, B_LD, B_VL, B_HD, B_HU) = range(10)

# _SPLIT[prob][rm] is the §7.3 split of a range rm + 1:
# 1 + ((range - 1) * prob >> 8), looked up instead of computed per bool
_SPLIT = [[1 + ((rm * prob) >> 8) for rm in range(255)]
          for prob in range(256)]
# a range below 128 (``rm`` = range - 1 below 127) renormalizes by the
# left shift that brings it back into 128..255
_SHIFT = [8 - (rm + 1).bit_length() for rm in range(127)]
_NORM = [((rm + 1) << s) - 1 for rm, s in enumerate(_SHIFT)]

# RFC 6386 trees in libvpx's array form: node i reads one bool with
# probs[i >> 1] and moves to tree[i + bool]; an entry <= 0 is the leaf
# -entry (node 0 is the root and never a child, so leaf 0 is unambiguous)
_BOOL_TREE = (0, -1)
_SEGMENT_TREE = (2, 4, -0, -1, -2, -3)
_KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
_KF_YMODE_PROBS = (145, 156, 163, 128)
_UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
_KF_UV_MODE_PROBS = (142, 114, 183)
_BMODE_TREE = (-B_DC, 2, -B_TM, 4, -B_VE, 6, 8, 12, -B_HE, 10,
               -B_RD, -B_VR, -B_LD, 14, -B_VL, 16, -B_HD, -B_HU)


class _Bool:
    """Boolean arithmetic decoder, RFC 6386 §7.3, in libwebp's form.

    ``rm`` is the range minus one (127..254 between bools).  ``value``
    holds ``bits`` + 8 undecoded bits, and its top 8 are compared with
    the split.  Renormalizing only lowers ``bits``; when that goes
    negative, two more bytes are shifted in, so the window is refilled
    once per 16 bits consumed.  Past the end of the partition the
    decoder reads zero bytes.

    ``tree`` reads one tree symbol with the state in locals, so a mode
    costs one method call, not one per bool; ``get`` is the one-node
    tree, for the frame header.  ``_decode_residuals`` inlines the same
    step for the coefficient tokens and leaves the state where ``tree``
    expects it."""

    __slots__ = ("data", "pos", "value", "rm", "bits")

    def __init__(self, data: bytes):
        self.data = data
        self.value = ((data[0] if len(data) > 0 else 0) << 8) \
            | (data[1] if len(data) > 1 else 0)
        self.pos = 2
        self.bits = 8
        self.rm = 254

    def tree(self, tree: tuple, probs) -> int:
        data = self.data
        dlen = len(data)
        pos = self.pos
        value = self.value
        rm = self.rm
        bits = self.bits
        i = 0
        while True:
            split = _SPLIT[probs[i >> 1]][rm]
            big = split << bits
            if value >= big:
                value -= big
                rm -= split
                i = tree[i + 1]
            else:
                rm = split - 1
                i = tree[i]
            if rm < 127:
                bits -= _SHIFT[rm]
                rm = _NORM[rm]
                if bits < 0:
                    value = (value << 16) | (
                        (data[pos] << 8) | data[pos + 1] if pos + 1 < dlen
                        else (data[pos] << 8 if pos < dlen else 0))
                    pos += 2
                    bits += 16
            if i <= 0:
                break
        self.pos = pos
        self.value = value
        self.rm = rm
        self.bits = bits
        return -i

    def get(self, prob: int) -> int:
        return self.tree(_BOOL_TREE, (prob,))

    def bit(self) -> int:                   # prob-128 raw bit
        return self.tree(_BOOL_TREE, (128,))

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def signed(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.bit() else v


def _clamp_q(q: int, mx: int = 127) -> int:
    return 0 if q < 0 else (mx if q > mx else q)


class _Header:
    __slots__ = (
        "width", "height", "use_segment", "update_map", "absolute",
        "seg_quant", "seg_filter", "seg_tree_probs", "filter_type",
        "filter_level", "sharpness", "lf_delta", "ref_delta",
        "mode_delta", "n_parts", "q_index", "ydc_d", "y2dc_d",
        "y2ac_d", "uvdc_d", "uvac_d", "use_skip", "skip_prob",
        "probs")


def _parse_header(br: _Bool, width: int, height: int) -> _Header:
    h = _Header()
    h.width, h.height = width, height
    br.bit()                                        # color space
    br.bit()                                        # clamping type
    h.use_segment = br.bit()
    h.update_map = 0
    h.absolute = 0
    h.seg_quant = [0, 0, 0, 0]
    h.seg_filter = [0, 0, 0, 0]
    h.seg_tree_probs = [255, 255, 255]
    if h.use_segment:
        h.update_map = br.bit()
        if br.bit():                                # update feature data
            h.absolute = br.bit()
            for s in range(4):
                h.seg_quant[s] = br.signed(7) if br.bit() else 0
            for s in range(4):
                h.seg_filter[s] = br.signed(6) if br.bit() else 0
        if h.update_map:
            for s in range(3):
                h.seg_tree_probs[s] = br.literal(8) if br.bit() else 255
    h.filter_type = br.bit()                        # 1 = simple
    h.filter_level = br.literal(6)
    h.sharpness = br.literal(3)
    h.lf_delta = br.bit()
    h.ref_delta = [0, 0, 0, 0]
    h.mode_delta = [0, 0, 0, 0]
    if h.lf_delta and br.bit():                     # deltas updated
        for k in range(4):
            if br.bit():
                h.ref_delta[k] = br.signed(6)
        for k in range(4):
            if br.bit():
                h.mode_delta[k] = br.signed(6)
    h.n_parts = 1 << br.literal(2)
    h.q_index = br.literal(7)
    h.ydc_d = br.signed(4) if br.bit() else 0
    h.y2dc_d = br.signed(4) if br.bit() else 0
    h.y2ac_d = br.signed(4) if br.bit() else 0
    h.uvdc_d = br.signed(4) if br.bit() else 0
    h.uvac_d = br.signed(4) if br.bit() else 0
    br.bit()                                        # refresh entropy (kf)
    probs = [[[list(COEFF_PROBA0[t][b][c]) for c in range(3)]
              for b in range(8)] for t in range(4)]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                upd = COEFF_UPDATE_PROBA[t][b][c]
                row = probs[t][b][c]
                for p in range(11):
                    if br.get(upd[p]):
                        row[p] = br.literal(8)
    h.probs = probs
    h.use_skip = br.bit()
    h.skip_prob = br.literal(8) if h.use_skip else 0
    return h


def _dequant_factors(h: _Header):
    """Per-segment (y1dc, y1ac, y2dc, y2ac, uvdc, uvac), §14.1."""
    out = []
    for s in range(4):
        if h.use_segment:
            q = h.seg_quant[s] if h.absolute \
                else h.q_index + h.seg_quant[s]
        else:
            q = h.q_index
        q = _clamp_q(q)
        y1dc = K_DC_TABLE[_clamp_q(q + h.ydc_d)]
        y1ac = K_AC_TABLE[q]
        y2dc = K_DC_TABLE[_clamp_q(q + h.y2dc_d)] * 2
        y2ac = K_AC_TABLE[_clamp_q(q + h.y2ac_d)] * 155 // 100
        if y2ac < 8:
            y2ac = 8
        uvdc = K_DC_TABLE[_clamp_q(q + h.uvdc_d, 117)]
        uvac = K_AC_TABLE[_clamp_q(q + h.uvac_d)]
        out.append((y1dc, y1ac, y2dc, y2ac, uvdc, uvac))
    return out


# --------------------------------------------------------------- tokens

# coefficient token tree, §13.2; leaves are DCT_0 (0), ONE..FOUR (1..4),
# DCT_CAT1..6 (5..10) and EOB (11).  The EOB and DCT_0 bools are decoded
# inline, so the walk starts at node 4, the "one or bigger" bool.
_COEF_TREE = (-11, 2, 0, 4, -1, 6, 8, 12, -2, 10, -3, -4, 14, 16,
              -5, -6, 18, 20, -7, -8, -9, -10)
# token -> (smallest magnitude, split tables of its extra bits, MSB
# first, followed by the prob-128 sign bit)
_TOKEN_TAIL = [None] + [(v, (_SPLIT[128],)) for v in (1, 2, 3, 4)] + [
    (base, tuple(_SPLIT[p] for p in probs) + (_SPLIT[128],))
    for base, probs in zip(CAT_BASE, K_CAT)]


def _split_tables(probs) -> list:
    """The frame's coefficient probabilities as split tables, indexed
    [block type][position][context][tree node]."""
    return [[[[_SPLIT[p] for p in ctx] for ctx in probs[t][K_BANDS[n]]]
             for n in range(16)] for t in range(4)]


def _block_schedule(by_pos, dq: tuple, has_y2: bool) -> list[tuple]:
    """The blocks of one macroblock in bitstream order, as
    ``_decode_residuals`` reads them: (``_split_tables`` of the block
    type, first position, DC and AC dequant factors, left and above
    nonzero-context slots, offset in the 400-int coefficient list, mask
    bit).  Y blocks are 0..15, U 16..19, V 20..23 and Y2 24."""
    y1dc, y1ac, y2dc, y2ac, uvdc, uvac = dq
    out = []
    if has_y2:
        out.append((by_pos[1], 0, y2dc, y2ac, 8, 8, 384, 1 << 24))
    ty, first = (0, 1) if has_y2 else (3, 0)
    for b in range(16):
        out.append((by_pos[ty], first, y1dc, y1ac, b >> 2, b & 3,
                    16 * b, 1 << b))
    for base, ctx in ((16, 4), (20, 6)):
        for b in range(4):
            out.append((by_pos[2], 0, uvdc, uvac, ctx + (b >> 1),
                        ctx + (b & 1), 16 * (base + b), 1 << (base + b)))
    return out


def _decode_residuals(br: _Bool, blocks: list[tuple], lnz: list[int],
                      anz: list[int], out: list[int]) -> int:
    """Decode one macroblock's coefficient tokens, §13, into ``out``
    (dequantized, natural order, 16 ints per block at the schedule's
    offsets).  Each block's nonzero flag goes to its ``lnz``/``anz``
    context slots; returns the mask of blocks with a nonzero token.

    The boolean decoder is inlined with its state in locals: every
    ``# bool`` step below is the step of ``_Bool.tree``, with the
    split table of the node's probability (``p`` holds the 11 of the
    current position and context), and the state goes back to ``br``
    once per macroblock."""
    data = br.data
    dlen = len(data)
    pos = br.pos
    value = br.value
    rm = br.rm
    bits = br.bits
    shift = _SHIFT
    norm = _NORM
    tree = _COEF_TREE
    tails = _TOKEN_TAIL
    zig = ZIGZAG
    mask = 0
    for tabs, n, dq_dc, dq_ac, li, ai, off, bit in blocks:
        p = tabs[n][lnz[li] + anz[ai]]
        nz = 0
        while True:
            # bool p[0]: 0 = end of block
            split = p[0][rm]
            big = split << bits
            if value >= big:
                value -= big
                rm -= split
                b = 1
            else:
                rm = split - 1
                b = 0
            if rm < 127:
                bits -= shift[rm]
                rm = norm[rm]
                if bits < 0:
                    value = (value << 16) | (
                        (data[pos] << 8) | data[pos + 1] if pos + 1 < dlen
                        else (data[pos] << 8 if pos < dlen else 0))
                    pos += 2
                    bits += 16
            if not b:
                break
            while True:
                # bool p[1]: 0 = DCT_0, which no end of block follows
                split = p[1][rm]
                big = split << bits
                if value >= big:
                    value -= big
                    rm -= split
                    b = 1
                else:
                    rm = split - 1
                    b = 0
                if rm < 127:
                    bits -= shift[rm]
                    rm = norm[rm]
                    if bits < 0:
                        value = (value << 16) | (
                            (data[pos] << 8) | data[pos + 1]
                            if pos + 1 < dlen
                            else (data[pos] << 8 if pos < dlen else 0))
                        pos += 2
                        bits += 16
                if b:
                    break
                n += 1
                if n == 16:
                    break
                p = tabs[n][0]
            if n == 16:
                break
            i = 4
            while i > 0:
                # bool p[i >> 1]: one step down the token tree
                split = p[i >> 1][rm]
                big = split << bits
                if value >= big:
                    value -= big
                    rm -= split
                    i = tree[i + 1]
                else:
                    rm = split - 1
                    i = tree[i]
                if rm < 127:
                    bits -= shift[rm]
                    rm = norm[rm]
                    if bits < 0:
                        value = (value << 16) | (
                            (data[pos] << 8) | data[pos + 1]
                            if pos + 1 < dlen
                            else (data[pos] << 8 if pos < dlen else 0))
                        pos += 2
                        bits += 16
            base, tail = tails[-i]
            v = 0
            for tab in tail:
                # bool: extra bits MSB first, then the sign
                split = tab[rm]
                big = split << bits
                if value >= big:
                    value -= big
                    rm -= split
                    v += v + 1
                else:
                    rm = split - 1
                    v += v
                if rm < 127:
                    bits -= shift[rm]
                    rm = norm[rm]
                    if bits < 0:
                        value = (value << 16) | (
                            (data[pos] << 8) | data[pos + 1]
                            if pos + 1 < dlen
                            else (data[pos] << 8 if pos < dlen else 0))
                        pos += 2
                        bits += 16
            out[off + zig[n]] = (-(base + (v >> 1)) if v & 1
                                 else base + (v >> 1)) \
                * (dq_ac if n else dq_dc)
            nz = 1
            n += 1
            if n == 16:
                break
            p = tabs[n][1 if i == -1 else 2]
        lnz[li] = anz[ai] = nz
        if nz:
            mask |= bit
    br.pos = pos
    br.value = value
    br.rm = rm
    br.bits = bits
    return mask


# ----------------------------------------------------------- transforms

def _idct4x4_add(c: list, P: bytearray, o: int, S: int) -> None:
    """4x4 inverse DCT added to the prediction at offset ``o`` of the
    row-stride-``S`` plane ``P``, §14.3 (integer exact:
    MUL1(a) = ((a*20091)>>16)+a, MUL2(a) = (a*35468)>>16).  A DC-only
    block adds (DC + 4) >> 3 to every pixel, as the full passes do."""
    if any(c[1:]):
        tmp = [0] * 16
        for i in range(4):                              # vertical pass
            a = c[i] + c[8 + i]
            b = c[i] - c[8 + i]
            c1 = ((c[4 + i] * 35468) >> 16) \
                - (((c[12 + i] * 20091) >> 16) + c[12 + i])
            d = (((c[4 + i] * 20091) >> 16) + c[4 + i]) \
                + ((c[12 + i] * 35468) >> 16)
            tmp[i] = a + d
            tmp[12 + i] = a - d
            tmp[4 + i] = b + c1
            tmp[8 + i] = b - c1
        res = []
        for r in range(0, 16, 4):                       # horizontal pass
            dc = tmp[r] + 4
            a = dc + tmp[r + 2]
            b = dc - tmp[r + 2]
            c1 = ((tmp[r + 1] * 35468) >> 16) \
                - (((tmp[r + 3] * 20091) >> 16) + tmp[r + 3])
            d = (((tmp[r + 1] * 20091) >> 16) + tmp[r + 1]) \
                + ((tmp[r + 3] * 35468) >> 16)
            res.append(((a + d) >> 3, (b + c1) >> 3, (b - c1) >> 3,
                        (a - d) >> 3))
    else:                                           # DC only
        dc = (c[0] + 4) >> 3
        res = ((dc, dc, dc, dc),) * 4
    for d0, d1, d2, d3 in res:
        p0, p1, p2, p3 = P[o:o + 4]
        v0 = p0 + d0
        v1 = p1 + d1
        v2 = p2 + d2
        v3 = p3 + d3
        P[o:o + 4] = (0 if v0 < 0 else (255 if v0 > 255 else v0),
                      0 if v1 < 0 else (255 if v1 > 255 else v1),
                      0 if v2 < 0 else (255 if v2 > 255 else v2),
                      0 if v3 < 0 else (255 if v3 > 255 else v3))
        o += S


def _iwht4x4(c: list[int]) -> list[int]:
    """Inverse Walsh-Hadamard for the Y2 block -> 16 luma DCs, §14.3."""
    tmp = [0] * 16
    for i in range(4):
        a = c[i] + c[12 + i]
        b = c[4 + i] + c[8 + i]
        c1 = c[4 + i] - c[8 + i]
        d = c[i] - c[12 + i]
        tmp[i] = a + b
        tmp[4 + i] = c1 + d
        tmp[8 + i] = a - b
        tmp[12 + i] = d - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        dc = tmp[r] + 3
        a = dc + tmp[r + 2]
        b = dc - tmp[r + 2]
        c1 = tmp[r + 1] - tmp[r + 3]
        d = tmp[r + 1] + tmp[r + 3]
        out[r] = (a + d) >> 3
        out[r + 3] = (a - d) >> 3
        out[r + 1] = (b + c1) >> 3
        out[r + 2] = (b - c1) >> 3
    return out


# ------------------------------------------------------ intra predictors
#
# Both predictors write into a padded plane P (row stride S) at the
# offset o of the block's top-left pixel: the row above is at o - S and
# the column to the left at o - 1.

_ROW4 = [bytes((v,)) * 4 for v in range(256)]      # a 4-pixel run of v


def _pred_block(P: bytearray, o: int, S: int, size: int, mode: int,
                have_above: bool, have_left: bool) -> None:
    """16x16 / 8x8 whole-block prediction, §12.2."""
    above = P[o - S:o - S + size]
    left = P[o - 1:o - 1 + size * S:S]
    if mode == DC_PRED:
        if have_above and have_left:
            dc = (sum(above) + sum(left) + size) \
                >> (5 if size == 16 else 4)
        elif have_above:
            dc = (sum(above) + (size >> 1)) >> (4 if size == 16 else 3)
        elif have_left:
            dc = (sum(left) + (size >> 1)) >> (4 if size == 16 else 3)
        else:
            dc = 128
        rows = [bytes((dc,)) * size] * size
    elif mode == V_PRED:
        rows = [above] * size
    elif mode == H_PRED:
        rows = [bytes((v,)) * size for v in left]
    else:                                           # TM_PRED
        al = P[o - S - 1]
        rows = [bytes(0 if v < 0 else (255 if v > 255 else v)
                      for v in (l - al + a for a in above))
                for l in left]
    for r, row in enumerate(rows):
        q = o + r * S
        P[q:q + size] = row


def _pred_i4x4(P: bytearray, o: int, S: int, bmodes: list[int], tr_mb,
               mask: int, coeffs: list[int]) -> None:
    """The 16 subblocks of a B_PRED macroblock in raster order: 4x4
    prediction (§12.3), then the inverse transform of each subblock
    whose ``mask`` bit is set.  ``tr_mb`` is the above-right context of
    the right column.  Pixel names follow the RFC: x the corner, A..D
    above, E..H above-right, I..L left."""
    b = 0
    for j in range(4):
        o4 = o + 4 * j * S
        for i in range(4):
            mode = bmodes[b]
            t = o4 - S
            if i == 3:
                x, A, B, C, D = P[t - 1:t + 4]
                E, F, G, H = tr_mb
            else:
                x, A, B, C, D, E, F, G, H = P[t - 1:t + 8]
            I, J, K, L = P[o4 - 1:o4 + 3 * S:S]
            if mode == B_DC:
                dc = (A + B + C + D + I + J + K + L + 4) >> 3
                r0 = r1 = r2 = r3 = _ROW4[dc]
            elif mode == B_TM:
                r0, r1, r2, r3 = (
                    tuple(0 if v < 0 else (255 if v > 255 else v)
                          for v in (d + A, d + B, d + C, d + D))
                    for d in (I - x, J - x, K - x, L - x))
            elif mode == B_VE:
                r0 = r1 = r2 = r3 = ((x + 2 * A + B + 2) >> 2,
                                     (A + 2 * B + C + 2) >> 2,
                                     (B + 2 * C + D + 2) >> 2,
                                     (C + 2 * D + E + 2) >> 2)
            elif mode == B_HE:
                r0 = ((x + 2 * I + J + 2) >> 2,) * 4
                r1 = ((I + 2 * J + K + 2) >> 2,) * 4
                r2 = ((J + 2 * K + L + 2) >> 2,) * 4
                r3 = ((K + 3 * L + 2) >> 2,) * 4
            elif mode == B_RD:
                e0 = (J + 2 * K + L + 2) >> 2
                e1 = (I + 2 * J + K + 2) >> 2
                e2 = (x + 2 * I + J + 2) >> 2
                e3 = (A + 2 * x + I + 2) >> 2
                e4 = (B + 2 * A + x + 2) >> 2
                e5 = (C + 2 * B + A + 2) >> 2
                e6 = (D + 2 * C + B + 2) >> 2
                r0, r1, r2, r3 = ((e3, e4, e5, e6), (e2, e3, e4, e5),
                                  (e1, e2, e3, e4), (e0, e1, e2, e3))
            elif mode == B_VR:
                a0 = (x + A + 1) >> 1
                a1 = (A + B + 1) >> 1
                a2 = (B + C + 1) >> 1
                a3 = (C + D + 1) >> 1
                b0 = (K + 2 * J + I + 2) >> 2
                b1 = (J + 2 * I + x + 2) >> 2
                b2 = (I + 2 * x + A + 2) >> 2
                b3 = (x + 2 * A + B + 2) >> 2
                b4 = (A + 2 * B + C + 2) >> 2
                b5 = (B + 2 * C + D + 2) >> 2
                r0, r1, r2, r3 = ((a0, a1, a2, a3), (b2, b3, b4, b5),
                                  (b1, a0, a1, a2), (b0, b2, b3, b4))
            elif mode == B_LD:
                e0 = (A + 2 * B + C + 2) >> 2
                e1 = (B + 2 * C + D + 2) >> 2
                e2 = (C + 2 * D + E + 2) >> 2
                e3 = (D + 2 * E + F + 2) >> 2
                e4 = (E + 2 * F + G + 2) >> 2
                e5 = (F + 2 * G + H + 2) >> 2
                e6 = (G + 3 * H + 2) >> 2
                r0, r1, r2, r3 = ((e0, e1, e2, e3), (e1, e2, e3, e4),
                                  (e2, e3, e4, e5), (e3, e4, e5, e6))
            elif mode == B_VL:
                a0 = (A + B + 1) >> 1
                a1 = (B + C + 1) >> 1
                a2 = (C + D + 1) >> 1
                a3 = (D + E + 1) >> 1
                b0 = (A + 2 * B + C + 2) >> 2
                b1 = (B + 2 * C + D + 2) >> 2
                b2 = (C + 2 * D + E + 2) >> 2
                b3 = (D + 2 * E + F + 2) >> 2
                c0 = (E + 2 * F + G + 2) >> 2
                c1 = (F + 2 * G + H + 2) >> 2
                r0, r1, r2, r3 = ((a0, a1, a2, a3), (b0, b1, b2, b3),
                                  (a1, a2, a3, c0), (b1, b2, b3, c1))
            elif mode == B_HD:
                a0 = (I + x + 1) >> 1
                a1 = (J + I + 1) >> 1
                a2 = (K + J + 1) >> 1
                a3 = (L + K + 1) >> 1
                b0 = (A + 2 * B + C + 2) >> 2
                b1 = (x + 2 * A + B + 2) >> 2
                b2 = (I + 2 * x + A + 2) >> 2
                b3 = (x + 2 * I + J + 2) >> 2
                b4 = (I + 2 * J + K + 2) >> 2
                b5 = (J + 2 * K + L + 2) >> 2
                r0, r1, r2, r3 = ((a0, b2, b1, b0), (a1, b3, a0, b2),
                                  (a2, b4, a1, b3), (a3, b5, a2, b4))
            else:                                           # B_HU
                a0 = (I + J + 1) >> 1
                a1 = (I + 2 * J + K + 2) >> 2
                a2 = (J + K + 1) >> 1
                a3 = (J + 2 * K + L + 2) >> 2
                a4 = (K + L + 1) >> 1
                a5 = (K + 3 * L + 2) >> 2
                r0, r1, r2, r3 = ((a0, a1, a2, a3), (a2, a3, a4, a5),
                                  (a4, a5, L, L), (L, L, L, L))
            P[o4:o4 + 4] = r0
            P[o4 + S:o4 + S + 4] = r1
            P[o4 + 2 * S:o4 + 2 * S + 4] = r2
            P[o4 + 3 * S:o4 + 3 * S + 4] = r3
            if mask >> b & 1:
                _idct4x4_add(coeffs[16 * b:16 * b + 16], P, o4, S)
            b += 1
            o4 += 4


# ------------------------------------------------------------ loop filter

def _filter_simple(plane, y0, x0, n, horiz, limit):
    """2-tap simple filter across one edge, §15.4 — plain-int lanes
    (the filter is spec-serial MB to MB, so per-edge numpy temporaries
    would dominate; ints win at 8-16 lanes)."""
    if horiz:
        lanes = plane[y0 - 2:y0 + 2, x0:x0 + n].T.tolist()
    else:
        lanes = plane[y0:y0 + n, x0 - 2:x0 + 2].tolist()
    t2 = 2 * limit + 1
    for lane in lanes:
        p1, p0, q0, q1 = lane
        if 4 * abs(p0 - q0) + abs(p1 - q1) > t2:
            continue
        d = p1 - q1
        a = 3 * (q0 - p0) + (-128 if d < -128 else
                             (127 if d > 127 else d))
        a1 = (a + 4) >> 3
        a1 = -16 if a1 < -16 else (15 if a1 > 15 else a1)
        a2 = (a + 3) >> 3
        a2 = -16 if a2 < -16 else (15 if a2 > 15 else a2)
        v = p0 + a2
        lane[1] = 0 if v < 0 else (255 if v > 255 else v)
        v = q0 - a1
        lane[2] = 0 if v < 0 else (255 if v > 255 else v)
    if horiz:
        plane[y0 - 2:y0 + 2, x0:x0 + n] = \
            np.asarray(lanes, np.uint8).T
    else:
        plane[y0:y0 + n, x0 - 2:x0 + 2] = lanes


def _filter_normal(plane, y0, x0, n, horiz, limit, ilimit, hev_t,
                   mb_edge):
    """Normal (complex) filter across one edge, §15.2/15.3 — 6-tap on
    MB edges, 4-tap inner, 2-tap when high edge variance; plain-int
    lanes for the same reason as above."""
    if horiz:
        lanes = plane[y0 - 4:y0 + 4, x0:x0 + n].T.tolist()
    else:
        lanes = plane[y0:y0 + n, x0 - 4:x0 + 4].tolist()
    t2 = 2 * limit + 1
    for lane in lanes:
        p3, p2, p1, p0, q0, q1, q2, q3 = lane
        if 4 * abs(p0 - q0) + abs(p1 - q1) > t2:
            continue
        if (abs(p3 - p2) > ilimit or abs(p2 - p1) > ilimit
                or abs(p1 - p0) > ilimit or abs(q3 - q2) > ilimit
                or abs(q2 - q1) > ilimit or abs(q1 - q0) > ilimit):
            continue
        if abs(p1 - p0) > hev_t or abs(q1 - q0) > hev_t:
            d = p1 - q1                             # 2-tap (hev)
            a = 3 * (q0 - p0) + (-128 if d < -128 else
                                 (127 if d > 127 else d))
            a1 = (a + 4) >> 3
            a1 = -16 if a1 < -16 else (15 if a1 > 15 else a1)
            a2 = (a + 3) >> 3
            a2 = -16 if a2 < -16 else (15 if a2 > 15 else a2)
            v = p0 + a2
            lane[3] = 0 if v < 0 else (255 if v > 255 else v)
            v = q0 - a1
            lane[4] = 0 if v < 0 else (255 if v > 255 else v)
        elif mb_edge:                               # 6-tap
            d = p1 - q1
            w = 3 * (q0 - p0) + (-128 if d < -128 else
                                 (127 if d > 127 else d))
            w = -128 if w < -128 else (127 if w > 127 else w)
            w1 = (27 * w + 63) >> 7
            w2 = (18 * w + 63) >> 7
            w3 = (9 * w + 63) >> 7
            v = p2 + w3
            lane[1] = 0 if v < 0 else (255 if v > 255 else v)
            v = p1 + w2
            lane[2] = 0 if v < 0 else (255 if v > 255 else v)
            v = p0 + w1
            lane[3] = 0 if v < 0 else (255 if v > 255 else v)
            v = q0 - w1
            lane[4] = 0 if v < 0 else (255 if v > 255 else v)
            v = q1 - w2
            lane[5] = 0 if v < 0 else (255 if v > 255 else v)
            v = q2 - w3
            lane[6] = 0 if v < 0 else (255 if v > 255 else v)
        else:                                       # 4-tap inner
            w = 3 * (q0 - p0)
            w1 = (w + 4) >> 3
            w1 = -16 if w1 < -16 else (15 if w1 > 15 else w1)
            w2 = (w + 3) >> 3
            w2 = -16 if w2 < -16 else (15 if w2 > 15 else w2)
            w3 = (w1 + 1) >> 1
            v = p1 + w3
            lane[2] = 0 if v < 0 else (255 if v > 255 else v)
            v = p0 + w2
            lane[3] = 0 if v < 0 else (255 if v > 255 else v)
            v = q0 - w1
            lane[4] = 0 if v < 0 else (255 if v > 255 else v)
            v = q1 - w3
            lane[5] = 0 if v < 0 else (255 if v > 255 else v)
    if horiz:
        plane[y0 - 4:y0 + 4, x0:x0 + n] = \
            np.asarray(lanes, np.uint8).T
    else:
        plane[y0:y0 + n, x0 - 4:x0 + 4] = lanes


def _loop_filter(h, Y, U, V, mb_w, mb_h, mb_info):
    """§15: per-MB raster order, left/inner-vertical/top/inner-
    horizontal (libwebp frame.c order) so later MBs see filtered
    neighbors exactly as the reference does."""
    # precompute per (segment, is_i4x4) strength
    strengths = {}
    for s in range(4):
        if h.use_segment:
            base = h.seg_filter[s] if h.absolute \
                else h.filter_level + h.seg_filter[s]
        else:
            base = h.filter_level
        for i4 in (0, 1):
            lvl = base
            if h.lf_delta:
                lvl += h.ref_delta[0]
                if i4:
                    lvl += h.mode_delta[0]
            lvl = 0 if lvl < 0 else (63 if lvl > 63 else lvl)
            il = lvl
            if h.sharpness > 0:
                il >>= 2 if h.sharpness > 4 else 1
                if il > 9 - h.sharpness:
                    il = 9 - h.sharpness
            if il < 1:
                il = 1
            hev = 2 if lvl >= 40 else (1 if lvl >= 15 else 0)
            strengths[(s, i4)] = (lvl, 2 * lvl + il, il, hev)
    simple = h.filter_type == 1
    for mb_y in range(mb_h):
        for mb_x in range(mb_w):
            seg, i4, inner = mb_info[mb_y * mb_w + mb_x]
            lvl, limit, il, hev = strengths[(seg, i4)]
            if lvl == 0:
                continue
            y0, x0 = 1 + mb_y * 16, 1 + mb_x * 16
            cy, cx = 1 + mb_y * 8, 1 + mb_x * 8
            if simple:
                if mb_x > 0:
                    _filter_simple(Y, y0, x0, 16, False, limit + 4)
                if inner:
                    for dx in (4, 8, 12):
                        _filter_simple(Y, y0, x0 + dx, 16, False, limit)
                if mb_y > 0:
                    _filter_simple(Y, y0, x0, 16, True, limit + 4)
                if inner:
                    for dy in (4, 8, 12):
                        _filter_simple(Y, y0 + dy, x0, 16, True, limit)
                continue
            if mb_x > 0:
                _filter_normal(Y, y0, x0, 16, False, limit + 4, il,
                               hev, True)
                _filter_normal(U, cy, cx, 8, False, limit + 4, il,
                               hev, True)
                _filter_normal(V, cy, cx, 8, False, limit + 4, il,
                               hev, True)
            if inner:
                for dx in (4, 8, 12):
                    _filter_normal(Y, y0, x0 + dx, 16, False, limit,
                                   il, hev, False)
                _filter_normal(U, cy, cx + 4, 8, False, limit, il,
                               hev, False)
                _filter_normal(V, cy, cx + 4, 8, False, limit, il,
                               hev, False)
            if mb_y > 0:
                _filter_normal(Y, y0, x0, 16, True, limit + 4, il,
                               hev, True)
                _filter_normal(U, cy, cx, 8, True, limit + 4, il,
                               hev, True)
                _filter_normal(V, cy, cx, 8, True, limit + 4, il,
                               hev, True)
            if inner:
                for dy in (4, 8, 12):
                    _filter_normal(Y, y0 + dy, x0, 16, True, limit,
                                   il, hev, False)
                _filter_normal(U, cy + 4, cx, 8, True, limit, il,
                               hev, False)
                _filter_normal(V, cy + 4, cx, 8, True, limit, il,
                               hev, False)


# ------------------------------------------------------------ frame decode

def vp8_decode_yuv(data: bytes):
    """Decode a VP8 key-frame chunk -> (Y, U, V) uint8 planes at full /
    half resolution, cropped to the frame size."""
    if len(data) < 10:
        raise ValueError("VP8: truncated header")
    b0 = data[0]
    if b0 & 1:
        raise ValueError("VP8: not a key frame")
    if ((b0 >> 1) & 7) > 3:
        raise ValueError("VP8: bad version")
    part0_size = (b0 | (data[1] << 8) | (data[2] << 16)) >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("VP8: bad start code")
    width = (data[6] | (data[7] << 8)) & 0x3FFF
    height = (data[8] | (data[9] << 8)) & 0x3FFF
    if not width or not height or width * height > MAX_PIXELS_WEBP:
        raise ValueError("VP8: bad dimensions")
    if 10 + part0_size > len(data):
        raise ValueError("VP8: truncated first partition")
    br = _Bool(data[10:10 + part0_size])
    h = _parse_header(br, width, height)
    pos = 10 + part0_size
    nparts = h.n_parts
    sizes = []
    for _ in range(nparts - 1):
        if pos + 3 > len(data):
            raise ValueError("VP8: truncated partition table")
        sizes.append(data[pos] | (data[pos + 1] << 8)
                     | (data[pos + 2] << 16))
        pos += 3
    parts = []
    for k in range(nparts):
        if k < nparts - 1:
            end = pos + sizes[k]
            if end > len(data):
                raise ValueError("VP8: truncated token partition")
            parts.append(_Bool(data[pos:end]))
            pos = end
        else:
            parts.append(_Bool(data[pos:]))

    mb_w = (width + 15) >> 4
    mb_h = (height + 15) >> 4
    dq = _dequant_factors(h)
    by_pos = _split_tables(h.probs)
    schedules = [[_block_schedule(by_pos, dq[s], has_y2)
                  for has_y2 in (False, True)] for s in range(4)]

    # padded planes, row stride SY / SC: row 0 and column 0 are the
    # §12.2 borders (127 above, 129 to the left, 127 in the corner)
    SY = 16 * mb_w + 1
    SC = 8 * mb_w + 1
    Y = bytearray(b"\x81") * (SY * (16 * mb_h + 1))
    Y[:SY] = b"\x7f" * SY
    U = bytearray(b"\x81") * (SC * (8 * mb_h + 1))
    U[:SC] = b"\x7f" * SC
    V = bytearray(U)

    above_bmode = [B_DC] * (4 * mb_w)
    above_nz = [[0] * 9 for _ in range(mb_w)]
    mb_info = []
    _IMPLIED = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE,
                TM_PRED: B_TM}
    seg_probs = h.seg_tree_probs

    for mb_y in range(mb_h):
        left_bmode = [B_DC] * 4
        left_nz = [0] * 9
        tbr = parts[mb_y % nparts]
        for mb_x in range(mb_w):
            # ---- modes (first partition)
            seg = br.tree(_SEGMENT_TREE, seg_probs) if h.update_map else 0
            skip = br.get(h.skip_prob) if h.use_skip else 0
            ymode = br.tree(_KF_YMODE_TREE, _KF_YMODE_PROBS)
            ab = 4 * mb_x
            has_y2 = ymode != B_PRED
            if has_y2:
                ib = _IMPLIED[ymode]
                above_bmode[ab:ab + 4] = left_bmode = [ib] * 4
            else:
                bmodes = [0] * 16
                for b in range(16):
                    i, j = b & 3, b >> 2
                    m = br.tree(_BMODE_TREE, K_BMODES_PROBA[
                        above_bmode[ab + i]][left_bmode[j]])
                    bmodes[b] = above_bmode[ab + i] = left_bmode[j] = m
            uvmode = br.tree(_UV_MODE_TREE, _KF_UV_MODE_PROBS)

            # ---- residuals (token partition); mask bit b = block b
            # (Y 0..15, U 16..19, V 20..23) needs its inverse transform
            anz = above_nz[mb_x]
            coeffs = [0] * 400
            if skip:
                mask = 0
                for k in range(9 if has_y2 else 8):
                    left_nz[k] = anz[k] = 0
            else:
                mask = _decode_residuals(tbr, schedules[seg][has_y2],
                                         left_nz, anz, coeffs) & 0xFFFFFF
                if has_y2:
                    for b, dc in enumerate(_iwht4x4(coeffs[384:])):
                        if dc:
                            coeffs[16 * b] = dc
                            mask |= 1 << b

            # ---- reconstruction
            o = (16 * mb_y + 1) * SY + 16 * mb_x + 1
            if has_y2:
                _pred_block(Y, o, SY, 16, ymode, mb_y > 0, mb_x > 0)
                for b in range(16):
                    if mask >> b & 1:
                        _idct4x4_add(coeffs[16 * b:16 * b + 16], Y,
                                     o + (b >> 2) * 4 * SY + (b & 3) * 4, SY)
            else:
                if mb_y == 0:
                    tr_mb = b"\x7f\x7f\x7f\x7f"
                elif mb_x == mb_w - 1:
                    tr_mb = bytes((Y[o - SY + 15],)) * 4
                else:
                    tr_mb = Y[o - SY + 16:o - SY + 20]
                _pred_i4x4(Y, o, SY, bmodes, tr_mb, mask, coeffs)
            co = (8 * mb_y + 1) * SC + 8 * mb_x + 1
            for P, first in ((U, 16), (V, 20)):
                _pred_block(P, co, SC, 8, uvmode, mb_y > 0, mb_x > 0)
                for b in range(first, first + 4):
                    if mask >> b & 1:
                        _idct4x4_add(coeffs[16 * b:16 * b + 16], P,
                                     co + ((b - first) >> 1) * 4 * SC
                                     + ((b - first) & 1) * 4, SC)
            mb_info.append((seg, 0 if has_y2 else 1,
                            1 if (mask or not has_y2) else 0))

    Y = np.frombuffer(Y, np.uint8).reshape(16 * mb_h + 1, SY)
    U = np.frombuffer(U, np.uint8).reshape(8 * mb_h + 1, SC)
    V = np.frombuffer(V, np.uint8).reshape(8 * mb_h + 1, SC)
    # libwebp parity (ParseFilterHeader): a header filter_level of 0
    # disables the loop filter ENTIRELY — filter_type_ = level_ == 0 ?
    # 0 : ... — even when segment-mode absolute strengths or positive
    # deltas would give a macroblock a nonzero per-segment level
    if h.filter_level > 0:
        _loop_filter(h, Y, U, V, mb_w, mb_h, mb_info)

    cw = (width + 1) >> 1
    ch = (height + 1) >> 1
    return (Y[1:1 + height, 1:1 + width].copy(),
            U[1:1 + ch, 1:1 + cw].copy(),
            V[1:1 + ch, 1:1 + cw].copy())


# ------------------------------------------------- fancy upsampling + RGB

def _mix_rows(tl, t, l, c):
    """Fancy-upsample one luma row PAIR from two chroma rows (libwebp
    upsampling.c integer arithmetic, bit-exact): returns the 4
    full-width chroma lanes (top row, bottom row) for even luma width
    2*len; callers trim odd widths."""
    # column k pairs chroma sample k-1 with k
    avg = tl + t + l + c + 8
    diag_12 = (avg + 2 * (t + l)) >> 3
    diag_03 = (avg + 2 * (tl + c)) >> 3
    top_odd = (diag_12 + tl) >> 1          # luma col 2x-1, top row
    top_even = (diag_03 + t) >> 1          # luma col 2x,   top row
    bot_odd = (diag_03 + l) >> 1           # luma col 2x-1, bottom row
    bot_even = (diag_12 + c) >> 1          # luma col 2x,   bottom row
    return top_odd, top_even, bot_odd, bot_even


def _upsample_pair(tu, cu, width):
    """One chroma component: (top chroma rows, bottom chroma rows) ->
    (top luma-row chroma, bottom luma-row chroma) at full width; the
    rows are the last axis, so a whole plane of row pairs goes at once."""
    tl, t = tu[..., :-1], tu[..., 1:]
    l, c = cu[..., :-1], cu[..., 1:]
    to, te, bo, be = _mix_rows(tl, t, l, c)
    out_t = np.empty(tu.shape[:-1] + (width,), np.int32)
    out_b = np.empty(tu.shape[:-1] + (width,), np.int32)
    out_t[..., 0] = (3 * tu[..., 0] + cu[..., 0] + 2) >> 2
    out_b[..., 0] = (3 * cu[..., 0] + tu[..., 0] + 2) >> 2
    n = tu.shape[-1] - 1                    # chroma pairs
    out_t[..., 1:2 * n:2] = to
    out_t[..., 2:2 * n + 1:2] = te
    out_b[..., 1:2 * n:2] = bo
    out_b[..., 2:2 * n + 1:2] = be
    if width & 1 == 0:                      # even width: last col fixup
        out_t[..., width - 1] = (3 * tu[..., -1] + cu[..., -1] + 2) >> 2
        out_b[..., width - 1] = (3 * cu[..., -1] + tu[..., -1] + 2) >> 2
    return out_t, out_b


def _fancy_upsample(U: np.ndarray, width: int, height: int) -> np.ndarray:
    """Half-res chroma plane -> full-res int32 plane, libwebp fancy
    upsampling row schedule: row 0 and (for even heights) the last row
    use their chroma row replicated; interior rows pair as
    (2j+1, 2j+2) across chroma rows (j, j+1)."""
    out = np.empty((height, width), np.int32)
    Ui = U.astype(np.int32)
    out[0] = _upsample_pair(Ui[0], Ui[0], width)[0]
    ch = U.shape[0]
    if ch > 1:
        ot, ob = _upsample_pair(Ui[:-1], Ui[1:], width)
        out[1:2 * ch - 1:2] = ot
        out[2:2 * ch - 1:2] = ob
    if height > 1 and (height & 1) == 0:
        out[height - 1] = _upsample_pair(Ui[ch - 1], Ui[ch - 1], width)[0]
    return out


def _yuv_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """libwebp yuv.h fixed-point conversion, bit-exact."""
    yv = (y.astype(np.int32) * 19077) >> 8
    r = yv + ((v * 26149) >> 8) - 14234
    g = yv - ((u * 6419) >> 8) - ((v * 13320) >> 8) + 8708
    b = yv + ((u * 33050) >> 8) - 17685
    out = np.stack([r, g, b], axis=2)
    # clip is on the pre-shift value: in-range >> 6, else saturate
    return np.where(out < 0, 0,
                    np.where(out > 16383, 255, out >> 6)
                    ).astype(np.uint8)


def vp8_decode(data: bytes) -> np.ndarray:
    """VP8 key-frame chunk -> HxWx3 uint8 RGB, byte-identical to
    libwebp's WebPDecodeRGB (fancy upsampling)."""
    y, u, v = vp8_decode_yuv(data)
    h, w = y.shape
    uf = _fancy_upsample(u, w, h)
    vf = _fancy_upsample(v, w, h)
    return _yuv_to_rgb(y, uf, vf)
