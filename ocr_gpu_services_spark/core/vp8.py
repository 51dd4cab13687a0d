"""VP8 intra-frame (lossy WebP) decoder — pure Python/numpy, RFC 6386.

WebP lossy payloads are always VP8 KEY frames (the container carries a
single still), which prunes the spec to its intra half: boolean
arithmetic decoder (§7), keyframe header + per-MB intra modes (§9/§11),
token/coefficient decode with the default probability tables (§13),
4x4 IDCT / WHT (§14), intra prediction (§12), and the in-loop
deblocking filter (§15).  No inter prediction, motion vectors, or
golden/altref state — a keyframe never references them.

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

from .vp8_tables import (CAT_BASE, COEFF_PROBA0, COEFF_UPDATE_PROBA,
                         K_AC_TABLE, K_BANDS, K_BMODES_PROBA, K_CAT,
                         K_DC_TABLE, ZIGZAG)

# 16x16 luma / 8x8 chroma prediction modes
DC_PRED, TM_PRED, V_PRED, H_PRED, B_PRED = 0, 1, 2, 3, 4
# 4x4 ("B") prediction modes, RFC order
(B_DC, B_TM, B_VE, B_HE, B_RD, B_VR, B_LD, B_VL, B_HD, B_HU) = range(10)

# left-shifts needed to renormalize a post-split range back to >= 128
_RENORM = [8] + [max(0, 7 - r.bit_length() + 1) for r in range(1, 128)]
for _r in range(1, 128):
    assert 128 <= (_r << _RENORM[_r]) < 256


class _Bool:
    """Boolean arithmetic decoder, RFC 6386 §7.3 (8-bit renorm)."""

    __slots__ = ("data", "pos", "value", "range", "bits")

    def __init__(self, data: bytes):
        self.data = data
        v = 0
        for k in range(2):
            v = (v << 8) | (data[k] if k < len(data) else 0)
        self.value = v
        self.pos = 2
        self.range = 255
        self.bits = 0

    def get(self, prob: int) -> int:
        rng = self.range
        split = 1 + (((rng - 1) * prob) >> 8)
        big = split << 8
        value = self.value
        if value >= big:
            ret = 1
            rng -= split
            value -= big
        else:
            ret = 0
            rng = split
        if rng < 128:                        # renorm, table-driven
            s = _RENORM[rng]
            rng <<= s
            value <<= s
            bits = self.bits + s
            if bits >= 8:
                bits -= 8
                data = self.data
                p = self.pos
                value |= (data[p] if p < len(data) else 0) << bits
                self.pos = p + 1
            self.bits = bits
        self.range = rng
        self.value = value
        return ret

    def bit(self) -> int:                   # prob-128 raw bit
        return self.get(128)

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get(128)
        return v

    def signed(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.get(128) else v


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

def _decode_coeffs(br: _Bool, probs, ctx: int, first: int,
                   dq_dc: int, dq_ac: int, out: list) -> int:
    """Decode one 4x4 block's coefficient tokens into ``out`` (16-int
    list, natural order, dequantized).  Returns 1 if any nonzero.

    The boolean decoder is manually inlined (local state + the _GET
    pattern) — this is the per-coefficient hot loop where method-call
    overhead on millions of bools dominates; state is written back to
    ``br`` once on exit.  Bit-exactness vs _Bool.get is pinned by the
    libwebp parity suite."""
    data = br.data
    dlen = len(data)
    pos = br.pos
    value = br.value
    rng = br.range
    bits = br.bits
    renorm = _RENORM
    bands = K_BANDS
    zig = ZIGZAG
    n = first
    nz = 0
    allow_eob = True

    while n < 16:
        p = probs[bands[n]][ctx]
        if allow_eob:
            prob = p[0]                             # EOB bool
            split = 1 + (((rng - 1) * prob) >> 8)
            big = split << 8
            if value >= big:
                rng -= split
                value -= big
                b = 1
            else:
                rng = split
                b = 0
            if rng < 128:
                s = renorm[rng]
                rng <<= s
                value <<= s
                bits += s
                if bits >= 8:
                    bits -= 8
                    value |= (data[pos] if pos < dlen else 0) << bits
                    pos += 1
            if not b:
                break
        prob = p[1]                                 # zero/nonzero
        split = 1 + (((rng - 1) * prob) >> 8)
        big = split << 8
        if value >= big:
            rng -= split
            value -= big
            b = 1
        else:
            rng = split
            b = 0
        if rng < 128:
            s = renorm[rng]
            rng <<= s
            value <<= s
            bits += s
            if bits >= 8:
                bits -= 8
                value |= (data[pos] if pos < dlen else 0) << bits
                pos += 1
        if not b:                                   # DCT_0
            ctx = 0
            n += 1
            allow_eob = False
            continue
        allow_eob = True
        prob = p[2]                                 # one/bigger
        split = 1 + (((rng - 1) * prob) >> 8)
        big = split << 8
        if value >= big:
            rng -= split
            value -= big
            b = 1
        else:
            rng = split
            b = 0
        if rng < 128:
            s = renorm[rng]
            rng <<= s
            value <<= s
            bits += s
            if bits >= 8:
                bits -= 8
                value |= (data[pos] if pos < dlen else 0) << bits
                pos += 1
        if not b:
            v = 1
            ctx = 1
        else:
            # rare path: restore state, use the method-call decoder
            br.pos, br.value, br.range, br.bits = pos, value, rng, bits
            ctx = 2
            if not br.get(p[3]):                    # 2 / 3 / 4
                if not br.get(p[4]):
                    v = 2
                else:
                    v = 4 if br.get(p[5]) else 3
            else:                                   # categories
                if not br.get(p[6]):
                    cat = 1 if br.get(p[7]) else 0
                else:
                    if not br.get(p[8]):
                        cat = 3 if br.get(p[9]) else 2
                    else:
                        cat = 5 if br.get(p[10]) else 4
                v = 0
                for cp in K_CAT[cat]:
                    v = (v << 1) | br.get(cp)
                v += CAT_BASE[cat]
            pos, value, rng, bits = br.pos, br.value, br.range, br.bits
        # sign flag (prob 128)
        split = 1 + (((rng - 1) * 128) >> 8)
        big = split << 8
        if value >= big:
            rng -= split
            value -= big
            v = -v
        else:
            rng = split
        if rng < 128:
            s = renorm[rng]
            rng <<= s
            value <<= s
            bits += s
            if bits >= 8:
                bits -= 8
                value |= (data[pos] if pos < dlen else 0) << bits
                pos += 1
        out[zig[n]] = v * (dq_dc if n == 0 else dq_ac)
        nz = 1
        n += 1
    br.pos, br.value, br.range, br.bits = pos, value, rng, bits
    return nz


# ----------------------------------------------------------- transforms

def _idct4x4_add(c: list, dst: np.ndarray, y0: int, x0: int) -> None:
    """In-place 4x4 inverse DCT added to prediction, §14.3 (integer
    exact: MUL1(a) = ((a*20091)>>16)+a, MUL2(a) = (a*35468)>>16);
    plain ints — numpy temporaries dominate at 4x4 size."""
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
    blk = dst[y0:y0 + 4, x0:x0 + 4].tolist()
    for i in range(4):                              # horizontal pass
        r = 4 * i
        dc = tmp[r] + 4
        a = dc + tmp[r + 2]
        b = dc - tmp[r + 2]
        c1 = ((tmp[r + 1] * 35468) >> 16) \
            - (((tmp[r + 3] * 20091) >> 16) + tmp[r + 3])
        d = (((tmp[r + 1] * 20091) >> 16) + tmp[r + 1]) \
            + ((tmp[r + 3] * 35468) >> 16)
        row = blk[i]
        v = row[0] + ((a + d) >> 3)
        row[0] = 0 if v < 0 else (255 if v > 255 else v)
        v = row[1] + ((b + c1) >> 3)
        row[1] = 0 if v < 0 else (255 if v > 255 else v)
        v = row[2] + ((b - c1) >> 3)
        row[2] = 0 if v < 0 else (255 if v > 255 else v)
        v = row[3] + ((a - d) >> 3)
        row[3] = 0 if v < 0 else (255 if v > 255 else v)
    dst[y0:y0 + 4, x0:x0 + 4] = blk


def _iwht4x4(coeffs: np.ndarray) -> list[int]:
    """Inverse Walsh-Hadamard for the Y2 block -> 16 luma DCs, §14.3."""
    c = coeffs
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

def _avg2(a, b):
    return (a + b + 1) >> 1


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _pred_block(plane: np.ndarray, y0: int, x0: int, size: int,
                mode: int, have_above: bool, have_left: bool) -> None:
    """16x16 / 8x8 whole-block prediction written into the padded
    plane at (y0, x0), §12.2."""
    above = plane[y0 - 1, x0:x0 + size].astype(np.int32)
    left = plane[y0:y0 + size, x0 - 1].astype(np.int32)
    al = int(plane[y0 - 1, x0 - 1])
    if mode == DC_PRED:
        if have_above and have_left:
            dc = (int(above.sum()) + int(left.sum()) + size) \
                >> (5 if size == 16 else 4)
        elif have_above:
            dc = (int(above.sum()) + (size >> 1)) \
                >> (4 if size == 16 else 3)
        elif have_left:
            dc = (int(left.sum()) + (size >> 1)) \
                >> (4 if size == 16 else 3)
        else:
            dc = 128
        plane[y0:y0 + size, x0:x0 + size] = dc
    elif mode == V_PRED:
        plane[y0:y0 + size, x0:x0 + size] = above
    elif mode == H_PRED:
        plane[y0:y0 + size, x0:x0 + size] = left[:, None]
    else:                                           # TM_PRED
        blk = left[:, None] + above[None, :] - al
        plane[y0:y0 + size, x0:x0 + size] = np.clip(blk, 0, 255)


def _pred_b(plane: np.ndarray, sy: int, sx: int, mode: int,
            tr: list[int]) -> None:
    """4x4 B-mode prediction at padded coords (sy, sx); ``tr`` is the
    4-pixel above-right context, §12.3."""
    t = [int(v) for v in plane[sy - 1, sx:sx + 4]]
    l = [int(v) for v in plane[sy:sy + 4, sx - 1]]
    x = int(plane[sy - 1, sx - 1])
    A, B, C, D = t
    E, F, G, H = tr
    I, J, K, L = l
    o = [[0] * 4 for _ in range(4)]
    if mode == B_DC:
        dc = (A + B + C + D + I + J + K + L + 4) >> 3
        for j in range(4):
            for i in range(4):
                o[j][i] = dc
    elif mode == B_TM:
        for j in range(4):
            for i in range(4):
                v = l[j] + t[i] - x
                o[j][i] = 0 if v < 0 else (255 if v > 255 else v)
    elif mode == B_VE:
        vals = (_avg3(x, A, B), _avg3(A, B, C), _avg3(B, C, D),
                _avg3(C, D, E))
        for j in range(4):
            o[j] = list(vals)
    elif mode == B_HE:
        rows = (_avg3(x, I, J), _avg3(I, J, K), _avg3(J, K, L),
                _avg3(K, L, L))
        for j in range(4):
            o[j] = [rows[j]] * 4
    elif mode == B_RD:
        o[3][0] = _avg3(J, K, L)
        o[2][0] = o[3][1] = _avg3(I, J, K)
        o[1][0] = o[2][1] = o[3][2] = _avg3(x, I, J)
        o[0][0] = o[1][1] = o[2][2] = o[3][3] = _avg3(A, x, I)
        o[0][1] = o[1][2] = o[2][3] = _avg3(B, A, x)
        o[0][2] = o[1][3] = _avg3(C, B, A)
        o[0][3] = _avg3(D, C, B)
    elif mode == B_VR:
        o[0][0] = o[2][1] = _avg2(x, A)
        o[0][1] = o[2][2] = _avg2(A, B)
        o[0][2] = o[2][3] = _avg2(B, C)
        o[0][3] = _avg2(C, D)
        o[3][0] = _avg3(K, J, I)
        o[2][0] = _avg3(J, I, x)
        o[1][0] = o[3][1] = _avg3(I, x, A)
        o[1][1] = o[3][2] = _avg3(x, A, B)
        o[1][2] = o[3][3] = _avg3(A, B, C)
        o[1][3] = _avg3(B, C, D)
    elif mode == B_LD:
        o[0][0] = _avg3(A, B, C)
        o[0][1] = o[1][0] = _avg3(B, C, D)
        o[0][2] = o[1][1] = o[2][0] = _avg3(C, D, E)
        o[0][3] = o[1][2] = o[2][1] = o[3][0] = _avg3(D, E, F)
        o[1][3] = o[2][2] = o[3][1] = _avg3(E, F, G)
        o[2][3] = o[3][2] = _avg3(F, G, H)
        o[3][3] = _avg3(G, H, H)
    elif mode == B_VL:
        o[0][0] = _avg2(A, B)
        o[0][1] = o[2][0] = _avg2(B, C)
        o[0][2] = o[2][1] = _avg2(C, D)
        o[0][3] = o[2][2] = _avg2(D, E)
        o[1][0] = _avg3(A, B, C)
        o[1][1] = o[3][0] = _avg3(B, C, D)
        o[1][2] = o[3][1] = _avg3(C, D, E)
        o[1][3] = o[3][2] = _avg3(D, E, F)
        o[2][3] = _avg3(E, F, G)
        o[3][3] = _avg3(F, G, H)
    elif mode == B_HD:
        o[0][0] = o[1][2] = _avg2(I, x)
        o[1][0] = o[2][2] = _avg2(J, I)
        o[2][0] = o[3][2] = _avg2(K, J)
        o[3][0] = _avg2(L, K)
        o[0][3] = _avg3(A, B, C)
        o[0][2] = _avg3(x, A, B)
        o[0][1] = o[1][3] = _avg3(I, x, A)
        o[1][1] = o[2][3] = _avg3(x, I, J)
        o[2][1] = o[3][3] = _avg3(I, J, K)
        o[3][1] = _avg3(J, K, L)
    else:                                           # B_HU
        o[0][0] = _avg2(I, J)
        o[0][1] = _avg3(I, J, K)
        o[0][2] = o[1][0] = _avg2(J, K)
        o[0][3] = o[1][1] = _avg3(J, K, L)
        o[1][2] = o[2][0] = _avg2(K, L)
        o[1][3] = o[2][1] = _avg3(K, L, L)
        o[2][2] = o[2][3] = o[3][0] = o[3][1] = o[3][2] = o[3][3] = L
    plane[sy:sy + 4, sx:sx + 4] = o


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
    if not width or not height or width * height > (1 << 26):
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
    probs = h.probs

    Y = np.empty((mb_h * 16 + 1, mb_w * 16 + 1), np.uint8)
    U = np.empty((mb_h * 8 + 1, mb_w * 8 + 1), np.uint8)
    V = np.empty((mb_h * 8 + 1, mb_w * 8 + 1), np.uint8)
    for P in (Y, U, V):
        P[0, :] = 127
        P[:, 0] = 129
        P[0, 0] = 127

    above_bmode = [B_DC] * (4 * mb_w)
    above_nz = [[0] * 9 for _ in range(mb_w)]
    mb_info = []
    _IMPLIED = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE,
                TM_PRED: B_TM}

    for mb_y in range(mb_h):
        left_bmode = [B_DC] * 4
        left_nz = [0] * 9
        tbr = parts[mb_y % nparts]
        for mb_x in range(mb_w):
            # ---- modes (first partition)
            seg = 0
            if h.update_map:
                tp = h.seg_tree_probs
                seg = (2 + br.get(tp[2])) if br.get(tp[0]) \
                    else br.get(tp[1])
            skip = br.get(h.skip_prob) if h.use_skip else 0
            is_i4x4 = not br.get(145)
            bmodes = None
            if not is_i4x4:
                if br.get(156):
                    ymode = TM_PRED if br.get(128) else H_PRED
                else:
                    ymode = V_PRED if br.get(163) else DC_PRED
                ib = _IMPLIED[ymode]
                for k in range(4):
                    above_bmode[4 * mb_x + k] = ib
                    left_bmode[k] = ib
            else:
                ymode = B_PRED
                bmodes = [0] * 16
                for j in range(4):
                    for i in range(4):
                        a = above_bmode[4 * mb_x + i]
                        l = left_bmode[j]
                        p = K_BMODES_PROBA[a][l]
                        if not br.get(p[0]):
                            m = B_DC
                        elif not br.get(p[1]):
                            m = B_TM
                        elif not br.get(p[2]):
                            m = B_VE
                        elif not br.get(p[3]):
                            if not br.get(p[4]):
                                m = B_HE
                            else:
                                m = B_VR if br.get(p[5]) else B_RD
                        elif not br.get(p[6]):
                            m = B_LD
                        elif not br.get(p[7]):
                            m = B_VL
                        else:
                            m = B_HU if br.get(p[8]) else B_HD
                        bmodes[4 * j + i] = m
                        above_bmode[4 * mb_x + i] = m
                        left_bmode[j] = m
            if br.get(142):
                if br.get(114):
                    uvmode = TM_PRED if br.get(183) else H_PRED
                else:
                    uvmode = V_PRED
            else:
                uvmode = DC_PRED

            # ---- residuals (token partition)
            has_y2 = ymode != B_PRED
            coefY = [[0] * 16 for _ in range(16)]
            coefU = [[0] * 16 for _ in range(4)]
            coefV = [[0] * 16 for _ in range(4)]
            nzY = [0] * 16
            nzU = [0] * 4
            nzV = [0] * 4
            any_coeff = False
            anz = above_nz[mb_x]
            if not skip:
                y1dc, y1ac, y2dc, y2ac, uvdc, uvac = dq[seg]
                if has_y2:
                    c2 = [0] * 16
                    nz2 = _decode_coeffs(tbr, probs[1],
                                         left_nz[8] + anz[8], 0,
                                         y2dc, y2ac, c2)
                    left_nz[8] = anz[8] = nz2
                    dcs = _iwht4x4(c2)
                    ty, first = 0, 1
                else:
                    ty, first = 3, 0
                for j in range(4):
                    for i in range(4):
                        blk = coefY[4 * j + i]
                        nz = _decode_coeffs(tbr, probs[ty],
                                            left_nz[j] + anz[i],
                                            first, y1dc, y1ac, blk)
                        left_nz[j] = anz[i] = nz
                        if has_y2:
                            blk[0] = dcs[4 * j + i]
                        if nz or blk[0]:
                            nzY[4 * j + i] = 1
                            any_coeff = True
                for pl, coefP, nzP, base in ((0, coefU, nzU, 4),
                                             (1, coefV, nzV, 6)):
                    for j in range(2):
                        for i in range(2):
                            blk = coefP[2 * j + i]
                            nz = _decode_coeffs(
                                tbr, probs[2],
                                left_nz[base + j] + anz[base + i],
                                0, uvdc, uvac, blk)
                            left_nz[base + j] = anz[base + i] = nz
                            if nz:
                                nzP[2 * j + i] = 1
                                any_coeff = True
            else:
                for k in range(8):
                    left_nz[k] = anz[k] = 0
                if has_y2:
                    left_nz[8] = anz[8] = 0

            # ---- reconstruction
            y0, x0 = 1 + mb_y * 16, 1 + mb_x * 16
            if is_i4x4:
                if mb_y == 0:
                    tr_mb = [127, 127, 127, 127]
                elif mb_x == mb_w - 1:
                    tr_mb = [int(Y[y0 - 1, x0 + 15])] * 4
                else:
                    tr_mb = [int(v) for v in
                             Y[y0 - 1, x0 + 16:x0 + 20]]
                for j in range(4):
                    for i in range(4):
                        sy, sx = y0 + 4 * j, x0 + 4 * i
                        if i < 3:
                            tr = [int(v) for v in
                                  Y[sy - 1, sx + 4:sx + 8]]
                        else:
                            tr = tr_mb
                        _pred_b(Y, sy, sx, bmodes[4 * j + i], tr)
                        if nzY[4 * j + i]:
                            _idct4x4_add(coefY[4 * j + i], Y, sy, sx)
            else:
                _pred_block(Y, y0, x0, 16, ymode, mb_y > 0, mb_x > 0)
                for j in range(4):
                    for i in range(4):
                        if nzY[4 * j + i]:
                            _idct4x4_add(coefY[4 * j + i], Y,
                                         y0 + 4 * j, x0 + 4 * i)
            cy, cx = 1 + mb_y * 8, 1 + mb_x * 8
            _pred_block(U, cy, cx, 8, uvmode, mb_y > 0, mb_x > 0)
            _pred_block(V, cy, cx, 8, uvmode, mb_y > 0, mb_x > 0)
            for j in range(2):
                for i in range(2):
                    if nzU[2 * j + i]:
                        _idct4x4_add(coefU[2 * j + i], U,
                                     cy + 4 * j, cx + 4 * i)
                    if nzV[2 * j + i]:
                        _idct4x4_add(coefV[2 * j + i], V,
                                     cy + 4 * j, cx + 4 * i)
            mb_info.append((seg, 1 if is_i4x4 else 0,
                            1 if (any_coeff or is_i4x4) else 0))

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
    """One chroma component: (top chroma row, bottom chroma row) ->
    (top luma-row chroma, bottom luma-row chroma) at full width."""
    tl, t = tu[:-1], tu[1:]
    l, c = cu[:-1], cu[1:]
    to, te, bo, be = _mix_rows(tl, t, l, c)
    out_t = np.empty(width, np.int32)
    out_b = np.empty(width, np.int32)
    out_t[0] = (3 * tu[0] + cu[0] + 2) >> 2
    out_b[0] = (3 * cu[0] + tu[0] + 2) >> 2
    n = len(tu) - 1                         # chroma pairs
    out_t[1:2 * n:2] = to
    out_t[2:2 * n + 1:2] = te
    out_b[1:2 * n:2] = bo
    out_b[2:2 * n + 1:2] = be
    if width & 1 == 0:                      # even width: last col fixup
        out_t[width - 1] = (3 * tu[-1] + cu[-1] + 2) >> 2
        out_b[width - 1] = (3 * cu[-1] + tu[-1] + 2) >> 2
    return out_t, out_b


def _fancy_upsample(U: np.ndarray, width: int, height: int) -> np.ndarray:
    """Half-res chroma plane -> full-res int32 plane, libwebp fancy
    upsampling row schedule: row 0 and (for even heights) the last row
    use their chroma row replicated; interior rows pair as
    (2j+1, 2j+2) across chroma rows (j, j+1)."""
    out = np.empty((height, width), np.int32)
    Ui = U.astype(np.int32)
    t0, _ = _upsample_pair(Ui[0], Ui[0], width)
    out[0] = t0
    ch = U.shape[0]
    for j in range(ch - 1):
        r = 2 * j + 1
        if r >= height:
            break
        ot, ob = _upsample_pair(Ui[j], Ui[j + 1], width)
        out[r] = ot
        if r + 1 < height:
            out[r + 1] = ob
    if height > 1 and (height & 1) == 0:
        tl, _ = _upsample_pair(Ui[ch - 1], Ui[ch - 1], width)
        out[height - 1] = tl
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
