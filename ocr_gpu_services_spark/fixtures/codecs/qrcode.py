"""QR Code Model 2 encoder for the fixture generator: byte mode,
versions 1-10, systematic Reed-Solomon parity per block with the spec's
round-robin interleaving, and the mask chosen by the four penalty rules.
The GF(256) tables, block table, masks, function-pattern geometry and
codeword placement are core/qrcode.py, shared with the decoder.
"""

from __future__ import annotations

import numpy as np

from ...core.qrcode import (_BLOCKS, _EXP, _FINDER, _align_positions,
                            _data_coords, _format_bits, _format_positions,
                            _gf_mul, _mask_fn, _size, _version_bits)

MODULE = 3                 # rendered pixels per module (fixture scale)
INK, PAPER = 0, 255


def _poly_mul(p: list[int], q: list[int]) -> list[int]:
    out = [0] * (len(p) + len(q) - 1)
    for i, a in enumerate(p):
        if a:
            for j, b in enumerate(q):
                out[i + j] ^= _gf_mul(a, b)
    return out


def rs_generator(nsym: int) -> list[int]:
    g = [1]
    for i in range(nsym):
        g = _poly_mul(g, [1, _EXP[i]])
    return g


def rs_encode(data: bytes, nsym: int) -> bytes:
    """data + nsym parity codewords (systematic RS, roots alpha^0..)."""
    gen = rs_generator(nsym)
    rem = list(data) + [0] * nsym
    for i in range(len(data)):
        coef = rem[i]
        if coef:
            for j in range(1, len(gen)):
                rem[i + j] ^= _gf_mul(gen[j], coef)
    return bytes(data) + bytes(rem[len(data):])


_ALIGNMENT = np.array([[1, 1, 1, 1, 1],
                       [1, 0, 0, 0, 1],
                       [1, 0, 1, 0, 1],
                       [1, 0, 0, 0, 1],
                       [1, 1, 1, 1, 1]], dtype=bool)


def _place_function_patterns(mod: np.ndarray, version: int) -> None:
    n = mod.shape[0]
    mod[0:7, 0:7] = _FINDER
    mod[0:7, n - 7:n] = _FINDER
    mod[n - 7:n, 0:7] = _FINDER
    for k in range(8, n - 8):
        mod[6, k] = (k % 2 == 0)
        mod[k, 6] = (k % 2 == 0)
    for (r, c) in _align_positions(version):
        mod[r - 2:r + 3, c - 2:c + 3] = _ALIGNMENT
    mod[4 * version + 9, 8] = True
    if version >= 7:
        vb = _version_bits(version)
        for i in range(18):
            bit = bool((vb >> i) & 1)
            mod[i // 3, n - 11 + i % 3] = bit     # TR copy
            mod[n - 11 + i % 3, i // 3] = bit     # BL copy


def _runs_penalty(grid: np.ndarray) -> int:
    """N1 over the rows of ``grid``, vectorized: boundaries between
    same-color runs come from the horizontal diff; per-run lengths from
    consecutive boundary indices."""
    h, w = grid.shape
    g = grid.astype(np.int8)
    # boundary flags incl. virtual boundaries at both edges of each row
    edge = np.ones((h, 1), dtype=bool)
    bnd = np.concatenate([edge, g[:, 1:] != g[:, :-1], edge], axis=1)
    rr, cc = np.nonzero(bnd)
    # consecutive boundary pairs within the same row = runs
    same_row = rr[1:] == rr[:-1]
    lengths = (cc[1:] - cc[:-1])[same_row]
    long = lengths[lengths >= 5]
    return int((long - 2).sum())             # 3 + (len - 5) each


def _penalty(mod: np.ndarray) -> int:
    n = mod.shape[0]
    # N1: runs of >=5 same-colored modules (rows and cols)
    score = _runs_penalty(mod) + _runs_penalty(mod.T)
    # N2: 2x2 blocks of one color
    blocks = (mod[:-1, :-1] == mod[1:, :-1]) & \
             (mod[:-1, :-1] == mod[:-1, 1:]) & \
             (mod[:-1, :-1] == mod[1:, 1:])
    score += 3 * int(blocks.sum())
    # N3: finder-like 1011101 with 4 light modules on either side
    pat = np.array([1, 0, 1, 1, 1, 0, 1], dtype=np.int8)
    for grid in (mod, mod.T):
        g = grid.astype(np.int8)
        w = g.shape[1]
        win = np.lib.stride_tricks.sliding_window_view(g, 7, axis=1)
        hit = (win == pat).all(axis=2)        # (rows, w-6)
        pad = np.zeros((g.shape[0], 4), dtype=np.int8)
        gp = np.concatenate([pad + 1, g, pad + 1], axis=1)  # pad dark
        # light quad before: columns i-4..i-1 (shifted by the +4 pad)
        wb = np.lib.stride_tricks.sliding_window_view(gp, 4, axis=1)
        before_light = (wb[:, :w - 6] == 0).all(axis=2)
        after_light = (wb[:, 11:11 + (w - 6)] == 0).all(axis=2)
        score += 40 * int((hit & (before_light | after_light)).sum())
    # N4: dark-module proportion
    dark_pct = 100.0 * mod.sum() / mod.size
    score += 10 * int(abs(dark_pct - 50) / 5)
    return score


MAX_PAYLOAD = 213  # bytes (fits V10-M: 216 data codewords - 20-bit header)


def _interleave_blocks(cws: bytes, blocks: list[tuple[int, int]]) -> bytes:
    """Split data codewords into RS blocks, append per-block parity,
    interleave round-robin (all data column-wise, then all parity)."""
    datas, pos = [], 0
    for _ec, d in blocks:
        datas.append(cws[pos:pos + d])
        pos += d
    ecs = [rs_encode(b, ec)[len(b):] for (ec, _d), b in zip(blocks, datas)]
    out = bytearray()
    for i in range(max(len(b) for b in datas)):
        for b in datas:
            if i < len(b):
                out.append(b[i])
    for i in range(blocks[0][0]):        # ec length is uniform per (v, lvl)
        for e in ecs:
            out.append(e[i])
    return bytes(out)


def _build_matrix(version: int, level: str, codewords: bytes,
                  mask: int) -> np.ndarray:
    n = _size(version)
    mod = np.zeros((n, n), dtype=bool)
    _place_function_patterns(mod, version)
    bits = [(cw >> (7 - k)) & 1 for cw in codewords for k in range(8)]
    coords = _data_coords(version)
    mfn = _mask_fn(mask)
    for (r, c), bit in zip(coords, bits):
        mod[r, c] = bool(bit) ^ mfn(r, c)
    # remainder bits (coords beyond codeword bits) stay 0 ^ mask
    for (r, c) in coords[len(bits):]:
        mod[r, c] = mfn(r, c)
    fmt = _format_bits(level, mask)
    c1, c2 = _format_positions(n)
    for i in range(15):
        bit = bool((fmt >> i) & 1)
        mod[c1[i]] = bit
        mod[c2[i]] = bit
    return mod


def encode_matrix(payload: str, level: str = "M"
                  ) -> tuple[np.ndarray, int, int]:
    """Payload -> (module matrix, version, chosen mask)."""
    data = payload.encode("utf-8")
    if not 1 <= len(data) <= MAX_PAYLOAD:
        raise ValueError(f"payload length {len(data)} out of range")
    version = None
    for v in sorted(_BLOCKS):
        cap_bits = sum(d for _ec, d in _BLOCKS[v][level]) * 8
        if 4 + (16 if v >= 10 else 8) + 8 * len(data) <= cap_bits:
            version = v
            break
    if version is None:
        raise ValueError("payload too long for v1-10")
    n_data = sum(d for _ec, d in _BLOCKS[version][level])
    bits = []

    def push(val: int, width: int):
        for k in range(width - 1, -1, -1):
            bits.append((val >> k) & 1)

    push(0b0100, 4)              # byte mode
    push(len(data), 16 if version >= 10 else 8)   # count field
    for b in data:
        push(b, 8)
    push(0, min(4, n_data * 8 - len(bits)))   # terminator
    while len(bits) % 8:
        bits.append(0)
    cws = bytearray(int("".join(map(str, bits[i:i + 8])), 2)
                    for i in range(0, len(bits), 8))
    pad = (0xEC, 0x11)
    k = 0
    while len(cws) < n_data:
        cws.append(pad[k % 2])
        k += 1
    full = _interleave_blocks(bytes(cws), _BLOCKS[version][level])
    best = None
    for mask in range(8):
        mat = _build_matrix(version, level, full, mask)
        p = _penalty(mat)
        if best is None or p < best[0]:
            best = (p, mask, mat)
    return best[2], version, best[1]


def encode(payload: str, level: str = "M") -> np.ndarray:
    """Payload -> uint8 image (ink=0/paper=255), MODULE px per module."""
    mat, _v, _m = encode_matrix(payload, level)
    img = np.full((mat.shape[0] * MODULE, mat.shape[1] * MODULE), PAPER,
                  dtype=np.uint8)
    yy = np.repeat(np.repeat(mat, MODULE, axis=0), MODULE, axis=1)
    img[yy] = INK
    return img
