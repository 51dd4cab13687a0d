"""QR Code Model 2 (ISO/IEC 18004 subset) — pixel decoder.

Replaces the round-2 "QR-lite" stand-in with the published spec so U3
reaches real parity with the reference's pyzbar decode
(/root/reference/src/infrastructure/services/optional_services.py:56-78,
record shape {data, type='QRCODE', position}).  Everything here derives
from the public standard: byte mode, versions 1-10 (21-57 modules),
error-correction levels L/M/Q/H with Reed-Solomon over GF(256)
(poly 0x11D, b=0 consecutive roots), multi-block codeword interleaving
(versions 3+ split data across up to 8 RS blocks, round-robin data then
round-robin parity per the spec's table 9), the 8 mask patterns selected
by the four penalty rules, BCH(15,5)-protected format information (mask
0x5412), the BCH(18,6)-protected version-information block of versions
7+ (generator 0x1F25, both placements), the full alignment-pattern
coordinate grid (versions 7+ carry 6, minus the three finder overlaps),
the 16-bit byte-mode count field from version 10, finder/separator/
timing function patterns and the standard two-column zigzag codeword
placement.  The decoder corrects up to floor(ec_codewords/2) corrupted
codewords PER BLOCK (Berlekamp-Massey + Chien + Forney), tolerates up
to 3 flipped format-info modules per copy and 3 flipped version-info
modules per copy — exercised by the adversarial damaged-module tests.

The fixture encoder (fixtures/codecs/qrcode.py) imports the
placement/table code below, but the decoder is tested against *damaged*
renders too, so round-tripping is not vacuous.  The RS block table is
cross-checked in tests against the zigzag placement itself
(sum(ec+data)*8 must equal the non-function module count minus the
version's remainder bits — an independent derivation of table 9's
totals).  Versions beyond 10 are out of scope (payloads <= 213 bytes).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

# ---------------------------------------------------------------------------
# GF(256) arithmetic (primitive polynomial 0x11D, generator alpha = 2)
# ---------------------------------------------------------------------------

_EXP = [0] * 512
_LOG = [0] * 256
_x = 1
for _i in range(255):
    _EXP[_i] = _x
    _LOG[_x] = _i
    _x <<= 1
    if _x & 0x100:
        _x ^= 0x11D
for _i in range(255, 512):
    _EXP[_i] = _EXP[_i - 255]


_EXP_NP = np.array(_EXP, dtype=np.int32)
_LOG_NP = np.array(_LOG, dtype=np.int32)


def _syndromes(codeword: list[int], nsym: int) -> np.ndarray:
    """All nsym syndromes S_i = c(alpha^i) at once: XOR-reduce
    EXP[(i*deg_j + log c_j) mod 255] over the nonzero coefficients —
    exact GF(256) arithmetic on integer numpy tables.  This is the hot
    path of every decode: undamaged symbols (the overwhelming case)
    exit on the all-zero check without ever running Berlekamp-Massey."""
    c = np.asarray(codeword, dtype=np.int32)
    nz = np.nonzero(c)[0]
    if nz.size == 0:
        return np.zeros(nsym, dtype=np.int32)
    deg = (c.size - 1 - nz) % 255
    logc = _LOG_NP[c[nz]]
    idx = (np.arange(nsym, dtype=np.int32)[:, None] * deg[None, :]
           + logc[None, :]) % 255
    return np.bitwise_xor.reduce(_EXP_NP[idx], axis=1)


def _gf_mul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _EXP[_LOG[a] + _LOG[b]]


def _gf_div(a: int, b: int) -> int:
    return _EXP[_LOG[a] + 255 - _LOG[b]] if a else 0


def _poly_eval(p: list[int], x: int) -> int:
    """Horner evaluation; p[0] is the highest-degree coefficient."""
    y = 0
    for c in p:
        y = _gf_mul(y, x) ^ c
    return y


def _gf_pow(x: int, e: int) -> int:
    if e == 0:
        return 1
    if x == 0:
        return 0
    return _EXP[(_LOG[x] * e) % 255]


def rs_correct(codeword: list[int], nsym: int) -> list[int] | None:
    """Correct up to nsym//2 byte errors; None if uncorrectable.

    QR convention: roots alpha^0..alpha^{nsym-1} (b=0), codeword[0] is
    the highest-degree coefficient.  Berlekamp-Massey error locator,
    Chien root search, Forney magnitudes (the b=0 form carries the
    extra X_i factor)."""
    synd = [int(s) for s in _syndromes(codeword, nsym)]
    if max(synd) == 0:
        return codeword
    # Berlekamp-Massey (sigma in ascending powers: sigma[i] = coeff x^i)
    sigma, B = [1], [1]
    L, m, b = 0, 1, 1
    for n in range(nsym):
        d = synd[n]
        for i in range(1, L + 1):
            if i < len(sigma) and sigma[i]:
                d ^= _gf_mul(sigma[i], synd[n - i])
        if d == 0:
            m += 1
            continue
        coef = _gf_div(d, b)
        shifted = [0] * m + [_gf_mul(coef, v) for v in B]
        new_sigma = [0] * max(len(sigma), len(shifted))
        for i, v in enumerate(sigma):
            new_sigma[i] ^= v
        for i, v in enumerate(shifted):
            new_sigma[i] ^= v
        if 2 * L <= n:
            B, b, L, m = sigma, d, n + 1 - L, 1
        else:
            m += 1
        sigma = new_sigma
    if L > nsym // 2:
        return None
    # Chien search: error at codeword index pos (degree deg) iff
    # sigma(alpha^{-deg}) == 0
    n_cw = len(codeword)
    sigma_desc = list(reversed(sigma))
    err_pos = []
    for pos in range(n_cw):
        deg = n_cw - 1 - pos
        x_inv = _EXP[(255 - deg % 255) % 255]
        if _poly_eval(sigma_desc, x_inv) == 0:
            err_pos.append(pos)
    if len(err_pos) != L:
        return None
    # Omega = [S(x) * sigma(x)] mod x^nsym   (ascending powers)
    omega = [0] * nsym
    for i, sc in enumerate(synd):
        if sc:
            for j, gc in enumerate(sigma):
                if gc and i + j < nsym:
                    omega[i + j] ^= _gf_mul(sc, gc)
    omega_desc = list(reversed(omega))
    out = codeword[:]
    for pos in err_pos:
        deg = n_cw - 1 - pos
        x_inv = _EXP[(255 - deg % 255) % 255]
        num = _poly_eval(omega_desc, x_inv)
        den = 0                       # sigma'(x_inv): odd-power terms
        for i in range(1, len(sigma), 2):
            if sigma[i]:
                den ^= _gf_mul(sigma[i], _gf_pow(x_inv, i - 1))
        if den == 0:
            return None
        # b=0: e_i = X_i * Omega(X_i^-1) / sigma'(X_i^-1)
        out[pos] ^= _gf_mul(_gf_div(num, den), _EXP[deg % 255])
    if _syndromes(out, nsym).any():
        return None
    return out


# ---------------------------------------------------------------------------
# tables: versions 1-10, EC levels
# ---------------------------------------------------------------------------

# (version, level) -> RS block structure: list of (ec_per_block, n_data)
# per the spec's error-correction characteristics table; group-2 blocks
# (one extra data codeword) follow group-1
_BLOCKS = {
    1: {"L": [(7, 19)], "M": [(10, 16)], "Q": [(13, 13)], "H": [(17, 9)]},
    2: {"L": [(10, 34)], "M": [(16, 28)], "Q": [(22, 22)],
        "H": [(28, 16)]},
    3: {"L": [(15, 55)], "M": [(26, 44)], "Q": [(18, 17)] * 2,
        "H": [(22, 13)] * 2},
    4: {"L": [(20, 80)], "M": [(18, 32)] * 2, "Q": [(26, 24)] * 2,
        "H": [(16, 9)] * 4},
    5: {"L": [(26, 108)], "M": [(24, 43)] * 2,
        "Q": [(18, 15)] * 2 + [(18, 16)] * 2,
        "H": [(22, 11)] * 2 + [(22, 12)] * 2},
    6: {"L": [(18, 68)] * 2, "M": [(16, 27)] * 4, "Q": [(24, 19)] * 4,
        "H": [(28, 15)] * 4},
    7: {"L": [(20, 78)] * 2, "M": [(18, 31)] * 4,
        "Q": [(18, 14)] * 2 + [(18, 15)] * 4,
        "H": [(26, 13)] * 4 + [(26, 14)]},
    8: {"L": [(24, 97)] * 2, "M": [(22, 38)] * 2 + [(22, 39)] * 2,
        "Q": [(22, 18)] * 4 + [(22, 19)] * 2,
        "H": [(26, 14)] * 4 + [(26, 15)] * 2},
    9: {"L": [(30, 116)] * 2, "M": [(22, 36)] * 3 + [(22, 37)] * 2,
        "Q": [(20, 16)] * 4 + [(20, 17)] * 4,
        "H": [(24, 12)] * 4 + [(24, 13)] * 4},
    10: {"L": [(18, 68)] * 2 + [(18, 69)] * 2,
         "M": [(26, 43)] * 4 + [(26, 44)],
         "Q": [(24, 19)] * 6 + [(24, 20)] * 2,
         "H": [(28, 15)] * 6 + [(28, 16)] * 2},
}
_CAPACITY = {v: sum(ec + d for ec, d in blocks["M"])
             for v, blocks in _BLOCKS.items()}
_EC_BITS = {"L": 0b01, "M": 0b00, "Q": 0b11, "H": 0b10}
# alignment-pattern center coordinates (row AND column values); every
# (r, c) pair is a center except the three that overlap finders
_ALIGN_CENTERS = {2: [18], 3: [22], 4: [26], 5: [30], 6: [34],
                  7: [6, 22, 38], 8: [6, 24, 42], 9: [6, 26, 46],
                  10: [6, 28, 50]}


def _align_positions(version: int) -> list[tuple[int, int]]:
    cs = _ALIGN_CENTERS.get(version, [])
    n = _size(version)
    out = []
    for r in cs:
        for c in cs:
            if ((r <= 8 and c <= 8) or (r <= 8 and c >= n - 9)
                    or (r >= n - 9 and c <= 8)):
                continue                      # overlaps a finder corner
            out.append((r, c))
    return out

_FINDER = np.array([[1, 1, 1, 1, 1, 1, 1],
                    [1, 0, 0, 0, 0, 0, 1],
                    [1, 0, 1, 1, 1, 0, 1],
                    [1, 0, 1, 1, 1, 0, 1],
                    [1, 0, 1, 1, 1, 0, 1],
                    [1, 0, 0, 0, 0, 0, 1],
                    [1, 1, 1, 1, 1, 1, 1]], dtype=bool)


def _size(version: int) -> int:
    return 17 + 4 * version


def _function_mask(version: int) -> np.ndarray:
    """True where a module is a function pattern (incl. format areas)."""
    n = _size(version)
    fm = np.zeros((n, n), dtype=bool)
    fm[0:8, 0:8] = True          # TL finder + separator
    fm[0:8, n - 8:n] = True      # TR
    fm[n - 8:n, 0:8] = True      # BL
    fm[6, :] = True              # timing row
    fm[:, 6] = True              # timing col
    for (r, c) in _align_positions(version):
        fm[r - 2:r + 3, c - 2:c + 3] = True  # alignment patterns
    fm[4 * version + 9, 8] = True          # dark module
    # format info areas
    fm[8, 0:9] = True
    fm[0:9, 8] = True
    fm[8, n - 8:n] = True
    fm[n - 8:n, 8] = True
    if version >= 7:             # version info areas (both copies)
        fm[0:6, n - 11:n - 8] = True
        fm[n - 11:n - 8, 0:6] = True
    return fm


def _format_bits(level: str, mask: int) -> int:
    data5 = (_EC_BITS[level] << 3) | mask
    rem = data5 << 10
    for i in range(14, 9, -1):
        if rem & (1 << i):
            rem ^= 0x537 << (i - 10)
    return ((data5 << 10) | rem) ^ 0x5412


_ALL_FORMATS = [(lvl, m, _format_bits(lvl, m))
                for lvl in ("L", "M", "Q", "H") for m in range(8)]


def _version_bits(version: int) -> int:
    """18-bit version information: 6-bit version + 12-bit BCH remainder
    (generator 0x1F25).  Versions 7+ only."""
    rem = version << 12
    for i in range(17, 11, -1):
        if rem & (1 << i):
            rem ^= 0x1F25 << (i - 12)
    return (version << 12) | rem


def _format_positions(n: int):
    """The two 15-module format-info placements, bit 0 first."""
    copy1 = [(8, 0), (8, 1), (8, 2), (8, 3), (8, 4), (8, 5), (8, 7),
             (8, 8), (7, 8), (5, 8), (4, 8), (3, 8), (2, 8), (1, 8),
             (0, 8)]
    copy2 = [(n - 1, 8), (n - 2, 8), (n - 3, 8), (n - 4, 8), (n - 5, 8),
             (n - 6, 8), (n - 7, 8),
             (8, n - 8), (8, n - 7), (8, n - 6), (8, n - 5), (8, n - 4),
             (8, n - 3), (8, n - 2), (8, n - 1)]
    return copy1, copy2


@lru_cache(maxsize=None)
def _data_coords(version: int):
    """Zigzag codeword placement order over non-function modules.
    Cached: rebuilt identically for every encode/decode of a version
    (callers treat the list as read-only)."""
    n = _size(version)
    fm = _function_mask(version)
    coords = []
    col = n - 1
    upward = True
    while col > 0:
        if col == 6:
            col -= 1
        rows = range(n - 1, -1, -1) if upward else range(n)
        for row in rows:
            for c in (col, col - 1):
                if not fm[row, c]:
                    coords.append((row, c))
        upward = not upward
        col -= 2
    return coords


@lru_cache(maxsize=None)
def _decode_tables(version: int, mask: int):
    """(rows, cols, mask bits) arrays over the zigzag placement order —
    the per-symbol decode hot path reads every data module with ONE
    fancy-index + xor instead of a per-coordinate Python loop."""
    coords = _data_coords(version)
    rs = np.array([r for r, _ in coords], dtype=np.intp)
    cs = np.array([c for _, c in coords], dtype=np.intp)
    mfn = _mask_fn(mask)
    mvals = np.array([mfn(int(r), int(c)) for r, c in coords],
                     dtype=bool)
    return rs, cs, mvals


def _mask_fn(mask: int):
    return [
        lambda i, j: (i + j) % 2 == 0,
        lambda i, j: i % 2 == 0,
        lambda i, j: j % 3 == 0,
        lambda i, j: (i + j) % 3 == 0,
        lambda i, j: (i // 2 + j // 3) % 2 == 0,
        lambda i, j: (i * j) % 2 + (i * j) % 3 == 0,
        lambda i, j: ((i * j) % 2 + (i * j) % 3) % 2 == 0,
        lambda i, j: ((i + j) % 2 + (i * j) % 3) % 2 == 0,
    ][mask]


def _deinterleave_correct(cws: list[int],
                          blocks: list[tuple[int, int]]) -> list[int] | None:
    """Undo the spec's round-robin block interleaving + per-block RS
    correction; returns the concatenated data codewords or None if any
    block is beyond its correction capacity."""
    d_lens = [d for _ec, d in blocks]
    n_ec = blocks[0][0]
    datas: list[list[int]] = [[] for _ in blocks]
    idx = 0
    for i in range(max(d_lens)):
        for bi, dl in enumerate(d_lens):
            if i < dl:
                datas[bi].append(cws[idx])
                idx += 1
    ecs: list[list[int]] = [[] for _ in blocks]
    for _i in range(n_ec):
        for bi in range(len(blocks)):
            ecs[bi].append(cws[idx])
            idx += 1
    stream: list[int] = []
    for bi in range(len(blocks)):
        fixed = rs_correct(datas[bi] + ecs[bi], n_ec)
        if fixed is None:
            return None
        stream.extend(fixed[:d_lens[bi]])
    return stream


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def decode_matrix(mod: np.ndarray) -> str | None:
    """Module matrix (possibly damaged) -> payload, or None."""
    n = mod.shape[0]
    if mod.shape[1] != n or (n - 17) % 4:
        return None
    version = (n - 17) // 4
    if version not in _CAPACITY:
        return None
    # finders at TL/TR/BL (tolerate a couple of damaged modules each)
    for (r, c) in ((0, 0), (0, n - 7), (n - 7, 0)):
        if int((mod[r:r + 7, c:c + 7] != _FINDER).sum()) > 2:
            return None
    if version >= 7:
        # version info must confirm the size-derived version in at
        # least one copy (<= 3 flipped modules tolerated per copy —
        # BCH(18,6) minimum distance is 8)
        want = _version_bits(version)
        ok = False
        for copy in range(2):
            got = 0
            for i in range(18):
                pos = ((i // 3, n - 11 + i % 3) if copy == 0
                       else (n - 11 + i % 3, i // 3))
                got |= int(mod[pos]) << i
            if bin(got ^ want).count("1") <= 3:
                ok = True
                break
        if not ok:
            return None
    # format info: nearest valid codeword within hamming distance 3
    c1, c2 = _format_positions(n)
    best = None
    for pos in (c1, c2):
        got = 0
        for i in range(15):
            got |= int(mod[pos[i]]) << i
        for (lvl, mask, fmt) in _ALL_FORMATS:
            d = bin(got ^ fmt).count("1")
            if best is None or d < best[0]:
                best = (d, lvl, mask)
    if best is None or best[0] > 3:
        return None
    level, mask = best[1], best[2]
    rs_, cs_, mvals = _decode_tables(version, mask)
    bits = mod[rs_, cs_].astype(bool) ^ mvals
    total = _CAPACITY[version]
    if bits.size < total * 8:
        return None
    cws = np.packbits(bits[:total * 8]).tolist()
    stream = _deinterleave_correct(cws, _BLOCKS[version][level])
    if stream is None:
        return None
    # parse byte-mode segment
    def take(nbits: int, state: list[int]) -> int:
        v = 0
        for _ in range(nbits):
            byte_i, bit_i = divmod(state[0], 8)
            v = (v << 1) | ((stream[byte_i] >> (7 - bit_i)) & 1)
            state[0] += 1
        return v

    st = [0]
    if take(4, st) != 0b0100:
        return None
    cnt = take(16 if version >= 10 else 8, st)
    if cnt == 0 or st[0] + 8 * cnt > 8 * len(stream):
        return None
    data = bytes(take(8, st) for _ in range(cnt))
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        return None


def _sample_modules(sub: np.ndarray, m: int) -> np.ndarray | None:
    """Downsample an axis-aligned symbol crop to modules by majority."""
    h, w = sub.shape
    if h % m or w % m:
        return None
    gh, gw = h // m, w // m
    ink = sub < 128
    return (ink.reshape(gh, m, gw, m).sum(axis=(1, 3)) > (m * m) // 2)


def is_finder_ring(crop: np.ndarray) -> int | None:
    """Does this component-bbox crop look like a finder pattern?
    Returns the module pitch in pixels, or None.  ``crop`` is the page
    image slice at the component's bbox (uint8)."""
    h, w = crop.shape
    if h != w or h % 7 or h < 7:
        return None
    m = h // 7
    mods = _sample_modules(crop, m)
    if mods is None or mods.shape != (7, 7):
        return None
    return m if bool((mods == _FINDER).all()) else None


def locate_symbols(rings: list[tuple[int, int, int, int]]
                   ) -> list[tuple[int, int, int, int]]:
    """Group finder-ring bboxes (y0, x0, y1, x1 inclusive) into symbol
    bboxes: any 3 rings of equal size whose joint bbox is square with
    rings in 3 of its corners."""
    from itertools import combinations
    out = []
    for trio in combinations(rings, 3):
        hs = {r[2] - r[0] for r in trio}
        ws = {r[3] - r[1] for r in trio}
        if len(hs) != 1 or hs != ws:
            continue
        s = hs.pop()
        y0 = min(r[0] for r in trio)
        x0 = min(r[1] for r in trio)
        y1 = max(r[2] for r in trio)
        x1 = max(r[3] for r in trio)
        if y1 - y0 != x1 - x0:
            continue
        corners = {(y0, x0), (y0, x1 - s), (y1 - s, x0), (y1 - s, x1 - s)}
        pos = {(r[0], r[1]) for r in trio}
        if len(pos) == 3 and pos <= corners:
            out.append((y0, x0, y1, x1))
    return out


def try_decode_region(sub: np.ndarray) -> str | None:
    """Decode an axis-aligned symbol crop (any of the 4 rotations)."""
    h, w = sub.shape
    if h != w:
        return None
    for nmods in (21, 25, 29, 33, 37, 41, 45, 49, 53, 57):
        if h % nmods:
            continue
        m = h // nmods
        mods = _sample_modules(sub, m)
        if mods is None:
            continue
        for k in range(4):
            got = decode_matrix(np.rot90(mods, k) if k else mods)
            if got is not None:
                return got
    return None
