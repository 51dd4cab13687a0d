"""Image-route tests: exact shear rotation, skew estimation, connected
components, QR-lite round trip, signature geometry, and the headline
invariant — a rotated page extracts byte-identically to its upright twin.
"""

import random

import numpy as np
import pytest

from ocr_gpu_services_spark.core import qrcode
from ocr_gpu_services_spark.core.components import connected_components
from ocr_gpu_services_spark.core.extract import extract_document, get_atlas
from ocr_gpu_services_spark.core.geometry import (
    SKEW_GRID, derotate_canvas, estimate_skew, rotate_canvas)
from ocr_gpu_services_spark.core.png import png_encode
from ocr_gpu_services_spark.fixtures.codecs import qrcode as qrcode_enc
from ocr_gpu_services_spark.fixtures import imagegen
from ocr_gpu_services_spark.fixtures.gen import gen_rows, image_expectations


# ---------------------------------------------------------------------------
# geometry
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("deg", [-8.0, -4.5, -1.0, 1.5, 3.0, 8.0])
def test_shear_rotation_roundtrip_exact(deg):
    plan = imagegen.image_plan(random.Random(99), 99)
    up, _ = imagegen.compose_upright(plan)
    back = derotate_canvas(rotate_canvas(up, deg), deg)
    iy, ix = np.nonzero(back < 128)
    jy, jx = np.nonzero(up < 128)
    assert (set(zip(iy - iy.min(), ix - ix.min()))
            == set(zip(jy - jy.min(), jx - jx.min())))


def test_estimate_skew_recovers_grid_angles():
    plan = imagegen.image_plan(random.Random(5), 5)
    up, _ = imagegen.compose_upright(plan)
    for deg in (0.0, -6.5, -2.0, 1.0, 4.5, 8.0):
        assert estimate_skew(rotate_canvas(up, deg)) == deg


def test_skew_grid_has_no_subdegree_candidates():
    assert 0.0 in SKEW_GRID
    assert all(d == 0.0 or abs(d) >= 1.0 for d in SKEW_GRID)


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------

def test_components_basic_shapes():
    m = np.zeros((10, 12), bool)
    m[1, 1] = True                       # lone pixel
    m[3, 2:5] = True
    m[4, 5] = True                       # diagonal touch merges (8-conn)
    m[8, 0:3] = True
    m[8, 5:7] = True                     # 2-column gap stays separate
    assert connected_components(m) == [
        {"y0": 1, "x0": 1, "y1": 1, "x1": 1, "area": 1},
        {"y0": 3, "x0": 2, "y1": 4, "x1": 5, "area": 4},
        {"y0": 8, "x0": 0, "y1": 8, "x1": 2, "area": 3},
        {"y0": 8, "x0": 5, "y1": 8, "x1": 6, "area": 2},
    ]


def test_components_one_column_gap_does_not_merge():
    m = np.zeros((3, 8), bool)
    m[1, 0:2] = True
    m[1, 3:5] = True
    assert len(connected_components(m)) == 2


def test_components_vs_bruteforce_flood_fill():
    rng = random.Random(3)
    for _ in range(10):
        m = np.array([[rng.random() < 0.35 for _ in range(24)]
                      for _ in range(16)])
        got = connected_components(m)
        # brute-force 8-conn flood fill
        seen = np.zeros_like(m)
        want = []
        for y in range(m.shape[0]):
            for x in range(m.shape[1]):
                if m[y, x] and not seen[y, x]:
                    stack, px = [(y, x)], []
                    seen[y, x] = True
                    while stack:
                        cy, cx = stack.pop()
                        px.append((cy, cx))
                        for dy in (-1, 0, 1):
                            for dx in (-1, 0, 1):
                                ny, nx = cy + dy, cx + dx
                                if (0 <= ny < m.shape[0]
                                        and 0 <= nx < m.shape[1]
                                        and m[ny, nx] and not seen[ny, nx]):
                                    seen[ny, nx] = True
                                    stack.append((ny, nx))
                    ys = [p[0] for p in px]
                    xs = [p[1] for p in px]
                    want.append({"y0": min(ys), "x0": min(xs),
                                 "y1": max(ys), "x1": max(xs),
                                 "area": len(px)})
        want.sort(key=lambda c: (c["y0"], c["x0"], c["y1"], c["x1"]))
        assert got == want


# ---------------------------------------------------------------------------
# QR Model 2 (core/qrcode.py)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("payload", ["A", "QR:0001234", "x" * 26,
                                     "v3/" + "B" * 33,       # version 3
                                     "v4/" + "C" * 55,       # version 4
                                     "v5/" + "D" * 80,       # version 5
                                     "v6/" + "E" * 97,       # version 6
                                     "v7/" + "F" * 112,      # v7: version info
                                     "v8/" + "G" * 137,      # v8: 3x3 aligns
                                     "v9/" + "H" * 167,      # version 9
                                     "v10" + "I" * 209])     # v10: 16-bit count
def test_qr_roundtrip(payload):
    assert qrcode.try_decode_region(qrcode_enc.encode(payload)) == payload


def test_qr_block_table_matches_placement():
    """Independent derivation of the RS block table totals: for every
    version the zigzag data coordinates must count exactly
    8*total_codewords + remainder_bits (7 for v2-6, 0 for v1 and
    v7-13 per the spec), and all four EC levels of a version must
    agree on total codewords — a typo in any _BLOCKS entry breaks
    one of these."""
    for v in sorted(qrcode._BLOCKS):
        totals = {lvl: sum(ec + d for ec, d in qrcode._BLOCKS[v][lvl])
                  for lvl in "LMQH"}
        assert len(set(totals.values())) == 1, (v, totals)
        rem = len(qrcode._data_coords(v)) - 8 * totals["M"]
        assert rem == (7 if 2 <= v <= 6 else 0), (v, rem)


def test_qr_rejects_non_symbols():
    assert qrcode.try_decode_region(np.full((63, 63), 255, np.uint8)) is None
    assert qrcode.try_decode_region(np.zeros((63, 63), np.uint8)) is None
    assert qrcode.try_decode_region(np.zeros((63, 62), np.uint8)) is None


@pytest.mark.parametrize("payload", ["QR:0000042",          # v1, 1 block
                                     "v3Q" + "E" * 34,      # v3, 2 blocks
                                     "v5X" + "F" * 78,      # v5, 2 blocks
                                     "v8Y" + "G" * 140,     # v8, 4 blocks
                                     "v10" + "H" * 200])    # v10, 5 blocks
def test_qr_corrects_damaged_modules(payload):
    """Reed-Solomon actually corrects: flip whole codewords up to the
    per-block correction bound (nsym//2 — interleaving spreads any
    nsym//2 interleaved positions across blocks at <= nsym//2 each) and
    decode must still succeed; well past the bound it must fail loudly
    (None), never return wrong data."""
    import random
    rng = random.Random(7)
    mat, v, _mask = qrcode_enc.encode_matrix(payload, "M")
    nsym = qrcode._BLOCKS[v]["M"][0][0]
    dat = qrcode._data_coords(v)
    n_cw = len(dat) // 8
    for n_bad, want_ok in ((nsym // 2, True), (nsym + 4, False)):
        m = mat.copy()
        for cw in rng.sample(range(n_cw), n_bad):
            for k in range(8):
                r, c = dat[cw * 8 + k]
                m[r, c] = not m[r, c]
        got = qrcode.decode_matrix(m)
        if want_ok:
            assert got == payload
        else:
            assert got in (None, payload)   # detect or overcorrect-proof


def test_qr_no_false_positives_on_garbage():
    """Random squares must never decode: the chain finder-check ->
    format-BCH -> Reed-Solomon -> byte-mode parse has to reject noise,
    so a crawl image full of square-ish components cannot emit spurious
    qr spans."""
    import random
    rng = random.Random(3)
    for _ in range(30):
        n = rng.choice([63, 75])
        noise = (np.random.RandomState(rng.randrange(2**31))
                 .rand(n, n) < rng.uniform(0.2, 0.8))
        img = np.where(noise, 0, 255).astype(np.uint8)
        assert qrcode.try_decode_region(img) is None
    # a symbol-shaped region with REAL finders but garbage data must
    # fail RS and return None, never wrong data
    mat, v, _m = qrcode_enc.encode_matrix("QR:9999999", "M")
    bad = mat.copy()
    dat = qrcode._data_coords(v)
    rs = np.random.RandomState(5)
    for (r, c) in dat:
        bad[r, c] = bool(rs.rand() < 0.5)
    assert qrcode.decode_matrix(bad) is None


def test_qr_format_info_damage_tolerated():
    mat, _v, _mask = qrcode_enc.encode_matrix("QR:1234567", "M")
    n = mat.shape[0]
    c1, _c2 = qrcode._format_positions(n)
    m = mat.copy()
    for pos in c1[:3]:                      # 3 flipped format modules
        m[pos] = not m[pos]
    assert qrcode.decode_matrix(m) == "QR:1234567"


def test_qr_version_info_damage():
    """v7+ carries the BCH(18,6) version block twice; the decoder
    accepts if EITHER copy is within hamming distance 3 of the
    size-derived version's codeword, and rejects when both copies are
    wrecked (a size-misread must not silently decode)."""
    payload = "v7/" + "K" * 110
    mat, v, _mask = qrcode_enc.encode_matrix(payload, "M")
    assert v == 7
    n = mat.shape[0]
    tr = [(i // 3, n - 11 + i % 3) for i in range(18)]
    bl = [(n - 11 + i % 3, i // 3) for i in range(18)]
    m = mat.copy()
    for pos in tr[:3] + bl[2:5]:        # 3 flips in EACH copy: tolerated
        m[pos] = not m[pos]
    assert qrcode.decode_matrix(m) == payload
    m = mat.copy()
    for pos in tr[:5] + bl[:5]:         # both copies past distance 3
        m[pos] = not m[pos]
    assert qrcode.decode_matrix(m) is None


# ---------------------------------------------------------------------------
# end-to-end image route vs generator ground truth
# ---------------------------------------------------------------------------

def test_image_route_matches_plan_expectations_tiny():
    get_atlas()
    exps = {e["url"]: e for e in image_expectations("tiny")}
    rows = {r["url"]: r for r in gen_rows("tiny") if r["url"] in exps}
    assert len(exps) >= 20
    n_sig = n_qr = n_rot = 0
    for url, e in exps.items():
        ct, text, spans, _dt, _cf, err = extract_document(rows[url]["html"],
                                                          None)
        assert ct == "image" and err is None and text
        words = [s for s in spans if s.kind == "word"]
        assert words and all(s.conf == 1.0 for s in words), url
        qr = [s for s in spans if s.kind == "qr"]
        sig = [s for s in spans if s.kind == "signature"]
        if e["qr_payload"] is not None:
            n_qr += 1
            assert [(q.text, q.x0, q.y0, q.x1, q.y1) for q in qr] \
                == [(e["qr_payload"], *e["qr_span"])], url
        else:
            assert not qr, url
        if e["sig_span"] is not None:
            n_sig += 1
            assert [(s.x0, s.y0, s.x1, s.y1) for s in sig] \
                == [e["sig_span"]], url
            assert 0.05 < sig[0].conf < 0.5, url      # P8 density band
        else:
            assert not sig, url
        n_rot += e["angle"] != 0.0
    assert n_sig and n_qr and n_rot   # the corpus exercises all three


def test_rotated_page_extracts_byte_identically_to_upright_twin():
    get_atlas()
    n_checked = 0
    for e in image_expectations("tiny"):
        if e["angle"] == 0.0:
            continue
        i = int(e["url"][-7:])
        rng_i = random.Random((7 << 20) ^ i)
        rng_i.random()                   # the row-kind draw
        plan = imagegen.image_plan(rng_i, i)
        assert plan["angle"] == e["angle"]
        rot = png_encode(imagegen.render_image_page(plan))
        upr = png_encode(imagegen.render_image_page(dict(plan, angle=0.0)))
        _, t1, s1, *_ = extract_document(rot, None)
        _, t2, s2, *_ = extract_document(upr, None)
        assert t1.encode() == t2.encode(), e["url"]
        assert [s.as_tuple() for s in s1] == [s.as_tuple() for s in s2]
        n_checked += 1
    assert n_checked >= 5


def test_bedded_page_extracts_identically_to_bare_twin():
    """U5 page extraction: a page photographed on a scanner bed must crop
    and extract byte-identically to the bare page."""
    get_atlas()
    n = 0
    for e in image_expectations("tiny"):
        i = int(e["url"][-7:])
        rng_i = random.Random((7 << 20) ^ i)
        rng_i.random()
        plan = imagegen.image_plan(rng_i, i)
        if not plan.get("bed"):
            continue
        bed = png_encode(imagegen.render_image_page(plan))
        bare = png_encode(imagegen.render_image_page(dict(plan, bed=None)))
        _, t1, s1, *_ = extract_document(bed, None)
        _, t2, s2, *_ = extract_document(bare, None)
        assert t1.encode() == t2.encode()
        assert [s.as_tuple() for s in s1] == [s.as_tuple() for s in s2]
        n += 1
    assert n >= 3


def test_perspective_photograph_rectify_roundtrip():
    """U5 perspective: a page photographed as an oversampled keystoned
    quad rectifies back to the flat document canvas byte-for-byte —
    structurally (no retries), because at OVERSAMPLE x capture distinct
    document pixels stay further apart than the rounding diameter."""
    import random

    from ocr_gpu_services_spark.core.perspective import (OVERSAMPLE,
                                                         photograph_to_quad)
    from ocr_gpu_services_spark.fixtures import imagegen

    for i in range(12):
        rng = random.Random(9000 + i)
        plan = imagegen.image_plan(rng, i)
        plan["bed"] = None
        plan["persp"] = None
        flat = imagegen.render_image_page(plan)
        fh, fw = flat.shape
        r2 = random.Random(i)
        ddx, ddy = r2.randint(8, 60), r2.randint(8, 60)
        px, py = r2.randint(8, 30), r2.randint(8, 30)
        tl = (px, py)
        tr = (px + OVERSAMPLE * (fw - 1), py)
        bl = (px, py + OVERSAMPLE * (fh - 1))
        br = (tr[0] + ddx, bl[1] + ddy)
        # photograph_to_quad ASSERTS the engine-path round trip internally
        photograph_to_quad(flat, (tl, tr, br, bl),
                           (br[1] + 20, br[0] + 20), imagegen.BED)


def test_perspective_page_extracts_like_flat_twin():
    """Full image route: keystoned (optionally also rotated) fixture
    pages produce byte-identical (text, spans) to their flat twins."""
    import random

    from ocr_gpu_services_spark.core.glyph_ocr import build_atlas
    from ocr_gpu_services_spark.core.image_page import process_image_page
    from ocr_gpu_services_spark.fixtures import imagegen

    atlas, charset = build_atlas()
    checked = 0
    for i in range(40):
        rng = random.Random(9500 + i)
        plan = imagegen.image_plan(rng, i)
        if plan["persp"] is None:
            continue
        checked += 1
        flat_plan = dict(plan, persp=None, bed=None)
        ref = process_image_page(
            imagegen.render_image_page(flat_plan), atlas, charset)
        got = process_image_page(
            imagegen.render_image_page(plan), atlas, charset)
        assert got == ref, f"plan {i} diverged"
    assert checked >= 5  # the 25% draw must actually exercise the path


def test_flipped_page_extracts_like_unflipped_twin():
    """U8-parity orientation handling (Paddle use_angle_cls): 180-flipped
    pages — alone or composed with rotation, perspective capture, or bed
    placement — extract byte-identically to their unflipped twins."""
    import random

    from ocr_gpu_services_spark.core.glyph_ocr import build_atlas
    from ocr_gpu_services_spark.core.image_page import process_image_page
    from ocr_gpu_services_spark.fixtures import imagegen

    atlas, charset = build_atlas()
    for i in range(15):
        rng = random.Random(6000 + i)
        plan = imagegen.image_plan(rng, i)
        plan["flip"] = True
        twin = dict(plan, flip=False)
        ref = process_image_page(
            imagegen.render_image_page(twin), atlas, charset)
        got = process_image_page(
            imagegen.render_image_page(plan), atlas, charset)
        assert got == ref, f"plan {i} diverged"


def test_upright_page_is_never_falsely_flipped():
    """The orientation vote must leave correctly-oriented pages alone:
    a clean glyph row scores a perfect 64 in place, and no 180-rotated
    row can reach it (atlas asserts rot180-freeness)."""
    import random

    import numpy as np

    from ocr_gpu_services_spark.core.glyph_ocr import (build_atlas,
                                                       orientation_score)
    from ocr_gpu_services_spark.fixtures import imagegen

    atlas, _ = build_atlas()
    for i in range(15):
        rng = random.Random(6100 + i)
        plan = imagegen.image_plan(rng, i)
        plan.update(flip=False, angle=0.0, persp=None, bed=None, turn=0)
        img = imagegen.render_image_page(plan)
        up = orientation_score(img, atlas)
        down = orientation_score(np.ascontiguousarray(img[::-1, ::-1]),
                                 atlas)
        assert up == 64.0 and down < up


def test_quarter_turned_page_extracts_like_upright_twin():
    """90/270-degree scans — alone or composed with flip, perspective
    capture, or bed placement — are detected by the four-way orientation
    vote and extract byte-identically to their upright twins."""
    import random

    from ocr_gpu_services_spark.core.glyph_ocr import build_atlas
    from ocr_gpu_services_spark.core.image_page import process_image_page
    from ocr_gpu_services_spark.fixtures import imagegen

    atlas, charset = build_atlas()
    checked = 0
    for i in range(80):
        rng = random.Random(14000 + i)
        plan = imagegen.image_plan(rng, i)
        if plan["turn"] == 0:
            continue
        checked += 1
        twin = dict(plan, turn=0, flip=False, persp=None, bed=None)
        ref = process_image_page(
            imagegen.render_image_page(twin), atlas, charset)
        got = process_image_page(
            imagegen.render_image_page(plan), atlas, charset)
        assert got == ref, f"plan {i} diverged"
    assert checked >= 5


def test_rectify_degenerate_quad_falls_back_to_crop():
    """A page region too thin/collinear for a homography (stray streak on
    a bed) must fall back to the crop, not raise into the error column."""
    import numpy as np

    from ocr_gpu_services_spark.core.perspective import rectify_page

    img = np.full((40, 60), 176, np.uint8)
    for i in range(30):
        img[5 + i // 3, 5 + i] = 0          # thin diagonal streak
    page = (img < 128) | (img > 230)
    assert rectify_page(img, page).shape == img.shape
    img2 = np.full((10, 10), 176, np.uint8)
    img2[4, 4] = 0                           # single-pixel page
    assert rectify_page(img2, (img2 < 128) | (img2 > 230)).shape == (10, 10)
