"""1-D symbologies (core/barcode.py): EAN-13 + Code 128 + Code 39 —
encoder/decoder round trips, checksums, damage rejection, code-set
state machine, and the kernel's bar-group detection across page
transformations (incl. the quarter-turn + misled-deskew regression the
pre-deskew orientation re-vote fixes)."""

import random

import numpy as np

from ocr_gpu_services_spark.core import barcode
from ocr_gpu_services_spark.fixtures.codecs import barcode as barcode_enc


def test_checksum_known_value():
    assert barcode.checksum("400638133393") == 1       # published example


def test_roundtrip_and_reverse_scan():
    rng = random.Random(0)
    for _ in range(50):
        d = "".join(rng.choice("0123456789") for _ in range(12))
        full = d + str(barcode.checksum(d))
        img = barcode_enc.encode(d)
        assert barcode.try_decode_region(img) == full
        rev = np.ascontiguousarray(img[::-1, ::-1])
        assert barcode.try_decode_region(rev) == full


def test_garbage_and_damage_rejected():
    rs = np.random.RandomState(1)
    for _ in range(60):
        noise = rs.rand(40, 190) < rs.uniform(0.2, 0.8)
        img = np.where(noise, 0, 255).astype(np.uint8)
        assert barcode.try_decode_region(img) is None
    # single flipped module -> checksum/parity failure, never wrong data
    d = "501234567890"
    full = d + str(barcode.checksum(d))
    img = barcode_enc.encode(d)
    rng = random.Random(2)
    for _ in range(25):
        m = rng.randrange(95)
        dam = img.copy()
        x = m * barcode.MODULE_W
        dam[:, x:x + barcode.MODULE_W] = \
            255 - dam[:, x:x + barcode.MODULE_W]
        assert barcode.try_decode_region(dam) in (None, full)


def test_wrong_checksum_rejected():
    d = "501234567890"
    mods = barcode_enc.modules(d)
    # re-render with the last digit's pattern swapped to a digit whose
    # R-code differs -> checksum mismatch must reject
    bad = mods.copy()
    from ocr_gpu_services_spark.core.barcode import _R
    good_check = barcode.checksum(d)
    other = (good_check + 1) % 10
    pat = np.array([c == "1" for c in _R[other]])
    bad[85:92] = pat
    row = np.where(np.repeat(bad, barcode.MODULE_W), 0, 255) \
        .astype(np.uint8)
    img = np.tile(row, (barcode_enc.BAR_H, 1))
    assert barcode.try_decode_region(img) is None


def test_kernel_detects_barcode_on_transformed_pages():
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.core.png import png_encode
    from ocr_gpu_services_spark.fixtures import imagegen
    get_atlas()
    found = 0
    for i in range(160):
        rng = random.Random(i * 131)
        plan = imagegen.image_plan(rng, i)
        if plan["ean_payload"] is None:
            continue
        img = imagegen.render_image_page(plan)
        _ct, _text, spans, *_r, err = extract_document(png_encode(img),
                                                       None)
        want = plan["ean_payload"] + \
            str(barcode.checksum(plan["ean_payload"]))
        bc = [s for s in spans if s.kind == "barcode"]
        assert err is None and len(bc) == 1 and bc[0].text == want, \
            (i, plan, [s.text for s in bc])
        meta = imagegen.canonical_meta(plan)
        assert (bc[0].x0, bc[0].y0, bc[0].x1, bc[0].y1) == \
            meta["ean_span"], i
        found += 1
    assert found >= 15                  # the draw rate guarantees plenty


def _c128_image_from_values(vals: list[int]) -> np.ndarray:
    """Render raw codeword values (incl. start, excl. check/stop) the
    way the encoder does — for decoder state-machine tests that need
    sequences the set-B/C encoder would never emit."""
    check = (vals[0] + sum(k * v for k, v in enumerate(vals[1:], 1))) % 103
    widths = "".join(barcode._C128[v] for v in vals + [check]) \
        + barcode._C128_STOP
    bits = []
    for k, w in enumerate(widths):
        bits.extend([k % 2 == 0] * int(w))
    mods = np.array(bits, dtype=bool)
    row = np.where(np.repeat(mods, barcode.MODULE_W), 0, 255) \
        .astype(np.uint8)
    return np.tile(row, (barcode_enc.BAR_H, 1))


def test_c128_table_known_patterns():
    # published start/stop bit patterns of the standard
    def bits(widths):
        return "".join(("1" if k % 2 == 0 else "0") * int(w)
                       for k, w in enumerate(widths))
    assert bits(barcode._C128[103]) == "11010000100"   # START A
    assert bits(barcode._C128[104]) == "11010010000"   # START B
    assert bits(barcode._C128[105]) == "11010011100"   # START C
    assert bits(barcode._C128[0]) == "11011001100"     # value 0
    assert bits(barcode._C128_STOP) == "1100011101011"  # stop


def test_c128_roundtrip_sets_b_and_c():
    rng = random.Random(3)
    alpha = ("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
             "0123456789 -./+!#$%&*=?@_")
    for _ in range(60):
        if rng.random() < 0.4:
            txt = "".join(rng.choice("0123456789")
                          for _ in range(rng.choice((4, 6, 8, 10, 12))))
        else:
            txt = "".join(rng.choice(alpha)
                          for _ in range(rng.randint(1, 20)))
        img = barcode_enc.encode_code128(txt)
        assert barcode.try_decode_code128(img) == txt, txt
        rev = np.ascontiguousarray(img[::-1, ::-1])
        assert barcode.try_decode_code128(rev) == txt, txt


def test_c128_state_machine_switches_and_shift():
    # START C, digits 12 34, CODE B, 'x', SHIFT, (set A ctrl) 'J'-64 ->
    # exercises C->B latch and B->A single-symbol shift
    vals = [105, 12, 34, 100, ord("x") - 32, 98, 10]  # A set v10 -> '*'
    img = _c128_image_from_values(vals)
    assert barcode.try_decode_code128(img) == "1234x*"
    # START A with a control char (value 64+7 -> BEL) and CODE B latch
    vals = [103, ord("H") - 32, 71, 100, ord("i") - 32]
    img = _c128_image_from_values(vals)
    assert barcode.try_decode_code128(img) == "H\x07i"


def test_c128_fnc_and_dangling_shift_rejected():
    for vals in ([104, 102, ord("A") - 32],      # FNC1
                 [104, ord("A") - 32, 100],      # FNC4 in B
                 [103, ord("A") - 32, 101],      # FNC4 in A
                 [104, ord("A") - 32, 98]):      # dangling SHIFT
        img = _c128_image_from_values(vals)
        assert barcode.try_decode_code128(img) is None, vals


def test_c128_checksum_and_damage_rejected():
    txt = "SPARK-42x"
    img = barcode_enc.encode_code128(txt)
    rng = random.Random(4)
    n_mod = img.shape[1] // barcode.MODULE_W
    for _ in range(40):
        m = rng.randrange(n_mod)
        dam = img.copy()
        x = m * barcode.MODULE_W
        dam[:, x:x + barcode.MODULE_W] = \
            255 - dam[:, x:x + barcode.MODULE_W]
        assert barcode.try_decode_code128(dam) in (None, txt)
    rs = np.random.RandomState(5)
    for _ in range(60):
        noise = rs.rand(40, 30 + rs.randint(200)) < rs.uniform(0.2, 0.8)
        g = np.where(noise, 0, 255).astype(np.uint8)
        assert barcode.try_decode_code128(g) is None


def test_c128_ean_cross_rejection():
    ean = barcode_enc.encode("123456789012")
    c128 = barcode_enc.encode_code128("HELLO-99")
    assert barcode.try_decode_code128(ean) is None
    assert barcode.try_decode_region(c128) is None


def test_kernel_detects_code128_on_transformed_pages():
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.core.png import png_encode
    from ocr_gpu_services_spark.fixtures import imagegen
    get_atlas()
    found = 0
    for i in range(200):
        rng = random.Random(i * 131)
        plan = imagegen.image_plan(rng, i)
        if plan["c128_payload"] is None:
            continue
        img = imagegen.render_image_page(plan)
        _ct, _text, spans, *_r, err = extract_document(png_encode(img),
                                                       None)
        bc = [s for s in spans if s.kind == "code128"]
        assert err is None and len(bc) == 1 and \
            bc[0].text == plan["c128_payload"], \
            (i, plan["c128_payload"], [s.text for s in bc])
        meta = imagegen.canonical_meta(plan)
        assert (bc[0].x0, bc[0].y0, bc[0].x1, bc[0].y1) == \
            meta["c128_span"], i
        found += 1
    assert found >= 12                  # 12% draw over 200 plans


def test_c39_known_pattern():
    # '*' (start/stop) has wide flags 010010100: element widths
    # 1 2 1 1 2 1 2 1 1 (bar space ... bar) -> leading modules
    # 1 00 1 0 11 0 11 0 1 — the published delimiter pattern at ratio 2
    bits = barcode_enc.code39_modules("0")
    # symbol = * 0 * with narrow gaps: check total module count
    assert bits.size == 3 * 12 + 2          # 3 chars x 12 modules + 2 gaps
    assert list(bits[:12].astype(int)) == \
        [1, 0, 0, 1, 0, 1, 1, 0, 1, 1, 0, 1]


def test_c39_roundtrip_and_reverse_scan():
    rng = random.Random(11)
    alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-. $/+%"
    for _ in range(60):
        txt = "".join(rng.choice(alpha)
                      for _ in range(rng.randint(1, 20))).strip() or "X"
        img = barcode_enc.encode_code39(txt)
        assert barcode.try_decode_code39(img) == txt, txt
        rev = np.ascontiguousarray(img[::-1, ::-1])
        assert barcode.try_decode_code39(rev) == txt, txt


def test_c39_structure_rejection():
    # noise, truncation, interior '*', widened element: all reject or
    # return the exact payload, never wrong data
    rs = np.random.RandomState(9)
    for _ in range(60):
        noise = rs.rand(40, 29 + rs.randint(300)) < rs.uniform(0.2, 0.8)
        img = np.where(noise, 0, 255).astype(np.uint8)
        assert barcode.try_decode_code39(img) is None
    img = barcode_enc.encode_code39("TRUNCATED")
    assert barcode.try_decode_code39(
        img[:, :-3 * barcode.MODULE_W]) is None
    # damage sweep: flip one module column at a time
    txt = "C39-OK"
    img = barcode_enc.encode_code39(txt)
    n_mod = img.shape[1] // barcode.MODULE_W
    rng = random.Random(13)
    for _ in range(40):
        m = rng.randrange(n_mod)
        dam = img.copy()
        x = m * barcode.MODULE_W
        dam[:, x:x + barcode.MODULE_W] = \
            255 - dam[:, x:x + barcode.MODULE_W]
        assert barcode.try_decode_code39(dam) in (None, txt)


def test_c39_cross_symbology_rejection():
    """The three symbologies cannot cross-read: run-count classes
    (EAN 59 / C128 6m+7 / C39 10n-1) + width-sum and structure checks
    are mutually exclusive."""
    c39 = barcode_enc.encode_code39("HELLO WORLD-42 $/+%")
    assert barcode.try_decode_region(c39) is None
    assert barcode.try_decode_code128(c39) is None
    for txt in ("HELLO", "0042", "MiXeD-12"):
        assert barcode.try_decode_code39(
            barcode_enc.encode_code128(txt)) is None
    assert barcode.try_decode_code39(
        barcode_enc.encode("590123412345")) is None
    # n=5 chars gives R=49 runs == 1 mod 6 (a C128-plausible run count):
    # the width-sum check must still reject
    c39_5 = barcode_enc.encode_code39("ABC")          # *ABC* = 5 chars
    assert barcode.try_decode_code128(c39_5) is None


def test_kernel_detects_code39_on_transformed_pages():
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.core.png import png_encode
    from ocr_gpu_services_spark.fixtures import imagegen
    get_atlas()
    found = 0
    for i in range(200):
        rng = random.Random(i * 131)
        plan = imagegen.image_plan(rng, i)
        if plan["c39_payload"] is None:
            continue
        img = imagegen.render_image_page(plan)
        _ct, _text, spans, *_r, err = extract_document(png_encode(img),
                                                       None)
        bc = [s for s in spans if s.kind == "code39"]
        assert err is None and len(bc) == 1 and \
            bc[0].text == plan["c39_payload"], \
            (i, plan["c39_payload"], [s.text for s in bc])
        meta = imagegen.canonical_meta(plan)
        assert (bc[0].x0, bc[0].y0, bc[0].x1, bc[0].y1) == \
            meta["c39_span"], i
        found += 1
    assert found >= 10                  # 10% draw over 200 plans


def test_quarter_turned_barcode_page_recovers():
    """Regression: a quarter-turned page whose barcode (a) presents a
    spurious glyph-height band and (b) misleads estimate_skew must
    still settle via the pre-deskew orientation re-vote."""
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.core.png import png_encode
    from ocr_gpu_services_spark.fixtures import imagegen
    get_atlas()
    rng = random.Random(126 * 131)
    plan = imagegen.image_plan(rng, 126)
    assert plan["ean_payload"] is not None and plan["turn"] == 3
    up = dict(plan)
    up.update(turn=0, persp=None, bed=None)
    img_t = imagegen.render_image_page(plan)
    img_u = imagegen.render_image_page(up)
    r_t = extract_document(png_encode(img_t), None)
    r_u = extract_document(png_encode(img_u), None)
    assert r_t[1] == r_u[1]                        # text byte-identical
    assert [s.as_dict() for s in r_t[2]] == [s.as_dict() for s in r_u[2]]
