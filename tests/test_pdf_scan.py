"""Scanned-PDF OCR fallback (S4 completion): image-XObject-only pages
must route through the glyph-OCR kernel and extract byte-exactly, incl.
rotated / flipped / keystoned captures embedded in the pdf."""

import numpy as np

from ocr_gpu_services_spark.core.normalize import canonical_text
from ocr_gpu_services_spark.core.pdf_extract import extract_pdf
from ocr_gpu_services_spark.fixtures import imagegen
from ocr_gpu_services_spark.fixtures.pdf_write import (build_pdf,
                                                       content_stream_ops)


def _scan_img(lines, **plan_overrides):
    plan = {"lines": lines, "sig_seed": None, "qr_payload": None,
            "sig_x": 10, "qr_x": 10, "angle": 0.0, "bed": None,
            "persp": None, "flip": False, "turn": 0}
    plan.update(plan_overrides)
    return imagegen.render_image_page(plan), plan


def test_scanned_page_ocr_roundtrip():
    img, _ = _scan_img(["INVOICE TOTAL 42", "PAID IN FULL"])
    pdf = build_pdf([img])
    text, spans = extract_pdf(pdf)
    assert text == "INVOICE TOTAL 42\nPAID IN FULL"
    kinds = {s.kind for s in spans}
    assert kinds == {"word", "line"}
    assert [s.text for s in spans if s.kind == "word"] == \
        ["INVOICE", "TOTAL", "42", "PAID", "IN", "FULL"]
    assert [s.text for s in spans if s.kind == "line"] == \
        ["INVOICE TOTAL 42", "PAID IN FULL"]


def test_mixed_borndigital_and_scanned_pages():
    img, _ = _scan_img(["SCAN PAGE TWO"])
    digital = content_stream_ops(["first page line one",
                                  "first page line two"])
    text, spans = extract_pdf(build_pdf([digital, img]))
    assert text == canonical_text(
        "first page line one\nfirst page line two\n\nSCAN PAGE TWO")
    assert {s.kind for s in spans} == {"line", "word"}


def test_scanned_page_rotated_flipped_keystoned():
    # upside-down + skew on one page, perspective keystone on another,
    # quarter turn on a third — all must restore byte-exactly
    img1, _ = _scan_img(["BATCH SPARK 7"], flip=True, angle=2.0)
    img2, _ = _scan_img(["ARROW KERNEL 99"],
                        persp={"ddx": 20, "ddy": 14, "pad": (12, 9)})
    img3, _ = _scan_img(["RECEIPT 123"], turn=1)
    text, spans = extract_pdf(build_pdf([img1, img2, img3]))
    assert text == "BATCH SPARK 7\n\nARROW KERNEL 99\n\nRECEIPT 123"


def test_scanned_page_emits_qr_and_signature_spans():
    img, plan = _scan_img(["CONTRACT DUE"], sig_seed=99,
                          qr_payload="QR:7654321")
    text, spans = extract_pdf(build_pdf([img], compress=True))
    assert text == "CONTRACT DUE"
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s.kind, []).append(s)
    assert [s.text for s in by_kind["qr"]] == ["QR:7654321"]
    meta = imagegen.canonical_meta(plan)
    sig = by_kind["signature"][0]
    assert (sig.x0, sig.y0, sig.x1, sig.y1) == meta["sig_span"]


def test_hex_string_page():
    from ocr_gpu_services_spark.fixtures.pdf_write import \
        content_stream_ops_hex
    ops = content_stream_ops_hex(["hex line one", "hex line two"])
    text, spans = extract_pdf(build_pdf([ops]))
    assert text == "hex line one\nhex line two"


def test_cid_font_page_via_tounicode():
    from ocr_gpu_services_spark.fixtures.pdf_write import CidPage
    lines = ["cid mapped text", "segunda línea"]
    text, spans = extract_pdf(build_pdf([CidPage(lines)]))
    assert text == canonical_text("cid mapped text\nsegunda línea")


def test_objstm_xref_stream_layout():
    """PDF 1.5: page tree and font objects live inside an /ObjStm
    container referenced by an XRef stream — the object-table expansion
    must surface them; mixing a CID page and a scanned page exercises
    streams staying outside the container."""
    from ocr_gpu_services_spark.fixtures.pdf_write import CidPage
    img, _ = _scan_img(["SCAN IN OBJSTM"])
    digital = content_stream_ops(["plain page first line",
                                  "plain page second line"])
    pdf = build_pdf([digital, CidPage(["cid in objstm"]), img],
                    objstm=True)
    assert pdf.startswith(b"%PDF-1.5")
    assert b"/ObjStm" in pdf and b"/Type /XRef" in pdf
    assert b"trailer" not in pdf             # no classic xref table
    text, spans = extract_pdf(pdf)
    assert text == ("plain page first line\nplain page second line\n\n"
                    "cid in objstm\n\nSCAN IN OBJSTM")


def test_malformed_new_shapes_degrade_never_throw():
    """Real-corpus robustness: truncated/corrupt variants of every new
    parse path (hex strings, ObjStm, CID/ToUnicode, image XObjects) must
    come back through extract_document's degrade contract — a value, not
    an exception — and deterministically."""
    import random
    import zlib

    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.fixtures.pdf_write import CidPage
    get_atlas()

    img, _ = _scan_img(["SCAN ROW"])
    payloads = [
        # unterminated hex string at EOF
        build_pdf([b"BT /F1 12 Tf <48656C6C" ]),
        # hex string with junk chars
        build_pdf([b"BT /F1 12 Tf 1 0 0 1 50 700 Tm <48zz65!> Tj ET"]),
        # ObjStm whose stream is truncated mid-deflate
        build_pdf([content_stream_ops(["x"])], objstm=True)[:300],
        # ObjStm header lies about N
        build_pdf([content_stream_ops(["ok line"])], objstm=True)
        .replace(b"/Type /ObjStm /N ", b"/Type /ObjStm /N 9"),
        # CID page whose ToUnicode stream is cut off
        None,  # filled below
        # image XObject with dims larger than its data
        None,  # filled below
    ]
    cid_pdf = build_pdf([CidPage(["cid text line"])])
    cut = cid_pdf.find(b"beginbfchar")
    payloads[4] = cid_pdf[:cut + 15]
    scan_pdf = build_pdf([img])
    payloads[5] = scan_pdf.replace(b"/Width %d" % img.shape[1],
                                   b"/Width 99999")
    rng = random.Random(11)
    base = build_pdf([content_stream_ops(["a b c"]), CidPage(["d e"]),
                      img], objstm=True)
    for _ in range(40):                    # random single-byte mutations
        b = bytearray(base)
        for _k in range(rng.randint(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        payloads.append(bytes(b))

    for i, p in enumerate(payloads):
        r1 = extract_document(p, None)
        r2 = extract_document(p, None)
        assert r1 == r2, f"payload {i} nondeterministic"
        # degrade contract: tuple came back (no exception escaped)
        assert isinstance(r1[1], str)


def test_dct_jpeg_xobject_page():
    """A /DCTDecode (embedded baseline JPEG) scanned page — the shape
    real scan-to-PDF tools emit — must OCR byte-identically to its
    Flate-raster twin."""
    from ocr_gpu_services_spark.fixtures.pdf_write import DctScanPage
    img, _ = _scan_img(["INVOICE 77 DUE", "SIGNED TODAY"], flip=True)
    t_flate, s_flate = extract_pdf(build_pdf([img]))
    t_dct, s_dct = extract_pdf(build_pdf([DctScanPage(img)]))
    assert t_dct == t_flate == "INVOICE 77 DUE\nSIGNED TODAY"
    assert [s.as_dict() for s in s_dct] == [s.as_dict() for s in s_flate]


def test_textless_pdf_without_image_yields_empty():
    # no runs, no XObject -> no OCR route, empty text (not an error)
    text, spans = extract_pdf(build_pdf([content_stream_ops([])]))
    assert text == "" and spans == []


def test_rotate_flag_page_extracts_byte_identically_to_upright_twin():
    """/Rotate 90/180/270 scan pages must recover via the FLAG (an exact
    pixel permutation), matching the flag-free twin byte-for-byte."""
    import random

    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.fixtures.gen import _pdf_plan, _render_pdf
    get_atlas()
    tested = 0
    for i in range(120):
        rng = random.Random(i * 977)
        plan = _pdf_plan(rng, i)
        if not any(p["kind"] == "scan" and p.get("rotate")
                   for p in plan["pages"]):
            continue
        r1 = extract_document(_render_pdf(plan, allow_dct=True), None)
        plan0 = {**plan, "pages": [
            {**p, "rotate": 0} if p["kind"] == "scan" else p
            for p in plan["pages"]]}
        r0 = extract_document(_render_pdf(plan0, allow_dct=True), None)
        assert r1[5] is None and r0[5] is None
        assert r1[1] == r0[1]
        assert [s.as_dict() for s in r1[2]] == [s.as_dict() for s in r0[2]]
        tested += 1
        if tested >= 6:
            break
    assert tested >= 6


def test_color_scan_page_extracts_byte_identically_to_gray_twin():
    """/DeviceRGB rasters (Flate and color /DCTDecode) must extract
    byte-identically to the gray twin via the cv2-exact luma bridge."""
    import random

    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.fixtures.gen import _pdf_plan, _render_pdf
    get_atlas()
    tested = 0
    for i in range(200):
        rng = random.Random(i * 977)
        plan = _pdf_plan(rng, i)
        if not any(p["kind"] == "scan" and p.get("color")
                   for p in plan["pages"]):
            continue
        rc = extract_document(_render_pdf(plan, allow_dct=True), None)
        plan0 = {**plan, "pages": [
            {**p, "color": False} if p["kind"] == "scan" else p
            for p in plan["pages"]]}
        rg = extract_document(_render_pdf(plan0, allow_dct=True), None)
        assert rc[5] is None and rg[5] is None
        assert rc[1] == rg[1]
        assert [s.as_dict() for s in rc[2]] == [s.as_dict() for s in rg[2]]
        tested += 1
        if tested >= 6:
            break
    assert tested >= 6


def test_ccitt_g4_scan_page_extracts_byte_identically():
    """/CCITTFaxDecode (Group 4, /K -1) pages must extract
    byte-identically to their Flate twins — the fax embedding is
    lossless on a bilevel render, incl. under a /Rotate flag."""
    import random

    import numpy as np

    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.core.pdf_extract import extract_pdf
    from ocr_gpu_services_spark.fixtures.gen import _pdf_plan, _render_pdf
    from ocr_gpu_services_spark.fixtures.pdf_write import (CcittScanPage,
                                                           build_pdf)
    get_atlas()

    def eligible(p):
        return (p["kind"] == "scan" and not p.get("color")
                and not p.get("xdct") and p["plan"]["bed"] is None
                and p["plan"]["persp"] is None)

    tested = 0
    for i in range(400):
        rng = random.Random(i * 977)
        plan = _pdf_plan(rng, i)
        if not any(eligible(p) for p in plan["pages"]):
            continue
        pc = {**plan, "pages": [
            {**p, "ccitt": True} if eligible(p) else p
            for p in plan["pages"]]}
        p0 = {**plan, "pages": [
            {**p, "ccitt": False} if p["kind"] == "scan" else p
            for p in plan["pages"]]}
        bc = _render_pdf(pc, allow_dct=True)
        b0 = _render_pdf(p0, allow_dct=True)
        assert b"/CCITTFaxDecode" in bc and b"/CCITTFaxDecode" not in b0
        rc = extract_document(bc, None)
        r0 = extract_document(b0, None)
        assert rc[5] is None and r0[5] is None, i
        assert rc[1] == r0[1], i
        assert [s.as_dict() for s in rc[2]] == [s.as_dict()
                                               for s in r0[2]], i
        tested += 1
        if tested >= 6:
            break
    assert tested >= 6

    # /K 0 (G3 1-D, unsupported) must be skipped, not crash: page
    # degrades to empty text like any undecodable image
    from ocr_gpu_services_spark.core import glyph_ocr
    img = np.full((60, 120), 255, np.uint8)
    img[20:30, 10:50] = 0
    pdf = build_pdf([CcittScanPage(img)])
    pdf_k0 = pdf.replace(b"/K -1", b"/K 0")
    t, spans = extract_pdf(pdf_k0)
    assert t == "" and spans == []


def test_png_predicted_flate_xobject_extracts_identically():
    """/FlateDecode + /DecodeParms /Predictor 15 (PNG Up-filtered rows)
    image XObjects — gray AND /DeviceRGB — must extract byte-identically
    to their unpredicted twins."""
    import random

    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.fixtures.gen import _pdf_plan, _render_pdf
    get_atlas()
    tested_gray = tested_rgb = 0
    for i in range(400):
        rng = random.Random(i * 977)
        plan = _pdf_plan(rng, i)
        scans = [p for p in plan["pages"] if p["kind"] == "scan"
                 and not p.get("xdct") and not p.get("ccitt")]
        if not scans:
            continue
        has_rgb = any(p.get("color") for p in scans)
        pc = {**plan, "pages": [
            {**p, "predictor": True} if p["kind"] == "scan" else p
            for p in plan["pages"]]}
        p0 = {**plan, "pages": [
            {**p, "predictor": False} if p["kind"] == "scan" else p
            for p in plan["pages"]]}
        bc = _render_pdf(pc, allow_dct=True)
        assert b"/Predictor 15" in bc
        rc = extract_document(bc, None)
        r0 = extract_document(_render_pdf(p0, allow_dct=True), None)
        assert rc[5] is None and rc[1] == r0[1], i
        assert [s.as_dict() for s in rc[2]] == [s.as_dict()
                                               for s in r0[2]], i
        if has_rgb:
            tested_rgb += 1
        else:
            tested_gray += 1
        if tested_gray >= 4 and tested_rgb >= 2:
            break
    assert tested_gray >= 4 and tested_rgb >= 2


def test_lzw_content_stream_extracts_identically_to_flate_twin():
    """/LZWDecode text content streams (legacy-writer shape) must decode
    to the same text and spans as the FlateDecode twin of the same page
    — the decoder is core/decompress.lzw_decode's MSB-first variant in
    open-length mode (PDF 32000-1 §7.4.4.2 default /EarlyChange 1)."""
    ops = content_stream_ops(["INVOICE TOTAL 42", "PAID IN FULL"])
    lz = build_pdf([ops], compress="lzw")
    fl = build_pdf([ops], compress=True)
    assert b"/LZWDecode" in lz and b"/FlateDecode" not in lz
    tl, sl = extract_pdf(lz)
    tf, sf = extract_pdf(fl)
    assert tl == tf and tl.startswith("INVOICE TOTAL 42")
    assert [s.as_dict() for s in sl] == [s.as_dict() for s in sf]


def test_lzw_open_length_roundtrip_and_damage():
    import random as _random

    from ocr_gpu_services_spark.core.decompress import lzw_decode
    from ocr_gpu_services_spark.fixtures.codecs.tiff import lzw_encode
    rng = _random.Random(42)
    for n in (0, 1, 7, 300, 5000):
        data = bytes(rng.randrange(256) for _ in range(n))
        enc = lzw_encode(data)
        assert lzw_decode(enc, None) == data        # open-length (PDF)
        assert lzw_decode(enc, n) == data           # exact-length (TIFF)
        if n:                                       # overshoot is dropped
            assert lzw_decode(enc, n - 1) == data[:-1]
    # truncated / corrupted streams raise (extract_pdf degrades upstream)
    enc = lzw_encode(b"A" * 1000)
    try:
        lzw_decode(enc[: len(enc) // 2], None)
    except ValueError:
        pass
    else:                                           # pragma: no cover
        raise AssertionError("truncated LZW stream must raise")
    # a corrupt content stream degrades to skipping the page, not a throw
    bad = build_pdf([content_stream_ops(["HELLO WORLD"])], compress="lzw")
    i = bad.index(b"stream\n") + 7
    corrupted = bad[:i + 2] + b"\xff\xff\xff\xff" + bad[i + 6:]
    text, spans = extract_pdf(corrupted)
    assert isinstance(text, str)
