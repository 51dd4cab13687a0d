"""Property tests (SURVEY.md §5.2 item 5): the extraction core must be
total (never throws on arbitrary payload bytes), deterministic (same input
-> same bytes, always), and canonicalization idempotent."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_gpu_services_spark.core.extract import extract_document
from ocr_gpu_services_spark.core.normalize import canonical_text, collapse_ws
from ocr_gpu_services_spark.core.sniff import sniff_content_type
from ocr_gpu_services_spark.fixtures.codecs import barcode as barcode_enc
from ocr_gpu_services_spark.fixtures.codecs import qrcode as qrcode_enc

MAGICS = [b"", b"%PDF-", b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff",
          b"<html>", b"<!DOCTYPE html>"]


@settings(max_examples=200, deadline=None)
@given(prefix=st.sampled_from(MAGICS), payload=st.binary(max_size=2048),
       pre_text=st.one_of(st.none(), st.text(max_size=200)))
def test_extract_document_is_total_and_deterministic(prefix, payload,
                                                     pre_text):
    """Arbitrary (possibly magic-prefixed, truncated, malformed) payloads
    must produce a row — error column, never an exception — and the exact
    same row on a second call (kernel rows are retried by Spark tasks, so
    nondeterminism would break byte-identity across retries)."""
    blob = prefix + payload
    r1 = extract_document(blob, pre_text)
    r2 = extract_document(blob, pre_text)
    ct, text, spans, _dt, _conf, err = r1
    assert ct in {"html", "pdf", "image", "text", "unknown"}
    assert (text is None) or isinstance(text, str)
    assert r1[0] == r2[0] and r1[1] == r2[1] and r1[5] == r2[5]
    assert [s.as_dict() for s in r1[2]] == [s.as_dict() for s in r2[2]]


@settings(max_examples=300, deadline=None)
@given(s=st.text(max_size=500))
def test_canonicalization_idempotent(s):
    c = canonical_text(collapse_ws(s))
    assert canonical_text(collapse_ws(c)) == c


@settings(max_examples=200, deadline=None)
@given(payload=st.binary(max_size=64),
       text=st.one_of(st.none(), st.text(max_size=20)))
def test_sniff_total(payload, text):
    assert sniff_content_type(payload, text) in {
        "html", "pdf", "image", "text", "unknown"}


@settings(max_examples=100, deadline=None)
@given(payload=st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=1, max_size=24))
def test_qr_roundtrip_property(payload):
    """Any printable payload up to MAX_PAYLOAD encodes to a QR Model 2
    symbol the pixel decoder reads back verbatim."""
    from ocr_gpu_services_spark.core import qrcode
    assert qrcode.try_decode_region(qrcode_enc.encode(payload)) == payload


@settings(max_examples=100, deadline=None)
@given(payload=st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                                "0123456789-. $/+%",
                       min_size=1, max_size=24))
def test_code39_roundtrip_property(payload):
    """Any payload over the 43-char Code 39 set encodes to a symbol the
    run-length decoder reads back verbatim, in both scan directions."""
    import numpy as np
    from ocr_gpu_services_spark.core import barcode
    img = barcode_enc.encode_code39(payload)
    assert barcode.try_decode_code39(img) == payload
    assert barcode.try_decode_code39(
        np.ascontiguousarray(img[:, ::-1])) == payload


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2 ** 20),
       deg_halves=st.integers(-16, 16),
       h=st.integers(12, 80), w=st.integers(12, 120))
def test_shear_rotation_roundtrip_property(seed, deg_halves, h, w):
    """rotate -> derotate restores ANY ink pattern exactly (up to the
    translation the padding introduces), for every grid angle."""
    import random as _r

    import numpy as np

    from ocr_gpu_services_spark.core.geometry import (derotate_canvas,
                                                      rotate_canvas)
    deg = deg_halves * 0.5
    if 0 < abs(deg) < 1.0:
        deg = float(np.sign(deg))        # grid has no sub-degree angles
    rng = _r.Random(seed)
    img = np.full((h, w), 255, np.uint8)
    for _ in range(max(3, h * w // 20)):
        img[rng.randrange(h), rng.randrange(w)] = 0
    back = derotate_canvas(rotate_canvas(img, deg), deg)
    iy, ix = np.nonzero(back < 128)
    jy, jx = np.nonzero(img < 128)
    assert set(zip(iy - iy.min(), ix - ix.min())) \
        == set(zip(jy - jy.min(), jx - jx.min()))


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2 ** 20), h=st.integers(1, 24),
       w=st.integers(1, 40), density=st.floats(0.05, 0.6))
def test_components_match_bruteforce_property(seed, h, w, density):
    import random as _r

    import numpy as np

    from ocr_gpu_services_spark.core.components import connected_components
    rng = _r.Random(seed)
    m = np.array([[rng.random() < density for _ in range(w)]
                  for _ in range(h)])
    got = connected_components(m)
    seen = np.zeros_like(m)
    want = []
    for y in range(h):
        for x in range(w):
            if m[y, x] and not seen[y, x]:
                stack, px = [(y, x)], []
                seen[y, x] = True
                while stack:
                    cy, cx = stack.pop()
                    px.append((cy, cx))
                    for dy in (-1, 0, 1):
                        for dx in (-1, 0, 1):
                            ny, nx = cy + dy, cx + dx
                            if (0 <= ny < h and 0 <= nx < w
                                    and m[ny, nx] and not seen[ny, nx]):
                                seen[ny, nx] = True
                                stack.append((ny, nx))
                ys = [p[0] for p in px]
                xs = [p[1] for p in px]
                want.append({"y0": min(ys), "x0": min(xs), "y1": max(ys),
                             "x1": max(xs), "area": len(px)})
    want.sort(key=lambda c: (c["y0"], c["x0"], c["y1"], c["x1"]))
    assert got == want


@settings(max_examples=2000, deadline=None)
@given(s=st.text(max_size=200))
def test_collapse_ws_equals_regex_formulation(s):
    """The split/join implementation must stay byte-identical to the
    canonical regex formulation (the documented rule)."""
    import re
    assert collapse_ws(s) == re.sub(r"\s+", " ", s).strip()


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2 ** 20), deg_halves=st.integers(-16, 16),
       h=st.integers(12, 80), w=st.integers(12, 200))
def test_derotate_ink_matches_canvas_on_unpadded_pages(seed, deg_halves, h, w):
    """derotate_ink's coordinate scatter must reproduce derotate_canvas's
    ink mask on UNPADDED pages too — edge ink whose inverse-sheared
    coordinates leave the canvas is dropped (paper), never an IndexError
    or a silent wrap to the opposite edge (ADVICE r2, medium)."""
    import random as _r

    import numpy as np

    from ocr_gpu_services_spark.core.geometry import (derotate_canvas,
                                                      derotate_ink)
    deg = deg_halves * 0.5
    if 0 < abs(deg) < 1.0:
        deg = float(np.sign(deg))
    rng = _r.Random(seed)
    img = np.full((h, w), 255, np.uint8)
    # always include the worst case: ink on every border pixel
    img[0, :] = 0; img[-1, :] = 0; img[:, 0] = 0; img[:, -1] = 0
    for _ in range(max(3, h * w // 20)):
        img[rng.randrange(h), rng.randrange(w)] = 0
    a = derotate_ink(img, deg)
    b = derotate_canvas(img, deg)
    assert ((a < 128) == (b < 128)).all()


@settings(max_examples=80, deadline=None)
@given(seed=st.integers(0, 2 ** 20), h=st.integers(3, 60),
       w=st.integers(3, 60), density=st.floats(0.05, 0.9))
def test_quad_corners_boundary_scan_matches_full_scan(seed, h, w, density):
    """quad_corners' per-row boundary-candidate scan must equal the naive
    all-pixels extreme-point scan, tie-breaks included."""
    import random as _r

    import numpy as np

    from ocr_gpu_services_spark.core.perspective import quad_corners
    rng = _r.Random(seed)
    mask = np.array([[rng.random() < density for _ in range(w)]
                     for _ in range(h)])
    if not mask.any():
        mask[h // 2, w // 2] = True
    ys, xs = np.nonzero(mask)
    s = xs + ys
    d = xs - ys
    want = ((int(xs[s.argmin()]), int(ys[s.argmin()])),
            (int(xs[d.argmax()]), int(ys[d.argmax()])),
            (int(xs[s.argmax()]), int(ys[s.argmax()])),
            (int(xs[d.argmin()]), int(ys[d.argmin()])))
    assert quad_corners(mask) == want


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2 ** 20), h=st.integers(1, 60),
       w=st.integers(1, 80), density=st.floats(0.0, 1.0))
def test_orientation_score_total_on_arbitrary_pages(seed, h, w, density):
    """orientation_score must be total and bounded on ANY pixel content
    (noise, empty, solid) — never raising, never exceeding a perfect 64,
    returning -1 exactly when no glyph-height band exists."""
    import random as _r

    import numpy as np

    from ocr_gpu_services_spark.core.glyph_ocr import (CELL, build_atlas,
                                                       orientation_score)
    atlas, _ = build_atlas()
    rng = _r.Random(seed)
    img = np.full((h, w), 255, np.uint8)
    for _ in range(int(h * w * density)):
        img[rng.randrange(h), rng.randrange(w)] = 0
    s = orientation_score(img, atlas)
    assert s == -1.0 or 0.0 <= s <= 64.0
    ink = img < 128
    if not ink.any():
        assert s == -1.0


@settings(max_examples=120, deadline=None)
@given(seed=st.integers(0, 2 ** 20),
       kind=st.sampled_from(["raw", "png", "pdf", "html", "truncated"]),
       size=st.integers(0, 4000))
def test_extract_document_total_on_adversarial_payloads(seed, kind, size):
    """The kernel must be TOTAL on arbitrary bytes — a 100 TB crawl
    guarantees malformed payloads; every failure becomes the error
    column, never an exception out of the row."""
    import random as _r

    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    get_atlas()
    rng = _r.Random(seed)
    body = bytes(rng.randrange(256) for _ in range(size))
    if kind == "png":
        payload = b"\x89PNG\r\n\x1a\n" + body
    elif kind == "pdf":
        payload = b"%PDF-1.4\n" + body
    elif kind == "html":
        payload = b"<html><body>" + body
    elif kind == "truncated":
        from ocr_gpu_services_spark.fixtures import imagegen
        from ocr_gpu_services_spark.core.png import png_encode
        plan = imagegen.image_plan(_r.Random(seed), 1)
        full = png_encode(imagegen.render_image_page(plan))
        payload = bytes(full[:max(9, size % max(len(full), 10))])
    else:
        payload = body
    ct, text, spans, dt, conf, err = extract_document(payload, None)
    assert isinstance(ct, str) and isinstance(text, str)
    assert isinstance(spans, list)
    assert err is None or isinstance(err, str)


_PDF_LINE = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                           exclude_characters="\\"),
    min_size=1, max_size=40).map(lambda s: s.strip()).filter(bool)


@settings(max_examples=80, deadline=None)
@given(lines=st.lists(_PDF_LINE, min_size=1, max_size=8),
       style=st.integers(0, 5),
       compress=st.booleans(), objstm=st.booleans())
def test_pdf_writer_parser_matrix_roundtrip(lines, style, compress, objstm):
    """Any line set through any emission style (plain/scrambled/TJ/
    two-col/hex/CID) x any file layout (classic xref / ObjStm+XRef
    stream, raw / Flate) must extract back to the reading-order lines
    (whitespace-collapsed) — the writer/parser matrix far beyond the
    fixed fixture corpus."""
    from hypothesis import assume

    from ocr_gpu_services_spark.fixtures.pdf_write import (
        CidPage, build_pdf, content_stream_ops, content_stream_ops_hex)
    from ocr_gpu_services_spark.core.pdf_extract import extract_pdf

    # two-column mode is defined for >= 2 lines per column (the
    # generator draws 4-10); a 1-line column shares its y with the other
    # column's first line and the layout collapses them — out of domain
    assume(style != 3 or len(lines) >= 4)
    if style == 0:
        page = content_stream_ops(lines)
    elif style == 1:
        page = content_stream_ops(lines, scrambled=True)
    elif style == 2:
        page = content_stream_ops(lines, scrambled=True, use_tj=True)
    elif style == 3:
        page = content_stream_ops(lines, two_col=True)
    elif style == 4:
        page = content_stream_ops_hex(lines)
    else:
        page = CidPage(lines)
    pdf = build_pdf([page], compress=compress, objstm=objstm)
    text, _spans = extract_pdf(pdf)
    want = canonical_text("\n".join(collapse_ws(ln) for ln in lines))
    assert text == want
