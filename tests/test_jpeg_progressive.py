"""Progressive JPEG (core/jpeg_progressive.py): the full Annex-G
subset — spectral selection, successive approximation (DC and AC,
first + refinement), EOB runs — must reconstruct EXACTLY the baseline
encoder's coefficients, so progressive rows inherit the quality-100
extraction byte-identity contract."""

import random

import numpy as np
import pytest

from ocr_gpu_services_spark.core.jpeg import jpeg_decode
from ocr_gpu_services_spark.fixtures.codecs.jpeg import (jpeg_encode,
                                                         jpeg_encode_color)
from ocr_gpu_services_spark.fixtures.codecs.jpeg_progressive import (
    jpeg_encode_progressive)


def test_progressive_decodes_pixel_identical_to_baseline_gray():
    rng = np.random.RandomState(0)
    for trial in range(8):
        h, w = rng.randint(9, 70), rng.randint(9, 70)
        if trial % 2:
            img = (rng.rand(h, w) * 255).astype(np.uint8)
        else:
            img = np.full((h, w), 255, np.uint8)
            img[2:h // 2, 3:w // 2] = 0
            img[h // 2:, :] = 176
        base = jpeg_decode(jpeg_encode(img))
        prog = jpeg_decode(jpeg_encode_progressive(img))
        assert np.array_equal(prog, base)


def test_progressive_color_matches_baseline_444():
    rng = np.random.RandomState(1)
    rgb = (rng.rand(33, 41, 3) * 255).astype(np.uint8)
    base = jpeg_decode(jpeg_encode_color(rgb, subsampling="444"))
    prog = jpeg_decode(jpeg_encode_progressive(rgb))
    assert np.array_equal(prog, base)


@pytest.mark.parametrize("subsampling", ["420", "422"])
def test_progressive_subsampled_color_matches_baseline(subsampling):
    """The web-export default is progressive 4:2:0: the interleaved DC
    scans carry several luma blocks per MCU, and each AC scan covers its
    component's own block grid, which at odd sizes is smaller than the
    MCU-padded grid (35 px wide 4:2:0 luma: 5 blocks, 6 in the MCUs)."""
    rng = np.random.RandomState(2)
    for h, w in ((41, 57), (33, 35)):
        rgb = (rng.rand(h, w, 3) * 255).astype(np.uint8)
        base = jpeg_decode(jpeg_encode_color(rgb, subsampling=subsampling))
        prog = jpeg_decode(jpeg_encode_progressive(rgb,
                                                   subsampling=subsampling))
        assert prog.shape == (h, w, 3)
        assert np.array_equal(prog, base)


def test_color_reconstruction_peak_is_bounded():
    """Components are reconstructed one at a time into one float RGB
    array (24 B/px), so a 4:4:4 decode peaks at ~74 B/px here; building
    all three float planes and the stacked RGB together took ~170."""
    import tracemalloc
    h, w = 200, 264
    y, x = np.mgrid[0:h, 0:w]
    rgb = np.stack([x * 255 // w, y * 255 // h, (x + y) * 3 % 256],
                   -1).astype(np.uint8)
    data = jpeg_encode_progressive(rgb, quant=4)
    tracemalloc.start()
    try:
        prog = jpeg_decode(data)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak <= 96 * h * w, peak / (h * w)
    assert np.array_equal(prog, jpeg_decode(
        jpeg_encode_color(rgb, quant=4, subsampling="444")))


def test_eob_runs_across_flat_image():
    # a large flat image maximizes EOB-run lengths (every AC band empty)
    img = np.full((128, 160), 200, np.uint8)
    assert np.array_equal(jpeg_decode(jpeg_encode_progressive(img)),
                          jpeg_decode(jpeg_encode(img)))


def test_progressive_page_extracts_byte_identically_to_png_twin():
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.core.png import png_encode
    from ocr_gpu_services_spark.fixtures import imagegen
    get_atlas()
    rng = random.Random(77)
    plan = imagegen.image_plan(rng, 55)
    img = imagegen.render_image_page(plan)
    r_png = extract_document(png_encode(img), None)
    r_prog = extract_document(jpeg_encode_progressive(img), None)
    assert r_prog[0] == "image" and r_prog[5] is None
    assert r_prog[1] == r_png[1]
    assert [s.as_dict() for s in r_prog[2]] == \
        [s.as_dict() for s in r_png[2]]


def test_invalid_progressive_scan_rejected():
    # SOF0 flipped to SOF2 leaves a sequential full-band scan header,
    # which is illegal progressive (DC scan with Se=63) — must land in
    # the error column, never crash or silently misdecode
    from ocr_gpu_services_spark.core.extract import extract_document
    enc = bytearray(jpeg_encode(np.full((16, 16), 200, np.uint8)))
    enc[enc.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        jpeg_decode(bytes(enc))
    ct, text, _s, _dt, _cf, err = extract_document(bytes(enc), None)
    assert ct == "image" and text == "" and "progressive" in err


def test_progressive_rows_live_in_the_corpus():
    from ocr_gpu_services_spark.core.sniff import probe_image_format
    from ocr_gpu_services_spark.fixtures.gen import gen_rows
    fmts = set()
    for r in gen_rows("tiny"):
        p = r["html"]
        if p and p[:3] == b"\xff\xd8\xff":
            fmts.add(probe_image_format(bytes(p)))
    assert any(f and f.startswith("jpeg-prog") for f in fmts), fmts


def test_progressive_nonunit_quant_matches_baseline():
    # coefficient identity is quant-independent
    rng = np.random.RandomState(4)
    img = (rng.rand(41, 57) * 255).astype(np.uint8)
    base = jpeg_decode(jpeg_encode(img, quant=8))
    prog = jpeg_decode(jpeg_encode_progressive(img, quant=8))
    assert np.array_equal(prog, base)


def test_bitwriter_matches_naive_emitter():
    """The vectorized token packer must be byte-identical to the
    per-bit emitter (stuffing, padding, empty stream included)."""
    from ocr_gpu_services_spark.fixtures.codecs.jpeg import _BitWriter

    class Naive:
        def __init__(self):
            self.buf = bytearray()
            self.acc = 0
            self.nbits = 0

        def write(self, code, length):
            self.acc = (self.acc << length) | (code & ((1 << length) - 1))
            self.nbits += length
            while self.nbits >= 8:
                self.nbits -= 8
                byte = (self.acc >> self.nbits) & 0xFF
                self.buf.append(byte)
                if byte == 0xFF:
                    self.buf.append(0x00)

        def flush(self):
            if self.nbits:
                pad = 8 - self.nbits
                self.write((1 << pad) - 1, pad)

    rng = random.Random(0)
    for _trial in range(40):
        toks = [(rng.randrange(1 << ln), ln) for ln in
                [rng.randrange(1, 17)
                 for _ in range(rng.randrange(0, 300))]]
        old, new = Naive(), _BitWriter()
        for c, ln in toks:
            old.write(c, ln)
            new.write(c, ln)
        old.flush()
        new.flush()
        assert bytes(old.buf) == bytes(new.buf)


def test_malformed_progressive_raises_valueerror_not_typeerror():
    """pdf_extract's per-image skip catches (ValueError, IndexError)
    only — malformed streams must not leak TypeError/KeyError/
    ZeroDivisionError from deep in the entropy loop and nuke the whole
    PDF row."""
    g = (np.arange(32 * 32) % 256).astype(np.uint8).reshape(32, 32)
    good = jpeg_encode_progressive(g)

    import re as _re
    # SOS referencing an undefined Huffman slot (table id 9)
    sos = good.index(b"\xff\xda")
    bad_tab = bytearray(good)
    bad_tab[sos + 6] = 0x99          # Td/Ta nibbles -> undefined slot
    with pytest.raises(ValueError):
        jpeg_decode(bytes(bad_tab))

    # SOF sampling factor nibble 0 -> would divide by zero at MCU grid
    sof = good.index(b"\xff\xc2")
    bad_samp = bytearray(good)
    bad_samp[sof + 11] = 0x00        # h=v=0 for component 0
    with pytest.raises(ValueError):
        jpeg_decode(bytes(bad_samp))

    # component referencing a quant table no DQT defined
    bad_q = bytearray(good)
    bad_q[sof + 12] = 7              # Tq -> undefined
    with pytest.raises(ValueError):
        jpeg_decode(bytes(bad_q))


def test_crafted_progressive_header_capped():
    """A few-hundred-byte stream declaring 65535x65535 must raise, not
    allocate ~17 GB of coefficient planes."""
    g = np.full((16, 16), 128, np.uint8)
    good = jpeg_encode_progressive(g)
    sof = good.index(b"\xff\xc2")
    huge = bytearray(good)
    huge[sof + 5:sof + 9] = b"\xff\xff\xff\xff"     # h = w = 65535
    with pytest.raises(ValueError):
        jpeg_decode(bytes(huge))


def test_scan_naming_a_component_the_frame_lacks_is_rejected(monkeypatch):
    """A progressive SOS naming a component id the SOF lacks is a
    ValueError from the parse, so pdf_extract's per-image skip drops
    just that XObject and the PDF keeps its text layer (a KeyError from
    the scan decoder would lose the whole document)."""
    from ocr_gpu_services_spark.core.pdf_extract import extract_pdf
    from ocr_gpu_services_spark.fixtures.codecs import jpeg as jpeg_codec
    from ocr_gpu_services_spark.fixtures.pdf_write import (
        DctScanPage, build_pdf, content_stream_ops)
    g = np.full((16, 16), 90, np.uint8)
    bad = bytearray(jpeg_encode_progressive(g))
    bad[bad.index(b"\xff\xda") + 5] = 77        # first SOS component id
    bad = bytes(bad)
    with pytest.raises(ValueError, match="component"):
        jpeg_decode(bad)
    monkeypatch.setattr(jpeg_codec, "jpeg_encode", lambda img: bad)
    pdf = build_pdf([content_stream_ops(["TEXT LAYER KEPT"]),
                     DctScanPage(g)])
    text, _spans = extract_pdf(pdf)
    assert text == "TEXT LAYER KEPT"
