"""Color decode (S3 parity closure): color PNG variants + YCbCr JPEG
round-trip through the cv2-exact gray bridge (core/color.py) with the
same extraction-byte-identity contract as the grayscale formats."""

import random

import numpy as np
import pytest

from ocr_gpu_services_spark.core.color import luma_int, rgb_to_gray
from ocr_gpu_services_spark.core.jpeg import jpeg_decode
from ocr_gpu_services_spark.core.png import (png_decode, png_encode_palette,
                                             png_encode_rgb, png_encode_rgba)
from ocr_gpu_services_spark.fixtures.codecs.jpeg import (jpeg_encode,
                                                         jpeg_encode_color)
from ocr_gpu_services_spark.fixtures.colorize import colorize_exact, tint_lut


def test_gray_weights_match_cv2_fixed_point():
    # cv2's BT.601 14-bit fixed point: round-trip identity on neutral
    # gray, and the documented 0.299/0.587/0.114 within 1/2**14
    for g in (0, 1, 127, 128, 176, 230, 255):
        assert luma_int(g, g, g) == g
    assert luma_int(255, 0, 0) == round(0.299 * 255)
    assert luma_int(0, 255, 0) == round(0.587 * 255)
    assert luma_int(0, 0, 255) == round(0.114 * 255)


def test_png_color_variants_roundtrip():
    rng = np.random.RandomState(0)
    rgb = (rng.rand(31, 44, 3) * 255).astype(np.uint8)
    assert np.array_equal(png_decode(png_encode_rgb(rgb)), rgb)
    assert np.array_equal(png_decode(png_encode_rgba(rgb)), rgb)
    few = rgb // 64 * 64                        # <=256 distinct colors
    assert np.array_equal(png_decode(png_encode_palette(few)), few)


def test_jpeg_color_roundtrip_bounds():
    rng = np.random.RandomState(1)
    rgb = (rng.rand(37, 53, 3) * 255).astype(np.uint8)
    out = jpeg_decode(jpeg_encode_color(rgb, subsampling="444"))
    assert out.shape == rgb.shape
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 4
    # 4:2:0 shreds random chroma by design; the LUMA stays tight on the
    # smooth-chroma pages the fixture colorizer emits
    g = np.full((48, 64), 255, np.uint8)
    g[8:24, 8:40] = 0
    g[32:40, :] = 176
    tint = tint_lut(15, -20)[g]
    for sub in ("444", "422", "420"):
        out = jpeg_decode(jpeg_encode_color(tint, subsampling=sub))
        lerr = np.abs(rgb_to_gray(out).astype(int) - g.astype(int)).max()
        assert lerr <= 2, (sub, lerr)
        # classification bands preserved (the extraction contract)
        back = rgb_to_gray(out)
        assert ((back < 128) == (g < 128)).all()
        assert ((back > 230) == (g > 230)).all()


def test_colorize_exact_luma_every_tint():
    g = np.arange(256, dtype=np.uint8)[None]
    for dr in range(-28, 29, 4):
        for dg in range(-28, 29, 4):
            assert np.array_equal(rgb_to_gray(tint_lut(dr, dg)[g]), g)


def test_color_rows_extract_byte_identically_to_gray_twin():
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.core.png import png_encode
    from ocr_gpu_services_spark.fixtures import imagegen
    get_atlas()
    rng = random.Random(31)
    crng = random.Random("twin")
    plan = imagegen.image_plan(rng, 7)
    img = imagegen.render_image_page(plan)
    rgb = colorize_exact(img, crng)
    r_gray = extract_document(png_encode(img), None)
    for enc in (png_encode_rgb, png_encode_palette, png_encode_rgba):
        r_col = extract_document(enc(rgb), None)
        assert r_col[0] == "image" and r_col[5] is None
        assert r_col[1] == r_gray[1]            # text byte-identical
        assert [s.as_dict() for s in r_col[2]] == \
            [s.as_dict() for s in r_gray[2]]
    for sub in ("444", "420"):
        r_col = extract_document(
            jpeg_encode_color(rgb, subsampling=sub), None)
        assert r_col[0] == "image" and r_col[5] is None
        assert r_col[1] == r_gray[1]
        assert [s.as_dict() for s in r_col[2]] == \
            [s.as_dict() for s in r_gray[2]]


def test_progressive_jpeg_lands_in_error_column():
    from ocr_gpu_services_spark.core.extract import extract_document
    # baseline stream with SOF0 flipped to SOF2 (progressive)
    enc = bytearray(jpeg_encode(np.full((16, 16), 200, np.uint8)))
    enc[enc.index(b"\xff\xc0")+1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        jpeg_decode(bytes(enc))
    ct, text, _spans, _dt, _cf, err = extract_document(bytes(enc), None)
    assert ct == "image" and text == "" and "progressive" in err


def test_jpeg_restart_markers_decode():
    # DRI + RSTn: splice restart intervals into a stream our encoder
    # produced by re-encoding per-row strips is overkill — instead craft
    # a tiny 2-MCU image and inject DRI=1 with a hand-built scan
    img = np.full((8, 16), 176, np.uint8)
    base = jpeg_encode(img)
    ref = jpeg_decode(base)
    # encode the two blocks independently (DC predictor resets at RST)
    from ocr_gpu_services_spark.fixtures.codecs.jpeg import (_BitWriter,
                                                             _encode_block)
    q = np.ones(64, dtype=np.int32)
    scans = []
    for bx in (0, 8):
        bw = _BitWriter()
        _encode_block(bw, img[:, bx:bx + 8].astype(np.float64) - 128.0,
                      q, 0)
        bw.flush()
        scans.append(bytes(bw.buf))
    body = scans[0] + b"\xff\xd0" + scans[1]
    sos_at = base.index(b"\xff\xda")
    sos_len = int.from_bytes(base[sos_at + 2:sos_at + 4], "big")
    head = base[:sos_at]
    dri = b"\xff\xdd\x00\x04\x00\x01"            # DRI, interval 1
    out = (head + dri + base[sos_at:sos_at + 2 + sos_len]
           + body + b"\xff\xd9")
    assert np.array_equal(jpeg_decode(out), ref)


def test_adam7_interlaced_roundtrip_and_fixture_parity():
    """Adam7 decode reassembles the seven passes exactly: gray and RGB
    round-trips over awkward dims (sub-8 images skip whole passes), and
    an interlaced encode of a fixture page decodes identically to its
    sequential twin."""
    import numpy as np
    from ocr_gpu_services_spark.core.png import (png_decode, png_encode,
                                                 png_encode_rgb)

    rng = np.random.RandomState(3)
    for h, w in ((1, 1), (2, 3), (7, 7), (8, 8), (45, 61), (64, 1)):
        g = (rng.rand(h, w) * 255).astype(np.uint8)
        assert np.array_equal(png_decode(png_encode(g, interlace=True)), g)
        rgb = (rng.rand(h, w, 3) * 255).astype(np.uint8)
        assert np.array_equal(
            png_decode(png_encode_rgb(rgb, interlace=True)), rgb)
    from ocr_gpu_services_spark.fixtures import imagegen
    import random
    img = imagegen.render_image_page(
        imagegen.image_plan(random.Random("adam7test"), 1))
    assert np.array_equal(png_decode(png_encode(img, interlace=True)),
                          png_decode(png_encode(img)))
