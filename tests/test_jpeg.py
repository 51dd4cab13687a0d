"""Baseline JPEG codec (core/jpeg.py): S3 format breadth with the
exactness contract — quality-100 tables keep every pixel within +-1
gray level, so ink/paper/bed classification bands are preserved and
extraction output is byte-identical to the PNG twin."""

import random

import numpy as np

from ocr_gpu_services_spark.core.jpeg import jpeg_decode
from ocr_gpu_services_spark.fixtures.codecs.jpeg import (jpeg_encode,
                                                         jpeg_encode_color)


def test_roundtrip_error_bounded_and_bands_preserved():
    from ocr_gpu_services_spark.fixtures import imagegen
    rng = random.Random(1)
    for i in range(4):
        img = imagegen.render_image_page(imagegen.image_plan(rng, i))
        back = jpeg_decode(jpeg_encode(img))
        assert back.shape == img.shape
        assert np.abs(back.astype(int) - img.astype(int)).max() <= 2
        assert ((back < 128) == (img < 128)).all()      # ink band
        assert ((back > 230) == (img > 230)).all()      # paper band


def test_roundtrip_random_noise_and_odd_dims():
    a = (np.random.RandomState(0).rand(37, 53) * 255).astype(np.uint8)
    b = jpeg_decode(jpeg_encode(a))
    assert b.shape == a.shape
    assert np.abs(b.astype(int) - a.astype(int)).max() <= 2


def test_quantized_stream_decodes():
    # the decoder handles arbitrary quant tables (only the fixture
    # encoder is pinned to the all-ones exactness contract)
    a = (np.random.RandomState(1).rand(24, 24) * 255).astype(np.uint8)
    b = jpeg_decode(jpeg_encode(a, quant=8))
    assert b.shape == a.shape
    assert np.abs(b.astype(int) - a.astype(int)).max() <= 40


def test_jpeg_row_extracts_byte_identically_to_png_twin():
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.core.png import png_encode
    from ocr_gpu_services_spark.fixtures import imagegen
    get_atlas()
    rng = random.Random(9)
    plan = imagegen.image_plan(rng, 123)
    img = imagegen.render_image_page(plan)
    r_png = extract_document(png_encode(img), None)
    r_jpg = extract_document(jpeg_encode(img), None)
    assert r_png[0] == r_jpg[0] == "image"
    assert r_png[1] == r_jpg[1]                    # text byte-identical
    assert [s.as_dict() for s in r_png[2]] == \
        [s.as_dict() for s in r_jpg[2]]            # spans too
    assert r_png[5] is None and r_jpg[5] is None


def test_malformed_jpeg_degrades():
    from ocr_gpu_services_spark.core.extract import extract_document
    blob = b"\xff\xd8\xff\xe0" + b"\x00" * 40
    ct, text, spans, _dt, _cf, err = extract_document(blob, None)
    assert ct == "image" and text == "" and err is not None


def test_restart_interval_roundtrip_gray_and_color():
    """DRI/RSTn streams decode to the same pixels as their plain twins:
    segments are independently padded/stuffed, DC predictors reset at
    each marker (T.81 E.1.4) — the error-resilience shape real camera
    and scanner firmware emits."""
    rng = np.random.RandomState(11)
    img = (rng.rand(45, 61) * 255).astype(np.uint8)
    plain = jpeg_decode(jpeg_encode(img))
    for ri in (1, 3, 7, 40, 1000):
        enc = jpeg_encode(img, restart_interval=ri)
        assert b"\xff\xdd" in enc
        assert np.array_equal(jpeg_decode(enc), plain)
    rgb = (rng.rand(37, 53, 3) * 255).astype(np.uint8)
    for sub in ("444", "422", "420"):
        plain = jpeg_decode(jpeg_encode_color(rgb, subsampling=sub))
        for ri in (1, 2, 5):
            enc = jpeg_encode_color(rgb, subsampling=sub,
                                    restart_interval=ri)
            assert np.array_equal(jpeg_decode(enc), plain)


def test_restart_marker_missing_raises():
    """A DRI header whose scan lacks the promised RSTn marker must fail
    loudly, not silently misparse the entropy stream."""
    rng = np.random.RandomState(12)
    img = (rng.rand(32, 32) * 255).astype(np.uint8)
    enc = bytearray(jpeg_encode(img, restart_interval=2))
    # strip the first restart marker from the scan
    sos = enc.find(b"\xff\xda")
    k = enc.find(b"\xff\xd0", sos)
    assert k > 0
    del enc[k:k + 2]
    import pytest
    with pytest.raises(ValueError):
        jpeg_decode(bytes(enc))


def test_exif_orientation_parse_and_transform_inverses():
    from ocr_gpu_services_spark.core.jpeg import (apply_exif_orientation,
                                                  exif_orientation)
    from ocr_gpu_services_spark.fixtures.codecs.jpeg import (
        unapply_exif_orientation)
    rs = np.random.RandomState(3)
    g = rs.randint(0, 256, (30, 44)).astype(np.uint8)
    rgb = rs.randint(0, 256, (22, 18, 3)).astype(np.uint8)
    for o in range(1, 9):
        assert np.array_equal(
            apply_exif_orientation(unapply_exif_orientation(g, o), o), g)
        assert np.array_equal(
            apply_exif_orientation(unapply_exif_orientation(rgb, o), o),
            rgb)
        p = jpeg_encode(g, exif_orientation=o if o > 1 else 0)
        assert exif_orientation(p) == (o if o > 1 else 1)
    # orientation 6 (90 CW to display): stored frame has swapped dims
    m = np.arange(6, dtype=np.uint8).reshape(2, 3)
    stored = unapply_exif_orientation(m, 6)
    assert stored.shape == (3, 2)
    assert np.array_equal(apply_exif_orientation(stored, 6), m)
    # a garbage APP1 never raises
    bad = bytearray(jpeg_encode(g, exif_orientation=3))
    bad[6:10] = b"\xff\xff\xff\xff"
    assert exif_orientation(bytes(bad)) == 1


def test_exif_row_extracts_byte_identically_to_upright_twin():
    """Every orientation 2..8 — incl. the mirrors the orientation vote
    could never recover — must extract byte-identically to the upright
    PNG twin through the decode seam's exact permutation."""
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.fixtures.codecs.jpeg import (
        unapply_exif_orientation)
    from ocr_gpu_services_spark.core.png import png_encode
    from ocr_gpu_services_spark.fixtures import imagegen
    get_atlas()
    rng = random.Random(31)
    plan = imagegen.image_plan(rng, 321)
    img = imagegen.render_image_page(plan)
    r_png = extract_document(png_encode(img), None)
    assert r_png[1]
    for o in range(2, 9):
        payload = jpeg_encode(unapply_exif_orientation(img, o),
                              exif_orientation=o)
        got = extract_document(payload, None)
        assert got[1] == r_png[1], o
        assert [s.as_dict() for s in got[2]] == \
            [s.as_dict() for s in r_png[2]], o
        assert got[5] is None


def test_exif_fixture_rows_match_pixel_truth():
    """The exif5 side stream's payloads decode (through the seam) to
    exactly image_row_pixels' ground truth — proves generator/mirror
    stream alignment including the stored-frame DCT rounding."""
    import random as _random

    from ocr_gpu_services_spark.core.extract import decode_image
    from ocr_gpu_services_spark.fixtures import gen
    n = gen.SCALES["tiny"]
    pdf_block = range(int(n * 0.55), int(n * 0.55) + max(2, n // 25))
    n_exif = 0
    for i in range(n):
        rng_i = _random.Random((7 << 20) ^ i)
        if gen._row_kind(i, rng_i.random(), pdf_block) != "image":
            continue
        erng = _random.Random(f"exif5:{i}")
        exif = erng.randrange(2, 9) if erng.random() < 0.25 else 0
        rng_i = _random.Random((7 << 20) ^ i)
        rng_i.random()
        payload = gen._image_page(rng_i, i, allow_jpeg=True)
        rng_i = _random.Random((7 << 20) ^ i)
        rng_i.random()
        truth = gen.image_row_pixels(rng_i, i)
        assert np.array_equal(decode_image(bytes(payload)), truth), i
        from ocr_gpu_services_spark.core.jpeg import exif_orientation
        if payload[:3] == b"\xff\xd8\xff" and \
                exif_orientation(bytes(payload)) > 1:
            n_exif += 1
            assert exif_orientation(bytes(payload)) == exif
    assert n_exif >= 2          # exif5 plants orientations 4 and 6 in tiny


def _gray8x8(tables: list[tuple[int, tuple, tuple]], entropy: bytes) -> bytes:
    """A hand-built 8x8 gray baseline stream: every quant entry 100, one
    DHT per (class << 4 | slot, counts by length, symbols), one scan
    over ``entropy``."""
    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") \
            + body

    dht = b"".join(bytes([tc_th]) + bytes(counts).ljust(16, b"\0")
                   + bytes(values) for tc_th, counts, values in tables)
    return (b"\xff\xd8" + seg(0xDB, b"\x00" + bytes([100]) * 64)
            + seg(0xC0, b"\x08\x00\x08\x00\x08\x01\x01\x11\x00")
            + seg(0xC4, dht) + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
            + entropy + b"\xff\xd9")


def test_oversubscribed_huffman_table_rejected():
    """A length whose codes do not fit in it, or a table whose last code
    is all ones, raises as libjpeg's jpeg_make_d_derived_tbl does; the
    peek LUT would otherwise grow past its 65536 entries (255 codes at
    every length build a 16.7M-entry list)."""
    import pytest
    eob_ac = (0x10, (1,), (0x00,))                # '0' -> EOB
    ok = _gray8x8([(0x00, (1,), (0,)), eob_ac], b"\x00")
    assert (jpeg_decode(ok) == 128).all()
    for counts, values in (((3,), (0, 1, 2)),     # three 1-bit codes
                           ((2,), (0, 1)),        # '1' is all ones
                           ((255,) * 16, (0,) * 4080)):
        with pytest.raises(ValueError, match="Huffman table"):
            jpeg_decode(_gray8x8([(0x00, counts, values), eob_ac], b"\x00"))


def test_ac_run_without_size_ends_block():
    """T.81 Figure F.13: in a sequential scan, an AC symbol with SSSS = 0
    and RRRR != 15 ends the block, as libjpeg's decode_mcu does.  Here
    the stream is DC '0' (category 0), then AC '01' (0x10): end of
    block.  Skipping R + 1 coefficients and reading on would decode the
    next AC '00' (0x01) and its bit '1' as a +1 at zigzag index 3, and
    the block would no longer be flat."""
    data = _gray8x8([(0x00, (1,), (0,)),
                     (0x10, (0, 3), (0x01, 0x10, 0x00))], b"\x26")
    img = jpeg_decode(data)
    assert img.shape == (8, 8) and (img == 128).all(), img


def test_short_scan_fails_before_planes_are_allocated():
    """A crafted frame header declaring 16384 x 16384 over a few hundred
    bytes of scan data fails with IndexError, the class a scan run past
    its data raises, before the coefficient planes (1 GB a component)
    are allocated."""
    import tracemalloc

    import pytest
    from ocr_gpu_services_spark.fixtures.codecs.jpeg_progressive import (
        jpeg_encode_progressive)
    rgb = np.zeros((16, 16, 3), np.uint8)
    for enc, sof in ((jpeg_encode(rgb[..., 0]), b"\xff\xc0"),
                     (jpeg_encode_color(rgb, subsampling="420"), b"\xff\xc0"),
                     (jpeg_encode_progressive(rgb), b"\xff\xc2")):
        data = bytearray(enc)
        i = data.find(sof)
        data[i + 5:i + 9] = (16384).to_bytes(2, "big") * 2
        tracemalloc.start()
        try:
            with pytest.raises(IndexError):
                jpeg_decode(bytes(data))
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 8 << 20, peak
