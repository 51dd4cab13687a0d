"""BMP + TIFF codecs (core/bmp.py, core/tiff.py): container round
trips across compression/predictor/byte-order/strip layouts, the
PackBits primitives and the shared LZW decoder (core/decompress.py,
incl. the early-change code widths and table resets), rejection of
unsupported shapes, and the sniff / probe / decode-seam integration."""

import struct
import time

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_gpu_services_spark.core import bmp, tiff
from ocr_gpu_services_spark.core.decompress import lzw_decode
from ocr_gpu_services_spark.core.extract import decode_image
from ocr_gpu_services_spark.core.sniff import (probe_image_format,
                                               sniff_content_type)
from ocr_gpu_services_spark.fixtures.codecs import bmp as bmp_enc
from ocr_gpu_services_spark.fixtures.codecs import ccitt as ccitt_enc
from ocr_gpu_services_spark.fixtures.codecs import gif as gif_enc
from ocr_gpu_services_spark.fixtures.codecs import tiff as tiff_enc

_rs = np.random.RandomState(11)


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------

def test_bmp_gray_roundtrip():
    g = _rs.randint(0, 256, (37, 53)).astype(np.uint8)
    payload = bmp_enc.bmp_encode_gray8(g)
    assert np.array_equal(bmp.bmp_decode(payload), g)
    assert sniff_content_type(payload, None) == "image"
    assert probe_image_format(payload) == "bmp-gray8"


def test_bmp_rgb_roundtrip():
    c = _rs.randint(0, 256, (41, 29, 3)).astype(np.uint8)
    payload = bmp_enc.bmp_encode_rgb24(c)
    assert np.array_equal(bmp.bmp_decode(payload), c)
    assert probe_image_format(payload) == "bmp-rgb24"


def test_bmp_top_down_and_color_palette():
    g = _rs.randint(0, 256, (10, 16)).astype(np.uint8)
    buf = bytearray(bmp_enc.bmp_encode_gray8(g))
    # flip height negative (top-down) and pre-flip the pixel rows
    h = struct.unpack_from("<i", buf, 22)[0]
    struct.pack_into("<i", buf, 22, -h)
    off = struct.unpack_from("<I", buf, 10)[0]
    stride = (16 + 3) & ~3
    rows = np.frombuffer(bytes(buf[off:]), np.uint8).reshape(h, stride)
    buf[off:] = rows[::-1].tobytes()
    assert np.array_equal(bmp.bmp_decode(bytes(buf)), g)
    # non-gray palette decodes through the palette to RGB
    buf = bytearray(bmp_enc.bmp_encode_gray8(g))
    pal_off = 54
    buf[pal_off:pal_off + 4] = bytes([10, 20, 30, 0])    # B G R for idx 0
    out = bmp.bmp_decode(bytes(buf))
    assert out.ndim == 3
    assert tuple(out[g == 0][0]) == (30, 20, 10) if (g == 0).any() else True
    assert probe_image_format(bytes(buf)) == "bmp-pal8"


def test_bmp_rejects():
    with pytest.raises(ValueError):
        bmp.bmp_decode(b"BM" + b"\x00" * 60)             # zero dims
    buf = bytearray(bmp_enc.bmp_encode_gray8(np.zeros((4, 4), np.uint8)))
    struct.pack_into("<I", buf, 30, 1)                   # BI_RLE8
    with pytest.raises(ValueError):
        bmp.bmp_decode(bytes(buf))
    with pytest.raises(ValueError):
        bmp.bmp_decode(bmp_enc.bmp_encode_gray8(
            np.zeros((8, 8), np.uint8))[:-10])           # truncated


# ---------------------------------------------------------------------------
# PackBits / LZW primitives
# ---------------------------------------------------------------------------

def test_packbits_known_vector():
    # the TIFF 6.0 spec's worked example
    data = bytes([0xAA, 0xAA, 0xAA, 0x80, 0x00, 0x2A, 0xAA, 0xAA,
                  0xAA, 0xAA, 0x80, 0x00, 0x2A, 0x22, 0xAA, 0xAA,
                  0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA])
    enc = tiff_enc.packbits_encode(data)
    assert tiff.packbits_decode(enc, len(data)) == data
    spec = bytes([0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA,
                  0x03, 0x80, 0x00, 0x2A, 0x22, 0xF7, 0xAA])
    assert tiff.packbits_decode(spec, len(data)) == data


def test_lzw_roundtrip_structured_and_random():
    for trial in range(30):
        n = int(_rs.randint(0, 60000))
        if trial % 2:
            data = bytes(_rs.randint(0, 256, n).astype(np.uint8))
        else:
            pat = bytes(_rs.randint(0, 4, 97).astype(np.uint8))
            data = (pat * (n // 97 + 1))[:n]
        assert lzw_decode(tiff_enc.lzw_encode(data), n) == data


def test_lzw_width_growth_and_reset():
    # all-distinct pairs force steady table growth through every width
    # switch and past the 4094 reset
    data = bytes(range(256)) * 64
    enc = tiff_enc.lzw_encode(data)
    assert lzw_decode(enc, len(data)) == data
    assert len(enc) < len(data)          # repeated blocks do compress
    with pytest.raises(ValueError):
        lzw_decode(enc[:-8], len(data))                  # truncated
    with pytest.raises(ValueError):
        lzw_decode(enc, len(data) + 1)                   # short output


# ---------------------------------------------------------------------------
# TIFF container
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("be", [False, True])
@pytest.mark.parametrize("comp,pred", [("none", False),
                                       ("packbits", False),
                                       ("lzw", False), ("lzw", True)])
def test_tiff_roundtrip(be, comp, pred):
    g = _rs.randint(0, 256, (150, 201)).astype(np.uint8)
    t = tiff_enc.tiff_encode(g, comp, predictor=pred, big_endian=be)
    assert np.array_equal(tiff.tiff_decode(t), g)
    assert sniff_content_type(t, None) == "image"
    want = "tiff-gray" + {"none": "", "packbits": "-packbits",
                          "lzw": "-lzw"}[comp]
    assert probe_image_format(t) == want
    c = _rs.randint(0, 256, (131, 77, 3)).astype(np.uint8)
    t = tiff_enc.tiff_encode(c, comp, predictor=pred, big_endian=be)
    assert np.array_equal(tiff.tiff_decode(t), c)
    assert probe_image_format(t) == want.replace("gray", "rgb")


@pytest.mark.parametrize("h", [1, 63, 64, 65, 129])
def test_tiff_strip_boundaries(h):
    g = _rs.randint(0, 256, (h, 80)).astype(np.uint8)
    for comp in ("none", "packbits", "lzw"):
        assert np.array_equal(
            tiff.tiff_decode(tiff_enc.tiff_encode(g, comp)), g), (h, comp)


def test_tiff_white_is_zero():
    g = _rs.randint(0, 256, (20, 30)).astype(np.uint8)
    buf = bytearray(tiff_enc.tiff_encode(255 - g, "none"))
    ntags = struct.unpack_from("<H", buf, 8)[0]
    for k in range(ntags):
        off = 10 + 12 * k
        if struct.unpack_from("<H", buf, off)[0] == 262:
            struct.pack_into("<H", buf, off + 8, 0)
    assert np.array_equal(tiff.tiff_decode(bytes(buf)), g)


def test_tiff_rejects():
    g = np.zeros((8, 8), np.uint8)
    buf = bytearray(tiff_enc.tiff_encode(g, "none"))
    ntags = struct.unpack_from("<H", buf, 8)[0]
    for k in range(ntags):
        off = 10 + 12 * k
        if struct.unpack_from("<H", buf, off)[0] == 259:
            struct.pack_into("<H", buf, off + 8, 7)      # JPEG-in-TIFF
    with pytest.raises(ValueError):
        tiff.tiff_decode(bytes(buf))
    with pytest.raises(ValueError):
        tiff.tiff_decode(b"II*\x00" + b"\xff" * 20)
    with pytest.raises(ValueError):
        tiff.tiff_decode(tiff_enc.tiff_encode(g, "lzw")[:-4])


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2 ** 20), h=st.integers(1, 90),
       w=st.integers(1, 90), color=st.booleans(),
       comp=st.sampled_from(["none", "packbits", "lzw"]))
def test_tiff_roundtrip_property(seed, h, w, color, comp):
    rs = np.random.RandomState(seed)
    shape = (h, w, 3) if color else (h, w)
    img = rs.randint(0, 256, shape).astype(np.uint8)
    t = tiff_enc.tiff_encode(img, comp, predictor=(comp == "lzw"
                                                   and seed % 2 == 0))
    assert np.array_equal(tiff.tiff_decode(t), img)


# ---------------------------------------------------------------------------
# bilevel (1-bit) containers + CCITT Group 4
# ---------------------------------------------------------------------------

def test_png_bilevel_roundtrip():
    from ocr_gpu_services_spark.core.png import (png_decode,
                                                 png_encode_bilevel)
    for h, w in ((40, 65), (64, 64), (1, 1), (3, 200)):
        g = ((_rs.rand(h, w) < 0.3) * 255).astype(np.uint8)
        p = png_encode_bilevel(g)
        assert np.array_equal(png_decode(p), g)
        assert probe_image_format(p) == "png-bilevel"
    with pytest.raises(ValueError):
        png_encode_bilevel(np.full((4, 4), 128, np.uint8))


@pytest.mark.parametrize("comp", ["none", "packbits", "g4"])
@pytest.mark.parametrize("be", [False, True])
def test_tiff_bilevel_roundtrip(comp, be):
    g = ((_rs.rand(130, 333) < 0.25) * 255).astype(np.uint8)
    t = tiff_enc.tiff_encode(g, comp, bilevel=True, big_endian=be)
    assert np.array_equal(tiff.tiff_decode(t), g)
    want = "tiff-bilevel" + {"none": "", "packbits": "-packbits",
                             "g4": "-g4"}[comp]
    assert probe_image_format(t) == want
    assert np.array_equal(decode_image(t), g)


def test_g4_roundtrip_shapes():
    from ocr_gpu_services_spark.core import ccitt
    cases = [np.zeros((10, 40), bool), np.ones((10, 40), bool)]
    for _ in range(20):
        h, w = int(_rs.randint(1, 80)), int(_rs.randint(1, 200))
        cases.append(_rs.rand(h, w) < _rs.uniform(0.05, 0.95))
    for k, img in enumerate(cases):
        enc = ccitt_enc.g4_encode(img)
        assert np.array_equal(
            ccitt.g4_decode(enc, img.shape[1], img.shape[0]), img), k


def test_g4_hand_derived_vectors():
    """Pins the T.4/T.6 tables against transcription errors: the exact
    bit stream of two tiny images, derived by hand from the spec.
    Row WWBBBWWW codes as horizontal (001) + white-run-2 (0111) +
    black-run-3 (10), then V0 (1); a second row shifted right by one
    codes as VR1 VR1 V0 (011 011 1)."""
    from ocr_gpu_services_spark.core import ccitt
    img = np.zeros((1, 8), bool)
    img[0, 2:5] = True
    assert ccitt_enc.g4_encode(img) == bytes([0x2F, 0x40, 0x04, 0x00, 0x40])
    img2 = np.zeros((2, 8), bool)
    img2[0, 2:5] = True
    img2[1, 3:6] = True
    bits = "".join(f"{b:08b}" for b in ccitt_enc.g4_encode(img2))
    assert bits.startswith("0010111101" + "0110111")
    assert np.array_equal(ccitt.g4_decode(ccitt_enc.g4_encode(img2), 8, 2),
                          img2)


def test_g4_compresses_text_like_pages():
    from ocr_gpu_services_spark.core import ccitt
    img = np.zeros((400, 1000), bool)
    img[50:60, 100:900] = True
    img[100:350:12, 100:800] = True
    enc = ccitt_enc.g4_encode(img)
    assert len(enc) * 50 < img.size // 8          # >50x vs packed bits


def test_g4_truncation_rejected():
    from ocr_gpu_services_spark.core import ccitt
    img = _rs.rand(30, 100) < 0.4
    enc = ccitt_enc.g4_encode(img)
    with pytest.raises(ValueError):
        ccitt.g4_decode(enc[:len(enc) // 2], 100, 30)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 2 ** 20), h=st.integers(1, 60),
       w=st.integers(1, 150),
       kind=st.sampled_from(["png", "none", "packbits", "g4"]))
def test_bilevel_roundtrip_property(seed, h, w, kind):
    rs = np.random.RandomState(seed)
    g = ((rs.rand(h, w) < rs.uniform(0.1, 0.9)) * 255).astype(np.uint8)
    if kind == "png":
        from ocr_gpu_services_spark.core.png import (png_decode,
                                                     png_encode_bilevel)
        assert np.array_equal(png_decode(png_encode_bilevel(g)), g)
    else:
        t = tiff_enc.tiff_encode(g, kind, bilevel=True,
                                 big_endian=bool(seed % 2))
        assert np.array_equal(tiff.tiff_decode(t), g)


# ---------------------------------------------------------------------------
# decode seam + fixture integration
# ---------------------------------------------------------------------------

def test_decode_image_dispatch():
    g = _rs.randint(0, 256, (25, 40)).astype(np.uint8)
    assert np.array_equal(decode_image(bmp_enc.bmp_encode_gray8(g)), g)
    assert np.array_equal(decode_image(tiff_enc.tiff_encode(g, "lzw")), g)
    c = _rs.randint(0, 256, (25, 40, 3)).astype(np.uint8)
    from ocr_gpu_services_spark.core.color import rgb_to_gray
    assert np.array_equal(decode_image(bmp_enc.bmp_encode_rgb24(c)),
                          rgb_to_gray(c))
    assert np.array_equal(decode_image(tiff_enc.tiff_encode(c, "packbits")),
                          rgb_to_gray(c))


def test_container_fixture_rows_extract_identically():
    """Every tiny container row (side stream rast1) must extract
    byte-identically to its PNG twin — the containers are lossless and
    the colorization is exact-luma."""
    import random

    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    from ocr_gpu_services_spark.fixtures import gen
    get_atlas()
    n = gen.SCALES["tiny"]
    pdf_block = range(int(n * 0.55), int(n * 0.55) + max(2, n // 25))
    n_cont = 0
    for i in range(n):
        rng_i = random.Random((7 << 20) ^ i)
        if gen._row_kind(i, rng_i.random(), pdf_block) != "image":
            continue
        rng_i = random.Random((7 << 20) ^ i)
        rng_i.random()
        fmt = gen.image_row_format(rng_i, i)
        if not fmt.startswith(("bmp", "tiff", "png-bilevel", "gif")):
            continue
        n_cont += 1
        rng_i = random.Random((7 << 20) ^ i)
        rng_i.random()
        payload = gen._image_page(rng_i, i, allow_jpeg=True)
        assert probe_image_format(bytes(payload)) == fmt, (i, fmt)
        got = extract_document(bytes(payload), None)
        # PNG twin: rerun with containers disabled by re-encoding the
        # ground-truth pixels
        rng_i = random.Random((7 << 20) ^ i)
        rng_i.random()
        from ocr_gpu_services_spark.core.png import png_encode
        twin = extract_document(png_encode(
            gen.image_row_pixels(rng_i, i)), None)
        assert got[1] == twin[1], (i, fmt)               # text identical
        assert [s.as_dict() for s in got[2]] == \
            [s.as_dict() for s in twin[2]], (i, fmt)     # spans identical
        assert got[5] is None
    # rast1 + fax15 + gif1 plant 11 container rows in tiny (4 bmp/tiff,
    # 4 bilevel, 3 gif — the gif1 override displaced some rast1 rows)
    assert n_cont >= 9


def test_adversarial_payloads_degrade_never_crash():
    """Mutated real BMP/TIFF payloads and magic-prefixed garbage must
    land in the error column (ValueError et al. caught by
    extract_document), never crash, hang, or drive a giant allocation
    — crawl payloads are adversarial at scale.  The dimension caps in
    bmp_decode/tiff_decode are what bound memory here (a crafted
    header + tiny G4 stream could otherwise fill all-white rows at
    ~1 bit each)."""
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    get_atlas()
    rs = np.random.RandomState(17)
    g = ((rs.rand(60, 90) < 0.3) * 255).astype(np.uint8)
    from ocr_gpu_services_spark.fixtures.codecs.gif import gif_encode
    seeds = [
        tiff_enc.tiff_encode(g, "lzw", predictor=True),
        tiff_enc.tiff_encode(g, "g4", bilevel=True),
        bmp_enc.bmp_encode_gray8(g),
        gif_encode(g, interlace=True),
    ]
    for seed in seeds:
        for _ in range(60):
            m = bytearray(seed)
            for _k in range(rs.randint(1, 12)):
                m[rs.randint(len(m))] = rs.randint(256)
            extract_document(bytes(m), None)        # must return
    for magic in (b"II*\x00", b"MM\x00*", b"BM", b"GIF89a", b"GIF87a"):
        for _ in range(60):
            body = bytes(rs.randint(0, 256,
                                    rs.randint(20, 2000)).astype(np.uint8))
            extract_document(magic + body, None)
    # the explicit giant-header case: must raise, not allocate
    t = bytearray(tiff_enc.tiff_encode(g, "g4", bilevel=True))
    import struct
    ntags = struct.unpack_from("<H", t, 8)[0]
    for k in range(ntags):
        off = 10 + 12 * k
        tag = struct.unpack_from("<H", t, off)[0]
        if tag in (256, 257):
            struct.pack_into("<H", t, off + 8, 65500)
    with pytest.raises(ValueError):
        tiff.tiff_decode(bytes(t))


# ---------------------------------------------------------------------------
# GIF
# ---------------------------------------------------------------------------

def test_gif_gray_roundtrip_and_seam():
    from ocr_gpu_services_spark.core import gif
    g = _rs.randint(0, 256, (41, 67)).astype(np.uint8)
    for il in (False, True):
        payload = gif_enc.gif_encode(g, interlace=il)
        assert sniff_content_type(payload, None) == "image"
        assert probe_image_format(payload) == ("gif-gray-i" if il
                                               else "gif-gray")
        out = gif.gif_decode(payload)
        assert out.ndim == 2 and np.array_equal(out, g)
        assert np.array_equal(decode_image(payload), g)   # seam dispatch


def test_gif_color_roundtrip_palette_and_gray_back():
    import random

    from ocr_gpu_services_spark.core import gif
    from ocr_gpu_services_spark.core.color import rgb_to_gray
    from ocr_gpu_services_spark.fixtures.colorize import colorize_exact
    g = _rs.randint(0, 256, (53, 61)).astype(np.uint8)
    rgb = colorize_exact(g, random.Random(5))
    for il in (False, True):
        payload = gif_enc.gif_encode(rgb, interlace=il)
        assert probe_image_format(payload) == ("gif-rgb-i" if il
                                               else "gif-rgb")
        out = gif.gif_decode(payload)
        assert out.ndim == 3 and np.array_equal(out, rgb)
        # the decode seam grays with the exact-luma weights -> identity
        assert np.array_equal(decode_image(payload), g)


def test_gif_neutral_color_page_probes_rgb_decodes_gray():
    """A colorized page whose tint clipped to all-neutral still probes
    gif-rgb (sentinel padding entry: the label is a pure function of
    the encode path) while the decoder returns the exact 2-D gray."""
    from ocr_gpu_services_spark.core import gif
    g = ((_rs.rand(30, 40) < 0.5) * 255).astype(np.uint8)
    payload = gif_enc.gif_encode(np.dstack([g, g, g]))
    assert probe_image_format(payload) == "gif-rgb"
    out = gif.gif_decode(payload)
    assert out.ndim == 2 and np.array_equal(out, g)


def test_gif_lzw_width_growth_and_table_reset():
    from ocr_gpu_services_spark.fixtures.codecs.gif import _lzw_encode
    # noise forces code-width growth 9->12 and a full-table reset
    data = bytes(_rs.randint(0, 256, 150000,
                             dtype=np.int64).astype(np.uint8))
    assert lzw_decode(_lzw_encode(data, 8), len(data), min_code_size=8,
                      lsb_first=True) == data
    # tiny alphabet exercises the mcs floor and repeated growth cycles
    data = bytes(_rs.randint(0, 4, 120000,
                             dtype=np.int64).astype(np.uint8))
    assert lzw_decode(_lzw_encode(data, 2), len(data), min_code_size=2,
                      lsb_first=True) == data


def test_gif_extension_blocks_skipped():
    from ocr_gpu_services_spark.core import gif
    g = _rs.randint(0, 256, (9, 13)).astype(np.uint8)
    payload = bytearray(gif_enc.gif_encode(g))
    # splice a Graphic Control Extension before the image descriptor
    desc = payload.index(0x2C, 13 + 768)
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    spliced = bytes(payload[:desc]) + gce + bytes(payload[desc:])
    assert np.array_equal(gif.gif_decode(spliced), g)
    assert probe_image_format(spliced) == "gif-gray"


def test_gif_malformed_rejects():
    from ocr_gpu_services_spark.core import gif
    g = _rs.randint(0, 256, (8, 8)).astype(np.uint8)
    good = gif_enc.gif_encode(g)
    with pytest.raises(ValueError):
        gif.gif_decode(good[:20])                 # truncated
    with pytest.raises(ValueError):
        gif.gif_decode(b"GIF89a" + good[6:13] + b"\x3b")  # no frame
    # crafted giant dimensions must raise before allocating
    big = bytearray(good)
    struct.pack_into("<HH", big, 6, 65535, 65535)
    desc = bytes(big).index(0x2C, 13 + 768)
    struct.pack_into("<HH", big, desc + 5, 65535, 65535)
    with pytest.raises(ValueError):
        gif.gif_decode(bytes(big))


def test_gif_fixture_rows_extract_identically():
    """Every tiny gif1 row must extract byte-identically to its PNG
    twin (covered inside the container-twin sweep too; this pins the
    gif-specific count so a salt regression is loud)."""
    import random

    from ocr_gpu_services_spark.fixtures import gen
    n = gen.SCALES["tiny"]
    pdf_block = range(int(n * 0.55), int(n * 0.55) + max(2, n // 25))
    fmts = []
    for i in range(n):
        rng_i = random.Random((7 << 20) ^ i)
        if gen._row_kind(i, rng_i.random(), pdf_block) != "image":
            continue
        rng_i = random.Random((7 << 20) ^ i)
        rng_i.random()
        fmt = gen.image_row_format(rng_i, i)
        if fmt.startswith("gif"):
            fmts.append(fmt)
    assert len(fmts) >= 3
    assert any(f.startswith("gif-gray") for f in fmts)
    assert any(f.startswith("gif-rgb") for f in fmts)
    assert any(f.endswith("-i") for f in fmts)


def _with_scanner_tags(data: bytes) -> bytes:
    """Rebuild the IFD at EOF with XResolution (RATIONAL) and Software
    (ASCII) appended — the baseline-standard tags virtually every
    scanner/libtiff writer emits."""
    ifd_off = struct.unpack_from("<I", data, 4)[0]
    n = struct.unpack_from("<H", data, ifd_off)[0]
    entries = data[ifd_off + 2:ifd_off + 2 + 12 * n]
    out = bytearray(data)
    rat_off = len(out)
    out += struct.pack("<II", 300, 1)
    sw = b"scanner-x\x00"
    sw_off = len(out)
    out += sw
    new_ifd = len(out)
    ents = [entries[i * 12:(i + 1) * 12] for i in range(n)]
    ents.append(struct.pack("<HHII", 282, 5, 1, rat_off))
    ents.append(struct.pack("<HHII", 305, 2, len(sw), sw_off))
    out += struct.pack("<H", len(ents)) + b"".join(ents) + \
        struct.pack("<I", 0)
    struct.pack_into("<I", out, 4, new_ifd)
    return bytes(out)


def test_tiff_skips_non_integer_tag_types():
    """RATIONAL / ASCII tags the decoder never consumes must be SKIPPED,
    not fatal — previously any scanner TIFF carrying XResolution or
    Software raised 'unsupported tag type' and the row degraded."""
    g = (np.arange(40 * 60, dtype=np.uint32) * 37 % 251).astype(np.uint8)
    g = g.reshape(40, 60)
    plain = tiff_enc.tiff_encode(g, "lzw", predictor=True)
    tagged = _with_scanner_tags(plain)
    assert np.array_equal(tiff.tiff_decode(tagged), g)


def test_g4_crafted_dimensions_capped():
    """A tiny all-white G4 stream with huge declared dimensions must
    raise (ValueError -> error column), never allocate the 10 GB page."""
    from ocr_gpu_services_spark.core import ccitt
    small = ccitt_enc.g4_encode(np.zeros((4, 64), bool))
    with pytest.raises(ValueError):
        ccitt.g4_decode(small, 100000, 100000)


def test_g4_halftone_rows_linear_roundtrip():
    """Alternating-pixel rows (the error-diffusion/halftone shape) have
    ~w transitions per row; the monotone b-pointer must stay exact on
    this densest case AND fast (the from-zero rescan was quadratic —
    minutes per fax page)."""
    from ocr_gpu_services_spark.core import ccitt
    g = np.zeros((48, 1728), bool)
    g[:, ::2] = True
    g[1::2, 1::4] = False
    t0 = time.time()
    assert np.array_equal(ccitt.g4_decode(ccitt_enc.g4_encode(g), 1728, 48), g)
    assert time.time() - t0 < 5.0


def test_probe_never_raises_on_any_prefix():
    """probe_image_format runs per row in the image_formats query and in
    tools/route_digest.py: a truncated upload must probe as a format or
    None, never raise (a JPEG cut inside its SOF raised IndexError).
    One payload per SIGNATURES image family, every prefix."""
    from ocr_gpu_services_spark.core.sniff import SIGNATURES, signature_family
    from ocr_gpu_services_spark.fixtures.gen import gen_rows
    payloads = {}
    # longest first, so the smallest probeable payload per family wins
    for p in sorted((bytes(r["html"] or b"") for r in gen_rows("tiny")),
                    key=len, reverse=True):
        fam = signature_family(p)
        if fam not in (None, "pdf") and probe_image_format(p):
            payloads[fam] = p
    # tiny's one BMP is a full page (every prefix would copy ~29 GB)
    payloads["bmp"] = bmp_enc.bmp_encode_gray8(
        (np.arange(48) * 5).astype(np.uint8).reshape(6, 8))
    payloads["bmff"] = (b"\x00\x00\x00\x1cftypavif\x00\x00\x00\x00"
                        b"avifmif1miaf\x00\x00\x00\x08free")
    payloads["jxl"] = b"\x00\x00\x00\x0cJXL \r\n\x87\n" \
        b"\x00\x00\x00\x14ftypjxl \x00\x00\x00\x00jxl "
    image_families = {f for f, _c, ct in SIGNATURES if ct == "image"}
    assert set(payloads) == image_families
    for fam, p in payloads.items():
        assert signature_family(p) == fam
        for n in range(len(p) + 1):
            got = probe_image_format(p[:n])
            assert got is None or isinstance(got, str), (fam, n, got)
