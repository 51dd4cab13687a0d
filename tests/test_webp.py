"""WebP VP8L codec (core/webp.py): encoder/decoder round trips, the
libwebp interop pin (transforms, color cache, meta groups and LZ77
backrefs as the real encoder emits them, plus the 2D distance map
verified code-by-code), sniff / probe / decode-seam integration, and
adversarial payload fuzz."""

import ctypes
import ctypes.util
import struct

import numpy as np
import pytest

from ocr_gpu_services_spark.core import webp
from ocr_gpu_services_spark.core.extract import decode_image
from ocr_gpu_services_spark.core.sniff import (probe_image_format,
                                               sniff_content_type)
from ocr_gpu_services_spark.fixtures.codecs import webp as webp_enc

_rs = np.random.RandomState(23)


def _libwebp():
    name = ctypes.util.find_library("webp")
    if not name:
        return None
    lib = ctypes.CDLL(name)
    lib.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
    lib.WebPEncodeLosslessRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
    return lib


_LIB = _libwebp()
needs_libwebp = pytest.mark.skipif(_LIB is None,
                                   reason="system libwebp not present")


def _lw_encode(img):
    h, w = img.shape[:2]
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = _LIB.WebPEncodeLosslessRGB(
        np.ascontiguousarray(img).tobytes(), w, h, w * 3,
        ctypes.byref(out))
    assert n
    return ctypes.string_at(out, n)


def _lw_decode(data):
    wi, hi = ctypes.c_int(), ctypes.c_int()
    p = _LIB.WebPDecodeRGBA(data, len(data), ctypes.byref(wi),
                            ctypes.byref(hi))
    assert p, "libwebp decode failed"
    buf = ctypes.string_at(p, wi.value * hi.value * 4)
    return np.frombuffer(buf, np.uint8).reshape(
        hi.value, wi.value, 4)[:, :, :3].copy()


# ---------------------------------------------------------------------------
# our encoder <-> our decoder
# ---------------------------------------------------------------------------

def test_roundtrip_gray_and_seam():
    g = _rs.randint(0, 256, (43, 61)).astype(np.uint8)
    payload = webp_enc.vp8l_encode(g)
    assert sniff_content_type(payload, None) == "image"
    assert probe_image_format(payload) == "webp-vp8l"
    out = webp.webp_decode(payload)
    assert out.shape == (43, 61, 3)
    assert np.array_equal(out[:, :, 0], g)
    assert np.array_equal(out[:, :, 1], g)
    assert np.array_equal(decode_image(payload), g)      # seam -> luma


def test_roundtrip_rgb():
    c = _rs.randint(0, 256, (29, 37, 3)).astype(np.uint8)
    out = webp.webp_decode(webp_enc.vp8l_encode(c))
    assert np.array_equal(out, c)


def _uniform_vp8l(w: int, h: int) -> bytes:
    """An 8-byte VP8L payload of w x h zero pixels: no transform, no
    color cache, no meta codes, five single-symbol prefix codes."""
    bw = webp_enc._BitWriter()
    bw.write(webp._VP8L_SIG, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 4)                                 # alpha hint, version
    bw.write(0, 3)                                 # transform, cache, meta
    for _ in range(5):
        bw.write(0b0001, 4)                        # simple, 1 symbol: 0
    return bw.done()


def test_dimension_limits_and_pixel_cap():
    with pytest.raises(ValueError):
        webp_enc.vp8l_encode(np.zeros((1, 1 << 15), np.uint8))
    # VP8L's 14-bit dimensions reach 16384 x 16384 = MAX_PIXELS, so the
    # raster cap alone never trips; WebP's family cap does, before
    # allocation (without it this 8-byte payload asks for ~3 GB)
    data = _uniform_vp8l(16, 8)
    assert len(data) == 8
    assert not webp.vp8l_decode(data).any()
    for w, h in ((1 << 14, 1 << 14), (8192, 8193)):
        with pytest.raises(ValueError, match="bad dimensions"):
            webp.vp8l_decode(_uniform_vp8l(w, h))


# ---------------------------------------------------------------------------
# libwebp interop: the real encoder's streams must decode exactly
# ---------------------------------------------------------------------------

@needs_libwebp
def test_libwebp_streams_decode_exact():
    x, y = np.meshgrid(np.arange(128), np.arange(128))
    cases = [
        np.stack([(x * y) % 256, (x + y) % 256, (x ^ y) % 256],
                 axis=2).astype(np.uint8),                # transforms
        _rs.randint(0, 256, (3, 7, 3)).astype(np.uint8),  # tiny
        _rs.randint(0, 256, (64, 64, 3)).astype(np.uint8),  # incompressible
        np.full((50, 40, 3), 137, np.uint8),              # flat -> backrefs
        (_rs.randint(0, 4, (60, 60, 1)) *
         np.array([[60, 30, 90]])).astype(np.uint8),      # palette
        np.tile(_rs.randint(0, 256, (1, 97, 3)),
                (120, 1, 1)).astype(np.uint8),            # long backrefs
        _rs.randint(0, 256, (1, 300, 3)).astype(np.uint8),  # single row
        _rs.randint(0, 256, (200, 177, 3)).astype(np.uint8),  # meta groups
    ]
    for img in cases:
        enc = _lw_encode(img)
        out = webp.webp_decode(enc)
        assert np.array_equal(out, img), f"shape {img.shape}"


@needs_libwebp
def test_our_encoder_decodes_under_libwebp():
    for img in (_rs.randint(0, 256, (31, 45, 3)).astype(np.uint8),
                _rs.randint(0, 256, (8, 200)).astype(np.uint8)):
        enc = webp_enc.vp8l_encode(img)
        got = _lw_decode(enc)
        want = img if img.ndim == 3 else np.stack([img] * 3, axis=2)
        assert np.array_equal(got, want)


def _probe_stream(w, h, target, dist_value):
    """Craft a VP8L stream of unique literals with one length-1 backref
    at ``target`` carrying LZ77 distance value ``dist_value``."""
    def parts(v):
        if v <= 4:
            return v - 1, 0, 0
        for c in range(4, 40):
            eb = (c - 2) >> 1
            off = (2 + (c & 1)) << eb
            if off + 1 <= v <= off + (1 << eb):
                return c, v - off - 1, eb
        raise ValueError(v)

    pc, extra, eb = parts(dist_value)
    bw = webp_enc._BitWriter()
    bw.write(webp._VP8L_SIG, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 4)                   # alpha hint + version
    bw.write(0, 3)                   # no transforms / cache / meta
    # green tree: 256 literals at length 9 + length-code 0 at length 1
    bw.write(0, 1)
    bw.write(14 - 4, 4)
    cl = {1: 1, 9: 2, 18: 2}
    for i in range(14):
        bw.write(cl.get(webp._CLC_ORDER[i], 0), 3)
    bw.write(0, 1)
    for _ in range(256):
        bw.write_code(0b10, 2)
    bw.write_code(0, 1)
    bw.write_code(0b11, 2)
    bw.write(23 - 11, 7)
    webp_enc._write_literal_tree(bw, 256)      # red
    webp_enc._write_literal_tree(bw, 256)      # blue
    webp_enc._write_single_tree(bw, 255)       # alpha
    webp_enc._write_single_tree(bw, pc)        # distance
    for i in range(w * h):
        if i == target:
            bw.write_code(0, 1)            # length sym -> length 1
            bw.write(extra, eb)
        else:
            bw.write_code(0x100 | (i & 0xFF), 9)
            bw.write_code((i >> 8) & 0xFF, 8)
            bw.write_code(0xA5, 8)
    chunk = bw.done()
    if len(chunk) & 1:
        chunk += b"\x00"
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(chunk)) + b"WEBP"
            + b"VP8L" + struct.pack("<I", len(chunk)) + chunk)


def test_distance_map_probe_streams():
    """Every 2D distance code must copy from the mapped (dx, dy)
    neighbor — checked with crafted single-backref streams (the same
    construction that pinned the table against libwebp; the tail of the
    table was historically the easy part to get wrong)."""
    w, h = 32, 14
    target = 10 * w + 16
    for v in range(1, 121):
        out = webp.webp_decode(_probe_stream(w, h, target, v))
        flat = out.reshape(-1, 3)
        src = (int(flat[target][0]) << 8) | int(flat[target][1])
        dx, dy = webp._DIST_MAP[v - 1]
        dist = max(1, dy * w + dx)
        assert target - src == dist, f"code {v}"


@needs_libwebp
def test_distance_map_matches_libwebp():
    w, h = 32, 14
    target = 10 * w + 16
    for v in (1, 2, 40, 80, 100, 105, 110, 115, 118, 119, 120,
              121, 125, 200):                 # >120 = linear distances
        data = _probe_stream(w, h, target, v)
        ours = webp.webp_decode(data)
        theirs = _lw_decode(data)
        assert np.array_equal(ours, theirs), f"code {v}"


# ---------------------------------------------------------------------------
# container / error paths
# ---------------------------------------------------------------------------

def test_animated_first_frame():
    g = _rs.randint(0, 256, (21, 33)).astype(np.uint8)
    payload = webp_enc.vp8l_encode(g, animated=True)
    assert payload[12:16] == b"VP8X"
    assert sniff_content_type(payload, None) == "image"
    assert probe_image_format(payload) == "webp-vp8l-anim"
    out = webp.webp_decode(payload)
    assert np.array_equal(out[:, :, 0], g)
    assert np.array_equal(decode_image(payload), g)
    # animated container with a garbage lossy frame: degrades, and the
    # probe still labels it (a real VP8 frame would decode via
    # core/vp8.py — tests/test_vp8.py pins that path)
    lossy_anmf = (b"ANMF" + struct.pack("<I", 16 + 12)
                  + b"\x00" * 16
                  + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4)
    riff = (b"RIFF" + struct.pack("<I", 4 + len(lossy_anmf)) + b"WEBP"
            + lossy_anmf)
    with pytest.raises(ValueError):
        webp.webp_decode(riff)
    assert probe_image_format(riff) == "webp-vp8-anim"


def test_lossy_and_garbage_rejected():
    # a VP8 chunk too short to hold a frame header degrades (real
    # lossy frames decode — core/vp8.py, pinned in tests/test_vp8.py)
    lossy = (b"RIFF" + struct.pack("<I", 16) + b"WEBP"
             + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4)
    with pytest.raises(ValueError):
        webp.webp_decode(lossy)
    assert probe_image_format(lossy) == "webp-vp8"
    with pytest.raises(ValueError):
        webp.webp_decode(b"RIFF\x00\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        webp.webp_decode(b"RIFF" + struct.pack("<I", 4) + b"WEBP")


def test_adversarial_payloads_degrade_never_crash():
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    get_atlas()
    rs = np.random.RandomState(31)
    g = ((rs.rand(40, 70) < 0.3) * 255).astype(np.uint8)
    seed = webp_enc.vp8l_encode(g)
    for _ in range(80):
        m = bytearray(seed)
        for _k in range(rs.randint(1, 12)):
            m[rs.randint(len(m))] = rs.randint(256)
        ct, _txt, _spans, _dt, _c, _err = extract_document(bytes(m), None)
        assert ct in ("image", "html")       # magic may be mutated away
    for _ in range(80):
        body = bytes(rs.randint(0, 256,
                                rs.randint(8, 2000)).astype(np.uint8))
        extract_document(b"RIFF" + body[:4] + b"WEBP" + body[4:], None)


def test_fixture_rows_in_tiny():
    """The webp4/vp8w5 side streams must land rows in the gate corpus:
    tiny carries lossless VP8L (incl. an animated container) AND a
    lossy VP8 row, all decoded by the kernel with goldens
    byte-identical (enforced by test_registry's golden check; here we
    pin presence and decodability)."""
    from ocr_gpu_services_spark.fixtures.gen import gen_rows
    fmts = []
    for r in gen_rows("tiny"):
        p = r["html"]
        if p[:4] == b"RIFF" and p[8:12] == b"WEBP":
            fmts.append(probe_image_format(bytes(p)))
            img = decode_image(bytes(p))
            assert img.ndim == 2 and img.size > 0
    assert len(fmts) >= 3
    assert any(f == "webp-vp8l" for f in fmts)
    assert any(f.endswith("-anim") for f in fmts)
    assert any(f == "webp-vp8" for f in fmts)


def test_oversubscribed_prefix_code_rejected():
    """Kraft-violating code-length sets must raise, not silently let a
    later canonical code overwrite an earlier symbol's table entries
    (the overwritten table has no -1 sentinel left, so the stream would
    decode to garbage instead of failing; libwebp rejects the same
    stream as corrupt)."""
    from ocr_gpu_services_spark.core.webp import _Prefix
    with pytest.raises(ValueError):
        _Prefix([1, 1, 2])                     # over-subscribed
    with pytest.raises(ValueError):
        _Prefix([2, 2, 2])                     # under-full
    _Prefix([1, 2, 2])                         # exactly full: accepted
    _Prefix([2, 2, 2, 2])
