"""VP8 fixture encoder (fixtures/codecs/vp8.py): determinism, the q-step
error contract, libwebp acceptance (streams must be conformant, not
merely self-consistent), and the closed-loop identity between our
decoder and libwebp on encoder output."""

import ctypes
import ctypes.util

import numpy as np
import pytest

from ocr_gpu_services_spark.core.color import rgb_to_gray
from ocr_gpu_services_spark.core.extract import decode_image
from ocr_gpu_services_spark.core.sniff import (probe_image_format,
                                               sniff_content_type)
from ocr_gpu_services_spark.core.webp import webp_decode
from ocr_gpu_services_spark.fixtures.codecs.vp8 import vp8_encode_gray

_rs = np.random.RandomState(59)


def _libwebp():
    name = ctypes.util.find_library("webp")
    if not name:
        return None
    lib = ctypes.CDLL(name)
    lib.WebPDecodeRGB.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPDecodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
    return lib


_LIB = _libwebp()


def _cases():
    rs = np.random.RandomState(61)
    return {
        "inkpaper": (255 - 255 * (rs.rand(64, 80) < 0.08)
                     ).astype(np.uint8),
        "page": np.clip(230 - 200 * (rs.rand(48, 52) < 0.06)
                        + rs.randint(-10, 10, (48, 52)),
                        0, 255).astype(np.uint8),
        "gradient": np.tile(np.arange(64, dtype=np.uint8) * 4, (20, 1)),
        "rand": rs.randint(0, 256, (21, 37)).astype(np.uint8),
        "flat": np.full((16, 16), 137, np.uint8),
        "odd": rs.randint(0, 256, (5, 9)).astype(np.uint8),
    }


def test_deterministic_and_sniffable():
    g = _cases()["page"]
    a = vp8_encode_gray(g)
    b = vp8_encode_gray(g.copy())
    assert a == b
    assert sniff_content_type(a, None) == "image"
    assert probe_image_format(a) == "webp-vp8"


def test_error_contract():
    """Decoded gray stays within 4 levels of the source (q-step 4 +
    the Y<->gray fixed-point mapping) — the lossy-fixture analogue of
    jpeg_encode's quality-100 +-1 band contract."""
    for name, g in _cases().items():
        out = webp_decode(vp8_encode_gray(g))
        gray = rgb_to_gray(out)
        err = int(np.abs(gray.astype(int) - g.astype(int)).max())
        assert err <= 4, f"{name}: max err {err}"
        # neutral chroma: all three channels near-equal
        sp = int(np.abs(out.astype(int).max(axis=2)
                        - out.astype(int).min(axis=2)).max())
        assert sp <= 2, f"{name}: chroma spread {sp}"


@pytest.mark.skipif(_LIB is None, reason="system libwebp not present")
def test_libwebp_accepts_and_matches():
    for name, g in _cases().items():
        enc = vp8_encode_gray(g)
        wi, hi = ctypes.c_int(), ctypes.c_int()
        p = _LIB.WebPDecodeRGB(enc, len(enc), ctypes.byref(wi),
                               ctypes.byref(hi))
        assert p, f"{name}: libwebp rejected the stream"
        theirs = np.frombuffer(
            ctypes.string_at(p, wi.value * hi.value * 3),
            np.uint8).reshape(hi.value, wi.value, 3)
        assert np.array_equal(webp_decode(enc), theirs), name


def test_seam_and_rejects():
    g = _cases()["odd"]
    out = decode_image(vp8_encode_gray(g))
    assert out.shape == g.shape
    with pytest.raises(ValueError):
        vp8_encode_gray(np.zeros((4, 4, 3), np.uint8))   # not gray
    with pytest.raises(ValueError):
        vp8_encode_gray(np.zeros((0, 4), np.uint8))      # empty


def test_encoder_idct_equals_decoder_loop():
    """The encoder's own vectorized §14.3 inverse transform equals the
    decoder's integer loop (the reference) on random blocks from tiny
    to saturating magnitudes, so the closed loop reconstructs exactly
    what a conformant decoder does."""
    from ocr_gpu_services_spark.core.vp8 import _idct4x4_add
    from ocr_gpu_services_spark.fixtures.codecs.vp8 import _idct_add
    rs = np.random.RandomState(67)
    for _ in range(2000):
        scale = 1 << rs.randint(1, 16)
        c = (rs.randint(-scale, scale, 16) * (rs.rand(16) < 0.5)).tolist()
        got = rs.randint(0, 256, (6, 6)).astype(np.uint8)
        plane = bytearray(got.tobytes())          # the decoder's plane
        _idct4x4_add(c, plane, 1 * 6 + 1, 6)
        _idct_add(c, got, 1, 1)
        want = np.frombuffer(bytes(plane), np.uint8).reshape(6, 6)
        assert np.array_equal(want, got), c
