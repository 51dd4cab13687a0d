"""Lossy VP8 decoder (core/vp8.py): bit-exact parity against the
system libwebp at both the YUV stage (WebPDecodeYUV — isolates
boolean/token decode, reconstruction and the loop filter from color
conversion) and the RGB stage (WebPDecodeRGB — adds the fancy
upsampler and fixed-point YUV->RGB), across encoder quality, method,
filter type/sharpness and segmentation settings; plus a frozen
regression stream that needs no libwebp, header/error paths, and the
decode-seam integration.

Not parity-coverable here: multi-partition token streams — this
libwebp build ignores ``WebPConfig.partitions`` (n_parts stays 1 in
every emitted stream), so the partition-table path is exercised only
by the truncation tests.  thread_level=1 encodes destabilize the
encoder in-process and are avoided."""

import ctypes
import ctypes.util
import hashlib
import struct

import numpy as np
import pytest

from ocr_gpu_services_spark.core import vp8
from ocr_gpu_services_spark.core.extract import decode_image
from ocr_gpu_services_spark.core.sniff import (MAX_PIXELS_WEBP,
                                               probe_image_format,
                                               sniff_content_type)
from ocr_gpu_services_spark.core.webp import webp_decode

_rs = np.random.RandomState(47)


def _libwebp():
    name = ctypes.util.find_library("webp")
    if not name:
        return None
    lib = ctypes.CDLL(name)
    lib.WebPEncodeRGB.restype = ctypes.c_size_t
    lib.WebPEncodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
    lib.WebPDecodeRGB.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPDecodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
    lib.WebPDecodeYUV.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPDecodeYUV.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
    return lib


_LIB = _libwebp()
needs_libwebp = pytest.mark.skipif(_LIB is None,
                                   reason="system libwebp not present")


def _encode(img, q):
    h, w = img.shape[:2]
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = _LIB.WebPEncodeRGB(np.ascontiguousarray(img).tobytes(), w, h,
                           w * 3, float(q), ctypes.byref(out))
    assert n
    return ctypes.string_at(out, n)


def _lw_rgb(data):
    wi, hi = ctypes.c_int(), ctypes.c_int()
    p = _LIB.WebPDecodeRGB(data, len(data), ctypes.byref(wi),
                           ctypes.byref(hi))
    assert p
    return np.frombuffer(
        ctypes.string_at(p, wi.value * hi.value * 3),
        np.uint8).reshape(hi.value, wi.value, 3).copy()


def _lw_yuv(data):
    wi, hi = ctypes.c_int(), ctypes.c_int()
    up = ctypes.POINTER(ctypes.c_uint8)()
    vp = ctypes.POINTER(ctypes.c_uint8)()
    st, uvst = ctypes.c_int(), ctypes.c_int()
    yp = _LIB.WebPDecodeYUV(data, len(data), ctypes.byref(wi),
                            ctypes.byref(hi), ctypes.byref(up),
                            ctypes.byref(vp), ctypes.byref(st),
                            ctypes.byref(uvst))
    assert yp
    w, h, s, us = wi.value, hi.value, st.value, uvst.value
    cw, ch = (w + 1) >> 1, (h + 1) >> 1
    y = np.frombuffer(ctypes.string_at(yp, s * h), np.uint8
                      ).reshape(h, s)[:, :w].copy()
    u = np.frombuffer(ctypes.string_at(up, us * ch), np.uint8
                      ).reshape(ch, us)[:, :cw].copy()
    v = np.frombuffer(ctypes.string_at(vp, us * ch), np.uint8
                      ).reshape(ch, us)[:, :cw].copy()
    return y, u, v


def _chunk(webp_bytes):
    pos = 12
    while pos + 8 <= len(webp_bytes):
        fourcc = webp_bytes[pos:pos + 4]
        size = struct.unpack_from("<I", webp_bytes, pos + 4)[0]
        if fourcc == b"VP8 ":
            return webp_bytes[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)
    raise AssertionError("no VP8 chunk")


def _cases():
    x1 = np.arange(96)
    return {
        "flat": np.full((16, 16, 3), 128, np.uint8),
        "photo": np.clip(
            128 + 70 * np.sin(x1[None, :] / 11.0)
            * np.cos(x1[:, None] / 7.0)
            + _rs.randint(-15, 15, (96, 96)), 0, 255
        ).astype(np.uint8)[..., None].repeat(3, 2),
        "color": np.stack(
            [np.tile((x1 * 2) % 256, (96, 1)),
             np.tile((x1 * 3) % 256, (96, 1)).T,
             np.add.outer(x1, x1) * 2 % 256], 2).astype(np.uint8),
        "rand": _rs.randint(0, 256, (64, 64, 3)).astype(np.uint8),
        "odd": _rs.randint(0, 256, (23, 37, 3)).astype(np.uint8),
        "even_edge": _rs.randint(0, 256, (34, 46, 3)).astype(np.uint8),
        "tiny": _rs.randint(0, 256, (2, 2, 3)).astype(np.uint8),
        "strip": _rs.randint(0, 256, (1, 49, 3)).astype(np.uint8),
    }


@needs_libwebp
def test_yuv_parity_across_quality():
    for name, img in _cases().items():
        for q in (10, 50, 80, 95):
            enc = _encode(img, q)
            ly, lu, lv = _lw_yuv(enc)
            y, u, v = vp8.vp8_decode_yuv(_chunk(enc))
            for pn, a, b in (("Y", y, ly), ("U", u, lu), ("V", v, lv)):
                assert np.array_equal(a, b), f"{name} q{q} {pn}"


@needs_libwebp
def test_rgb_parity_fancy_upsampling():
    for name, img in _cases().items():
        for q in (20, 75):
            enc = _encode(img, q)
            assert np.array_equal(webp_decode(enc), _lw_rgb(enc)), \
                f"{name} q{q}"


@needs_libwebp
def test_seam_and_probe():
    img = _cases()["photo"]
    enc = _encode(img, 70)
    assert sniff_content_type(enc, None) == "image"
    assert probe_image_format(enc) == "webp-vp8"
    g = decode_image(enc)
    assert g.ndim == 2 and g.shape == img.shape[:2]


# a 32x32 q60 libwebp stream frozen at pin time: decodes without
# libwebp present and guards against regressions in every stage
_FROZEN = bytes.fromhex(
    "52494646dc0000005745425056503820d00000007006009d012a200020003eb5"
    "52a44c2724a3a2280aa8e0168969001466dfd3180b9b53b3a97da1a0592424a1"
    "ebdaf460c6032de54ee9eb7b7d7e668000fe6c6fb2b7f349cab11ade0bedd678"
    "5b1c4580011e7b6088cb4d2ddbbe9fe9f17dce359518be9d188ad58a771a2367"
    "481a4a2cf936a5ed1155e4f3257450d388ab7bb9e7f9b01b971f1b7f70e48eda"
    "36044a710fd41bb31eb5791a29137c2ad5ed74012a2d403d056b63a794c24cfb"
    "f7434a4e39a5415470dac47794590fc98d0e35aef26c9cc93554f2cc0796f5b1"
    "6ca00000")
_FROZEN_SHA = \
    "443e1c576b95e3d5c4dee4fbff290c4c175b75f79e32e5a2a9c4a015ac7bd73c"


def test_frozen_stream_regression():
    out = webp_decode(_FROZEN)
    assert out.shape == (32, 32, 3)
    assert hashlib.sha256(out.tobytes()).hexdigest() == _FROZEN_SHA
    if _LIB is not None:                  # and it IS libwebp's output
        assert np.array_equal(out, _lw_rgb(_FROZEN))


def test_skipped_b_pred_macroblock_decodes():
    """Two changed bytes in the frozen stream's first partition turn on
    the skip flag of a B_PRED macroblock before any macroblock has
    coefficients: it is predicted subblock by subblock and gets no
    residual.  The planes are the ones the per-bit decoder produced."""
    m = bytearray(_FROZEN[20:])
    m[56], m[59] = 104, 223
    h = hashlib.sha256()
    for plane in vp8.vp8_decode_yuv(bytes(m)):
        h.update(plane.tobytes())
    assert h.hexdigest() == ("7daf59749231e330a8ffeb885eda24e7"
                             "f9e39c6949abe1ab02321b3fb0df88a9")


def test_header_error_paths():
    with pytest.raises(ValueError):
        vp8.vp8_decode_yuv(b"\x00" * 4)               # truncated
    chunk = _FROZEN[20:]                              # the VP8 payload
    bad = bytearray(chunk)
    bad[0] |= 1                                       # interframe flag
    with pytest.raises(ValueError):
        vp8.vp8_decode_yuv(bytes(bad))
    bad = bytearray(chunk)
    bad[3] = 0x00                                     # start code
    with pytest.raises(ValueError):
        vp8.vp8_decode_yuv(bytes(bad))
    with pytest.raises(ValueError):
        vp8.vp8_decode_yuv(chunk[:30])                # truncated part0


def _key_frame_header(width, height):
    tag = (1 << 4) | (100 << 5)             # key frame, shown, part0 100 B
    return (struct.pack("<I", tag)[:3] + b"\x9d\x01\x2a"
            + struct.pack("<HH", width, height))


def test_pixel_cap_is_sniffs():
    assert 16383 * 16383 > MAX_PIXELS_WEBP == 8192 * 8192
    with pytest.raises(ValueError, match="bad dimensions"):
        vp8.vp8_decode_yuv(_key_frame_header(8192, 8193))
    # at the cap the header passes the dimension check and fails on the
    # 100-byte first partition it does not carry
    with pytest.raises(ValueError, match="truncated first partition"):
        vp8.vp8_decode_yuv(_key_frame_header(8192, 8192))


def test_adversarial_lossy_payloads_never_crash():
    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    get_atlas()
    rs = np.random.RandomState(53)
    for _ in range(60):
        m = bytearray(_FROZEN)
        for _k in range(rs.randint(1, 10)):
            m[rs.randint(len(m))] = rs.randint(256)
        extract_document(bytes(m), None)              # must return
