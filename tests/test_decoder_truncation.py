"""Decoders on truncated input.

Every ~len/N-th prefix of a lossy VP8 crawl row and of five JPEG streams
(progressive gray and 4:2:0; baseline gray, gray with a restart marker
every 2 MCUs, and 4:2:0) must decode to the planes recorded here, or
fail with ValueError or IndexError — the two classes pdf_extract's
per-image skip catches.  The libwebp parity suite cannot pin this:
libwebp stops at the end of a partition, while core/vp8 reads zero bytes
past it, so a cut VP8 stream still decodes.  The VP8 and progressive
digests were recorded with the per-bit decoders these replaced, the
baseline ones with the separate sequential-scan decoder that the shared
MCU walk replaced; a rewrite of any entropy decoder must reproduce them
exactly.
"""

import hashlib

import numpy as np
import pytest

from ocr_gpu_services_spark.core.jpeg import jpeg_decode
from ocr_gpu_services_spark.core.vp8 import vp8_decode_yuv
from ocr_gpu_services_spark.fixtures.codecs.jpeg import (jpeg_encode,
                                                         jpeg_encode_color)
from ocr_gpu_services_spark.fixtures.codecs.jpeg_progressive import (
    jpeg_encode_progressive)
from ocr_gpu_services_spark.fixtures.gen import gen_rows


def _outcomes(decode, data: bytes, n: int) -> list[str]:
    """Planes digest (or "error") of every len(data)//n-th prefix."""
    step = max(1, len(data) // n)
    out = []
    for end in range(step, len(data) + step, step):
        try:
            planes = decode(data[:end])
        except (ValueError, IndexError):
            out.append("error")
            continue
        h = hashlib.sha256()
        for p in planes:
            h.update(repr(p.shape).encode())
            h.update(p.tobytes())
        out.append(h.hexdigest()[:16])
    return out


def _vp8_row() -> bytes:
    # crawl_mix pool row p/0000085 (gen seed 104): a 372x264 q_index-0
    # lossy WebP; [20:] drops the RIFF/WEBP/"VP8 " chunk headers
    return next(gen_rows("small", 104, 85, 86))["html"][20:]


def _jpeg(name: str) -> bytes:
    """The 40x48 stream ``name`` names: "<mode>_<gray|rst2|420>"."""
    rs = np.random.RandomState(11)
    gray = (rs.rand(40, 48) * 255).astype(np.uint8)
    mode, kind = name.split("_")
    if mode == "progressive":
        if kind == "gray":
            return jpeg_encode_progressive(gray)
        rgb = (rs.rand(40, 48, 3) * 255).astype(np.uint8)
        return jpeg_encode_progressive(rgb, subsampling=kind)
    if kind == "gray":
        return jpeg_encode(gray)
    if kind == "rst2":
        return jpeg_encode(gray, restart_interval=2)
    rgb = (rs.rand(40, 48, 3) * 255).astype(np.uint8)
    return jpeg_encode_color(rgb, subsampling=kind)


# name -> (prefix count divisor, prefixes, decoded, sha256 of outcomes)
_RECORDED = {
    "vp8": (100, 101, 101, "1c716ccb06a4bf2f7e576b29a00a2e272ec097c5"
                          "c7768e7082a68d89c62a50be"),
    "baseline_gray": (200, 212, 2, "994c76f3df817416d5a8730b7f940664"
                                   "9becd8be569b7a86ec96fa9190748a8a"),
    "baseline_rst2": (200, 202, 1, "dd8ce4e18bbaf69885ad7b2a8d96cb6a"
                                   "98b273fae08dcaeaefcf973ae7572863"),
    "baseline_420": (200, 205, 1, "a00750083cac43817c1b542853c0c5cb"
                                  "97eff97e8cfed0299ce8c9c27da56855"),
    "progressive_gray": (200, 207, 9, "70dccf46265e5f9b4eed884ff6314e76"
                                      "9d29ed0287b3855d073061a8ce48d4c4"),
    "progressive_420": (200, 205, 12, "a6c7e1f7d75839eb00c4a0a142c75e81"
                                      "545726d38f47b9c3994db1d67141636f"),
}


@pytest.mark.parametrize("name", sorted(_RECORDED))
def test_truncated_prefixes_decode_as_recorded(name):
    n, want_prefixes, want_decoded, want_sha = _RECORDED[name]
    if name == "vp8":
        data, decode = _vp8_row(), vp8_decode_yuv
    else:
        data = _jpeg(name)

        def decode(d):
            return [jpeg_decode(d)]
    out = _outcomes(decode, data, n)
    got = (len(out), sum(o != "error" for o in out),
           hashlib.sha256("\n".join(out).encode()).hexdigest())
    assert got == (want_prefixes, want_decoded, want_sha), out
