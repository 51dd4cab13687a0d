"""Format signatures: the one table every magic-byte decision reads.

The reference dispatches on the uploaded *filename extension* with a
jpg/jpeg/png/pdf whitelist (/root/reference/src/api/v1/routers/ocr.py:51-57);
our batch engine has no filenames, so we sniff the payload bytes, which is
strictly more robust.  ``SIGNATURES`` states each format's magic bytes
once; ``sniff_content_type`` (the kernel and oracle route), its Spark
twin ``operators/sniff.content_type_col`` (generated from the table),
``core/extract.decode_image`` and ``probe_image_format`` dispatch on its
families.  Codecs import their magic constants and pixel caps from
here; this module imports no codec.
"""

from __future__ import annotations

import struct

MAGIC_PNG = b"\x89PNG\r\n\x1a\n"
MAGIC_TIFF_LE = b"II*\x00"
MAGIC_TIFF_BE = b"MM\x00*"
MAGIC_BMP = b"BM"
MAGIC_GIF87 = b"GIF87a"
MAGIC_GIF89 = b"GIF89a"
MAGIC_RIFF = b"RIFF"
MAGIC_WEBP = b"WEBP"

CT_HTML = "html"
CT_PDF = "pdf"
CT_IMAGE = "image"
CT_TEXT = "text"
CT_UNKNOWN = "unknown"

MAX_PIXELS = 1 << 28      # every raster decoder's crafted-header guard
# WebP's family cap, for lossy VP8 and lossless VP8L alike.  Both headers
# give 14-bit dimensions, so the largest frame is 16384 x 16384 <= 2**28
# pixels and MAX_PIXELS alone could never trip.  2**26 (64 Mpix, e.g.
# 8192 x 8192) is the value the VP8 decoder has always used; at its
# ~1 s/Mpix (tools/kernel_cost.py pool) that is still about a minute of
# CPU, and an 8-byte VP8L payload of 8192 x 8192 single-symbol pixels
# still takes ~2.9 GB RSS.
MAX_PIXELS_WEBP = 1 << 26

# (family, clauses, content type).  A payload is in the family when, for
# every clause (offset, alternatives), the bytes at ``offset`` start with
# one of the alternatives.  Row order is the decode priority for payloads
# matching two rows; pdf shares no payload with an image row, so the
# content type never depends on it.
SIGNATURES = (
    ("pdf", ((0, (b"%PDF-",)),), CT_PDF),
    ("png", ((0, (MAGIC_PNG,)),), CT_IMAGE),
    ("jpeg", ((0, (b"\xff\xd8\xff",)),), CT_IMAGE),
    ("tiff", ((0, (MAGIC_TIFF_LE, MAGIC_TIFF_BE)),), CT_IMAGE),
    # "BM" alone is two ASCII letters any text can start with; require
    # the BITMAPINFOHEADER size field (offset 14, little-endian) too
    ("bmp", ((0, (MAGIC_BMP,)), (14, (b"\x28\x00\x00\x00",))), CT_IMAGE),
    ("gif", ((0, (MAGIC_GIF87, MAGIC_GIF89)),), CT_IMAGE),
    ("webp", ((0, (MAGIC_RIFF,)), (8, (MAGIC_WEBP,))), CT_IMAGE),
    # ISO-BMFF stills (AVIF/HEIC) and JPEG XL (bare or boxed): image, so
    # decode_image degrades the row to a clear unsupported-codec error
    # instead of running binary bytes through the HTML extractor
    ("bmff", ((4, (b"ftyp",)),
              (8, (b"avif", b"avis", b"heic", b"heix", b"heif", b"mif1",
                   b"msf1"))), CT_IMAGE),
    ("jxl", ((0, (b"\xff\x0a", b"\x00\x00\x00\x0cJXL \r\n\x87\n")),),
     CT_IMAGE),
)

_CONTENT_TYPE = {family: ct for family, _clauses, ct in SIGNATURES}


def signature_family(payload: bytes) -> str | None:
    """The first ``SIGNATURES`` family whose clauses all hold, else None."""
    for family, clauses, _ct in SIGNATURES:
        for off, alts in clauses:
            if not payload.startswith(alts, off):
                break
        else:
            return family
    return None


def sniff_content_type(payload: bytes | None, text: str | None) -> str:
    """Classify a raw payload.  Mirrors the whitelist semantics of the
    reference (pdf/png/jpg accepted; anything else with markup treated as
    html; empty payload falls back to the pre-extracted ``text`` column)."""
    if payload is None or len(payload) == 0:
        return CT_TEXT if text is not None else CT_UNKNOWN
    return _CONTENT_TYPE.get(signature_family(payload), CT_HTML)


_PNG_FORMATS = {0: "png-gray", 2: "png-rgb", 3: "png-palette",
                4: "png-graya", 6: "png-rgba"}
_JPEG_SAMP = {0x11: "jpeg-444", 0x22: "jpeg-420", 0x21: "jpeg-422"}
_TIFF_COMP = {1: "", 4: "-g4", 5: "-lzw", 32773: "-packbits"}


def _probe_tiff(payload: bytes) -> str | None:
    """tiff-{gray|rgb}[-lzw|-packbits] from the first IFD's tags."""
    e = "<" if payload[:4] == MAGIC_TIFF_LE else ">"
    try:
        ifd = struct.unpack_from(e + "I", payload, 4)[0]
        ntags = struct.unpack_from(e + "H", payload, ifd)[0]
        spp, comp, bits = 1, 1, 8
        for k in range(ntags):
            t, ty, c = struct.unpack_from(e + "HHI", payload,
                                          ifd + 2 + 12 * k)
            if t in (258, 259, 277) and ty == 3 and c == 1:
                v = struct.unpack_from(e + "H", payload,
                                       ifd + 2 + 12 * k + 8)[0]
                if t == 259:
                    comp = v
                elif t == 277:
                    spp = v
                else:
                    bits = v
    except struct.error:
        return None
    if comp not in _TIFF_COMP or spp not in (1, 3):
        return None
    base = ("tiff-rgb" if spp == 3
            else "tiff-bilevel" if bits == 1 else "tiff-gray")
    return base + _TIFF_COMP[comp]


def _probe_gif(payload: bytes) -> str | None:
    """gif-{gray|rgb}[-i] from the header, active color table and the
    first image descriptor's interlace bit."""
    try:
        packed = payload[10]
        pos = 13
        pal = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            pal = payload[pos:pos + 3 * n]
            pos += 3 * n
        while pos < len(payload) and payload[pos] == 0x21:
            pos += 2                       # extension intro + label
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        if pos + 10 > len(payload) or payload[pos] != 0x2C:
            return None
        ipack = struct.unpack_from("<HHHHB", payload, pos + 1)[4]
        if ipack & 0x80:
            n = 2 << (ipack & 0x07)
            pal = payload[pos + 10:pos + 10 + 3 * n]
        if pal is None or len(pal) % 3:
            return None
    except (IndexError, struct.error):
        return None
    gray = all(pal[k] == pal[k + 1] == pal[k + 2]
               for k in range(0, len(pal), 3))
    return ("gif-gray" if gray else "gif-rgb") \
        + ("-i" if ipack & 0x40 else "")


def _probe_webp(payload: bytes) -> str | None:
    """webp-vp8l / webp-vp8 (+ ``-anim`` for VP8X/ANMF containers) from
    the first image chunk's fourcc (pixel layout is inside the
    entropy-coded stream, so gray vs color is not header-probeable the
    way GIF palettes are)."""
    pos = 12
    anim = False
    while pos + 8 <= len(payload):
        fourcc = payload[pos:pos + 4]
        if fourcc == b"VP8L":
            return "webp-vp8l-anim" if anim else "webp-vp8l"
        if fourcc == b"VP8 ":
            return "webp-vp8-anim" if anim else "webp-vp8"
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if fourcc == b"ANMF" and size > 16:
            anim = True
            pos += 8 + 16           # descend into the frame subchunks
            continue
        pos += 8 + size + (size & 1)
    return None


def probe_image_format(payload: bytes) -> str | None:
    """Sub-format of an image payload from its header bytes alone (the
    S3 breadth gate): PNG color type from IHDR, JPEG component count +
    luma sampling factors from SOF0, BMP bit depth, TIFF samples +
    compression from the first IFD.  None if unprobeable."""
    family = signature_family(payload)
    if family == "tiff":
        return _probe_tiff(payload)
    if family == "gif":
        return _probe_gif(payload)
    if family == "webp":
        return _probe_webp(payload)
    if family == "bmp" and len(payload) >= 30:
        bpp = int.from_bytes(payload[28:30], "little")
        if bpp == 24:
            return "bmp-rgb24"
        if bpp == 8:
            pal = payload[54:54 + 1024]
            if len(pal) == 1024 and all(
                    pal[4 * g] == pal[4 * g + 1] == pal[4 * g + 2]
                    for g in range(256)):
                return "bmp-gray8"
            return "bmp-pal8"
        return None
    if family == "png":
        if len(payload) < 26:
            return None
        if payload[24] == 1:                     # IHDR bit depth 1
            return "png-bilevel" if payload[25] == 0 else None
        return _PNG_FORMATS.get(payload[25])     # IHDR byte 9 = color type
    if family == "jpeg":
        i = 2
        while i + 4 <= len(payload):
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3):
                sof = payload[i + 9:i + 12]          # Nf, C1, H1V1
                if not sof or (sof[0] != 1 and len(sof) < 3):
                    return None                      # cut inside the SOF
                base = "jpeg-gray" if sof[0] == 1 \
                    else _JPEG_SAMP.get(sof[2])
                if base is not None and marker == 0xC2:   # progressive
                    base = base.replace("jpeg-", "jpeg-prog-")
                return base
            if marker == 0xD9 or marker == 0xDA:
                return None
            i += 2 + int.from_bytes(payload[i + 2:i + 4], "big")
    return None
