"""Deterministic synthetic `pages` table generator (FIXTURES.md §1).

Seeded, no wall clock, no external data.  Row mix ~70% html / 15% pdf /
10% image / 5% text, with the skew knobs the north rule requires:
* mega-pages: every 101st html payload is ~100x median size
* a pdf-heavy host: `pdf-farm.example` contributes a contiguous block of
  PDF rows (skewed host distribution)

The same generator feeds pytest goldens (tiny), e2e/resume tests (small) and
the throughput bench (bench) — see ``scale_rows``.
"""

from __future__ import annotations

import datetime as dt
import random

from ..core.png import png_encode
from . import imagegen
from .pdf_write import (CidPage, build_pdf, content_stream_ops,
                        content_stream_ops_hex)

SCALES = {"tiny": 200, "small": 5000, "bench": 50000,
          "xbench": 400000}  # scaling-evidence corpus: compute >> fixed costs

# bump whenever generated payload bytes change, so cached bench corpora
# (bench.py's /tmp parquet cache) are regenerated instead of silently reused
GEN_VERSION = "r6-snappy-1"

_WORDS_EN = (
    "pipeline spark batch arrow kernel parquet shuffle partition executor "
    "document extraction boilerplate heuristic layout reading order crawl "
    "archive snapshot content main article paragraph heading table cell "
    "vector column pruning predicate pushdown broadcast salting skew memory "
    "throughput scaling manifest resume checkpoint lineage metric golden "
    "byte identical deterministic normalization whitespace unicode"
).split()
_WORDS_ES = (
    "documento datos proceso tabla columna texto archivo red sistema nube "
    "consulta motor plan particiones velocidad memoria"
).split()
_KEYWORD_SNIPPETS = [
    "", "", "", "",  # most pages have no doc-type keyword
    "This invoice lists the amounts due.",
    "Guarde su recibo para cualquier reclamo.",
    "The parties sign this agreement freely.",
    "Presente su identificación oficial DNI.",
    "The bill and the contract arrived together.",  # order case: invoice wins
]
_NFD_SNIPPETS = [
    "Café con régimen técnico",   # NFD -> NFC exercised
    "coordinación über ñand́u",
]

EPOCH = dt.datetime(2024, 3, 1, 0, 0, 0)


def _sentence(rng: random.Random, n: int, pool=_WORDS_EN) -> str:
    return " ".join(rng.choice(pool) for _ in range(n))


def _html_page(rng: random.Random, i: int, mega: bool) -> tuple[bytes, str]:
    """Returns (payload, lang)."""
    lang = "es" if rng.random() < 0.2 else "en"
    pool = _WORDS_ES if lang == "es" else _WORDS_EN
    nav = "".join(f'<a href="/{w}">{w}</a> ' for w in rng.sample(pool, 6))
    side = "".join(f'<li><a href="/t/{w}">{w} {w}</a></li>'
                   for w in rng.sample(pool, 5))
    n_paras = rng.randint(2, 5) * (60 if mega else 1)
    paras = []
    for p in range(n_paras):
        body = _sentence(rng, rng.randint(18, 40), pool)
        if rng.random() < 0.25:
            body += " " + rng.choice(_KEYWORD_SNIPPETS)
        if rng.random() < 0.15:
            body += " " + rng.choice(_NFD_SNIPPETS)
        if rng.random() < 0.2:
            body += " Entities: &amp; &lt;tag&gt; &eacute;clair &#8212; dash."
        paras.append(f"<p>  {body}\n  </p>")
    title = _sentence(rng, 4, pool).title()
    heading = f"<h1>{title}</h1>"
    boiler_short = "".join(
        f'<div><a href="/x">{rng.choice(pool)}</a> {rng.choice(pool)}</div>'
        for _ in range(3))
    html = f"""<!DOCTYPE html>
<html><head><title>{title}</title>
<style>body {{ color: #222; }}</style>
<script>var tracker = "{i}";</script>
</head><body>
<header><a href="/">home</a> | <a href="/about">about</a></header>
<nav>{nav}</nav>
<aside><ul>{side}</ul></aside>
{boiler_short}
<main>{heading}
{''.join(paras)}
</main>
<footer><a href="/privacy">privacy</a> <a href="/terms">terms</a> © example</footer>
</body></html>"""
    return html.encode("utf-8"), lang


def _pdf_plan(rng: random.Random, i: int) -> dict:
    """Draw ALL of a pdf row's randomness up front (plan-pure rendering,
    same discipline as imagegen.image_plan) so independent oracles can
    reconstruct the planted ground truth without rendering.

    ~25% of pdf rows are fully SCANNED documents (every page an image
    XObject raster, incl. rotated/flipped/keystoned captures via the
    shared image_plan machinery) and ~8% are MIXED (odd pages scanned) —
    real crawl corpora are full of scan-to-PDF output, the reference
    OCRs every pdf by rasterizing it (routers/ocr.py:64-67)."""
    n_pages = rng.randint(1, 3)
    r_kind = rng.random()
    doc_kind = ("scan" if r_kind < 0.25
                else "mixed" if r_kind < 0.33 else "text")
    pages = []
    for p in range(n_pages):
        scanned = (doc_kind == "scan"
                   or (doc_kind == "mixed" and p % 2 == 1))
        if scanned:
            # ~30% of scanned pages embed as /DCTDecode JPEG XObjects
            # (honored at correctness scales only — see _image_page);
            # the draw itself happens at every scale so per-row rng
            # streams stay scale-invariant.  ~25% carry a /Rotate page
            # attribute (side rng stream: main-stream draws untouched;
            # the flag round-trips exactly so goldens are unchanged)
            rrng = random.Random(f"pdfrot:{i}:{p}")
            rot = rrng.choice((90, 180, 270)) \
                if rrng.random() < 0.25 else 0
            # ~30% of scan rasters are COLOR (/DeviceRGB Flate or color
            # /DCTDecode): exact-luma colorization (or the quality-100
            # JPEG band contract) keeps extraction byte-identical
            crng = random.Random(f"pdfcolor:{i}:{p}")
            color = crng.random() < 0.30
            # ~45% of ELIGIBLE scan pages (bilevel-provable plan, not
            # color, not /DCTDecode) embed as /CCITTFaxDecode Group 4
            # (/K -1) — the fax shape of real scan-to-PDF output.
            # Side stream: the salt "pdfg4" lands 3 tiny pages.
            grng = random.Random(f"pdfg4:{i}:{p}")
            ccitt = grng.random() < 0.45
            # ~35% of Flate-route pages ship PNG-predicted
            # (/Predictor 15, Up-filtered rows) — side stream again
            prng2 = random.Random(f"pdfpred:{i}:{p}")
            pred = prng2.random() < 0.35
            pages.append({"kind": "scan",
                          "plan": imagegen.image_plan(rng, i * 7 + p),
                          "xdct": rng.random() < 0.30,
                          "rotate": rot, "color": color,
                          "ccitt": ccitt, "predictor": pred,
                          "color_key": f"pdfcolor:{i}:{p}"})
        else:
            n_lines = rng.randint(4, 10)
            lines = [_sentence(rng, rng.randint(4, 9))
                     for _ in range(n_lines)]
            if rng.random() < 0.3:
                lines[0] = lines[0] + " " + rng.choice(
                    ["invoice total", "recibo oficial", "agreement draft",
                     ""])
            pages.append({"kind": "text", "style": rng.randrange(6),
                          "lines": lines})
    # ~25% are PDF-1.5 files: objects packed in an /ObjStm container
    # with an XRef stream (the modern writer default).  ~30% of the
    # compressed half use legacy /LZWDecode content streams instead of
    # Flate (side rng stream "pdflzw" — main draws untouched; the salt
    # lands LZW rows in tiny so the DuckDB gate exercises the decoder)
    lrng = random.Random(f"pdflzw:{i}")
    # ~20% are OWNER-LOCKED encrypted files (RC4 standard security
    # handler, empty user password — the shape real tools emit, opened
    # silently by every viewer): 60/40 split of 128-bit /R 3 vs legacy
    # 40-bit /R 2.  Side rng stream "pdfenc" — main draws untouched,
    # extraction is byte-identical, so goldens never move; the salt
    # lands both key widths in tiny so the DuckDB gate decrypts both.
    erng = random.Random(f"pdfenc:{i}")
    enc = (40 if erng.random() < 0.40 else 128) \
        if erng.random() < 0.20 else 0
    # ~55% of the encrypted share upgrades to AES (the modern reality:
    # /AESV2 AES-128 since Acrobat 7, /R 6 AES-256 since Acrobat 9).
    # Side rng stream "pdf-aes" — the pdfenc draws above and every main
    # draw are untouched, so only already-encrypted rows change bytes;
    # the salt is chosen so tiny keeps ≥1 row of EVERY scheme (40, 128,
    # aesv2 incl. objstm and lzw combos, aes256) for the DuckDB gate.
    arng = random.Random(f"pdf-aes:{i}")
    aes_draw = arng.random()
    if enc:
        if aes_draw < 0.30:
            enc = "aesv2"
        elif aes_draw < 0.55:
            enc = "aes256"
    return {"pages": pages, "compress": rng.random() < 0.5,
            "objstm": rng.random() < 0.25,
            "lzw": lrng.random() < 0.30, "encrypt": enc}


def _render_pdf(plan: dict, allow_dct: bool = False) -> bytes:
    from .pdf_write import DctScanPage, ScanPage
    pages = []
    for pg in plan["pages"]:
        if pg["kind"] == "scan":
            img = imagegen.render_image_page(pg["plan"])
            rot = pg.get("rotate", 0)
            if pg.get("color") and allow_dct:
                # color rasters only at the correctness scales (same
                # gating as DCT: bench corpus stays byte-comparable)
                from .colorize import colorize_exact
                crng = random.Random(pg["color_key"] + ":tint")
                img = colorize_exact(img, crng)
            if pg.get("xdct") and allow_dct:
                pages.append(DctScanPage(img, rotate=rot))
            elif (pg.get("ccitt") and allow_dct and img.ndim == 2
                  and pg["plan"]["bed"] is None
                  and pg["plan"]["persp"] is None):
                # provably two-valued render (same argument as the
                # standalone bilevel rows) -> fax-shape embedding
                from .pdf_write import CcittScanPage
                pages.append(CcittScanPage(img, rotate=rot))
            elif rot or img.ndim == 3 \
                    or (pg.get("predictor") and allow_dct):
                pages.append(ScanPage(
                    img, rotate=rot,
                    predictor=bool(pg.get("predictor")) and allow_dct))
            else:
                pages.append(img)
        else:
            lines, style = pg["lines"], pg["style"]
            if style == 0:
                ops = content_stream_ops(lines)
            elif style == 1:
                ops = content_stream_ops(lines, scrambled=True)
            elif style == 2:
                ops = content_stream_ops(lines, scrambled=True, use_tj=True)
            elif style == 3:
                ops = content_stream_ops(lines, two_col=True)
            elif style == 4:
                ops = content_stream_ops_hex(lines)   # hex <...> Tj
            else:
                pages.append(CidPage(lines))          # Type0/CID font
                continue
            pages.append(ops)
    comp = plan["compress"]
    if comp and plan.get("lzw"):
        comp = "lzw"
    enc = plan.get("encrypt", 0)
    if enc and not allow_dct \
            and any(pg["kind"] == "scan" for pg in plan["pages"]):
        # correctness scales only for scan-bearing docs (same gating as
        # DCT/color): pure-Python RC4 over multi-KB rasters would tax the
        # bench corpus; born-digital encrypted rows ride every scale
        enc = 0
    if enc == "aes256" and not allow_dct:
        # the /R 6 Algorithm 2.B derivation is ~0.4 s/doc on the read
        # side BY DESIGN (password-hardening); correctness scales only —
        # the bench corpus keeps the row encrypted but downgrades to the
        # MD5-derived AESV2 scheme so decrypt stays micro-second cheap
        enc = "aesv2"
    return build_pdf(pages, compress=comp, objstm=plan["objstm"],
                     encrypt=enc)


def _pdf_page(rng: random.Random, i: int, allow_dct: bool = False) -> bytes:
    return _render_pdf(_pdf_plan(rng, i), allow_dct=allow_dct)


def _image_page(rng: random.Random, i: int, allow_jpeg: bool = False
                ) -> bytes:
    # composed page: glyph text + optional signature scribble + optional
    # QR symbol, optionally rotated (fixtures/imagegen.py); the kernel
    # must rediscover the regions from pixels alone.  ~20% of image rows
    # are BASELINE JPEG (core/jpeg.py, quality-100 tables: +-1 gray
    # levels, ink/paper bands exactly preserved -> extraction output is
    # byte-identical to the PNG twin) — only at the correctness scales:
    # the pure-Python Huffman decode is the documented slow path, so the
    # throughput-bench corpus stays PNG.  The format draw happens at
    # EVERY scale so per-row rng streams stay scale-invariant.
    # ~40% of the correctness-scale rows are COLOR (S3 parity: the
    # reference grays every cv2-decodable upload, optional_services.py
    # :61): exact-luma colorization (fixtures/colorize.py) keeps the
    # decoded-then-grayed pixels byte-identical for lossless formats and
    # band-exact for JPEG, so goldens are unchanged.  The color decision
    # rides a SEPARATE rng stream keyed by row index — the main per-row
    # stream draws exactly what it always drew, so every other row's
    # payload and golden is untouched.
    plan = imagegen.image_plan(rng, i)
    img = imagegen.render_image_page(plan)
    as_jpeg = rng.random() < 0.20 and allow_jpeg
    crng = random.Random(f"color:{i}") if allow_jpeg else None
    colorize = crng is not None and crng.random() < 0.40
    # ~25% of correctness-scale non-JPEG rows ship in a scanner-native
    # CONTAINER instead of PNG: BMP (8-bit gray-ramp / 24-bit BGR) or
    # TIFF (none/PackBits/LZW strips, optional horizontal-differencing
    # predictor, either byte order) — the formats cv2.imdecode accepts
    # from real scan tooling (S3 breadth).  All lossless, so pixels and
    # goldens are byte-identical to the PNG twin.  Side rng stream
    # "rast1": at tiny it lands 7 rows covering every container kind,
    # gray + color, and a big-endian TIFF.
    trng = random.Random(f"rast1:{i}") if allow_jpeg else None
    container = big_endian = None
    if trng is not None and not as_jpeg and trng.random() < 0.25:
        container = trng.choice(("bmp", "tiff", "tiff-packbits",
                                 "tiff-lzw", "tiff-lzw-pred"))
        if container != "bmp":
            big_endian = trng.random() < 0.30
    # ~18% of correctness-scale non-JPEG rows ship as GIF (gray-ramp or
    # exact-≤256-color palette, ~30% interlaced) — the still-image core
    # of crawl reality (core/gif.py).  Lossless by construction (every
    # colorized page is a 256-entry LUT image), so pixels, extraction
    # and goldens are byte-identical to the PNG twin.  Side rng stream
    # "gif1" OVERRIDES the rast1 container draw; bilevel-provable gray
    # rows still win (same precedence as the other containers).
    grng = random.Random(f"gif1:{i}") if allow_jpeg else None
    if grng is not None and not as_jpeg and grng.random() < 0.18:
        container = "gif-i" if grng.random() < 0.30 else "gif"
        big_endian = None
    # ~18% of correctness-scale non-JPEG rows ship as lossless WebP
    # (VP8L, core/webp.py) — the dominant modern crawl format after
    # JPEG/PNG.  Literal-only VP8L is exactly lossless, so pixels,
    # extraction and goldens are byte-identical to the PNG twin.  Side
    # rng stream "webp4" OVERRIDES the rast1/gif1 container draws
    # (bilevel-provable gray rows still win, same precedence as ever);
    # the salt is chosen so tiny keeps >=2 VP8L rows (one animated)
    # WITHOUT displacing the gif gray/rgb/interlaced or bmp/tiff
    # coverage the other fixture tests pin (the vp8w5 lossy stream
    # below takes tiny's gray VP8L row — gray VP8L still lands in
    # small).
    wrng = random.Random(f"webp4:{i}") if allow_jpeg else None
    if wrng is not None and not as_jpeg and wrng.random() < 0.18:
        # ~30% of WebP rows ship as single-frame ANIMATIONS (VP8X +
        # ANIM + ANMF) — the animated-crawl container shape; first
        # frame = the whole page, so pixels and goldens are identical
        container = "webp-anim" if wrng.random() < 0.30 else "webp"
        big_endian = None
    # BILEVEL rows: every correctness-scale page whose render is
    # provably two-valued (no scanner bed, no perspective capture — the
    # compositor only ever writes ink 0 / paper 255 then) and that is
    # neither JPEG nor colorized ships as a 1-bit scan — the native
    # shape of fax/scan output: 1-bit PNG or bilevel TIFF
    # (none / PackBits / CCITT Group 4 per core/ccitt.py).  Lossless
    # and exactly two-valued, so extraction and goldens are
    # byte-identical to the 8-bit gray twin.  The kind cycles on the
    # "fax15" side stream, chosen so tiny covers all four kinds.
    _BILEVEL_KINDS = ("png-bilevel", "tiff-bilevel",
                      "tiff-bilevel-packbits", "tiff-bilevel-g4")
    bilevel_kind = None
    if (allow_jpeg and not as_jpeg
            and plan["bed"] is None and plan["persp"] is None):
        bilevel_kind = _BILEVEL_KINDS[
            random.Random(f"fax15:{i}").randrange(4)]
    if as_jpeg:
        from .codecs.jpeg import jpeg_encode, jpeg_encode_color
        # ~35% of JPEG rows are PROGRESSIVE (SOF2, libjpeg-style scan
        # script, fixtures/codecs/jpeg_progressive.py) — the default web
        # export shape; decoded coefficients equal the sequential
        # encoder's, so extraction stays byte-identical and goldens
        # unchanged
        prng = random.Random(f"prog1:{i}")
        progressive = prng.random() < 0.35
        # ~30% of SEQUENTIAL JPEG rows carry a DRI restart interval
        # (RSTn markers every 4/8/16 MCUs — camera/scanner firmware's
        # error-resilience shape).  Side rng stream: pixel decode is
        # byte-identical, so goldens and every other stream are
        # untouched; the draw exists to exercise the decoder's restart
        # path in the gate corpus.
        drng = random.Random(f"dri:{i}")
        dri = drng.choice((4, 8, 16)) if drng.random() < 0.30 else 0
        # ~25% of SEQUENTIAL JPEG rows carry an EXIF orientation flag
        # (2..8, mirrors included — the phone/camera sensor-frame
        # shape): pixels ship in the STORED frame and the decode seam's
        # exact permutation restores the upright page.  Side rng stream
        # "exif5"; the permutation is exact and the quality-100 band
        # contract absorbs the transformed-frame DCT rounding, so
        # extraction and goldens are unchanged.
        from .codecs.jpeg import unapply_exif_orientation
        erng = random.Random(f"exif5:{i}")
        exif = erng.randrange(2, 9) if erng.random() < 0.25 else 0
        if colorize:
            from .colorize import colorize_exact
            rgb = colorize_exact(img, crng)
            if progressive:
                from .codecs.jpeg_progressive import jpeg_encode_progressive
                return jpeg_encode_progressive(rgb)
            sub = "420" if crng.random() < 0.5 else "444"
            if exif:
                rgb = unapply_exif_orientation(rgb, exif)
            return jpeg_encode_color(rgb, subsampling=sub,
                                     restart_interval=dri,
                                     exif_orientation=exif)
        if progressive:
            from .codecs.jpeg_progressive import jpeg_encode_progressive
            return jpeg_encode_progressive(img)
        if exif:
            img = unapply_exif_orientation(img, exif)
        return jpeg_encode(img, restart_interval=dri,
                           exif_orientation=exif)
    # ~20% of correctness-scale PNG rows are Adam7 INTERLACED (the
    # progressive-render layout old web tooling emits) — side rng
    # stream; the decoded pixels are identical so goldens never move
    arng = random.Random(f"adam7:{i}") if allow_jpeg else None
    adam7 = arng is not None and arng.random() < 0.20
    if colorize:
        from ..core.png import (png_encode_palette, png_encode_rgb,
                                png_encode_rgba)
        from .colorize import colorize_exact
        rgb = colorize_exact(img, crng)
        v = crng.random()          # PNG-variant draw happens regardless
        if container is not None:  # (crng stream stays replayable)
            return _encode_container(rgb, container, big_endian)
        if v < 0.40:
            return png_encode_rgb(rgb, interlace=adam7)
        if v < 0.70:
            return png_encode_palette(rgb)
        return png_encode_rgba(rgb)
    if bilevel_kind is not None:
        return _encode_bilevel(img, bilevel_kind)
    graya = crng is not None and crng.random() < 0.25
    # ~15% of correctness-scale gray non-JPEG non-bilevel rows ship as
    # LOSSY WebP (VP8 key frames — fixtures/codecs/vp8.py, q_index-0
    # closed loop): decoded pixels sit within <=4 gray levels of the
    # render, verified to keep extraction byte-identical on every
    # tiny/small image row, so goldens never move.  Side stream "vp8w5":
    # the salt keeps the pinned gif/tiff/png tiny coverage AND picks a
    # small-render row (73k px) so the bench-visible multimodal decode
    # of tiny stays cheap.  Overrides the lossless containers; all prior
    # rng draws are consumed exactly as before.
    if (allow_jpeg and not as_jpeg
            and random.Random(f"vp8w5:{i}").random() < 0.15):
        from .codecs.vp8 import vp8_encode_gray
        return vp8_encode_gray(img)
    if graya:
        if container is not None:
            return _encode_container(img, container, big_endian)
        # gray+alpha PNG (color type 4): decode drops alpha, pixels and
        # goldens identical to the plain-gray twin
        from ..core.png import png_encode_graya
        return png_encode_graya(img)
    if container is not None:
        return _encode_container(img, container, big_endian)
    return png_encode(img, interlace=adam7)


def _encode_bilevel(img, kind: str) -> bytes:
    """1-bit scan container for a strictly-{0,255} gray render."""
    if kind == "png-bilevel":
        from ..core.png import png_encode_bilevel
        return png_encode_bilevel(img)
    from .codecs.tiff import tiff_encode
    comp = {"tiff-bilevel": "none", "tiff-bilevel-packbits": "packbits",
            "tiff-bilevel-g4": "g4"}[kind]
    return tiff_encode(img, comp, bilevel=True)


def _encode_container(img, kind: str, big_endian: bool | None) -> bytes:
    """BMP / TIFF fixture container for a gray (HxW) or RGB (HxWx3)
    render — all lossless, so extraction is byte-identical to PNG."""
    if kind in ("webp", "webp-anim"):
        from .codecs.webp import vp8l_encode
        return vp8l_encode(img, animated=kind == "webp-anim")
    if kind in ("gif", "gif-i"):
        from .codecs.gif import gif_encode
        return gif_encode(img, interlace=kind == "gif-i")
    if kind == "bmp":
        from .codecs.bmp import bmp_encode_gray8, bmp_encode_rgb24
        return (bmp_encode_rgb24(img) if img.ndim == 3
                else bmp_encode_gray8(img))
    from .codecs.tiff import tiff_encode
    comp = {"tiff": "none", "tiff-packbits": "packbits",
            "tiff-lzw": "lzw", "tiff-lzw-pred": "lzw"}[kind]
    return tiff_encode(img, comp, predictor=kind.endswith("-pred"),
                       big_endian=bool(big_endian))


def image_row_pixels(rng: random.Random, i: int,
                     scale: str = "tiny"):
    """The image row's ground-truth pixel array AFTER its payload codec:
    identical to the render for PNG rows; encode->decode for JPEG rows
    (the deterministic +-1-lossy pixels any consumer of the payload
    actually sees).  Consumes exactly the rng draws of ``_image_page``
    so oracles built on it stay stream-aligned with the generator."""
    plan = imagegen.image_plan(rng, i)
    img = imagegen.render_image_page(plan)
    at_corr_scale = scale in ("tiny", "small")
    as_jpeg = rng.random() < 0.20 and at_corr_scale
    crng = random.Random(f"color:{i}") if at_corr_scale else None
    colorize = crng is not None and crng.random() < 0.40
    if as_jpeg:
        from ..core.jpeg import apply_exif_orientation, jpeg_decode
        from .codecs.jpeg import (jpeg_encode, jpeg_encode_color,
                                  unapply_exif_orientation)
        prng = random.Random(f"prog1:{i}")
        progressive = prng.random() < 0.35
        # the "exif5" side stream (mirrors _image_page): sequential rows
        # may ship in the stored sensor frame; post-codec pixels are
        # decode -> upright permutation (-> gray for color), exactly the
        # decode_image seam order
        erng = random.Random(f"exif5:{i}")
        exif = erng.randrange(2, 9) if erng.random() < 0.25 else 0
        if colorize:
            from ..core.color import rgb_to_gray
            from .colorize import colorize_exact
            rgb = colorize_exact(img, crng)
            if progressive:
                from .codecs.jpeg_progressive import jpeg_encode_progressive
                return rgb_to_gray(jpeg_decode(jpeg_encode_progressive(rgb)))
            sub = "420" if crng.random() < 0.5 else "444"
            if exif:
                rgb = unapply_exif_orientation(rgb, exif)
            out = jpeg_decode(jpeg_encode_color(rgb, subsampling=sub))
            if exif:
                out = apply_exif_orientation(out, exif)
            return rgb_to_gray(out)
        if progressive:
            from .codecs.jpeg_progressive import jpeg_encode_progressive
            return jpeg_decode(jpeg_encode_progressive(img))
        if exif:
            out = jpeg_decode(jpeg_encode(
                unapply_exif_orientation(img, exif)))
            return apply_exif_orientation(out, exif)
        return jpeg_decode(jpeg_encode(img))
    # lossy VP8 rows (mirrors _image_page's vp8w5 stream, which applies
    # only to gray non-bilevel rows): post-codec pixels are
    # encode -> decode -> gray, exactly the decode-seam order
    if (at_corr_scale and not colorize
            and not (plan["bed"] is None and plan["persp"] is None)
            and random.Random(f"vp8w5:{i}").random() < 0.15):
        from ..core.extract import decode_image
        from .codecs.vp8 import vp8_encode_gray
        return decode_image(vp8_encode_gray(img))
    # color PNG variants are lossless AND luma-exact by construction, so
    # the post-codec pixels equal the gray render exactly
    return img


def image_row_format(rng: random.Random, i: int,
                     scale: str = "tiny") -> str:
    """Generator-side format truth for the ``image_formats`` oracle:
    replays exactly the draws of ``_image_page`` (main stream: plan +
    format; side stream: colorize, two tint draws inside
    ``colorize_exact``, then the variant/subsampling draw) without
    rendering or encoding anything."""
    plan = imagegen.image_plan(rng, i)
    at_corr_scale = scale in ("tiny", "small")
    as_jpeg = rng.random() < 0.20 and at_corr_scale
    crng = random.Random(f"color:{i}") if at_corr_scale else None
    colorize = crng is not None and crng.random() < 0.40
    if colorize:
        crng.randrange(-28, 29)          # colorize_exact's tint draws
        crng.randrange(-28, 29)
    if as_jpeg:
        prng = random.Random(f"prog1:{i}")
        progressive = prng.random() < 0.35
        if colorize:
            if progressive:
                return "jpeg-prog-444"
            return "jpeg-420" if crng.random() < 0.5 else "jpeg-444"
        return "jpeg-prog-gray" if progressive else "jpeg-gray"
    # container override (mirrors _image_page's "rast1" stream); the
    # label matches what probe_image_format derives from the emitted
    # header bytes — predictor is invisible to the probe by design
    trng = random.Random(f"rast1:{i}") if at_corr_scale else None
    container = None
    if trng is not None and trng.random() < 0.25:
        container = trng.choice(("bmp", "tiff", "tiff-packbits",
                                 "tiff-lzw", "tiff-lzw-pred"))
        if container != "bmp":
            trng.random()                 # the byte-order draw
    # the "gif1" override (mirrors _image_page exactly)
    grng = random.Random(f"gif1:{i}") if at_corr_scale else None
    gif = None
    if grng is not None and grng.random() < 0.18:
        gif = "-i" if grng.random() < 0.30 else ""
    # the "webp4" override (mirrors _image_page exactly); the header
    # probe can only see the container + VP8L chunk, so gray and color
    # rows share a label, split only by the animated-container draw
    webp = None
    if at_corr_scale:
        wrng = random.Random(f"webp4:{i}")
        if wrng.random() < 0.18:
            webp = ("webp-vp8l-anim" if wrng.random() < 0.30
                    else "webp-vp8l")
    _comp_label = {"tiff": "", "tiff-packbits": "-packbits",
                   "tiff-lzw": "-lzw", "tiff-lzw-pred": "-lzw"}
    if colorize:
        v = crng.random()
        if webp is not None:
            return webp
        if gif is not None:
            return "gif-rgb" + gif
        if container == "bmp":
            return "bmp-rgb24"
        if container is not None:
            return "tiff-rgb" + _comp_label[container]
        if v < 0.40:
            return "png-rgb"
        if v < 0.70:
            return "png-palette"
        return "png-rgba"
    if (at_corr_scale and plan["bed"] is None
            and plan["persp"] is None):
        # bilevel wins (mirrors _image_page: the graya draw is skipped)
        return ("png-bilevel", "tiff-bilevel", "tiff-bilevel-packbits",
                "tiff-bilevel-g4")[
            random.Random(f"fax15:{i}").randrange(4)]
    graya = crng is not None and crng.random() < 0.25
    # the "vp8w5" lossy override (mirrors _image_page exactly)
    if (at_corr_scale
            and random.Random(f"vp8w5:{i}").random() < 0.15):
        return "webp-vp8"
    if webp is not None:
        return webp
    if gif is not None:
        return "gif-gray" + gif
    if container == "bmp":
        return "bmp-gray8"
    if container is not None:
        return "tiff-gray" + _comp_label[container]
    if graya:
        return "png-graya"
    return "png-gray"


def _row_kind(i: int, r: float, pdf_block: range) -> str:
    """Pure row-kind decision shared by gen_rows and image_expectations."""
    if i in pdf_block:
        return "pdf"
    if r < 0.70:
        return "html"
    if r < 0.85:
        return "pdf"
    if r < 0.95:
        return "image"
    if r < 0.985:
        return "text"
    return "broken"


def image_expectations(scale: str = "tiny", seed: int = 7) -> list[dict]:
    """Ground-truth metadata for every image row: url, expected QR payload,
    expected signature/QR span geometry in the kernel's canonical frame.
    Derived from the generator's PLAN (placement arithmetic), never from the
    detection pipeline — an independent oracle for the pixels->regions path.
    """
    n = SCALES[scale]
    pdf_block = range(int(n * 0.55), int(n * 0.55) + max(2, n // 25))
    out = []
    for i in range(n):
        rng_i = random.Random((seed << 20) ^ i)
        if _row_kind(i, rng_i.random(), pdf_block) != "image":
            continue
        host = "pages.example"
        meta = imagegen.canonical_meta(imagegen.image_plan(rng_i, i))
        meta["url"] = f"https://{host}/p/{i:07d}"
        out.append(meta)
    return out


def pdf_expectations(scale: str = "tiny", seed: int = 7) -> list[dict]:
    """Ground-truth metadata for every pdf row, derived from the PLAN
    only (placement arithmetic, never the extraction pipeline):
    * expected_text — full-document extracted text: per-page reading-order
      lines (identical for all born-digital emission styles; the planted
      glyph lines for scanned pages) joined by blank lines
    * scan_metas — canonical-frame qr/signature geometry of each scanned
      page (imagegen.canonical_meta), for the qr/signature span oracles
    """
    from ..core.normalize import canonical_text, collapse_ws
    n = SCALES[scale]
    pdf_block = range(int(n * 0.55), int(n * 0.55) + max(2, n // 25))
    out = []
    for i in range(n):
        rng_i = random.Random((seed << 20) ^ i)
        if _row_kind(i, rng_i.random(), pdf_block) != "pdf":
            continue
        host = "pdf-farm.example" if i in pdf_block else "pages.example"
        plan = _pdf_plan(rng_i, i)
        page_texts, scan_metas = [], []
        for pg in plan["pages"]:
            if pg["kind"] == "scan":
                page_texts.append("\n".join(
                    collapse_ws(ln) for ln in pg["plan"]["lines"]))
                scan_metas.append(imagegen.canonical_meta(pg["plan"]))
            else:
                page_texts.append("\n".join(
                    collapse_ws(ln) for ln in pg["lines"]))
        out.append({"url": f"https://{host}/p/{i:07d}",
                    "expected_text": canonical_text(
                        "\n\n".join(t for t in page_texts if t)),
                    "n_scan_pages": sum(1 for pg in plan["pages"]
                                        if pg["kind"] == "scan"),
                    "scan_metas": scan_metas})
    return out


def gen_rows(scale: str = "tiny", seed: int = 7,
             start: int = 0, stop: int | None = None):
    """Yield pages-table row dicts deterministically.

    ``start``/``stop`` select a row-id slice WITHOUT changing any row's
    content (each row has its own seeded rng stream), so shards generated
    in parallel concatenate to exactly the sequential corpus."""
    n = SCALES[scale]
    if stop is None:
        stop = n
    pdf_block = range(int(n * 0.55), int(n * 0.55) + max(2, n // 25))
    for i in range(start, min(stop, n)):
        rng_i = random.Random((seed << 20) ^ i)   # per-row stream: row order
        # and count never perturb other rows (permutation invariance tests)
        kind = _row_kind(i, rng_i.random(), pdf_block)
        host = "pdf-farm.example" if i in pdf_block else "pages.example"
        url = f"https://{host}/p/{i:07d}"
        ts = EPOCH + dt.timedelta(minutes=(i * 37) % (8 * 24 * 60))
        lang, text_col = "en", None
        if kind == "html":
            payload, lang = _html_page(rng_i, i, mega=(i % 101 == 100))
        elif kind == "pdf":
            payload = _pdf_page(rng_i, i, allow_dct=scale in ("tiny", "small"))
        elif kind == "image":
            payload = _image_page(rng_i, i,
                                  allow_jpeg=scale in ("tiny", "small"))
        elif kind == "text":
            payload = b""
            text_col = ("Plain crawl text block one with several words.\n\n"
                        + _sentence(rng_i, 25)
                        + ("\n\n" + rng_i.choice(_KEYWORD_SNIPPETS)
                           if rng_i.random() < 0.5 else ""))
        else:  # broken: truncated PNG -> error-column path
            payload = b"\x89PNG\r\n\x1a\n\x00\x00TRUNCATED"
        yield {"url": url, "warc_ts": ts, "html": payload,
               "text": text_col, "lang": lang}


_GEN_CACHE: dict[tuple[str, int], object] = {}


def gen_pandas(scale: str = "tiny", seed: int = 7):
    """Generated corpus as pandas, memoized per (scale, seed): the
    registry and bench build dozens of queries over the same tiny
    corpus, and regenerating it driver-side per query is pure overhead.
    Callers never mutate the frame (createDataFrame copies), and Spark
    DataFrames built from the cached object are fresh plans each time —
    no Spark-side result caching is introduced.  Only the correctness
    scales are retained (bench scales stream through parquet shards)."""
    import pandas as pd
    key = (scale, seed)
    if key not in _GEN_CACHE:
        df = pd.DataFrame(list(gen_rows(scale, seed)),
                          columns=["url", "warc_ts", "html", "text",
                                   "lang"])
        if scale not in ("tiny", "small"):
            return df
        _GEN_CACHE[key] = df
    return _GEN_CACHE[key]
