"""Single-document extraction dispatch: bytes -> (content_type, text, spans).

This is the pure-Python heart of the engine, the exact code the Spark
``mapInArrow`` kernel executes per Arrow batch AND the code the golden oracle
executes single-threaded.  One implementation, two drivers — byte-identity
between oracle, Spark, and any parallelism level is structural
(SURVEY.md §7.3 item 1).

Per-row errors degrade to an ``error`` value instead of raising, mirroring
the reference's catch-and-degrade convention (every service returns an empty
default on exception, e.g.
/root/reference/src/infrastructure/services/optional_services.py:78-80,
classification_service.py:53-58).
"""

from __future__ import annotations

from importlib import import_module

from . import glyph_ocr
from .classify import classify_text
from .html_extract import extract_html
from .image_page import process_image_page
from .normalize import canonical_text, collapse_ws
from .pdf_extract import extract_pdf
from .png import png_decode
from .sniff import (CT_HTML, CT_IMAGE, CT_PDF, CT_TEXT, signature_family,
                    sniff_content_type)
from .spans import Span

_ATLAS = None


def get_atlas():
    """The 'model weights' for the OCR stub; loaded once per process/partition
    (Spark analogue of the reference's singleton model cache,
    /root/reference/src/api/v1/dependencies.py:8-20)."""
    global _ATLAS
    if _ATLAS is None:
        _ATLAS = glyph_ocr.build_atlas()
    return _ATLAS


def _decode_jpeg(payload: bytes):
    from .jpeg import apply_exif_orientation, exif_orientation, jpeg_decode
    # honor the EXIF orientation flag (phones/cameras store the
    # sensor frame) — exact pixel permutation, cv2.imread parity;
    # the orientation vote could never recover the mirrored values
    return apply_exif_orientation(jpeg_decode(payload),
                                  exif_orientation(payload))


def _codec(module: str, name: str):
    """``module.name``, imported on first use."""
    return lambda payload: getattr(
        import_module(f".{module}", __package__), name)(payload)


def _reject_bmff(payload: bytes):
    # sniffed as image so the row degrades cleanly (AV1/HEVC
    # intra decode is out of codec scope)
    raise ValueError("unsupported ISO-BMFF still image "
                     f"({payload[8:12].decode('ascii', 'replace')})")


def _reject_jxl(payload: bytes):
    raise ValueError("unsupported JPEG XL image")


# signature family -> decoder; anything else goes to png_decode, which
# rejects what is not a PNG
_DECODERS = {"jpeg": _decode_jpeg, "tiff": _codec("tiff", "tiff_decode"),
             "bmp": _codec("bmp", "bmp_decode"),
             "gif": _codec("gif", "gif_decode"),
             "webp": _codec("webp", "webp_decode"),
             "bmff": _reject_bmff, "jxl": _reject_jxl}


def decode_image(payload: bytes):
    """Decode seam: dispatch on the payload's signature family (gray or
    color — the reference accepts any cv2-decodable upload and grays it
    immediately, optional_services.py:61); color payloads convert to
    luma here (core/color.py, cv2-exact weights) so everything past the
    pixel array is the unchanged grayscale kernel.  Shared by the
    extraction kernel and the multimodal table operators."""
    img = _DECODERS.get(signature_family(payload), png_decode)(payload)
    if img.ndim == 3:
        from .color import rgb_to_gray
        img = rgb_to_gray(img)
    return img


def extract_text_branch(text: str | None) -> tuple[str, list[Span]]:
    """Pass-through branch: pre-extracted text, canonicalized per block."""
    if not text:
        return "", []
    blocks = [collapse_ws(b) for b in text.split("\n\n")]
    blocks = [b for b in blocks if b]
    out = canonical_text("\n\n".join(blocks))
    spans: list[Span] = []
    offset = 0
    for idx, b in enumerate(blocks):
        nb = canonical_text(b)
        spans.append(Span(nb, 1.0, float(offset), float(idx),
                          float(offset + len(nb)), float(idx), "block"))
        offset += len(nb) + 2
    return out, spans


def extract_route(payload: bytes | None, text: str | None):
    """Returns (content_type, extracted_text, spans, error): everything
    but doc-type classification, which the Spark plan runs JVM-side."""
    ct = sniff_content_type(payload, text)
    error = None
    try:
        if ct == CT_HTML:
            out_text, spans = extract_html(payload)
        elif ct == CT_PDF:
            out_text, spans = extract_pdf(payload)
        elif ct == CT_IMAGE:
            atlas, charset = get_atlas()
            img = decode_image(payload)
            # full image route: deskew -> connected components -> QR decode /
            # signature boxes / glyph OCR (core/image_page.py)
            out_text, spans = process_image_page(img, atlas, charset)
        elif ct == CT_TEXT:
            out_text, spans = extract_text_branch(text)
        else:  # CT_UNKNOWN
            out_text, spans = "", []
            error = "unsniffable payload"
    except Exception as exc:  # degrade, never throw per-row
        out_text, spans = "", []
        error = f"{type(exc).__name__}: {exc}"
    return ct, out_text, spans, error


def extract_document(payload: bytes | None, text: str | None):
    """Returns (content_type, extracted_text, spans, doc_type, doc_type_conf,
    error): ``extract_route`` plus the Python doc-type classifier."""
    ct, out_text, spans, error = extract_route(payload, text)
    doc_type, conf = classify_text(out_text) if out_text else ("unknown", 0.0)
    return ct, out_text, spans, doc_type, conf, error
