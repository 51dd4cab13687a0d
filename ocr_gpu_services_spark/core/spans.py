"""Span record: the flattened OCR/layout record shared by all branches.

Mirrors the reference's per-word OCR record ``{text, confidence, position}``
(/root/reference/src/infrastructure/services/ocr_service.py:26-36 for Paddle
lines, /root/reference/src/infrastructure/services/optional_services.py:33-42
for docTR words), with the position quad flattened to (x0, y0, x1, y1) bounds
and a ``kind`` discriminator.  The kinds emitted are ``word`` and ``line``
(glyph OCR, PDF text lines), ``block`` (HTML, pass-through text) and the
image-page enrichment records: ``qr`` (optional_services.py:67-73),
``barcode`` (EAN-13), ``code128``, ``code39`` and ``signature``
(/root/reference/src/ml/signature_detector/main.py:92-98).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Span:
    text: str
    conf: float
    x0: float
    y0: float
    x1: float
    y1: float
    kind: str

    def as_tuple(self):
        return (self.text, self.conf, self.x0, self.y0, self.x1, self.y1, self.kind)

    def as_dict(self):
        return {
            "text": self.text, "conf": self.conf,
            "x0": self.x0, "y0": self.y0, "x1": self.x1, "y1": self.y1,
            "kind": self.kind,
        }
