"""Image-page fixture synthesis: glyph text + signature scribble + a real
QR Code Model 2 symbol (core/qrcode.py), optionally rotated
(FIXTURES.md §1 image rows, round-2 widening; round-4: real QR spec).

A page is built from a deterministic PLAN (all randomness drawn up front
from the row's seeded rng), composed upright, then rotated by an exact
three-shear rotation (core/geometry.py) so the kernel's deskew can restore
it pixel-for-pixel.  ``compose_upright`` also returns the exact geometry of
every painted region, which `fixtures/expect.py`-style oracles use as
ground truth: the kernel must re-discover the same boxes/payloads from
pixels alone (PNG decode -> deskew -> connected components -> QR decode).

The signature scribble is sized to satisfy the reference's P7 predicate
(100 < w < 500, 50 < h < 200, 0.2 < w/h < 5 — optional_services.py:96-106)
and its ink density lands in P8's (0.05, 0.5) band
(src/ml/signature_detector/main.py:74-98).
"""

from __future__ import annotations

import math
import random

import numpy as np

from ..core import glyph_ocr
from ..core.barcode import checksum
from ..core.geometry import SKEW_GRID, rotate_canvas
from .codecs import barcode, qrcode

GAP = 12          # vertical separation between regions (> glyph pitch)
PAPER, INK = 255, 0


def signature_blob(seed: int) -> np.ndarray:
    """Deterministic two-tone sine scribble; ink bbox == full array."""
    rng = random.Random(seed)
    w = rng.randint(140, 280)
    h = rng.randint(70, 110)
    f1, f2 = rng.uniform(1.5, 2.5), rng.uniform(3.0, 4.5)
    p1, p2 = rng.uniform(0, 2 * math.pi), rng.uniform(0, 2 * math.pi)
    t = np.linspace(0.0, 1.0, 10 * w)
    raw = (0.6 * np.sin(2 * math.pi * f1 * t + p1)
           + 0.4 * np.sin(2 * math.pi * f2 * t + p2))
    ynorm = (raw - raw.min()) / (raw.max() - raw.min())
    yi = np.rint(1 + ynorm * (h - 3)).astype(int)
    xi = np.rint(1 + t * (w - 3)).astype(int)
    img = np.full((h, w), PAPER, dtype=np.uint8)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            img[np.clip(yi + dy, 0, h - 1), np.clip(xi + dx, 0, w - 1)] = INK
    density = float((img < 128).mean())
    assert 0.05 < density < 0.5, f"signature density {density} out of P8 band"
    return img


def image_plan(rng: random.Random, i: int) -> dict:
    """Draw ALL of an image page's randomness; rendering is plan-pure."""
    charset_words = ["INVOICE", "RECEIPT", "CONTRACT", "TOTAL", "DUE", "PAID",
                     "BATCH", "SPARK", "ARROW", "KERNEL", "PAGE", "SCAN"]
    n_lines = rng.randint(2, 5)
    lines = []
    for _ in range(n_lines):
        words = [rng.choice(charset_words) for _ in range(rng.randint(2, 5))]
        if rng.random() < 0.5:
            words.append(str(rng.randint(10, 9999)))
        lines.append(" ".join(words))
    sig_seed = rng.randrange(2 ** 30) if rng.random() < 0.45 else None
    qr_payload = f"QR:{i:07d}" if rng.random() < 0.40 else None
    if qr_payload is not None:
        # ~35% of symbols carry a longer payload that lands in QR
        # versions 3-5 (multi-block RS interleaving, bigger sampling
        # grids).  Rides a SIDE rng stream keyed by row index so every
        # main-stream draw — and therefore every non-QR golden — is
        # untouched; the QR pages' goldens change payload text only
        # (regenerated in the same commit).
        vrng = random.Random(f"qrv:{i}")
        if vrng.random() < 0.35:
            tail = vrng.choice((26, 50, 70))     # -> v3 / v4 / v5 at M
            alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-."
            qr_payload += "/" + "".join(
                vrng.choice(alpha) for _ in range(tail))
        # ~15% land in versions 6-10 (45-57 module grids; v7+ adds the
        # BCH(18,6) version-information block and the multi-alignment
        # grid).  A separate side stream OVERRIDES the tail for its hit
        # rows only — every other row's payload is exactly what the
        # qrv stream drew, so their goldens/oracles are untouched.  The
        # salt "qrv10" lands total lengths 100/140/170/200x2 (v6/8/9/10)
        # across tiny image rows and two tiny scanned-pdf pages.
        wrng = random.Random(f"qrv10:{i}")
        if wrng.random() < 0.15:
            total = wrng.choice((100, 115, 140, 170, 200))
            alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-."
            qr_payload = (f"QR:{i:07d}" + "/" + "".join(
                wrng.choice(alpha) for _ in range(total - 11)))
    # ~18% of pages carry an EAN-13 retail barcode (second symbology,
    # core/barcode.py) — side rng stream again, main stream untouched
    erng = random.Random(f"ean:{i}")
    ean_payload = None
    ean_x = glyph_ocr.MARGIN
    if erng.random() < 0.18:
        ean_payload = "".join(erng.choice("0123456789") for _ in range(12))
        ean_x = erng.randint(glyph_ocr.MARGIN, glyph_ocr.MARGIN + 80)
    # ~12% carry a Code 128 logistics label (third symbology — variable
    # length, code-set state machine, mod-103 check; core/barcode.py).
    # Side rng stream keyed by row index: the salt "c128" lands 3 tiny
    # image rows + 4 tiny scanned-pdf pages so the DuckDB gate exercises
    # the decoder at every route.  ~30% of payloads are even-length
    # all-digit (encoded in set C, digit pairs), the rest mixed-case
    # alphanumeric (set B).
    xrng = random.Random(f"c128:{i}")
    c128_payload = None
    c128_x = glyph_ocr.MARGIN
    if xrng.random() < 0.12:
        if xrng.random() < 0.30:
            c128_payload = "".join(
                xrng.choice("0123456789")
                for _ in range(xrng.choice((8, 10, 12))))
        else:
            alpha = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                     "abcdefghijklmnopqrstuvwxyz0123456789-./+")
            c128_payload = "".join(
                xrng.choice(alpha) for _ in range(xrng.randint(6, 12)))
        c128_x = xrng.randint(glyph_ocr.MARGIN, glyph_ocr.MARGIN + 80)
    # ~10% carry a Code 39 label (fourth symbology — '*'-delimited
    # wide/narrow elements, 44-pattern structural rejection, no
    # checksum; core/barcode.py).  Side rng stream: the salt "code39"
    # lands 3 tiny image rows + 2 tiny scanned-pdf pages.  The charset
    # covers digits, letters and all four $/+% specials (the zero-wide-
    # bar patterns) plus space/-/. so the decoder table is exercised
    # end to end.
    nrng = random.Random(f"code39:{i}")
    c39_payload = None
    c39_x = glyph_ocr.MARGIN
    if nrng.random() < 0.10:
        alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-. $/+%"
        c39_payload = "".join(nrng.choice(alpha)
                              for _ in range(nrng.randint(4, 10))).strip()
        while len(c39_payload) < 4:       # strip() may shorten the ends
            c39_payload += nrng.choice(alpha[:36])
        c39_x = nrng.randint(glyph_ocr.MARGIN, glyph_ocr.MARGIN + 80)
    sig_x = rng.randint(glyph_ocr.MARGIN, glyph_ocr.MARGIN + 40)
    qr_x = rng.randint(glyph_ocr.MARGIN, glyph_ocr.MARGIN + 60)
    angle = 0.0
    if rng.random() < 0.45:
        angle = rng.choice([a for a in SKEW_GRID if abs(a) >= 1.0])
    # ~1/3 of pages are "photographed on a scanner bed": the (possibly
    # rotated) page sits on a mid-gray background and the kernel must
    # find and crop the page region first (U5 page extraction)
    bed = None
    if rng.random() < 0.35:
        bed = (rng.randint(10, 40), rng.randint(10, 40))
    # ~1/4 are photographed with a keystoned camera: the page appears as
    # a perspective QUADRILATERAL at OVERSAMPLE x the document grid and
    # the kernel must 4-corner-rectify it first (U5 perspective,
    # core/perspective.py).  Composes with rotation: the rectified
    # document may still be skewed and then takes the deskew path.
    persp = None
    if rng.random() < 0.25:
        persp = {"ddx": rng.randint(8, 60), "ddy": rng.randint(8, 60),
                 "pad": (rng.randint(8, 30), rng.randint(8, 30))}
    # ~1/5 are scanned upside-down (reference parity: Paddle's
    # use_angle_cls=True corrects orientation before OCR).  Applied to
    # the COMPOSED canvas before rotation/capture, so deskew and
    # rectification stay exact and the kernel's orientation vote undoes
    # the flip as a pure pixel permutation.
    flip = rng.random() < 0.20
    # ~15% are quarter-turned scans (90/270).  A quarter turn is an exact
    # scanner placement, so these pages carry no additional sub-degree
    # skew (the kernel's quarter-turn vote needs a provably-perfect glyph
    # row, which skew destroys; a skewed+quarter-turned photo is outside
    # the reference's use_angle_cls envelope too).
    turn = 0
    if rng.random() < 0.15:
        turn = rng.choice([1, 3])
        angle = 0.0
    return {"lines": lines, "sig_seed": sig_seed, "qr_payload": qr_payload,
            "sig_x": sig_x, "qr_x": qr_x, "angle": angle, "bed": bed,
            "persp": persp, "flip": flip, "turn": turn,
            "ean_payload": ean_payload, "ean_x": ean_x,
            "c128_payload": c128_payload, "c128_x": c128_x,
            "c39_payload": c39_payload, "c39_x": c39_x}


def compose_upright(plan: dict) -> tuple[np.ndarray, dict]:
    """Render the upright page.  Returns (img, meta) with meta carrying the
    exact placed bboxes (y0, x0, y1_incl, x1_incl) of each region."""
    M = glyph_ocr.MARGIN
    parts: list[tuple[np.ndarray, int, int]] = []
    text_img = glyph_ocr.render_text_image(plan["lines"])
    parts.append((text_img, 0, 0))
    y_cur = text_img.shape[0] + GAP
    meta: dict = {"sig_box": None, "qr_box": None,
                  "qr_payload": plan["qr_payload"]}
    if plan["sig_seed"] is not None:
        sig = signature_blob(plan["sig_seed"])
        parts.append((sig, y_cur, plan["sig_x"]))
        meta["sig_box"] = (y_cur, plan["sig_x"],
                           y_cur + sig.shape[0] - 1,
                           plan["sig_x"] + sig.shape[1] - 1)
        y_cur += sig.shape[0] + GAP
    if plan["qr_payload"] is not None:
        qr = qrcode.encode(plan["qr_payload"])
        parts.append((qr, y_cur, plan["qr_x"]))
        meta["qr_box"] = (y_cur, plan["qr_x"],
                          y_cur + qr.shape[0] - 1,
                          plan["qr_x"] + qr.shape[1] - 1)
        y_cur += qr.shape[0] + GAP
    meta["ean_box"] = None
    meta["ean_payload"] = None
    if plan.get("ean_payload") is not None:
        bc = barcode.encode(plan["ean_payload"])
        parts.append((bc, y_cur, plan["ean_x"]))
        meta["ean_box"] = (y_cur, plan["ean_x"],
                           y_cur + bc.shape[0] - 1,
                           plan["ean_x"] + bc.shape[1] - 1)
        # decode truth = the full 13 digits incl. the check digit
        meta["ean_payload"] = (plan["ean_payload"]
                               + str(checksum(plan["ean_payload"])))
        y_cur += bc.shape[0] + GAP
    meta["c128_box"] = None
    meta["c128_payload"] = None
    if plan.get("c128_payload") is not None:
        c1 = barcode.encode_code128(plan["c128_payload"])
        parts.append((c1, y_cur, plan["c128_x"]))
        meta["c128_box"] = (y_cur, plan["c128_x"],
                            y_cur + c1.shape[0] - 1,
                            plan["c128_x"] + c1.shape[1] - 1)
        meta["c128_payload"] = plan["c128_payload"]
        y_cur += c1.shape[0] + GAP
    meta["c39_box"] = None
    meta["c39_payload"] = None
    if plan.get("c39_payload") is not None:
        c3 = barcode.encode_code39(plan["c39_payload"])
        parts.append((c3, y_cur, plan["c39_x"]))
        meta["c39_box"] = (y_cur, plan["c39_x"],
                           y_cur + c3.shape[0] - 1,
                           plan["c39_x"] + c3.shape[1] - 1)
        meta["c39_payload"] = plan["c39_payload"]
        y_cur += c3.shape[0] + GAP
    height = max(y + a.shape[0] for a, y, x in parts) + M
    width = max(x + a.shape[1] for a, y, x in parts) + M
    img = np.full((height, width), PAPER, dtype=np.uint8)
    for a, y, x in parts:
        region = img[y:y + a.shape[0], x:x + a.shape[1]]
        np.minimum(region, a, out=region)
    return img, meta


BED = 176   # scanner-bed gray: neither ink (<128) nor paper (>230)


def render_image_page(plan: dict) -> np.ndarray:
    """Upright compose + exact shear rotation, optionally placed on a
    scanner bed or photographed as a perspective quad (the bytes that get
    PNG'd).  The placed page rect is exactly the rotated canvas (paper
    incl. its rotation padding), so the kernel's page-crop recovers the
    canvas dims and the derotation stays pixel-exact; a perspective
    capture oversamples the document grid so the kernel's 4-corner
    rectification is byte-exact too (core/perspective.py docstring)."""
    img, _ = compose_upright(plan)
    if plan.get("flip"):
        img = img[::-1, ::-1].copy()     # 180-degree scan orientation
    if plan.get("turn"):
        img = np.ascontiguousarray(np.rot90(img, plan["turn"]))
    img = rotate_canvas(img, plan["angle"])
    if plan.get("persp"):
        from ..core.perspective import OVERSAMPLE, photograph_to_quad
        p = plan["persp"]
        fh, fw = img.shape
        px, py = p["pad"]
        tl = (px, py)
        tr = (px + OVERSAMPLE * (fw - 1), py)
        bl = (px, py + OVERSAMPLE * (fh - 1))
        br = (px + OVERSAMPLE * (fw - 1) + p["ddx"],
              py + OVERSAMPLE * (fh - 1) + p["ddy"])
        canvas = (br[1] + py + 1, br[0] + px + 1)
        return photograph_to_quad(img, (tl, tr, br, bl), canvas, BED)
    if plan.get("bed"):
        py, px = plan["bed"]
        out = np.full((img.shape[0] + 2 * py, img.shape[1] + 2 * px), BED,
                      dtype=np.uint8)
        out[py:py + img.shape[0], px:px + img.shape[1]] = img
        img = out
    return img


def canonical_meta(plan: dict) -> dict:
    """Ground-truth region geometry in the kernel's canonical frame
    (origin = global ink bbox min - MARGIN), angle-independent because the
    kernel's deskew exactly inverts ``rotate_canvas``."""
    img, meta = compose_upright(plan)
    iy, ix = np.nonzero(img < 128)
    oy = int(iy.min()) - glyph_ocr.MARGIN
    ox = int(ix.min()) - glyph_ocr.MARGIN

    def canon(box):
        if box is None:
            return None
        y0, x0, y1, x1 = box
        return (float(x0 - ox), float(y0 - oy),
                float(x1 + 1 - ox), float(y1 + 1 - oy))   # x0 y0 x1 y1

    return {"sig_span": canon(meta["sig_box"]),
            "qr_span": canon(meta["qr_box"]),
            "qr_payload": meta["qr_payload"],
            "ean_span": canon(meta["ean_box"]),
            "ean_payload": meta["ean_payload"],
            "c128_span": canon(meta["c128_box"]),
            "c128_payload": meta["c128_payload"],
            "c39_span": canon(meta["c39_box"]),
            "c39_payload": meta["c39_payload"],
            "angle": plan["angle"],
            "line_spans": expected_line_spans(plan),
            "word_spans": expected_word_spans(plan)}


def expected_line_spans(plan: dict) -> list[tuple]:
    """Ground-truth Paddle-style line records from placement arithmetic
    alone: the glyph block sits at the page's ink minimum, so in the
    canonical frame line r occupies y = MARGIN + r*PITCH_Y, x from
    MARGIN, width len(line)*CELL; clean renders score exactly 1.0."""
    M, C, P = glyph_ocr.MARGIN, glyph_ocr.CELL, glyph_ocr.PITCH_Y
    out = []
    for r, ln in enumerate(plan["lines"]):
        out.append((ln, 1.0, float(M), float(M + r * P),
                    float(M + len(ln) * C), float(M + r * P + C)))
    return out


def expected_word_spans(plan: dict) -> list[tuple]:
    """Ground-truth docTR-style word records (same arithmetic)."""
    M, C, P = glyph_ocr.MARGIN, glyph_ocr.CELL, glyph_ocr.PITCH_Y
    out = []
    for r, ln in enumerate(plan["lines"]):
        col = 0
        for w in ln.split(" "):
            if w:
                out.append((w, 1.0, float(M + col * C),
                            float(M + r * P),
                            float(M + (col + len(w)) * C),
                            float(M + r * P + C)))
            col += len(w) + 1
    return out
