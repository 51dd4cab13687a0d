"""Unit tests for the pure-Python extraction core (SURVEY.md §5.2 item 2)."""

import json
import os
from html.parser import HTMLParser

import numpy as np
import pytest

from ocr_gpu_services_spark.core import glyph_ocr
from ocr_gpu_services_spark.core.classify import classify_text
from ocr_gpu_services_spark.core.extract import extract_document
from ocr_gpu_services_spark.core.html_extract import (BLOCK_TAGS, SKIP_TAGS,
                                                      extract_html)
from ocr_gpu_services_spark.core.normalize import canonical_text, collapse_ws
from ocr_gpu_services_spark.core.pdf_extract import extract_pdf
from ocr_gpu_services_spark.core.png import png_decode, png_encode
from ocr_gpu_services_spark.core.sniff import sniff_content_type
from ocr_gpu_services_spark.fixtures.gen import gen_rows
from ocr_gpu_services_spark.fixtures.pdf_write import build_pdf, content_stream_ops

GOLDEN = os.path.join(os.path.dirname(__file__), "..", "golden")


# --- sniff (S2) -------------------------------------------------------------

def test_sniff_magic_bytes():
    assert sniff_content_type(b"%PDF-1.4 x", None) == "pdf"
    assert sniff_content_type(b"\x89PNG\r\n\x1a\n....", None) == "image"
    assert sniff_content_type(b"\xff\xd8\xff\xe0JFIF", None) == "image"
    assert sniff_content_type(b"<html><body>hi</body></html>", None) == "html"
    assert sniff_content_type(b"", "plain") == "text"
    assert sniff_content_type(None, "plain") == "text"
    assert sniff_content_type(b"", None) == "unknown"


def test_sniff_modern_stills_reject_cleanly():
    """AVIF/HEIC (ISO-BMFF) and JPEG XL payloads classify as image and
    degrade to the error column — binary bytes must never run through
    the HTML extractor as if they were markup."""
    from ocr_gpu_services_spark.core.extract import extract_document
    avif = b"\x00\x00\x00\x1cftypavif" + b"\x00" * 24
    heic = b"\x00\x00\x00\x18ftypheic" + b"\x00" * 16
    jxl_raw = b"\xff\x0a" + b"\x12" * 40
    jxl_box = b"\x00\x00\x00\x0cJXL \r\n\x87\n" + b"\x00" * 20
    for payload, tag in ((avif, "avif"), (heic, "heic"),
                         (jxl_raw, "JPEG XL"), (jxl_box, "JPEG XL")):
        assert sniff_content_type(payload, None) == "image", tag
        ct, text, spans, _dt, _c, err = extract_document(payload, None)
        assert ct == "image" and text == "" and spans == []
        assert err is not None and tag in err, (tag, err)
    # a RIFF/WAVE (non-WebP) payload is NOT an image
    assert sniff_content_type(b"RIFF\x10\x00\x00\x00WAVEdata", None) \
        == "html"


def test_double_signature_payloads_keep_decode_priority():
    """A crafted payload matching two format signatures goes to the
    decoder first in the decode order (jpeg, tiff, bmp, gif, webp,
    ISO-BMFF, JPEG XL, else png), whatever else it also matches."""
    from ocr_gpu_services_spark.core.extract import decode_image
    bmff = b"ftypavif"
    for payload, tag in (
            (b"BM\x00\x00" + bmff + b"\x00\x00\x28\x00\x00\x00", "BMP"),
            (b"\xff\xd8\xff\xe0" + bmff, "JPEG"),
            (b"II*\x00" + bmff, "TIFF"),
            (b"\xff\x0a\x00\x00" + bmff, "ISO-BMFF")):
        payload += b"\x00" * 40
        assert sniff_content_type(payload, None) == "image"
        with pytest.raises(ValueError, match=tag):
            decode_image(payload)


# --- normalize (P12) --------------------------------------------------------

def test_normalize_nfc_and_ws():
    assert collapse_ws("  a\t\n b   c ") == "a b c"
    nfd = "café"
    assert canonical_text(nfd) == "café"
    assert canonical_text("a\r\nb\rc") == "a\nb\nc"


# --- keyword classifier (A1): first-match-wins + confidence ------------------

def test_classifier_order_and_confidence():
    # 'bill' (invoice) and 'contract' both present -> invoice wins (dict order)
    t, c = classify_text("The bill and the contract arrived")
    assert t == "invoice" and c == pytest.approx(1 / 4)
    # two invoice keywords -> confidence 2/4
    t, c = classify_text("invoice bill")
    assert (t, c) == ("invoice", pytest.approx(2 / 4))
    # substring semantics: 'id' matches inside words (reference behavior,
    # classification_service.py:39)
    t, c = classify_text("identical bytes")
    assert t == "id"
    assert classify_text("nothing here") == ("unknown", 0.0)


# --- html extraction (boilerplate classifier) --------------------------------

def test_html_drops_boilerplate_keeps_content():
    html = b"""<html><head><title>T</title><script>x=1</script></head><body>
    <nav><a href="/">one</a> <a href="/">two</a> <a href="/">three</a></nav>
    <div><a href="/x">linky link link</a></div>
    <h1>Heading Words</h1>
    <p>This paragraph has definitely more than sixteen words so the
    boilerpipe number of words rules classifier keeps it as content.</p>
    <footer><a href="/p">privacy</a></footer></body></html>"""
    text, spans = extract_html(html)
    assert "paragraph has definitely" in text
    assert "Heading Words" in text
    assert "privacy" not in text and "linky" not in text and "one" not in text
    assert all(s.kind == "block" for s in spans)
    # span offsets address the final text
    for s in spans:
        assert text[int(s.x0):int(s.x1)] == s.text


def test_html_entities_and_nfd():
    html = ("<p>" + "word " * 20 + "&amp; &eacute;clair café</p>").encode()
    text, _ = extract_html(html)
    assert "& éclair café" in text


def test_html_link_density_boilerplate():
    # all-link block -> dropped; >40-word successor survives even after a
    # high-link-density predecessor (published NumWordsRules tree)
    links = " ".join(f'<a href="/{i}">w{i}</a>' for i in range(20))
    html = f"<body><div>{links}</div><p>{'word ' * 45}</p></body>".encode()
    text, _ = extract_html(html)
    assert "w3" not in text and "word" in text


def test_html_short_block_after_link_block_is_boilerplate():
    # <=40-word block preceded by a link farm with nothing after it is
    # boilerplate under the NumWordsRules tree (prev_ld > 0.555 branch)
    links = " ".join(f'<a href="/{i}">w{i}</a>' for i in range(20))
    html = f"<body><div>{links}</div><p>{'word ' * 20}</p></body>".encode()
    text, _ = extract_html(html)
    assert text == ""


# --- pdf extraction -----------------------------------------------------------

LINES = [f"line {chr(65 + i)} alpha beta" for i in range(6)]


@pytest.mark.parametrize("kw", [{}, {"scrambled": True},
                                {"scrambled": True, "use_tj": True},
                                {"two_col": True}])
@pytest.mark.parametrize("compress", [False, True])
def test_pdf_reading_order(kw, compress):
    pdf = build_pdf([content_stream_ops(LINES, **kw)], compress=compress)
    text, spans = extract_pdf(pdf)
    assert text.split("\n") == LINES
    assert all(s.kind == "line" for s in spans)


def test_pdf_multipage_order():
    pdf = build_pdf([content_stream_ops(["page one text"]),
                     content_stream_ops(["page two text"])])
    text, _ = extract_pdf(pdf)
    assert text == "page one text\n\npage two text"


def test_pdf_string_escapes():
    pdf = build_pdf([content_stream_ops([r"paren (x) and slash \ ok"])])
    text, _ = extract_pdf(pdf)
    assert text == r"paren (x) and slash \ ok"


# --- png + glyph OCR ----------------------------------------------------------

def test_png_roundtrip():
    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, size=(37, 53), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(img)), img)


def test_png_crafted_dimensions_capped(monkeypatch):
    """An IHDR declaring more pixels than the shared cap is rejected
    before the IDAT is inflated (a few hundred header bytes must not
    drive a multi-GB allocation)."""
    import struct
    from ocr_gpu_services_spark.core import png

    def no_inflate(_data, _limit):
        raise AssertionError("IDAT inflated despite the pixel cap")

    monkeypatch.setattr(png, "inflate", no_inflate)
    ihdr = struct.pack(">IIBBBBB", 16385, 16384, 8, 0, 0, 0, 0)
    payload = (b"\x89PNG\r\n\x1a\n" + png._chunk(b"IHDR", ihdr)
               + png._chunk(b"IDAT", b"\x78\x9c\x03\x00\x00\x00\x00\x01")
               + png._chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        png_decode(payload)


def _zeros_deflated(mib: int) -> bytes:
    """A zlib stream of ``mib`` MiB of zero bytes, built without ever
    holding the inflated bytes (about 1 KB per MiB)."""
    import zlib
    co = zlib.compressobj(9)
    block = bytes(1 << 20)
    return b"".join(co.compress(block) for _ in range(mib)) + co.flush()


def _traced_peak(fn):
    """(fn(), peak bytes traced by tracemalloc while it ran)."""
    import tracemalloc
    tracemalloc.start()
    try:
        out = fn()
        return out, tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def test_png_inflate_bounded_by_ihdr():
    """An IDAT that inflates far past what its IHDR allows (here 256 MiB
    for a 16x16 gray image) decodes from its first bytes exactly as
    before, without inflating the rest."""
    import struct
    from ocr_gpu_services_spark.core import png
    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 0, 0, 0, 0)
    payload = (b"\x89PNG\r\n\x1a\n" + png._chunk(b"IHDR", ihdr)
               + png._chunk(b"IDAT", _zeros_deflated(256))
               + png._chunk(b"IEND", b""))
    img, peak = _traced_peak(lambda: png_decode(payload))
    zeros = np.zeros((16, 16), dtype=np.uint8)
    assert np.array_equal(img, png_decode(png_encode(zeros)))
    assert peak < 32 << 20, peak


def _one_stream_pdf(filt: bytes, stream: bytes) -> bytes:
    """A one-page PDF whose content stream is ``stream`` under ``filt``."""
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Contents 4 0 R >>",
            b"<< /Length %d /Filter %s >>\nstream\n%s\nendstream"
            % (len(stream), filt, stream)]
    body = b"".join(b"%d 0 obj\n%s\nendobj\n" % (k + 1, o)
                    for k, o in enumerate(objs))
    return b"%PDF-1.4\n" + body + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"


def test_pdf_flate_bomb_degrades_to_limit_error():
    """A Flate content stream that inflates past the stream budget (here
    512 MiB) becomes a DecodeLimitError row in bounded memory, not an
    empty page and not a worker-sized allocation."""
    from ocr_gpu_services_spark.core.extract import extract_route
    payload = _one_stream_pdf(b"/FlateDecode", _zeros_deflated(512))
    (ct, text, spans, error), peak = _traced_peak(
        lambda: extract_route(payload, None))
    assert ct == "pdf" and text == "" and spans == []
    assert error is not None and error.startswith("DecodeLimitError:"), error
    assert peak < 200 << 20, peak


def _lzw_literals(data: bytes) -> bytes:
    """``data`` as an MSB-first LZW stream of 9-bit literal codes, with
    a clear code before every 200 literals so the code never widens."""
    codes = []
    for k in range(0, len(data), 200):
        codes += [256, *data[k:k + 200]]
    bits = "".join(format(c, "09b") for c in codes + [257])
    bits += "0" * (-len(bits) % 8)
    return int(bits, 2).to_bytes(len(bits) // 8, "big")


def test_pdf_lzw_stream_decodes_in_linear_time():
    """A ~225 KB /LZWDecode content stream extracts the same text as its
    Flate twin within a few seconds of CPU (the decoder's bit window
    stays bounded, so its cost is linear in the stream length)."""
    import random
    import time
    import zlib
    rng = random.Random(5)
    words = ("invoice", "total", "paid", "amount", "due", "net", "tax",
             "order", "ship", "item", "qty", "price")
    lines = [" ".join(rng.choice(words) + str(rng.randrange(1000))
                      for _ in range(8)) for _ in range(2900)]
    ops = content_stream_ops(lines)
    stream = _lzw_literals(ops)
    assert 200_000 < len(stream) < 250_000
    lzw = _one_stream_pdf(b"/LZWDecode", stream)
    t0 = time.process_time()
    text_lzw, _ = extract_pdf(lzw)
    cpu = time.process_time() - t0
    text_flate, _ = extract_pdf(
        _one_stream_pdf(b"/FlateDecode", zlib.compress(ops)))
    assert text_lzw == text_flate and text_lzw.startswith(lines[0])
    assert cpu < 3.0, cpu


def test_glyph_ocr_roundtrip():
    atlas, charset = glyph_ocr.build_atlas()
    lines = ["INVOICE 123 DUE", "TOTAL 99.50", "A B C"]
    img = glyph_ocr.render_text_image(lines)
    text, spans = glyph_ocr.ocr_page(img, atlas, charset)
    assert text == "\n".join(lines)
    assert [s.text for s in spans[:3]] == ["INVOICE", "123", "DUE"]
    assert all(s.conf == 1.0 for s in spans)
    # dual-engine families: docTR-style word records + Paddle-style
    # line records with their own (mean-of-words) confidence
    words = [s for s in spans if s.kind == "word"]
    lns = [s for s in spans if s.kind == "line"]
    assert {s.kind for s in spans} == {"word", "line"}
    assert [s.text for s in lns] == lines
    assert len(words) == 8
    assert lns[0].x0 == words[0].x0 and lns[0].x1 == words[2].x1


# --- dispatch + error column ---------------------------------------------------

def test_extract_document_error_degrades():
    ct, text, spans, dt_, conf, err = extract_document(
        b"\x89PNG\r\n\x1a\n\x00\x00TRUNCATED", None)
    assert ct == "image" and text == "" and spans == [] and err is not None


# --- golden fixtures: oracle is reproducible (idempotence) ---------------------

def test_goldens_match_regenerated_oracle():
    from ocr_gpu_services_spark.oracle.run import oracle_records
    with open(os.path.join(GOLDEN, "index.json")) as f:
        index = json.load(f)
    recs = dict(oracle_records("tiny"))
    assert set(recs) == set(index)
    for url, meta in index.items():
        with open(os.path.join(GOLDEN, meta["file"]), "rb") as f:
            golden_bytes = f.read()
        assert recs[url]["extracted_text"].encode("utf-8") == golden_bytes, url
        assert recs[url]["content_type"] == meta["content_type"]
        assert recs[url]["doc_type"] == meta["doc_type"]
        assert recs[url]["n_spans"] == meta["n_spans"]


def test_generator_row_independence():
    """Per-row RNG streams: row i's payload must not depend on how many rows
    are generated (permutation/prefix invariance, SURVEY.md §5.2 item 5)."""
    tiny = list(gen_rows("tiny"))
    small_prefix = []
    for i, row in enumerate(gen_rows("small")):
        if i >= 100:
            break
        small_prefix.append(row)
    for a, b in zip(tiny[:100], small_prefix):
        # hosts differ (pdf_block indices depend on n) but payload streams
        # are keyed by (seed, i) only
        assert a["html"] == b["html"] and a["text"] == b["text"]


# ---------------------------------------------------------------------------
# round-1 widening: NFC canonicalizer + BPE-ish token pattern edge cases
# ---------------------------------------------------------------------------

def test_bpe_pattern_matches_python_re():
    """The shared pattern must tokenize identically under Python re (an
    RE2/Java-compatible subset check for the cross-engine oracle)."""
    import re
    from ocr_gpu_services_spark.functions.textops import BPE_PATTERN
    cases = [
        ("Hola, mundo 42!", 6),       # hola , mundo 4 2 !
        ("", 0),
        ("   ", 0),
        ("a-b_c", 5),                 # a - b _ c
        ("años 2024", 5),             # años 2 0 2 4
    ]
    for text, want in cases:
        got = len(re.findall(BPE_PATTERN, text.lower()))
        assert got == want, (text, got, want)


def test_nfc_canon_rule_is_deterministic():
    import unicodedata
    import re
    ws = re.compile("[ \t\n\r\f]+")
    s = "Café\t  x\n\ny "
    canon = unicodedata.normalize("NFC", ws.sub(" ", s).strip())
    assert canon == "Café x y"
    # idempotent
    assert unicodedata.normalize("NFC", ws.sub(" ", canon).strip()) == canon


class _StdlibBlocks(HTMLParser):
    """Independent twin of html_extract._blocks_fused, the test oracle: the
    same block rules driven by the stdlib tokenizer's hooks.  Each block's
    text, word count and link density are recomputed from its raw pieces
    (none of the fused loop's running sums)."""

    def __init__(self, raw: str):
        super().__init__(convert_charrefs=True)
        self.blocks = []
        self.skip = self.link = 0
        self.tag = "body"
        self.pieces = []                        # (collapsed data, in <a>)
        self.feed(raw)
        self.close()
        self.flush(self.tag)

    def flush(self, next_tag):
        text = collapse_ws(" ".join(p for p, _ in self.pieces))
        if text:
            total = sum(len(p) for p, _ in self.pieces)
            links = sum(len(p) for p, in_link in self.pieces if in_link)
            self.blocks.append((text, len(text.split()), links / total,
                                self.tag))
        self.pieces = []
        self.tag = next_tag

    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self.skip += 1
        elif not self.skip:
            if tag == "a":
                self.link += 1
            if tag in BLOCK_TAGS:
                self.flush(self.tag if tag in ("br", "hr") else tag)

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            if self.skip:
                self.skip -= 1
        elif not self.skip:
            if tag == "a" and self.link:
                self.link -= 1
            if tag in BLOCK_TAGS:
                self.flush(self.tag)

    def handle_startendtag(self, tag, attrs):
        if tag not in SKIP_TAGS:                # a self-closed skip tag
            self.handle_starttag(tag, attrs)    # opens nothing
            self.handle_endtag(tag)

    def handle_data(self, data):
        piece = collapse_ws(data)
        if piece and not self.skip:
            self.pieces.append((piece, self.link > 0))


def test_fast_tokenizer_matches_stdlib():
    """The production block extractor (html_extract._blocks_fused) must
    produce the exact block stream of the stdlib HTMLParser twin over every
    html row of the tiny corpus + targeted edge cases (entities, CDATA
    script/style, self-closing skip tags, comments, quoted '>' in
    attributes)."""
    from ocr_gpu_services_spark.core.html_extract import _blocks_fused

    edges = [
        "<html><body><iframe/><p>after iframe</p></body></html>",
        "<p>x &amp; y &lt;tag&gt; &eacute; &#8212;</p>",
        "<script>var x = '</div>'; if (a<b && c>d) {}</script><p>r</p>",
        "<style>p>a { color: red }</style><p>after style</p>",
        "<p>weird < 3 compare</p>",
        "<!-- comment with <p>fake</p> --><p>real</p>",
        "<BR/><HR/><P>CAPS</P>",
        "<a href=/un/quoted>link</a><p>t</p>",
        "<p title='has > inside'>attr gt</p>",
        "<nav><a href='/x'>l1</a></nav><main><p>m</p></main>",
        # regression: a tag-shaped run STARTING inside the script CDATA
        # body but ENDING past the </script> close must not swallow the
        # real markup after the close (finditer-skip bug: <b> was lost)
        "<p>a</p><script><p x='</script><b>z</b>'>tail",
        "<style>q{content:'</style><p>kept</p>'}",
    ]
    for e in edges:
        assert _blocks_fused(e) == _StdlibBlocks(e).blocks, e
    n = 0
    for r in gen_rows("tiny"):
        if sniff_content_type(r["html"], r["text"]) == "html":
            raw = r["html"].decode("utf-8", "replace")
            assert _blocks_fused(raw) == _StdlibBlocks(raw).blocks, r["url"]
            n += 1
    assert n > 100


def test_mega_page_byte_capped_chunking():
    """North-rule skew defense: a mega-page (payload >> Arrow batch cap)
    must be isolated into its own chunk by _chunks_by_bytes and still
    extract correctly, so one 40 MB row can never blow up a worker batch."""
    import pyarrow as pa

    from ocr_gpu_services_spark.operators.extract_kernel import (
        MAX_BATCH_BYTES, _chunks_by_bytes, _extract_batches)

    para = ("<p>" + "spark arrow kernel partition shuffle executor " * 40
            + "</p>")
    mega = ("<html><body><main><h1>Mega</h1>"
            + para * (MAX_BATCH_BYTES // len(para) + 50)
            + "</main></body></html>").encode()
    assert len(mega) > MAX_BATCH_BYTES
    small = b"<html><body><main><p>small page body words</p></main></body></html>"
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["u1", "u2", "u3"]),
         pa.array([None, None, None], pa.timestamp("us")),
         pa.array([small, mega, small], pa.binary()),
         pa.array([None, None, None], pa.string())],
        names=["url", "warc_ts", "html", "text"])
    chunks = list(_chunks_by_bytes(batch))
    # the mega row must start its own chunk (small, mega, small -> 2+ chunks)
    assert len(chunks) >= 2
    assert sum(c.num_rows for c in chunks) == 3
    out = list(_extract_batches(iter([batch])))
    rows = [r for c in out for r in c.to_pylist()]
    assert len(rows) == 3
    megarow = next(r for r in rows if r["url"] == "u2")
    assert megarow["error"] is None
    assert len(megarow["extracted_text"]) > 1_000_000


def test_adversarial_html_payload_is_linear_time():
    """Regression guard for the catastrophic-backtracking fix: a '<tag'
    followed by kilobytes of garbage with no terminating '>' must
    tokenize in linear time (the possessive attr run).  Alarm-bounded so
    a regression FAILS the suite instead of hanging it."""
    import random
    import signal
    import time

    from ocr_gpu_services_spark.core.extract import (extract_document,
                                                     get_atlas)
    get_atlas()
    rng = random.Random(1)
    body = bytes(rng.randrange(256) for _ in range(4000))
    payload = b"<html><body><a " + body

    def onalarm(sig, frm):
        raise TimeoutError("tokenizer not linear")
    old = signal.signal(signal.SIGALRM, onalarm)
    signal.alarm(20)
    try:
        t0 = time.time()
        ct, text, spans, dt, conf, err = extract_document(payload, None)
        assert time.time() - t0 < 19
        assert isinstance(text, str)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


# --------------------------------------------------------------- batch-3
# review regressions: real-writer PDF shapes + JPEG scan-layout parity

def _mini_pdf(page_extra: bytes, streams: list[bytes],
              resources: bytes = b"<< /Font << /F1 7 0 R >> >>") -> bytes:
    """Hand-rolled multi-object PDF exercising shapes the fixture writer
    never emits (array /Contents, indirect /Resources, offset MediaBox)."""
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R " + page_extra + b" >>"),
        6: resources,
        7: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    for k, s in enumerate(streams):
        objs[4 + k if k < 2 else 8 + k] = (
            b"<< /Length " + str(len(s)).encode() + b" >>\nstream\n"
            + s + b"\nendstream")
    out = [b"%PDF-1.4\n"]
    for n in sorted(objs):
        out.append(b"%d 0 obj " % n + objs[n] + b" endobj\n")
    out.append(b"trailer << /Root 1 0 R >>\n%%EOF\n")
    return b"".join(out)


def test_pdf_array_contents_and_indirect_resources():
    """/Contents [4 0 R 5 0 R] with /Resources 7 0 R — the common
    real-writer shape: split streams form ONE logical stream and the
    resources dict must be dereferenced.  Previously: silent empty
    text."""
    from ocr_gpu_services_spark.core.pdf_extract import extract_pdf
    s1 = b"BT /F1 12 Tf 120 700 Td (Hello) Tj ET"
    s2 = b"BT /F1 12 Tf 120 680 Td (world) Tj ET"
    pdf = _mini_pdf(b"/MediaBox [0 0 612 792] /Resources 6 0 R "
                    b"/Contents [4 0 R 5 0 R]", [s1, s2])
    text, spans = extract_pdf(pdf)
    assert "Hello" in text and "world" in text
    assert text.index("Hello") < text.index("world")


def test_pdf_doublequote_operator_and_string_continuation():
    """The '\"' text-showing operator must emit its string, and
    backslash-CR(LF) inside a literal string is a line continuation
    producing NO characters (so 'foo\\<CRLF>bar' is the single word
    foobar)."""
    from ocr_gpu_services_spark.core.pdf_extract import extract_pdf
    s = (b"BT /F1 12 Tf 14 TL 120 700 Td (first) Tj "
         b"2 1 (quoted) \" ET "
         b"BT /F1 12 Tf 120 660 Td (foo\\\r\nbar) Tj ET")
    pdf = _mini_pdf(b"/MediaBox [0 0 612 792] /Resources 6 0 R "
                    b"/Contents 4 0 R", [s])
    text, _ = extract_pdf(pdf)
    assert "quoted" in text
    assert "foobar" in text           # continuation: no CR/LF chars


def test_pdf_offset_mediabox_column_split():
    """MediaBox [100 0 712 792]: the column midline is 406, not 356 —
    a line at x=380 belongs to the LEFT column."""
    from ocr_gpu_services_spark.core.pdf_extract import extract_pdf
    ops = []
    for y, x, t in [(700, 120, b"(L1) Tj"), (680, 380, b"(L2) Tj"),
                    (700, 500, b"(R1) Tj"), (680, 500, b"(R2) Tj")]:
        ops.append(b"BT /F1 12 Tf %d %d Td " % (x, y) + t + b" ET")
    pdf = _mini_pdf(b"/MediaBox [100 0 712 792] /Resources 6 0 R "
                    b"/Contents 4 0 R", [b" ".join(ops)])
    text, _ = extract_pdf(pdf)
    order = [text.index(k) for k in ("L1", "L2", "R1", "R2")]
    assert order == sorted(order), text


def test_jpeg_single_component_sampling_is_layout_free():
    """T.81 A.2: a single-component scan is non-interleaved — a gray
    stream declaring sampling 0x22 must decode pixel-identical to its
    0x11 twin, not scramble blocks in MCU order."""
    from ocr_gpu_services_spark.core.jpeg import jpeg_decode
    from ocr_gpu_services_spark.fixtures.codecs.jpeg import jpeg_encode
    g = (np.arange(32 * 32, dtype=np.uint32) * 97 % 251).astype(np.uint8)
    g = g.reshape(32, 32)
    enc = jpeg_encode(g)
    ref = jpeg_decode(enc)
    sof = enc.index(b"\xff\xc0")
    patched = bytearray(enc)
    assert patched[sof + 11] == 0x11
    patched[sof + 11] = 0x22
    assert np.array_equal(jpeg_decode(bytes(patched)), ref)


def test_jpeg_undefined_table_refs_raise_valueerror():
    """KeyError/ZeroDivisionError from malformed baseline JPEGs escaped
    pdf_extract's per-image (ValueError, IndexError) skip and killed
    whole documents."""
    from ocr_gpu_services_spark.core.jpeg import jpeg_decode
    from ocr_gpu_services_spark.fixtures.codecs.jpeg import jpeg_encode
    g = np.full((16, 16), 200, np.uint8)
    enc = jpeg_encode(g)
    sos = enc.index(b"\xff\xda")
    bad = bytearray(enc)
    bad[sos + 6] = 0x99               # undefined Huffman slots
    with pytest.raises(ValueError):
        jpeg_decode(bytes(bad))
    sof = enc.index(b"\xff\xc0")
    bad2 = bytearray(enc)
    bad2[sof + 11] = 0x00             # zero sampling factor
    with pytest.raises(ValueError):
        jpeg_decode(bytes(bad2))


def test_text_route_rows_byte_capped_too():
    """Rows whose payload rides in the `text` column (html NULL) must
    count toward the chunker's byte cap — previously their size read 0
    and a batch of mega text rows was never split."""
    import pyarrow as pa

    from ocr_gpu_services_spark.operators.extract_kernel import (
        MAX_BATCH_BYTES, _chunks_by_bytes)

    big = "lorem ipsum dolor sit amet " * (MAX_BATCH_BYTES // 20)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["t1", "t2", "t3"]),
         pa.array([None, None, None], pa.timestamp("us")),
         pa.array([None, None, None], pa.binary()),
         pa.array([big, big, big], pa.string())],
        names=["url", "warc_ts", "html", "text"])
    chunks = list(_chunks_by_bytes(batch))
    assert len(chunks) == 3              # each mega text row isolated
    assert sum(c.num_rows for c in chunks) == 3


def test_core_holds_no_fixture_encoder():
    """core/ is the extraction kernel: no core module imports from
    fixtures/, and no top-level function or class outside core/png.py
    (the production png_encode family) has ``encode`` in its name.
    Fixture encoders live in fixtures/codecs/, so a decoder rewrite
    cannot move fixture bytes."""
    import ast

    core = os.path.join(os.path.dirname(__file__), "..",
                        "ocr_gpu_services_spark", "core")
    bad = []
    for name in sorted(os.listdir(core)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(core, name)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                mods = [node.module or ""] + [a.name for a in node.names]
            elif isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            else:
                continue
            if any("fixtures" in m.split(".") for m in mods):
                bad.append(f"{name} imports fixtures")
        if name != "png.py":
            bad += [f"{name}:{node.name}" for node in tree.body
                    if isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and "encode" in node.name.lower()]
    assert not bad, bad
