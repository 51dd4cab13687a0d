"""Encrypted-PDF support (RC4 standard security handler, ISO 32000-1
§7.6): owner-locked files (empty USER password — the shape real tools
emit and every viewer opens silently) decrypt in place and extract
byte-identically to their plaintext twins; password-protected or AES
files degrade to the ``error`` column instead of crashing.  Parity: the
reference OCRs whatever pdf bytes its rasterizer opens
(/root/reference/routers/ocr.py) — owner-locked files included."""

import re

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_gpu_services_spark.core import pdf_crypt as pc
from ocr_gpu_services_spark.core.extract import extract_document
from ocr_gpu_services_spark.core.pdf_extract import extract_pdf
from ocr_gpu_services_spark.fixtures.pdf_write import (CidPage, build_pdf,
                                                       content_stream_ops)

LINES = ["invoice total due now", "second line of body text",
         "third line closes the page"]


# ------------------------------------------------------------ primitives

def test_rc4_published_vectors():
    # the three canonical public RC4 test vectors
    assert pc.rc4(b"Key", b"Plaintext").hex().upper() == \
        "BBF316E8D940AF0AD3"
    assert pc.rc4(b"Wiki", b"pedia").hex().upper() == "1021BF0420"
    assert pc.rc4(b"Secret", b"Attack at dawn").hex().upper() == \
        "45A01F645FC35B383552544B9BF5"


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=1, max_size=16), st.binary(max_size=512))
def test_rc4_involution(key, data):
    assert pc.rc4(key, pc.rc4(key, data)) == data


def test_object_key_truncation():
    # Algorithm 1 caps the per-object key at 16 bytes (128-bit files:
    # 16+5 -> 16), 40-bit files get 5+5=10
    assert len(pc.object_key(b"k" * 16, 7, 0)) == 16
    assert len(pc.object_key(b"k" * 5, 7, 0)) == 10


def test_literal_string_escapes():
    # /O and /U may arrive as literal strings with escapes, not hex
    raw = bytes(range(32))
    esc = b"".join(b"\\%03o" % b for b in raw)
    body = b"<< /O (" + esc + b") >>"
    assert pc._string_after(body, b"/O") == raw


# ----------------------------------------------------------- round-trips

@pytest.mark.parametrize("bits", [40, 128])
@pytest.mark.parametrize("compress", [False, True, "lzw"])
def test_encrypted_text_pdf_matches_plain_twin(bits, compress):
    enc = build_pdf([content_stream_ops(LINES)],
                    compress=compress, encrypt=bits)
    plain = build_pdf([content_stream_ops(LINES)], compress=compress)
    assert b"/Encrypt" in enc
    assert LINES[0].encode() not in enc          # payload actually hidden
    te, se = extract_pdf(enc)
    tp, sp = extract_pdf(plain)
    assert te == tp and te
    assert [s.text for s in se] == [s.text for s in sp]


@pytest.mark.parametrize("bits", [40, 128])
def test_encrypted_scanned_page_ocr(bits):
    img = np.full((64, 128), 255, np.uint8)
    img[20:30, 10:100] = 0
    enc = build_pdf([img], compress=True, encrypt=bits)
    plain = build_pdf([img], compress=True)
    assert extract_pdf(enc) == extract_pdf(plain)


def test_encrypted_cid_page():
    assert extract_pdf(build_pdf([CidPage(LINES)], encrypt=128)) == \
        extract_pdf(build_pdf([CidPage(LINES)]))


def test_unencrypted_passthrough_is_identity():
    pdf = build_pdf([content_stream_ops(LINES)])
    assert pc.decrypt_pdf(pdf) is pdf


# ----------------------------------------------------------- error paths

def test_wrong_user_password_degrades_to_error():
    enc = build_pdf([content_stream_ops(LINES)], encrypt=128)
    bad = re.sub(rb"/U <[0-9a-f]{8}", b"/U <deadbeef", enc)
    ct, text, spans, _, _, err = extract_document(bad, None)
    assert text == "" and "password" in err


def test_withdrawn_r5_scheme_rejected():
    # Adobe's interim /R 5 (ExtensionLevel 3, later withdrawn) must not
    # silently decrypt with R 6 rules
    enc = build_pdf([content_stream_ops(LINES)], encrypt="aes256")
    r5 = enc.replace(b"/V 5 /R 6", b"/V 5 /R 5")
    ct, text, spans, _, _, err = extract_document(r5, None)
    assert text == "" and "unsupported" in err


def test_public_key_handler_rejected():
    enc = build_pdf([content_stream_ops(LINES)], encrypt=128)
    pk = enc.replace(b"/Filter /Standard", b"/Filter /Adobe.PubSec")
    ct, text, spans, _, _, err = extract_document(pk, None)
    assert text == "" and "filter" in err


def test_missing_encrypt_object_degrades():
    pdf = build_pdf([content_stream_ops(LINES)])
    # dangling /Encrypt ref in the trailer
    broken = pdf.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 99 0 R")
    ct, text, spans, _, _, err = extract_document(broken, None)
    assert text == "" and "Encrypt" in err


# ----------------------------------------------- modern (PDF 1.5) layout

@pytest.mark.parametrize("bits", [40, 128])
def test_encrypted_objstm_layout(bits):
    """The modern encrypted shape: ObjStm container + XRef stream.  The
    ObjStm stream is RC4'd per ITS object number (packed objects inside
    ride the container, spec §7.6.2); the XRef stream is never encrypted
    and carries /Encrypt + /ID in its dict."""
    args = dict(compress=True, objstm=True)
    e = build_pdf([content_stream_ops(LINES), CidPage(LINES)],
                  **args, encrypt=bits)
    p = build_pdf([content_stream_ops(LINES), CidPage(LINES)], **args)
    assert b"/Type /ObjStm" in e and b"/Encrypt" in e
    assert LINES[0].encode() not in e
    assert extract_pdf(e) == extract_pdf(p)


def test_encrypted_objstm_scanned_page():
    img = np.full((48, 96), 255, np.uint8)
    img[10:20, 5:90] = 0
    e = build_pdf([img], compress=True, objstm=True, encrypt=128)
    p = build_pdf([img], compress=True, objstm=True)
    assert extract_pdf(e) == extract_pdf(p)


# ------------------------------------------------------------- AES (V4/V5)

@pytest.mark.parametrize("scheme", ["aesv2", "aes256"])
@pytest.mark.parametrize("objstm", [False, True])
def test_aes_text_pdf_matches_plain_twin(scheme, objstm):
    """AES is not length-preserving (IV + PKCS#7 padding), so these
    exercise the rebuild path: spliced streams + rewritten /Length."""
    args = dict(compress=True, objstm=objstm)
    e = build_pdf([content_stream_ops(LINES), CidPage(LINES)],
                  **args, encrypt=scheme)
    p = build_pdf([content_stream_ops(LINES), CidPage(LINES)], **args)
    assert b"/Encrypt" in e and LINES[0].encode() not in e
    marker = b"/CFM /AESV2" if scheme == "aesv2" else b"/CFM /AESV3"
    assert marker in e
    te, se = extract_pdf(e)
    tp, sp = extract_pdf(p)
    assert te == tp and te
    assert [s.text for s in se] == [s.text for s in sp]


@pytest.mark.parametrize("scheme", ["aesv2", "aes256"])
def test_aes_scanned_page_ocr(scheme):
    img = np.full((64, 128), 255, np.uint8)
    img[20:30, 10:100] = 0
    e = build_pdf([img], compress=True, encrypt=scheme)
    p = build_pdf([img], compress=True)
    assert extract_pdf(e) == extract_pdf(p)


def test_aes_lzw_content_streams():
    e = build_pdf([content_stream_ops(LINES)], compress="lzw",
                  encrypt="aesv2")
    p = build_pdf([content_stream_ops(LINES)], compress="lzw")
    assert extract_pdf(e) == extract_pdf(p)


def test_v4_identity_stream_filter_passthrough():
    # /V 4 with /StmF /Identity means streams are NOT encrypted (spec
    # default): the file must extract as-is, no decryption attempted
    plain = build_pdf([content_stream_ops(LINES)])
    e = build_pdf([content_stream_ops(LINES)], encrypt="aesv2")
    ident = re.sub(rb"/StmF\s*/StdCF", b"/StmF /Identity", e)
    # streams in `ident` are still AES bytes, but the handler must trust
    # the dict: decrypt_pdf returns the file unchanged
    assert pc.decrypt_pdf(ident) == ident
    assert extract_pdf(e) == extract_pdf(plain)


def test_v4_rc4_crypt_filter():
    # /V 4 /CFM /V2 is RC4 behind a crypt-filter name: length-preserving.
    # The built-in 128-bit file re-labeled as V4/StdCF must decrypt the
    # same, because /R 4 shares the R3 key derivation
    e = build_pdf([content_stream_ops(LINES)], encrypt=128)
    v4 = e.replace(
        b"/V 2 /R 3 /Length 128",
        b"/V 4 /R 4 /Length 128 /CF << /StdCF << /CFM /V2 /Length 16 "
        b">> >> /StmF /StdCF /StrF /StdCF")
    assert extract_pdf(pc.decrypt_pdf(v4)) == \
        extract_pdf(pc.decrypt_pdf(e))


@pytest.mark.parametrize("encrypt", [128, "aesv2"])
def test_indirect_length_on_encrypted_stream(encrypt):
    """An indirect ``/Length N 0 R`` gives no byte range: decryption and
    extraction both fall back to the ``stream…endstream`` scan, so the
    file still extracts like its plaintext twin (RC4 in place, AESV2
    through the rebuild path)."""
    e = build_pdf([content_stream_ops(LINES)], encrypt=encrypt)
    p = build_pdf([content_stream_ops(LINES)])
    ind, n = re.subn(rb"/Length \d+ >>\nstream",
                     b"/Length 99 0 R >>\nstream", e)
    assert n == 1                    # the page's content stream
    te, se = extract_pdf(ind)
    tp, sp = extract_pdf(p)
    assert te == tp and te
    assert [s.text for s in se] == [s.text for s in sp]


def test_aes_corrupt_stream_degrades():
    e = build_pdf([content_stream_ops(LINES)], encrypt="aesv2")
    # clobber the last ciphertext block of the first stream: PKCS#7
    # padding cannot validate, the row degrades instead of crashing
    sm = re.search(rb"stream\r?\n", e)
    ln = int(re.search(rb"/Length (\d+)", e[:sm.start()]).group(1))
    s = sm.end()
    bad = e[:s + ln - 16] + bytes(16) + e[s + ln:]
    ct, text, spans, _, _, err = extract_document(bad, None)
    assert text == "" and err


def test_r6_wrong_user_password_degrades():
    e = build_pdf([content_stream_ops(LINES)], encrypt="aes256")
    bad = re.sub(rb"/U <[0-9a-f]{8}", b"/U <deadbeef", e)
    ct, text, spans, _, _, err = extract_document(bad, None)
    assert text == "" and "password" in err


def test_hash_2b_reference_shape():
    # structural invariants of Algorithm 2.B (no public KAT exists for
    # arbitrary inputs; interop is covered by the writer/reader twins)
    h1 = pc.hash_2b(b"", b"saltsalt")
    h2 = pc.hash_2b(b"", b"saltsalU")
    assert len(h1) == 32 and h1 != h2
    assert pc.hash_2b(b"", b"saltsalt") == h1      # deterministic (cached)
    assert pc.hash_2b(b"pw", b"saltsalt") != h1


# --------------------------------------------------------------- fixtures

def test_tiny_corpus_carries_every_scheme():
    """Salt check (CLAUDE.md invariant): the 'pdfenc'/'pdf-aes' side
    streams must land at least one row of EVERY scheme — 40-bit RC4,
    128-bit RC4, /AESV2 and /R 6 AES-256 — in tiny so the DuckDB gate
    decrypts all four; goldens are pinned byte-identical separately."""
    from ocr_gpu_services_spark.fixtures import gen
    schemes = set()
    for row in gen.gen_rows("tiny"):
        p = row.get("html")
        if not (p and p.startswith(b"%PDF") and b"/Encrypt" in p):
            continue
        if b"/V 1 /R 2" in p:
            schemes.add("rc4-40")
        elif b"/V 2 /R 3" in p:
            schemes.add("rc4-128")
        elif b"/CFM /AESV2" in p:
            schemes.add("aesv2")
        elif b"/CFM /AESV3" in p:
            schemes.add("aes256")
    assert schemes == {"rc4-40", "rc4-128", "aesv2", "aes256"}


def test_v4_cf_dict_ordered_before_length():
    """Alphabetical-key writers emit /CF before the top-level /Length;
    the key-bit search must not first-match the crypt filter's own
    /Length 16 (a BYTE count) and derive a 5-byte key."""
    e = build_pdf([content_stream_ops(LINES)], encrypt="aesv2")
    p = build_pdf([content_stream_ops(LINES)])
    reordered = e.replace(
        b"/V 4 /R 4 /Length 128 "
        b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
        b"/Length 16 >> >>",
        b"/V 4 /R 4 "
        b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
        b"/Length 16 >> >> /Length 128")
    assert reordered != e            # the swap must have matched
    assert extract_pdf(reordered) == extract_pdf(p)


def test_id_literal_string_form():
    """ISO 32000 §7.3.4: /ID entries are byte strings — hex <...> is
    customary but a literal (...) is equally legal and must derive the
    same file key.  A backslash before an end-of-line (LF or CR LF) is a
    §7.3.4.2 line continuation: a writer wrapping a long literal adds no
    bytes to the string."""
    e = build_pdf([content_stream_ops(LINES)], encrypt=128)
    p = build_pdf([content_stream_ops(LINES)])
    idm = re.search(rb"/ID \[<([0-9a-f]+)> <([0-9a-f]+)>\]", e)
    assert idm
    id0 = bytes.fromhex(idm.group(1).decode())
    octs = [b"\\%03o" % b for b in id0]
    for wrap in (b"", b"\\\n", b"\\\r\n"):
        lit = b"(" + b"".join(octs[:5]) + wrap + b"".join(octs[5:]) + b")"
        relit = e[:idm.start()] + b"/ID [" + lit + b" " + lit + b"]" \
            + e[idm.end():]
        assert extract_pdf(relit) == extract_pdf(p), wrap


def test_rc4_overstated_length_keeps_offsets():
    """A malformed /Length that overstates the bytes present must not
    SHRINK the in-place RC4 splice: the decrypted-equivalent file keeps
    every later object's offset valid (length-preserving invariant),
    and the row never crashes."""
    e = build_pdf([content_stream_ops(LINES)], encrypt=128)
    lm = re.search(rb"/Length (\d+)", e)
    bad = e[:lm.start()] + b"/Length %d" % (int(lm.group(1)) + 100000) \
        + e[lm.end():]
    out = pc.decrypt_pdf(bad)
    # splice is bounded by the bytes actually present: nothing shrinks,
    # so the file tail (xref/trailer and the final marker) stays intact
    assert len(out) == len(bad)
    assert out.rstrip().endswith(b"%%EOF")
    ct, text, spans, _, _, err = extract_document(bad, None)
    assert isinstance(text, str)     # degrade or partial-extract, no crash
