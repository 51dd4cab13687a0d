"""PDF standard security handler (RC4 + AES): decrypt-on-read.  The
writer side the fixture generator uses is fixtures/codecs/pdf_crypt.py.

Real crawl corpora contain owner-locked PDFs — encrypted with a non-empty
OWNER password but an EMPTY user password — which every viewer opens
silently (the reference's OCR stack reads them through its PDF rasterizer
the same way; parity: /root/reference/routers/ocr.py rasterizes whatever
pdf bytes arrive).  This module implements the published standard
security handler from ISO 32000 §7.6:

* /V 1 (40-bit RC4, /R 2) and /V 2 (up to 128-bit RC4, /R 3):
  empty-user-password key derivation (Algorithm 2), /U verification
  (Algorithms 4/5), per-object keys (Algorithm 1).
* /V 4 (/R 4, PDF 1.6) crypt filters: /CFM /V2 (RC4-128 behind a
  filter name) and /CFM /AESV2 (AES-128-CBC, per-object key =
  MD5(file key + obj + gen + "sAlT"), stored bytes = IV || ciphertext
  with PKCS#7 padding); the /EncryptMetadata false key-derivation
  suffix is honored.
* /V 5 (/R 6, PDF 2.0 / Acrobat 9+) /CFM /AESV3: SHA-2 based
  Algorithm 2.B password hash, /U validation (Algorithm 11), file key
  unwrapped from /UE with AES-256-CBC (zero IV, no padding); objects
  use the file key directly.

Scope notes (documented, not silent):

* RC4 is LENGTH-PRESERVING, so decryption happens in place on the raw
  payload: every object's stored stream bytes are replaced with their
  plaintext and all offsets and /Length values stay valid — the regex
  extractor then parses the decrypted file exactly like an unencrypted
  one.  Decryption runs BEFORE filter decoding (spec order: the stored
  bytes are cipher(filter(data))).
* AES is NOT length-preserving (16-byte IV prefix + padding), so the
  AES paths REBUILD the file instead: each encrypted stream is spliced
  out for its plaintext and the object's direct /Length is rewritten.
  Byte offsets shift — harmless, because this engine's extractor
  locates objects by scanning, never through the xref
  (core/pdf_extract.py module docstring).
* Object-level strings (doc-info /Title etc.) are NOT consumed by the
  extractor, so they are left encrypted; strings inside content streams
  become plaintext when their stream is decrypted (strings inside object
  streams are, per spec, not separately encrypted).
* XRef streams are never encrypted (spec) and are skipped; the /Encrypt
  dictionary's own entries are exempt by definition.
* Non-empty USER passwords, /R 5 (the withdrawn Adobe interim scheme),
  public-key handlers, and /StmF names other than /StdCF or /Identity
  raise ValueError — the row degrades to its ``error`` column upstream
  (core/extract.py catches per-row).
"""

from __future__ import annotations

import functools
import hashlib
import re
import struct

from .pdf_extract import (_LENGTH_RE, _OBJ_RE, _decode_pdf_string,
                          _stream_span)

# ISO 32000-1 §7.6.3.3 padding constant (public spec table)
PAD = bytes((
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A))


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (KSA + PRGA).  Symmetric: encrypt == decrypt."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pad_password(pw: bytes) -> bytes:
    return (pw + PAD)[:32]


def file_key(o: bytes, p: int, id0: bytes, r: int, nbytes: int,
             user_pw: bytes = b"", encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: the file encryption key from the USER password."""
    md = hashlib.md5(_pad_password(user_pw) + o[:32]
                     + struct.pack("<i", p) + id0
                     + (b"" if encrypt_metadata or r < 4
                        else b"\xff\xff\xff\xff"))
    key = md.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:nbytes]).digest()
    return key[:nbytes]


def user_value(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithms 4 (R2) / 5 (R3): the /U entry."""
    if r == 2:
        return rc4(key, PAD)
    u = hashlib.md5(PAD + id0).digest()
    u = rc4(key, u)
    for step in range(1, 20):
        u = rc4(bytes(b ^ step for b in key), u)
    return u + b"\x00" * 16          # R3: last 16 bytes are arbitrary


def verify_user_password(u: bytes, key: bytes, id0: bytes, r: int) -> bool:
    expect = user_value(key, id0, r)
    return u[:16] == expect[:16] if r >= 3 else u[:32] == expect[:32]


def object_key(key: bytes, num: int, gen: int,
               aes: bool = False) -> bytes:
    """Algorithm 1: per-object key.  ``aes=True`` appends the spec's
    "sAlT" marker (the /AESV2 variant)."""
    md = hashlib.md5(key + num.to_bytes(3, "little")
                     + gen.to_bytes(2, "little")
                     + (b"sAlT" if aes else b""))
    return md.digest()[:min(len(key) + 5, 16)]


# ----------------------------------------------- AES-256 (/R 6) handler

@functools.lru_cache(maxsize=256)
def hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B: the hardened SHA-2 password hash.

    Deliberately expensive by design (~0.2 s here: ≥64 serial AES-CBC
    rounds); the lru_cache makes repeated extractions of the same doc
    within a process (oracle runs, multi-query scans of the pages
    table) pay it once.

    Each round AES-128-CBC-encrypts 64 repetitions of (pw ‖ K ‖ udata)
    under the previous digest, then picks SHA-256/384/512 by the first
    ciphertext block's byte sum mod 3; at least 64 rounds, continuing
    until the last ciphertext byte ≤ round − 32.  (64 repetitions make
    the input length a multiple of 16, so no padding is involved.)"""
    from .aes import encrypt_cbc
    k = hashlib.sha256(password + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (password + k + udata) * 64
        e = encrypt_cbc(k[:16], k[16:32], k1, pad=False)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def r6_file_key(u48: bytes, ue: bytes, user_pw: bytes = b"") -> bytes:
    """Reader side, Algorithm 2.A user-password branch: validate /U and
    unwrap the file key from /UE; raises on a wrong password."""
    from .aes import decrypt_cbc
    if hash_2b(user_pw, u48[32:40]) != u48[:32]:
        raise ValueError("encrypted PDF: user password required")
    ik = hash_2b(user_pw, u48[40:48])
    return decrypt_cbc(ik, b"\x00" * 16, ue[:32], pad=False)


# ------------------------------------------------------ payload ciphers

def decrypt_payload(key: bytes, num: int, gen: int, data: bytes,
                    scheme: str) -> bytes:
    if scheme == "rc4":
        return rc4(object_key(key, num, gen), data)
    from .aes import decrypt_cbc
    if len(data) < 32:
        raise ValueError("AES stream shorter than IV + one block")
    ok = object_key(key, num, gen, aes=True) if scheme == "aesv2" else key
    return decrypt_cbc(ok, data[:16], data[16:])


# ---------------------------------------------------------------- parse

_ENC_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R")
_ID_OPEN_RE = re.compile(rb"/ID\s*\[")
_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef\b")


def _string_after(body: bytes, name: bytes) -> bytes | None:
    """Value of ``name`` when it is a PDF string: ``<hex>`` or a literal
    ``( ... )`` with standard escapes (spec §7.3.4)."""
    m = re.search(re.escape(name) + rb"\s*", body)
    if not m:
        return None
    pos = m.end()
    if pos >= len(body):
        return None
    if body[pos:pos + 1] == b"<":
        h = re.match(rb"<([0-9A-Fa-f\s]*)>", body[pos:])
        if not h:
            return None
        hx = re.sub(rb"\s", b"", h.group(1))
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii"))
    if body[pos:pos + 1] != b"(":
        return None
    depth, k = 1, pos + 1
    while k < len(body):
        c = body[k]
        if c == 0x5C:                                # skip escaped byte
            k += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if not depth:
                break
        k += 1
    return _decode_pdf_string(body[pos + 1:k]).encode("latin-1")


def _int_after(body: bytes, name: bytes, default: int | None = None):
    m = re.search(re.escape(name) + rb"\s+(-?\d+)", body)
    return int(m.group(1)) if m else default


def _without_cf_dict(enc_body: bytes) -> bytes:
    """The /Encrypt dict body with the /CF << ... >> subdictionary span
    removed (balanced << >> scan), so top-level key searches cannot
    first-match entries inside a crypt-filter dict."""
    m = re.search(rb"/CF\s*<<", enc_body)
    if not m:
        return enc_body
    depth, k = 1, m.end()
    while k < len(enc_body) - 1 and depth:
        if enc_body[k:k + 2] == b"<<":
            depth += 1
            k += 2
        elif enc_body[k:k + 2] == b">>":
            depth -= 1
            k += 2
        else:
            k += 1
    return enc_body[:m.start()] + enc_body[k:]


def decrypt_pdf(data: bytes) -> bytes:
    """Return the decrypted-equivalent file, or ``data`` unchanged when
    no /Encrypt is present.  Raises ValueError for unsupported schemes
    or a non-empty user password (caller degrades the row to ``error``).
    """
    # search the TAIL only: the governing trailer (or XRef-stream dict)
    # of an incrementally-updated file is the last one, and a binary
    # content stream elsewhere could contain these bytes by coincidence
    tail = data[-4096:]
    em = _ENC_REF_RE.search(tail)
    if not em:
        return data
    enc_num = int(em.group(1))
    objects = [(int(m.group(1)), int(m.group(2)), m.start(3), m.group(3))
               for m in _OBJ_RE.finditer(data)]
    enc_body = next((b for n, g, s, b in objects if n == enc_num), None)
    if enc_body is None:
        raise ValueError("encrypted PDF: /Encrypt object missing")
    filt = re.search(rb"/Filter\s*/(\w+)", enc_body)
    if not filt or filt.group(1) != b"Standard":
        raise ValueError("unsupported PDF encryption filter")
    v = _int_after(enc_body, b"/V", 0)
    r = _int_after(enc_body, b"/R", 2)
    o = _string_after(enc_body, b"/O")
    u = _string_after(enc_body, b"/U")
    p = _int_after(enc_body, b"/P")
    if o is None or u is None or p is None:
        raise ValueError("encrypted PDF: malformed /Encrypt dictionary")
    # first /ID array element: a PDF string in EITHER form — hex <...>
    # is customary but literal (...) is equally legal (§7.3.4 defines ID
    # entries as byte strings); _string_after with an empty name parses
    # whichever form follows the bracket
    idm = _ID_OPEN_RE.search(tail)
    id0 = (_string_after(tail[idm.end():], b"") or b"") if idm else b""

    if v in (1, 2) and r in (2, 3):
        scheme = "rc4"
        nbits = _int_after(enc_body, b"/Length", 40)
        nbytes = 5 if v == 1 else max(5, min(16, nbits // 8))
        key = file_key(o, p, id0, r, nbytes)
        if not verify_user_password(u, key, id0, r):
            raise ValueError("encrypted PDF: user password required")
    elif v == 4 and r == 4:
        sf = re.search(rb"/StmF\s*/(\w+)", enc_body)
        stmf = sf.group(1) if sf else b"Identity"   # spec default
        if stmf == b"Identity":
            return data       # streams unencrypted (strings not consumed)
        if stmf != b"StdCF":
            raise ValueError(f"unsupported PDF stream filter {stmf!r}")
        cfm = re.search(rb"/CFM\s*/(\w+)", enc_body)
        cfm = cfm.group(1) if cfm else b""
        if cfm not in (b"V2", b"AESV2"):
            raise ValueError(f"unsupported PDF crypt method {cfm!r}")
        scheme = "rc4" if cfm == b"V2" else "aesv2"
        em = not re.search(rb"/EncryptMetadata\s+false", enc_body)
        # top-level /Length is the key size in BITS; the crypt-filter
        # subdictionary carries its own /Length in BYTES (/CF << /StdCF
        # << /CFM /AESV2 /Length 16 >> >>), and writers that order /CF
        # before /Length would otherwise win the first-match search and
        # derive a 5-byte key — strip the balanced /CF << .. >> span
        # before looking
        nbits = _int_after(_without_cf_dict(enc_body), b"/Length", 128)
        nbytes = max(5, min(16, nbits // 8))
        key = file_key(o, p, id0, r, nbytes, encrypt_metadata=em)
        if not verify_user_password(u, key, id0, r):
            raise ValueError("encrypted PDF: user password required")
    elif v == 5 and r == 6:
        scheme = "aes256"
        ue = _string_after(enc_body, b"/UE")
        if ue is None or len(u) < 48:
            raise ValueError("encrypted PDF: malformed /R 6 dictionary")
        key = r6_file_key(u, ue)          # raises on non-empty user pw
    else:
        raise ValueError(f"unsupported PDF encryption (V={v} R={r})")

    if scheme == "rc4":
        # length-preserving: decrypt in place, offsets stay valid
        out = bytearray(data)
        for num, gen, bstart, body in objects:
            if num == enc_num:
                continue
            loc = _encrypted_span(body)
            if loc is None:
                continue
            start, length = loc
            plain = rc4(object_key(key, num, gen),
                        bytes(body[start:start + length]))
            # splice exactly len(plain) bytes: when a malformed /Length
            # overstates the bytes present, the slice is shorter than
            # `length`, and assigning it over the full `length` window
            # would SHRINK the bytearray — shifting every later object's
            # precomputed bstart offset and corrupting the whole tail
            out[bstart + start:bstart + start + len(plain)] = plain
        return bytes(out)

    # AES: plaintext is shorter than stored bytes (IV + padding), so
    # rebuild the file, splicing each stream and patching its /Length
    pieces = []
    cursor = 0
    for num, gen, bstart, body in objects:
        if num == enc_num:
            continue
        loc = _encrypted_span(body)
        if loc is None:
            continue
        start, length = loc
        head = body[:start]
        plain = decrypt_payload(key, num, gen,
                                bytes(body[start:start + length]), scheme)
        lm = _LENGTH_RE.search(head)
        if lm:                       # indirect /Length: leave for the
            head = (head[:lm.start()]        # stream…endstream fallback
                    + b"/Length %d" % len(plain) + head[lm.end():])
        pieces.append(data[cursor:bstart])
        pieces.append(head + plain + body[start + length:])
        cursor = bstart + len(body)
    pieces.append(data[cursor:])
    return b"".join(pieces)


def _encrypted_span(body: bytes) -> tuple[int, int] | None:
    """(payload start, stored length) of an object's stream, or None for
    stream-less objects and never-encrypted XRef streams."""
    span = _stream_span(body)
    if span is None or _XREF_TYPE_RE.search(span[0]):
        return None
    return span[1:]
