"""Minimal PDF writer for fixture generation (stdlib only).

Emits standards-shaped PDFs: catalog/pages/page objects, Helvetica Type1
font, per-page content streams (optionally Flate-compressed), valid xref +
trailer.  The content streams deliberately exercise the full operator subset
the extractor supports — Td/TD/Tm/T*/Tj/TJ/' — including out-of-order text
emission and two-column layouts, so parser and generator are co-designed but
the parser is tested adversarially via the committed goldens (FIXTURES.md §1).
"""

from __future__ import annotations

import zlib

PAGE_W, PAGE_H = 612, 792


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def content_stream_ops(lines: list[str], *, two_col: bool = False,
                       scrambled: bool = False, use_tj: bool = False) -> bytes:
    """Build a content stream placing ``lines`` top-down; variants exercise
    different operators / emission orders."""
    ops = ["BT", "/F1 12 Tf", "14 TL"]
    if two_col:
        half = (len(lines) + 1) // 2
        cols = [(50.0, lines[:half]), (320.0, lines[half:])]
        for x, col_lines in cols:
            y = 742.0
            for i, ln in enumerate(col_lines):
                ops.append(f"1 0 0 1 {x:.1f} {y:.1f} Tm")
                ops.append(f"({_esc(ln)}) Tj")
                y -= 14.0
    elif scrambled:
        # emit even-indexed lines first, then odd — positions still encode
        # the true reading order
        order = list(range(0, len(lines), 2)) + list(range(1, len(lines), 2))
        for i in order:
            y = 742.0 - i * 14.0
            ops.append(f"1 0 0 1 50 {y:.1f} Tm")
            if use_tj and " " in lines[i]:
                words = lines[i].split(" ")
                arr = " -180 ".join(f"({_esc(w)})" for w in words)
                ops.append(f"[{arr}] TJ")
            else:
                ops.append(f"({_esc(lines[i])}) Tj")
    else:
        ops.append("50 742 Td")
        first = True
        for ln in lines:
            if first:
                ops.append(f"({_esc(ln)}) Tj")
                first = False
            else:
                ops.append(f"({_esc(ln)}) '")
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


def content_stream_ops_hex(lines: list[str]) -> bytes:
    """Same top-down placement, text shown as HEX strings <...> Tj."""
    ops = ["BT", "/F1 12 Tf", "14 TL"]
    for i, ln in enumerate(lines):
        ops.append(f"1 0 0 1 50 {742.0 - i * 14.0:.1f} Tm")
        ops.append("<%s> Tj" % ln.encode("latin-1").hex().upper())
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


class DctScanPage:
    """A scanned page embedded as a /DCTDecode (baseline JPEG) image
    XObject — the shape real scan-to-PDF tools emit (the
    fixtures/codecs/jpeg.py quality-100 contract keeps extraction
    byte-identical).  ``rotate``
    emits a /Rotate page attribute with the raster stored pre-rotated
    (CCW by the flag) so an extractor honoring the flag recovers the
    upright render as a pure pixel permutation."""

    def __init__(self, img, rotate: int = 0):
        self.img = img
        self.rotate = rotate


class ScanPage:
    """A Flate raster scan page with an optional /Rotate attribute
    (same storage convention as DctScanPage).  ``predictor=True``
    emits the raster PNG-predicted (/DecodeParms /Predictor 15, every
    row Up-filtered) before Flate — the shape many real scan-to-PDF
    writers produce."""

    def __init__(self, img, rotate: int = 0, predictor: bool = False):
        self.img = img
        self.rotate = rotate
        self.predictor = predictor


class CcittScanPage:
    """A BILEVEL scan page embedded as a /CCITTFaxDecode (Group 4,
    /K -1) image XObject — the native output of fax and scan-to-PDF
    tooling (core/ccitt.py).  The raster must be strictly {0, 255};
    with the PDF default BlackIs1=false, decoded black runs are 0 bits
    and /DeviceGray sample 0 is black, so extraction is byte-identical
    to the 8-bit Flate twin.  Same /Rotate storage convention as
    ScanPage."""

    def __init__(self, img, rotate: int = 0):
        self.img = img
        self.rotate = rotate


class CidPage:
    """A page whose text is shown through a Type0 (CID) font: 2-byte
    codes in the content stream, /ToUnicode CMap mapping them back.
    CIDs are assigned per page (1-based, order of first appearance);
    the CMap mixes bfchar entries and one bfrange run so both forms
    are exercised."""

    def __init__(self, lines: list[str]):
        self.lines = lines
        chars = sorted({c for ln in lines for c in ln})
        self.cid_of = {c: i + 1 for i, c in enumerate(chars)}

    def content(self) -> bytes:
        ops = ["BT", "/F1 12 Tf", "14 TL"]
        for i, ln in enumerate(self.lines):
            hexstr = "".join("%04X" % self.cid_of[c] for c in ln)
            ops.append(f"1 0 0 1 50 {742.0 - i * 14.0:.1f} Tm")
            ops.append(f"<{hexstr}> Tj")
        ops.append("ET")
        return "\n".join(ops).encode("latin-1")

    def tounicode(self) -> bytes:
        """bfchar for the first half of the charset, one bfrange per
        contiguous-codepoint run for the rest."""
        items = sorted(self.cid_of.items(), key=lambda kv: kv[1])
        half = len(items) // 2
        out = ["/CIDInit /ProcSet findresource begin",
               "12 dict begin", "begincmap"]
        if items[:half]:
            out.append(f"{len(items[:half])} beginbfchar")
            for ch, cid in items[:half]:
                out.append("<%04X> <%04X>" % (cid, ord(ch)))
            out.append("endbfchar")
        rest = items[half:]
        if rest:
            ranges = []
            run = [rest[0]]
            for ch, cid in rest[1:]:
                pch, pcid = run[-1]
                if cid == pcid + 1 and ord(ch) == ord(pch) + 1:
                    run.append((ch, cid))
                else:
                    ranges.append(run)
                    run = [(ch, cid)]
            ranges.append(run)
            out.append(f"{len(ranges)} beginbfrange")
            for run in ranges:
                out.append("<%04X> <%04X> <%04X>"
                           % (run[0][1], run[-1][1], ord(run[0][0])))
            out.append("endbfrange")
        out += ["endcmap", "end", "end"]
        return "\n".join(out).encode("latin-1")


def build_pdf(pages: list, *, compress=False,
              objstm: bool = False, encrypt: int = 0) -> bytes:
    """Assemble a complete PDF.  Each page is either a content-stream
    ``bytes`` (born-digital text page) or a 2-D uint8 numpy array (a
    SCANNED page: the gray raster becomes a /DeviceGray 8-bit
    FlateDecode image XObject painted by the page's content stream —
    the shape real scan-to-PDF tools emit, which the extractor's OCR
    fallback must detect and route through the glyph-OCR kernel).
    ``compress`` is False (raw), True (/FlateDecode) or ``"lzw"``
    (/LZWDecode text content streams, the legacy-writer shape).
    ``encrypt`` is 0 (off), 40 (RC4 /V 1 /R 2) or 128 (RC4 /V 2 /R 3):
    the owner-locked shape real tools emit — owner password set, USER
    password EMPTY, so any viewer (and the extractor) opens it silently.
    Streams are RC4-encrypted after filtering (spec order) with
    per-object keys; /ID is a deterministic digest of the plaintext
    objects.  Mutually exclusive with ``objstm`` in this writer."""
    objs: dict[int, bytes] = {}
    n_pages = len(pages)
    # allocate object numbers: 2 per text page, 3 per scanned page
    # (page, contents, image xobject), 4 per CID page (page, contents,
    # font, tounicode), shared Type1 font last
    entries = []
    nxt = 3
    for p in pages:
        if isinstance(p, (bytes, bytearray)):
            entries.append(("text", nxt, nxt + 1, None))
            nxt += 2
        elif isinstance(p, CidPage):
            entries.append(("cid", nxt, nxt + 1, (nxt + 2, nxt + 3)))
            nxt += 4
        elif isinstance(p, DctScanPage):
            entries.append(("dct", nxt, nxt + 1, nxt + 2))
            nxt += 3
        elif isinstance(p, CcittScanPage):
            entries.append(("ccitt", nxt, nxt + 1, nxt + 2))
            nxt += 3
        else:
            entries.append(("scan", nxt, nxt + 1, nxt + 2))
            nxt += 3
    font_num = nxt
    kids = " ".join(f"{e[1]} 0 R" for e in entries)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
               .encode())

    def stream_obj(body: bytes, extra: str = "") -> bytes:
        return ((f"<< {extra}/Length {len(body)} >>").encode()
                + b"\nstream\n" + body + b"\nendstream")

    def page_obj(cnum: int, resources: str, rotate: int = 0) -> bytes:
        rot = f"/Rotate {rotate} " if rotate else ""
        return (f"<< /Type /Page /Parent 2 0 R /MediaBox "
                f"[0 0 {PAGE_W} {PAGE_H}] {rot}/Contents {cnum} 0 R "
                f"/Resources << {resources} >> >>").encode()

    for page, (pkind, pnum, cnum, extra) in zip(pages, entries):
        if pkind == "text":
            objs[pnum] = page_obj(
                cnum, f"/Font << /F1 {font_num} 0 R >>")
            if compress == "lzw":     # legacy-writer shape: /LZWDecode
                from .codecs.tiff import lzw_encode
                body = lzw_encode(bytes(page))
                filt = "/Filter /LZWDecode "
            elif compress:
                body = zlib.compress(page)
                filt = "/Filter /FlateDecode "
            else:
                body, filt = bytes(page), ""
            objs[cnum] = stream_obj(body, filt)
        elif pkind == "cid":
            fnum, tnum = extra
            objs[pnum] = page_obj(cnum, f"/Font << /F1 {fnum} 0 R >>")
            objs[cnum] = stream_obj(page.content())
            objs[fnum] = (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-CID "
                f"/Encoding /Identity-H /ToUnicode {tnum} 0 R >>"
            ).encode()
            objs[tnum] = stream_obj(page.tounicode())
        else:
            if pkind in ("dct", "ccitt") or isinstance(page, ScanPage):
                rotate = page.rotate % 360
                arr = page.img
                if rotate:
                    # store CCW-rotated; the /Rotate flag (clockwise
                    # display rotation) inverts it exactly
                    import numpy as _np
                    arr = _np.ascontiguousarray(
                        _np.rot90(arr, rotate // 90))
            else:
                rotate, arr = 0, page
            h, w = arr.shape[:2]
            cs = "/DeviceRGB" if arr.ndim == 3 else "/DeviceGray"
            objs[pnum] = page_obj(
                cnum, f"/XObject << /Im0 {extra} 0 R >>", rotate=rotate)
            # paint the scan across the page; the extractor reads the
            # raster pixels directly, the cm matrix is presentation-only
            ops = f"q {w} 0 0 {h} 0 0 cm /Im0 Do Q".encode("latin-1")
            objs[cnum] = stream_obj(ops)
            if pkind == "dct":
                from .codecs.jpeg import jpeg_encode, jpeg_encode_color
                payload = jpeg_encode_color(arr, subsampling="444") \
                    if arr.ndim == 3 else jpeg_encode(arr)
                objs[extra] = stream_obj(
                    payload,
                    f"/Type /XObject /Subtype /Image /Width {w} "
                    f"/Height {h} /ColorSpace {cs} "
                    f"/BitsPerComponent 8 /Filter /DCTDecode ")
            elif pkind == "ccitt":
                from .codecs.ccitt import g4_encode
                objs[extra] = stream_obj(
                    g4_encode(arr < 128),
                    f"/Type /XObject /Subtype /Image /Width {w} "
                    f"/Height {h} /ColorSpace /DeviceGray "
                    f"/BitsPerComponent 1 /Filter /CCITTFaxDecode "
                    f"/DecodeParms << /K -1 /Columns {w} "
                    f"/Rows {h} >> ")
            elif getattr(page, "predictor", False):
                import numpy as _np
                nch = 3 if arr.ndim == 3 else 1
                flat = arr.reshape(h, w * nch).astype(_np.int16)
                diff = flat.copy()
                diff[1:] -= flat[:-1]              # Up filter, every row
                filtered = b"".join(
                    b"\x02" + (diff[r] & 0xFF).astype(_np.uint8)
                    .tobytes() for r in range(h))
                objs[extra] = stream_obj(
                    zlib.compress(filtered),
                    f"/Type /XObject /Subtype /Image /Width {w} "
                    f"/Height {h} /ColorSpace {cs} "
                    f"/BitsPerComponent 8 /Filter /FlateDecode "
                    f"/DecodeParms << /Predictor 15 /Colors {nch} "
                    f"/BitsPerComponent 8 /Columns {w} >> ")
            else:
                objs[extra] = stream_obj(
                    zlib.compress(arr.tobytes()),
                    f"/Type /XObject /Subtype /Image /Width {w} "
                    f"/Height {h} /ColorSpace {cs} "
                    f"/BitsPerComponent 8 /Filter /FlateDecode ")
    objs[font_num] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

    enc_trailer, enc_num, key, scheme, id0 = "", None, None, "rc4", b""
    if encrypt:
        import hashlib

        from ..core import pdf_crypt as pc
        from .codecs import pdf_crypt as pcw
        id0 = hashlib.md5(b"".join(objs[n] for n in sorted(objs))).digest()
        p = -44                      # print+copy allowed, modify denied
        enc_num = font_num + 1
        if encrypt in (40, 128):
            v, r, nbytes = (1, 2, 5) if encrypt == 40 else (2, 3, 16)
            o_val = pcw.owner_value(b"fixture-owner", b"", r, nbytes)
            key = pc.file_key(o_val, p, id0, r, nbytes)
            u_val = pc.user_value(key, id0, r)
            lenstr = f" /Length {encrypt}" if r >= 3 else ""
            objs[enc_num] = (
                f"<< /Filter /Standard /V {v} /R {r}{lenstr} "
                f"/O <{o_val.hex()}> /U <{u_val.hex()}> /P {p} >>").encode()
        elif encrypt == "aesv2":
            # PDF 1.6 crypt filters: AES-128-CBC behind /StdCF
            scheme = "aesv2"
            o_val = pcw.owner_value(b"fixture-owner", b"", 4, 16)
            key = pc.file_key(o_val, p, id0, 4, 16)
            u_val = pc.user_value(key, id0, 4)
            objs[enc_num] = (
                f"<< /Filter /Standard /V 4 /R 4 /Length 128 "
                f"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
                f"/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
                f"/O <{o_val.hex()}> /U <{u_val.hex()}> /P {p} >>").encode()
        elif encrypt == "aes256":
            # PDF 2.0 / Acrobat 9+: AES-256, SHA-2 Algorithm 2.B handler
            scheme = "aes256"
            key = hashlib.sha256(b"fixture-file-key" + id0).digest()
            vsu = hashlib.md5(b"vs-user" + id0).digest()[:8]
            ksu = hashlib.md5(b"ks-user" + id0).digest()[:8]
            vso = hashlib.md5(b"vs-owner" + id0).digest()[:8]
            kso = hashlib.md5(b"ks-owner" + id0).digest()[:8]
            u_val, ue = pcw.r6_user_entries(key, vsu, ksu)
            o_val, oe = pcw.r6_owner_entries(key, u_val, vso, kso,
                                             b"fixture-owner")
            perms = pcw.r6_perms(key, p)
            objs[enc_num] = (
                f"<< /Filter /Standard /V 5 /R 6 /Length 256 "
                f"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
                f"/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
                f"/O <{o_val.hex()}> /U <{u_val.hex()}> "
                f"/OE <{oe.hex()}> /UE <{ue.hex()}> "
                f"/Perms <{perms.hex()}> /P {p} >>").encode()
        else:
            raise ValueError(
                f"encrypt must be 0, 40, 128, 'aesv2' or 'aes256':"
                f" {encrypt!r}")
        enc_trailer = (f" /Encrypt {enc_num} 0 R "
                       f"/ID [<{id0.hex()}> <{id0.hex()}>]")
        if not objstm:
            for num, body in list(objs.items()):
                if num == enc_num:
                    continue
                objs[num] = _encrypt_stream_in_body(body, key, num,
                                                    scheme, id0)

    if objstm:
        return _assemble_objstm(objs, key=key, enc_num=enc_num,
                                enc_trailer=enc_trailer, scheme=scheme,
                                id0=id0)
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_pos = len(out)
    maxnum = max(objs)
    out += f"xref\n0 {maxnum + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, maxnum + 1):
        off = offsets.get(num, 0)
        out += f"{off:010d} 00000 {'n' if num in offsets else 'f'} \n".encode()
    out += (f"trailer\n<< /Size {maxnum + 1} /Root 1 0 R{enc_trailer} >>\n"
            f"startxref\n{xref_pos}\n%%EOF\n").encode()
    return bytes(out)


def _det_iv(num: int, id0: bytes) -> bytes:
    """Deterministic per-object CBC IV (fixtures must be reproducible;
    the spec only requires the IV to ride the stream, not be random)."""
    import hashlib
    return hashlib.md5(b"iv%d:" % num + id0).digest()


def _encrypt_stream_in_body(body: bytes, key: bytes, num: int,
                            scheme: str = "rc4",
                            id0: bytes = b"") -> bytes:
    """Encrypt an assembled object body's stream payload in place
    (gen 0).  No-op for stream-less objects.  /Length is exact in this
    writer; RC4 preserves it, while the AES schemes grow the payload
    (IV + padding) so the dict's /Length digits are rewritten."""
    import re as _re

    from .codecs import pdf_crypt as pc
    sm = _re.search(rb"stream\r?\n", body)
    if not sm:
        return body
    lnm = _re.search(rb"/Length (\d+)", body[:sm.start()])
    ln = int(lnm.group(1))
    s = sm.end()
    stored = pc.encrypt_payload(key, num, 0, body[s:s + ln], scheme,
                                _det_iv(num, id0))
    head = body[:s]
    if len(stored) != ln:
        head = (head[:lnm.start()] + b"/Length %d" % len(stored)
                + head[lnm.end():])
    return head + stored + body[s + ln:]


def _assemble_objstm(objs: dict[int, bytes], *, key: bytes | None = None,
                     enc_num: int | None = None,
                     enc_trailer: str = "", scheme: str = "rc4",
                     id0: bytes = b"") -> bytes:
    """PDF 1.5 layout: every non-stream object is packed into ONE
    /Type /ObjStm container; the cross-reference is a /Type /XRef
    stream (W [1 4 2], type-2 entries pointing into the ObjStm) with
    the trailer dict inlined — no classic xref table at all.

    With ``key`` (RC4 file key): the modern ENCRYPTED shape — stream
    objects and the ObjStm container are RC4'd per object number; the
    packed objects inside ride the container's encryption (spec: not
    separately encrypted); the /Encrypt dict stays a TOP-LEVEL object
    (spec forbids it inside an ObjStm) and the XRef stream is never
    encrypted, its dict carrying /Encrypt + /ID."""
    plain = {n: b for n, b in sorted(objs.items())
             if b"\nstream\n" not in b and n != enc_num}
    streams = {n: b for n, b in objs.items() if n not in plain}
    objstm_num = max(objs) + 1
    xref_num = objstm_num + 1

    header, bodies, off = [], [], 0
    for n, b in plain.items():
        header.append(f"{n} {off}")
        bodies.append(b)
        off += len(b) + 1
    content = (" ".join(header) + "\n").encode()
    first = len(content)
    content += b"\n".join(bodies) + b"\n"
    comp = zlib.compress(content)
    if key is not None:
        from .codecs import pdf_crypt as pc
        comp = pc.encrypt_payload(key, objstm_num, 0, comp, scheme,
                                  _det_iv(objstm_num, id0))
    objstm_body = ((f"<< /Type /ObjStm /N {len(plain)} /First {first} "
                    f"/Filter /FlateDecode /Length {len(comp)} "
                    f">>\nstream\n").encode()
                   + comp + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for num, body in sorted(streams.items()):
        if key is not None and num != enc_num:
            body = _encrypt_stream_in_body(body, key, num, scheme, id0)
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    offsets[objstm_num] = len(out)
    out += f"{objstm_num} 0 obj\n".encode() + objstm_body + b"\nendobj\n"

    # XRef stream: entry per object 0..xref_num  (W = [1 4 2]; 4-byte
    # offsets — scanned-page XObjects push offsets past 64 KiB)
    xref_pos = len(out)
    rows = bytearray()
    idx_of = {n: i for i, n in enumerate(plain)}
    for num in range(xref_num + 1):
        if num == 0:
            t, a, b = 0, 0, 65535
        elif num in idx_of:
            t, a, b = 2, objstm_num, idx_of[num]
        elif num in offsets:
            t, a, b = 1, offsets[num], 0
        else:
            t, a, b = 0, 0, 0
        rows += bytes([t]) + a.to_bytes(4, "big") + b.to_bytes(2, "big")
    comp = zlib.compress(bytes(rows))
    out += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {xref_num + 1} "
            f"/W [1 4 2] /Root 1 0 R{enc_trailer} /Filter /FlateDecode "
            f"/Length {len(comp)} >>\nstream\n").encode()
    out += comp + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()
    return bytes(out)
