"""One LZW decoder (GIF, TIFF, PDF /LZWDecode) and one bounded inflate
(PNG IDAT, PDF /FlateDecode) for every codec in ``core/``.

``DecodeLimitError`` is not a ``ValueError`` on purpose: the PDF
parser's ``except ValueError`` / ``except zlib.error`` turn a damaged
stream into an empty page, but a tripped limit must reach the row's
``error`` under its own class name (core/extract.py convention).
"""

from __future__ import annotations

import zlib

MAX_STREAM_BYTES = 1 << 26     # decoded bytes of one open-length stream


class DecodeLimitError(Exception):
    """A stream would decode past its byte budget."""


def inflate(data: bytes, limit: int) -> bytes:
    """zlib-inflate at most ``limit`` bytes of ``data``.  A truncated or
    corrupt stream raises the same ``zlib.error`` as ``zlib.decompress``
    unless ``limit`` bytes came out first."""
    d = zlib.decompressobj()
    out = d.decompress(data, limit)
    if not d.eof and len(out) < limit:
        raise zlib.error("Error -5 while decompressing data: "
                         "incomplete or truncated stream")
    return out


def lzw_decode(data: bytes, expected: int | None = None, *,
               min_code_size: int = 8, lsb_first: bool = False) -> bytes:
    """Decode an LZW stream (clear/EOI codes, at most 12-bit codes).

    GIF passes its code size and ``lsb_first=True`` (the width grows at
    ``1 << width`` table entries); TIFF 6.0 and PDF (/EarlyChange 1) use
    the MSB-first defaults, which grow one entry early.  With
    ``expected`` the result is exactly that long (overshoot is dropped,
    short output raises ValueError); without it the stream runs to EOI
    and decoding past MAX_STREAM_BYTES raises DecodeLimitError."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"LZW: bad min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes((c,)) for c in range(clear)] + [b"", b""]
    table = list(base)
    early = 0 if lsb_first else 1
    width = min_code_size + 1
    cap = MAX_STREAM_BYTES + 1 if expected is None else expected
    out = bytearray()
    buf = nbits = pos = 0
    prev = -1
    n = len(data)
    while len(out) < cap:
        # masked bit window: ``buf`` never holds more than width + 7 bits
        while nbits < width:
            if pos >= n:
                raise ValueError("LZW: truncated stream")
            if lsb_first:
                buf |= data[pos] << nbits
            else:
                buf = (buf << 8) | data[pos]
            nbits += 8
            pos += 1
        nbits -= width
        if lsb_first:
            code = buf & ((1 << width) - 1)
            buf >>= width
        else:
            code = buf >> nbits
            buf &= (1 << nbits) - 1
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = -1
            continue
        if code == eoi:
            break
        # after a (re)start the table holds only the literals, so the
        # first code must be one and adds no entry
        nxt = len(table)
        if code < nxt:
            entry = table[code]
        elif code == nxt and prev >= 0:    # the KwKwK case
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError("LZW: code out of range")
        out += entry
        if prev >= 0 and nxt < 4096:      # a full table waits for a clear
            table.append(table[prev] + entry[:1])
            if len(table) == (1 << width) - early and width < 12:
                width += 1
        prev = code
    if expected is None and len(out) > MAX_STREAM_BYTES:
        raise DecodeLimitError(f"LZW stream over {MAX_STREAM_BYTES} bytes")
    if expected is not None and len(out) < expected:
        raise ValueError("LZW: wrong decoded length")
    return bytes(out[:cap])
