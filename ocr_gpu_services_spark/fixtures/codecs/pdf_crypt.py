"""PDF standard security handler, writer side (ISO 32000 §7.6): the
/O, /U, /UE, /OE and /Perms entries and stream encryption the fixture
PDF writer emits.  Key derivation and decryption are core/pdf_crypt.py.
"""

from __future__ import annotations

import hashlib
import struct

from ...core.aes import encrypt_block, encrypt_cbc
from ...core.pdf_crypt import _pad_password, hash_2b, object_key, rc4


def owner_value(owner_pw: bytes, user_pw: bytes, r: int,
                nbytes: int) -> bytes:
    """Algorithm 3: the /O entry."""
    key = hashlib.md5(_pad_password(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:nbytes]
    o = rc4(key, _pad_password(user_pw))
    if r >= 3:
        for step in range(1, 20):
            o = rc4(bytes(b ^ step for b in key), o)
    return o


def r6_user_entries(file_key: bytes, vsalt: bytes, ksalt: bytes,
                    user_pw: bytes = b"") -> tuple[bytes, bytes]:
    """Writer side, Algorithm 8: /U (48 bytes) and /UE (32 bytes)."""
    u = hash_2b(user_pw, vsalt) + vsalt + ksalt
    ik = hash_2b(user_pw, ksalt)
    ue = encrypt_cbc(ik, b"\x00" * 16, file_key, pad=False)
    return u, ue


def r6_owner_entries(file_key: bytes, u48: bytes, vsalt: bytes,
                     ksalt: bytes, owner_pw: bytes) -> tuple[bytes, bytes]:
    """Writer side, Algorithm 9: /O and /OE (owner hash binds /U)."""
    o = hash_2b(owner_pw, vsalt, u48) + vsalt + ksalt
    ik = hash_2b(owner_pw, ksalt, u48)
    oe = encrypt_cbc(ik, b"\x00" * 16, file_key, pad=False)
    return o, oe


def r6_perms(file_key: bytes, p: int) -> bytes:
    """Algorithm 10: the /Perms entry (AES-256-ECB of the P record)."""
    rec = (struct.pack("<i", p) + b"\xff\xff\xff\xff" + b"Tadb"
           + b"\x00\x00\x00\x00")
    return encrypt_block(file_key, rec)


def encrypt_payload(key: bytes, num: int, gen: int, data: bytes,
                    scheme: str, iv: bytes) -> bytes:
    """Stored bytes for a stream payload under ``scheme`` ('rc4',
    'aesv2', 'aes256').  AES schemes prepend the caller's IV."""
    if scheme == "rc4":
        return rc4(object_key(key, num, gen), data)
    ok = object_key(key, num, gen, aes=True) if scheme == "aesv2" else key
    return iv + encrypt_cbc(ok, iv, data)
