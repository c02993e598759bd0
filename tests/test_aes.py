"""Pure-Python AES-128 core (operators/aes.py): FIPS-197 known-answer
vector plus two-directional cross-validation against the
``cryptography`` package when importable — the AESV2 decrypt path of
the PDF standard security handler must never be validated only
against its own encrypt mirror."""

from __future__ import annotations

import hashlib

import pytest

from hadoopxmlextractor_spark.operators import aes as A

KEY = bytes.fromhex("000102030405060708090a0b0c0d0e0f")


def test_fips197_appendix_c1_vector():
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = A.encrypt_block(KEY, pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert A.decrypt_block(KEY, ct) == pt


def test_fips197_appendix_c2_c3_vectors():
    """AES-192 (C.2) and AES-256 (C.3) known answers — the 256 leg is
    what the PDF R5/R6 /AESV3 handler rides on."""
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    k192 = bytes(range(24))
    ct = A.encrypt_block(k192, pt)
    assert ct.hex() == "dda97ca4864cdfe06eaf70a0ec0d7191"
    assert A.decrypt_block(k192, ct) == pt
    k256 = bytes(range(32))
    ct = A.encrypt_block(k256, pt)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert A.decrypt_block(k256, ct) == pt


def test_key_length_validation_agrees_across_paths():
    """Both the cryptography fast path and the pure fallback must
    refuse the same inputs (r12 ADVICE: a 24/32-byte key used to run
    on one path and raise on the other — now both run; anything else
    refuses up front)."""
    iv = bytes(16)
    for klen in (0, 8, 15, 17, 31, 33):
        with pytest.raises(ValueError, match="16, 24, or 32"):
            A.cbc_encrypt(bytes(klen), iv, b"x")
        with pytest.raises(ValueError, match="16, 24, or 32"):
            A.cbc_decrypt(bytes(klen), iv, bytes(16))
        with pytest.raises(ValueError, match="16, 24, or 32"):
            A.cbc_encrypt_nopad(bytes(klen), iv, bytes(16))
        with pytest.raises(ValueError, match="16, 24, or 32"):
            A.cbc_decrypt_nopad(bytes(klen), iv, bytes(16))
    # valid lengths round-trip through every mode
    for klen in (16, 24, 32):
        key = hashlib.sha256(b"k%d" % klen).digest()[:klen]
        msg = b"all three AES key sizes"
        assert A.cbc_decrypt(key, iv, A.cbc_encrypt(key, iv, msg)) == msg
        blk = hashlib.md5(b"b").digest() * 2
        ct = A.cbc_encrypt_nopad(key, iv, blk)
        assert A.cbc_decrypt_nopad(key, iv, ct) == blk
    with pytest.raises(ValueError, match="multiple"):
        A.cbc_encrypt_nopad(KEY, iv, b"short")


def test_nopad_crossval_against_cryptography():
    crypto = pytest.importorskip("cryptography")  # noqa: F841
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )

    for klen in (16, 24, 32):
        key = hashlib.sha256(b"np%d" % klen).digest()[:klen]
        iv = hashlib.md5(b"npiv%d" % klen).digest()
        msg = hashlib.sha256(b"npm").digest() * 2  # 64 bytes
        ours = A.cbc_encrypt_nopad(key, iv, msg)
        enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
        assert ours == enc.update(msg) + enc.finalize()
        assert A.cbc_decrypt_nopad(key, iv, ours) == msg
        # the pure path agrees byte-for-byte with the fast path
        prev, out = iv, bytearray()
        for k in range(0, len(msg), 16):
            blk = bytes(a ^ b for a, b in zip(msg[k : k + 16], prev))
            prev = A.encrypt_block(key, blk)
            out += prev
        assert bytes(out) == ours


def test_cbc_roundtrip_and_padding_validation():
    iv = hashlib.md5(b"iv").digest()
    for n in (0, 1, 15, 16, 17, 100):
        msg = bytes(range(256))[:n] * 1
        ct = A.cbc_encrypt(KEY, iv, msg)
        assert len(ct) % 16 == 0 and len(ct) >= 16
        assert A.cbc_decrypt(KEY, iv, ct) == msg
    # wrong key → padding check refuses (never garbage-suffixed text)
    ct = A.cbc_encrypt(KEY, iv, b"payload bytes here")
    with pytest.raises(ValueError):
        A.cbc_decrypt(bytes(16), iv, ct)
    with pytest.raises(ValueError, match="multiple"):
        A.cbc_decrypt(KEY, iv, ct[:-3])
    with pytest.raises(ValueError, match="multiple"):
        A.cbc_decrypt(KEY, iv, b"")


def test_crossval_against_cryptography():
    crypto = pytest.importorskip("cryptography")  # noqa: F841
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )

    for seed in range(8):
        key = hashlib.md5(b"k%d" % seed).digest()
        iv = hashlib.md5(b"i%d" % seed).digest()
        msg = hashlib.sha256(b"m%d" % seed).digest() * (seed + 1)
        msg = msg[: 16 * (seed + 1) + seed]  # mixed alignments
        ours = A.cbc_encrypt(key, iv, msg)
        pad = 16 - len(msg) % 16
        enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
        theirs = enc.update(msg + bytes([pad]) * pad) + enc.finalize()
        assert ours == theirs  # encrypt agrees
        dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
        assert A.cbc_decrypt(key, iv, theirs) == msg  # we read theirs
        assert (dec.update(ours) + dec.finalize())[:-pad] == msg


def test_pdf_r4_aesv2_string_decrypt():
    """An R4 file's head STRINGS decrypt through the AES arm too —
    build an object map by hand and run _pdf_apply_decrypt."""
    from hadoopxmlextractor_spark.operators import documents as D

    fkey = hashlib.md5(b"filekey16bytes!!").digest()
    okey = hashlib.md5(
        fkey + (5).to_bytes(3, "little") + b"\x00\x00" + b"sAlT"
    ).digest()[:16]
    iv = hashlib.md5(b"strs-iv").digest()
    title = b"AES guarded title"
    ct = iv + A.cbc_encrypt(okey, iv, title)
    objs = {5: b"<< /Title <" + ct.hex().encode() + b"> >>"}
    D._pdf_apply_decrypt(objs, 9, fkey, aes=True)
    assert objs[5] == b"<< /Title <" + title.hex().encode() + b"> >>"


def test_fast_path_equals_pure_python():
    """When the cryptography fast path is active, it must be
    byte-identical to the pure-Python core on every alignment —
    and the padding validation must be ours on both paths."""
    import hashlib

    for seed in range(6):
        key = hashlib.md5(b"fp%d" % seed).digest()
        iv = hashlib.md5(b"fi%d" % seed).digest()
        msg = hashlib.sha256(b"fm%d" % seed).digest() * 3
        msg = msg[: 17 * seed + 1]
        ct_pure = A._cbc_encrypt_pure(key, iv, msg)
        assert A.cbc_encrypt(key, iv, msg) == ct_pure
        assert A.cbc_decrypt(key, iv, ct_pure) == msg
    # tampered padding refuses on whichever path is active
    ct = A.cbc_encrypt(KEY, bytes(16), b"x" * 20)
    bad = ct[:-1] + bytes([ct[-1] ^ 0x55])
    with pytest.raises(ValueError):
        A.cbc_decrypt(KEY, bytes(16), bad)


def test_fast_path_is_active():
    """The private-binding fast path loads in this environment: a
    ``cryptography`` upgrade that breaks it must fail here, not quietly
    slow the iterated-KDF kernels (``source_pdf_aesv3``)."""
    assert A._fast_ctx is not None


def test_fast_path_fallback_warns():
    """A binding that no longer imports turns the fast path off with one
    warning at import."""
    import subprocess
    import sys

    code = (
        "import sys, types\n"
        "import cryptography.hazmat.primitives.ciphers\n"
        "sys.modules['cryptography.hazmat.bindings._rust'] = types.ModuleType('gone')\n"
        "from hadoopxmlextractor_spark.operators import aes\n"
        "assert aes._fast_ctx is None\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stderr.count("AES fast path off") == 1, out.stderr
