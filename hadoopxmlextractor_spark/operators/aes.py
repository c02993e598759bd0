"""Pure-Python AES-128/192/256 (FIPS 197) with CBC mode, PKCS#7 and
no-padding variants.

The decrypt side is what the PDF standard security handler's /AESV2
(AES-128) and /AESV3 (AES-256, R5/R6) crypt filters need (ISO 32000
§7.6.2: the 16-byte IV leads the ciphertext; the R5/R6 /UE //OE key
blobs are unpadded CBC with a zero IV); the encrypt side exists for
the fixture writers, so the decoder is never validated only against
its own mirror — tests cross-validate BOTH directions against the
``cryptography`` package when it is importable, plus the FIPS-197
Appendix C.1-C.3 known-answer vectors, which pin the implementation
to the standard either way.

Tables are GENERATED (GF(2^8) log/exp over generator 0x03, S-box from
the multiplicative inverse + affine transform) rather than transcribed
— no 256-entry constant to mistype. Pure Python is the right cost
model here: payloads are small per-object PDF streams inside an Arrow
batch; there is no hot loop over corpus bytes.
"""

from __future__ import annotations

import logging

_log = logging.getLogger(__name__)

# --- GF(2^8) tables -------------------------------------------------------

_EXP = [0] * 510
_LOG = [0] * 256
_x = 1
for _i in range(255):
    _EXP[_i] = _x
    _LOG[_x] = _i
    _d = ((_x << 1) & 0xFF) ^ (0x1B if _x & 0x80 else 0)  # ·2
    _x ^= _d  # ·3 (the generator)
for _i in range(255, 510):
    _EXP[_i] = _EXP[_i - 255]


def _gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _EXP[_LOG[a] + _LOG[b]]


def _rotl8(v: int, n: int) -> int:
    return ((v << n) | (v >> (8 - n))) & 0xFF


_SBOX = [0] * 256
_INV_SBOX = [0] * 256
for _a in range(256):
    _b = 0 if _a == 0 else _EXP[255 - _LOG[_a]]  # multiplicative inverse
    _s = _b ^ _rotl8(_b, 1) ^ _rotl8(_b, 2) ^ _rotl8(_b, 3) ^ _rotl8(_b, 4)
    _s ^= 0x63
    _SBOX[_a] = _s
    _INV_SBOX[_s] = _a

_RCON = [0x01]
for _i in range(13):
    _RCON.append(_gmul(_RCON[-1], 2))


# --- key schedule + block primitives --------------------------------------

# FIPS 197 §5: rounds Nr = Nk + 6 for Nk ∈ {4, 6, 8} 32-bit key words
_NR = {16: 10, 24: 12, 32: 14}


def _expand_key(key: bytes) -> list[list[int]]:
    """AES key schedule: Nr+1 round keys of 16 bytes (128/192/256)."""
    if len(key) not in _NR:
        raise ValueError("AES key must be 16, 24, or 32 bytes")
    nk = len(key) // 4
    nr = _NR[len(key)]
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk == 8 and i % nk == 4:  # AES-256 extra SubWord step
            t = [_SBOX[b] for b in t]
        w.append([w[i - nk][j] ^ t[j] for j in range(4)])
    return [sum(w[4 * r : 4 * r + 4], []) for r in range(nr + 1)]


def _shift_rows(s: list[int]) -> list[int]:
    # state index = row + 4·col (FIPS column-major); row r rotates left r
    return [s[(i + 4 * (i % 4)) % 16] for i in range(16)]


def _inv_shift_rows(s: list[int]) -> list[int]:
    return [s[(i - 4 * (i % 4)) % 16] for i in range(16)]


def _mix_columns(s: list[int]) -> list[int]:
    out = [0] * 16
    for c in range(4):
        a = s[4 * c : 4 * c + 4]
        out[4 * c + 0] = _gmul(a[0], 2) ^ _gmul(a[1], 3) ^ a[2] ^ a[3]
        out[4 * c + 1] = a[0] ^ _gmul(a[1], 2) ^ _gmul(a[2], 3) ^ a[3]
        out[4 * c + 2] = a[0] ^ a[1] ^ _gmul(a[2], 2) ^ _gmul(a[3], 3)
        out[4 * c + 3] = _gmul(a[0], 3) ^ a[1] ^ a[2] ^ _gmul(a[3], 2)
    return out


def _inv_mix_columns(s: list[int]) -> list[int]:
    out = [0] * 16
    for c in range(4):
        a = s[4 * c : 4 * c + 4]
        out[4 * c + 0] = (
            _gmul(a[0], 14) ^ _gmul(a[1], 11) ^ _gmul(a[2], 13) ^ _gmul(a[3], 9)
        )
        out[4 * c + 1] = (
            _gmul(a[0], 9) ^ _gmul(a[1], 14) ^ _gmul(a[2], 11) ^ _gmul(a[3], 13)
        )
        out[4 * c + 2] = (
            _gmul(a[0], 13) ^ _gmul(a[1], 9) ^ _gmul(a[2], 14) ^ _gmul(a[3], 11)
        )
        out[4 * c + 3] = (
            _gmul(a[0], 11) ^ _gmul(a[1], 13) ^ _gmul(a[2], 9) ^ _gmul(a[3], 14)
        )
    return out


def encrypt_block(key: bytes, block: bytes) -> bytes:
    rk = _expand_key(key)
    nr = len(rk) - 1
    s = [b ^ k for b, k in zip(block, rk[0])]
    for rnd in range(1, nr):
        s = [_SBOX[b] for b in s]
        s = _shift_rows(s)
        s = _mix_columns(s)
        s = [b ^ k for b, k in zip(s, rk[rnd])]
    s = [_SBOX[b] for b in s]
    s = _shift_rows(s)
    return bytes(b ^ k for b, k in zip(s, rk[nr]))


def decrypt_block(key: bytes, block: bytes) -> bytes:
    rk = _expand_key(key)
    nr = len(rk) - 1
    s = [b ^ k for b, k in zip(block, rk[nr])]
    for rnd in range(nr - 1, 0, -1):
        s = _inv_shift_rows(s)
        s = [_INV_SBOX[b] for b in s]
        s = [b ^ k for b, k in zip(s, rk[rnd])]
        s = _inv_mix_columns(s)
    s = _inv_shift_rows(s)
    s = [_INV_SBOX[b] for b in s]
    return bytes(b ^ k for b, k in zip(s, rk[0]))


# --- CBC + PKCS#7 ----------------------------------------------------------


try:  # import-try gate (repo rule): AES-NI-backed fast path when the
    # env ships `cryptography`; the pure-Python core below is the
    # always-available fallback AND the cross-validation partner.
    from cryptography.hazmat.primitives.ciphers import (  # type: ignore
        Cipher as _Cipher,
        algorithms as _algorithms,
        modes as _modes,
    )
except Exception:  # pragma: no cover - env without cryptography
    _Cipher = None


# r15 opt (guide §4.2): the public `Cipher(...).encryptor()` path
# spends ~25 µs per call on Python-layer object validation against
# ~3 µs of actual OpenSSL work — and the iterated-KDF kernels (PDF
# Algorithm 2.B runs ~70 fresh-key CBC rounds per document) pay that
# overhead once per ROUND. `_fast_ctx` builds the same two argument
# objects without re-validating the key/iv (both already validated by
# `_check_key_iv` in every public entry point here) and hands them to
# the same rust-side context constructor the public API uses. The
# private binding is version-fragile by nature, so it is gated on a
# load-time known-answer cross-check against the PUBLIC API for every
# key size, both modes and both directions; any mismatch or import
# error falls back to the public path. Results are byte-identical by
# construction.
def _public_ctx(key: bytes, iv: bytes | None, decrypt: bool):
    """CBC (``iv`` given) or ECB (``iv`` None) context through the
    public ``cryptography`` API."""
    mode = _modes.ECB() if iv is None else _modes.CBC(iv)
    c = _Cipher(_algorithms.AES(key), mode)
    return c.decryptor() if decrypt else c.encryptor()


_fast_ctx = None
if _Cipher is not None:
    try:
        from cryptography.hazmat.bindings._rust import (  # type: ignore
            openssl as _rust_openssl,
        )

        # bind the classes once — the cryptography modules route
        # attribute access through a deprecation-shim __getattr__,
        # which would otherwise fire on every call
        def _fast(key: bytes, iv: bytes | None, decrypt: bool,
                  _a=_algorithms.AES, _c=_modes.CBC, _ecb=_modes.ECB(),
                  _mk=(_rust_openssl.ciphers.create_encryption_ctx,
                       _rust_openssl.ciphers.create_decryption_ctx)):
            alg = _a.__new__(_a)
            alg.key = key
            if iv is None:
                return _mk[decrypt](alg, _ecb)
            mode = _c.__new__(_c)
            mode._initialization_vector = iv
            return _mk[decrypt](alg, mode)

        _pt = bytes(range(64)) * 2
        for _klen in (16, 24, 32):
            for _iv in (bytes(range(16, 32)), None):
                for _dec in (False, True):
                    _k = bytes(range(_klen))
                    _got = _fast(_k, _iv, _dec)
                    _ref = _public_ctx(_k, _iv, _dec)
                    if (_got.update(_pt) + _got.finalize()
                            != _ref.update(_pt) + _ref.finalize()):
                        raise RuntimeError("fast AES ctx self-check failed")
        _fast_ctx = _fast
    except Exception as _e:  # pragma: no cover - binding layout changed
        _log.warning(
            "AES fast path off (%s: %s); every CBC/ECB context goes "
            "through the public cryptography API, which is slower for "
            "the iterated-KDF kernels", type(_e).__name__, _e,
        )


def _cbc_encrypt_blocks(key: bytes, iv: bytes, data: bytes) -> bytes:
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = encrypt_block(key, blk)
        out += prev
    return bytes(out)


def _cbc_encrypt_pure(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    pad = 16 - len(plaintext) % 16
    return _cbc_encrypt_blocks(key, iv, plaintext + bytes([pad]) * pad)


def _cbc_decrypt_pure(key: bytes, iv: bytes, ciphertext: bytes) -> bytes:
    out = bytearray()
    prev = iv
    for i in range(0, len(ciphertext), 16):
        blk = ciphertext[i : i + 16]
        out += bytes(a ^ b for a, b in zip(decrypt_block(key, blk), prev))
        prev = blk
    return bytes(out)


# The one context factory, picked once: the fast private-binding
# context when its known-answer check passed, else the public API,
# else None (no `cryptography`: the pure block loops below).
_ctx = _fast_ctx or (_public_ctx if _Cipher is not None else None)


def _crypt(key: bytes, iv: bytes | None, decrypt: bool, data: bytes) -> bytes:
    """AES over block-multiple ``data``: CBC when ``iv`` is given,
    ECB when it is None."""
    if _ctx is not None:
        c = _ctx(key, iv, decrypt)
        return c.update(data) + c.finalize()
    if iv is not None:
        return (_cbc_decrypt_pure if decrypt else _cbc_encrypt_blocks)(
            key, iv, data
        )
    block = decrypt_block if decrypt else encrypt_block
    return b"".join(
        block(key, data[i : i + 16]) for i in range(0, len(data), 16)
    )


def _check_key_iv(key: bytes, iv: bytes) -> None:
    # explicit up-front validation so the cryptography fast path and
    # the pure-Python fallback agree for every input (r12 ADVICE: a
    # 24/32-byte key used to silently run AES-192/256 on one path and
    # raise from _expand_key on the other)
    if len(key) not in _NR:
        raise ValueError("AES key must be 16, 24, or 32 bytes")
    if len(iv) != 16:
        raise ValueError("IV must be 16 bytes")


def _check_blocks(data: bytes, what: str) -> None:
    if len(data) % 16:
        raise ValueError(f"{what} not a multiple of the block size")


def cbc_encrypt(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """AES-CBC (128/192/256 by key length) with PKCS#7 padding
    (always appended, 1-16 bytes). Runs on the AES-NI-backed
    ``cryptography`` cipher when importable (the r12 rehearsal's
    heaviest per-blob kernel was the pure-Python block loop);
    byte-identical by construction — the test suite asserts both
    paths agree on every shape."""
    _check_key_iv(key, iv)
    pad = 16 - len(plaintext) % 16
    return _crypt(key, iv, False, plaintext + bytes([pad]) * pad)


def cbc_decrypt(key: bytes, iv: bytes, ciphertext: bytes) -> bytes:
    """AES-CBC decrypt with PKCS#7 padding VALIDATED — a wrong key
    or truncated stream refuses (ValueError) instead of returning
    garbage-suffixed plaintext. Same dispatch as :func:`cbc_encrypt`;
    padding validation stays OURS either way."""
    if len(ciphertext) == 0:
        raise ValueError("ciphertext not a multiple of the block size")
    out = bytearray(cbc_decrypt_nopad(key, iv, ciphertext))
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad PKCS#7 padding")
    return bytes(out[:-pad])


def cbc_encrypt_nopad(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """AES-CBC without padding — the plaintext must already be a
    block multiple. The PDF R5/R6 (/AESV3) /UE //OE key blobs are
    exactly 32 bytes, unpadded, IV all-zero (ISO 32000-2 §7.6.4.4)."""
    _check_key_iv(key, iv)
    _check_blocks(plaintext, "plaintext")
    return _crypt(key, iv, False, plaintext)


def cbc_decrypt_nopad(key: bytes, iv: bytes, ciphertext: bytes) -> bytes:
    """AES-CBC decrypt without padding validation or removal."""
    _check_key_iv(key, iv)
    _check_blocks(ciphertext, "ciphertext")
    return _crypt(key, iv, True, ciphertext)


def ecb_encrypt(key: bytes, plaintext: bytes) -> bytes:
    """AES-ECB without padding (block-multiple input) — what the
    ECMA-376 STANDARD encryption form applies to the verifier and
    the EncryptedPackage payload."""
    _check_key_iv(key, bytes(16))
    _check_blocks(plaintext, "plaintext")
    return _crypt(key, None, False, plaintext)


def ecb_decrypt(key: bytes, ciphertext: bytes) -> bytes:
    """AES-ECB decrypt without padding handling."""
    _check_key_iv(key, bytes(16))
    _check_blocks(ciphertext, "ciphertext")
    return _crypt(key, None, True, ciphertext)


def ctr_winzip(key: bytes, data: bytes) -> bytes:
    """AES-CTR with WinZip's convention (AE-x): a 16-byte LITTLE-
    endian block counter starting at 1, no nonce — symmetric for
    encrypt/decrypt. Dispatches to the cryptography fast path when
    importable (CTR there takes the big-endian counter, so the
    keystream is generated via ECB over explicit counter blocks on
    both paths — identical by construction)."""
    _check_key_iv(key, bytes(16))
    out = bytearray(len(data))
    blocks = (len(data) + 15) // 16
    counters = b"".join(
        (i + 1).to_bytes(16, "little") for i in range(blocks)
    )
    ks = ecb_encrypt(key, counters)
    for i, c in enumerate(data):
        out[i] = c ^ ks[i]
    return bytes(out)
