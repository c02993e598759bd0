"""MSB-first bit I/O and bounded decompression — the one byte-level
layer the codec and container tiers share.

``BitReader``/``BitWriter`` are the MSB-first pair every big-endian
bitstream here rides on: FLAC, ALAC and the MPEG audio layers. VP8L
(LSB-first) and JPEG (0xFF byte-stuffed) keep their own readers. The
reader's ``d``/``pos`` and the writer's ``buf``/``acc``/``nbits`` are
public on purpose: the hot residual, Rice and Huffman walks in
flac/alac/mp3 run inlined over that state and store it back.

The bounded decompressors refuse (``ValueError``) instead of
materializing a bomb or emitting the prefix of a cut-off stream, and
:func:`alloc` refuses a header-declared array past the same budget.
Reference parity note: the reference shares one byte-level record
reader across every job (SeqXmlRecordReader.java:233-328); this is
the same discipline applied to bitstreams and compressed members.
"""

from __future__ import annotations

import lzma
import math
import zlib

import numpy as np


class BitReader:
    """MSB-first bit reader. Multi-bit reads slice whole bytes instead
    of looping per bit. ``overrun`` is the codec's refusal message."""

    __slots__ = ("d", "pos", "overrun")

    def __init__(self, data: bytes, pos_bits: int = 0,
                 overrun: str = "bitstream overrun"):
        self.d = data
        self.pos = pos_bits
        self.overrun = overrun

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        pos = self.pos
        end = pos + n
        byte_end = (end + 7) >> 3
        if byte_end > len(self.d):
            raise ValueError(self.overrun)
        chunk = int.from_bytes(self.d[pos >> 3 : byte_end], "big")
        self.pos = end
        return (chunk >> ((byte_end << 3) - end)) & ((1 << n) - 1)

    def sread(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= 1 << (n - 1) else v

    def unary(self) -> int:
        """Count of 0 bits before the terminating 1 (consumed)."""
        d = self.d
        pos = self.pos
        q = 0
        nbits = len(d) << 3
        while True:
            if pos >= nbits:
                raise ValueError(self.overrun)
            if (d[pos >> 3] >> (7 - (pos & 7))) & 1:
                self.pos = pos + 1
                return q
            pos += 1
            q += 1
            if q > 1 << 20:
                raise ValueError("runaway unary code")

    def leading_ones(self, cap: int) -> int:
        """Count of consecutive 1 bits (capped), NOT consumed."""
        d = self.d
        pos = self.pos
        nbits = len(d) << 3
        q = 0
        while q < cap:
            p = pos + q
            if p >= nbits:
                raise ValueError(self.overrun)
            if not (d[p >> 3] >> (7 - (p & 7))) & 1:
                break
            q += 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


class BitWriter:
    """MSB-first bit writer. Whole bytes flush to ``buf`` as they
    fill, so ``acc`` never holds more than 7 pending bits between
    calls."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        if n == 0:
            return
        if not 0 <= v < (1 << n):
            raise ValueError("bit-writer value out of range")
        acc = (self.acc << n) | v
        nbits = self.nbits + n
        while nbits >= 8:
            nbits -= 8
            self.buf.append((acc >> nbits) & 0xFF)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits

    def swrite(self, v: int, n: int) -> None:
        """Two's-complement ``v`` in ``n`` bits."""
        self.write(v & ((1 << n) - 1), n)

    def unary(self, q: int) -> None:
        """``q`` zeros then the terminating 1."""
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def tobytes(self) -> bytes:
        """Everything written so far, zero-padded to a byte boundary
        (the writer itself is not advanced)."""
        if self.nbits:
            return bytes(self.buf) + bytes(
                [(self.acc << (8 - self.nbits)) & 0xFF]
            )
        return bytes(self.buf)


# Hard ceiling on any single inflate whose container declares no
# uncompressed size (gzip'd tar, PDF FlateDecode). DEFLATE's intrinsic
# max ratio is ~1032:1, so a crafted small blob bombs by depth/size,
# not ratio — a per-stream absolute cap keeps one hostile member from
# OOMing an executor; legitimate members beyond it refuse to the
# NULL-marker row like any other malformed blob.
_MAX_INFLATE = 256 * 1024 * 1024

_STEP = 1 << 20


def _bounded_inflate(raw: bytes, wbits: int, cap: int = _MAX_INFLATE) -> bytes:
    """zlib inflate in 1 MiB steps with a hard output bound — refuses
    (ValueError) instead of materializing a decompression bomb."""
    d = zlib.decompressobj(wbits)
    chunks: list[bytes] = []
    total = 0
    buf = raw
    while True:
        out = d.decompress(buf, _STEP)
        if out:
            chunks.append(out)
            total += len(out)
            if total > cap:
                raise ValueError("inflated output exceeds bound")
        buf = d.unconsumed_tail
        if not buf:
            break
    chunks.append(d.flush())
    if not d.eof:
        # flush() never raises on a cut-off stream; a capture truncated
        # mid-stream (or mid-trailer) must refuse, not emit a prefix
        raise ValueError("truncated compressed stream")
    return b"".join(chunks)


def alloc(shape: tuple[int, ...], dtype) -> np.ndarray:
    """``np.zeros(shape, dtype)`` for an array whose size a header
    declares: refuses (``ValueError``) before allocating past
    ``_MAX_INFLATE`` bytes, so a patched dimension field becomes a
    marker row instead of a ``MemoryError``."""
    if math.prod(shape) * np.dtype(dtype).itemsize > _MAX_INFLATE:
        raise ValueError("header-declared array exceeds bound")
    return np.zeros(shape, dtype)


def _drain(d, raw: bytes, cap: int, kind: str) -> list[bytes]:
    """One stream through an lzma/bz2-style decompressor (both expose
    ``decompress(data, max_length)``, ``eof`` and ``needs_input``) in
    1 MiB steps, refusing past ``cap`` output bytes, a cut-off stream
    or corrupt data (bz2 raises ``OSError``, lzma ``LZMAError``)."""
    out: list[bytes] = []
    total = 0
    data = raw
    while True:
        try:
            piece = d.decompress(data, _STEP)
        except (OSError, lzma.LZMAError) as e:
            raise ValueError(f"corrupt {kind} stream") from e
        data = b""
        if piece:
            out.append(piece)
            total += len(piece)
            if total > cap:
                raise ValueError("inflated output exceeds bound")
        if d.eof:
            return out
        if d.needs_input:
            raise ValueError(f"truncated {kind} stream")


def _bounded_unxz(raw: bytes, cap: int = _MAX_INFLATE) -> bytes:
    """xz decompress with the same hard output bound and truncation
    refusal as the zlib/bz2 walks."""
    return b"".join(_drain(lzma.LZMADecompressor(), raw, cap, "xz"))


def _bz2_decompress_streams(raw: bytes, cap: int = _MAX_INFLATE) -> bytes:
    """Decompress a CONCATENATION of bz2 streams (the multistream dump
    layout) with one hard output bound across all of them — refuses
    bombs and truncated streams."""
    import bz2

    out: list[bytes] = []
    pos = 0
    while pos < len(raw):
        if raw[pos : pos + 3] != b"BZh":
            raise ValueError("not a bz2 stream boundary")
        d = bz2.BZ2Decompressor()
        pieces = _drain(d, raw[pos:], cap, "bz2")
        out += pieces
        cap -= sum(map(len, pieces))
        pos = len(raw) - len(d.unused_data)
    return b"".join(out)
