"""JPEG codec with ZERO dependencies (numpy only) — the last image
leg PIL's absence from this container blocked, made real for the
shapes that dominate training corpora: baseline DCT (SOF0) AND
progressive DCT (SOF2, spectral selection + successive
approximation), 8-bit, grayscale or YCbCr at 4:4:4 / 4:2:2 / 4:2:0,
restart markers — and (r8) LOSSLESS (SOF3, Annex H: all seven
predictors, 8/12/16-bit, point transform, interleaved components).

Decode chain (ITU-T T.81): marker walk (DQT / DHT / SOF0/SOF2 / DRI /
SOS), canonical Huffman tables from the (bits, values) spec form,
entropy decode — baseline: one interleaved MCU stream (DC prediction
+ AC run/length/EOB); progressive (Annex G): per-scan coefficient
accumulation across DC first/refine (interleaved or single-component)
and AC first/refine with EOB runs and correction bits — then
dequantize, de-zigzag, IDCT-II via the explicit cosine basis, level
shift, chroma upsample by sampling factors, JFIF full-range
YCbCr→RGB. Lossless (SOF3) decodes via per-sample predictor+diff
(Annex H). Arithmetic coding, hierarchical, and 12-bit DCT precision
return None — the PIL plug-in point, same auditable-NULL contract as
the other decoders.

Encode (test/synthesis partner): grayscale or 4:4:4 color, Annex-K
quantization and Huffman tables, forward DCT by the transposed basis.
The pair is LOSSY by nature, so correctness is pinned three
independent ways in the tests: (1) flat blocks make the quantized DC
path EXACTLY computable (``v' = round(round((v-128)*8/Q)*Q/8) + 128``)
— a registry query replays that arithmetic as a DuckDB oracle, giving
a lossy codec an exact cross-engine check; (2) coefficient-injection:
entropy-coded streams built directly from chosen quantized
coefficients must decode to an independently computed IDCT; (3)
roundtrip tolerance on smooth images at high quality.
"""

from __future__ import annotations

import struct

import numpy as np

# ITU-T T.81 Annex K.1 — luminance quantization table (quality 50)
K1_LUMA_QT = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

# Annex K.2 — chrominance quantization table
K2_CHROMA_QT = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.3 — typical Huffman tables: (BITS counts 1..16, HUFFVAL)
K3_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
K3_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
K3_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
K3_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# the 8-point DCT-II basis: B[u, x] = c(u) cos((2x+1)uπ/16) / 2
_B = np.zeros((8, 8))
for _u in range(8):
    _c = (1 / np.sqrt(2)) if _u == 0 else 1.0
    for _x in range(8):
        _B[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _idct2(coef: np.ndarray) -> np.ndarray:
    """2-D inverse DCT of one 8×8 coefficient block (float)."""
    return _B.T @ coef @ _B


def _fdct2(block: np.ndarray) -> np.ndarray:
    """2-D forward DCT of one 8×8 sample block (float)."""
    return _B @ block @ _B.T


class _HuffTable(dict):
    """{(length, code): value} with decode accelerators (r15 opt):
    ``fixed_len``/``bycode`` when every codeword shares one length
    (the synth's SOF3 SSSS table is all-length-5 — decode becomes one
    multi-bit read + one dict probe instead of 5 bit-serial probes)."""

    __slots__ = ("fixed_len", "bycode")

    def __init__(self, table):
        super().__init__(table)
        lens = {ln for (ln, _c) in table}
        if len(lens) == 1:
            self.fixed_len = next(iter(lens))
            self.bycode = {c: v for (_ln, c), v in table.items()}
        else:
            self.fixed_len = 0
            self.bycode = None


def _build_huffman(bits, values):
    """Canonical Huffman per T.81 Annex C: {(length, code): value}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return _HuffTable(table)


def _huff_codes(bits, values):
    """Inverse of :func:`_build_huffman`: {value: (length, code)}."""
    return {v: (ln, c) for (ln, c), v in _build_huffman(bits, values).items()}


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-stuffing removal and RSTn tolerance."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        while True:
            if self.pos >= len(self.data):
                raise EOFError
            byte = self.data[self.pos]
            if byte == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0
                if nxt == 0x00:
                    pass  # stuffed 0xFF: consume normally
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker inside the stream: skip, reset pad
                    self.pos += 2
                    self.bit = 0
                    continue
                else:
                    raise EOFError  # EOI or next segment
            b = (byte >> (7 - self.bit)) & 1
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
                if byte == 0xFF:  # skip the stuffed 0x00
                    self.pos += 1
            return b

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1
            if self.pos <= len(self.data) and self.data[self.pos - 1] == 0xFF:
                self.pos += 1

    def decode_huff(self, table) -> int:
        # fixed-length fast path (r15 opt): one multi-bit read + one
        # probe; a miss is exactly the serial walk's "no entry at any
        # length" outcome (the table holds only that one length)
        fl = getattr(table, "fixed_len", 0)
        if fl:
            hit = table.bycode.get(self.receive(fl))
            if hit is None:
                raise ValueError("invalid huffman code")
            return hit
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid huffman code")

    def receive(self, n: int) -> int:
        # r15 opt: byte-chunked twin of the per-bit loop — identical
        # stuffing/RSTn handling (a restart marker mid-read skips and
        # resets the pad exactly like read_bit did)
        v = 0
        data = self.data
        ln = len(data)
        while n:
            pos = self.pos
            if pos >= ln:
                raise EOFError
            byte = data[pos]
            if byte == 0xFF:
                nxt = data[pos + 1] if pos + 1 < ln else 0
                if nxt == 0x00:
                    pass  # stuffed 0xFF: consume normally
                elif 0xD0 <= nxt <= 0xD7:
                    self.pos = pos + 2
                    self.bit = 0
                    continue
                else:
                    raise EOFError  # EOI or next segment
            bit = self.bit
            avail = 8 - bit
            take = avail if avail < n else n
            v = (v << take) | (
                (byte >> (avail - take)) & ((1 << take) - 1)
            )
            n -= take
            bit += take
            if bit == 8:
                self.bit = 0
                self.pos = pos + (2 if byte == 0xFF else 1)
            else:
                self.bit = bit
        return v

    def receive_extend(self, n: int) -> int:
        if n == 0:
            return 0
        v = self.receive(n)
        if v < (1 << (n - 1)):  # negative branch per F.2.2.1
            v -= (1 << n) - 1
        return v


def _entropy_end(blob: bytes, pos: int) -> int:
    """Index of the marker that terminates an entropy-coded segment:
    skips stuffed ``FF 00``, restart markers, and ``FF`` fill bytes."""
    while pos + 1 < len(blob):
        if blob[pos] == 0xFF:
            nxt = blob[pos + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                pos += 2
                continue
            if nxt == 0xFF:
                pos += 1
                continue
            return pos
        pos += 1
    return len(blob)


def _check_carried(units: int, nbytes: int, min_bits: int) -> None:
    """Refuse a frame whose header declares more coded units (blocks
    or samples) than ``nbytes`` of entropy-coded data can carry at
    ``min_bits`` each (a Huffman code is at least 1 bit), before any
    plane sized from that header is allocated: a patched SOF becomes
    None, not a ``MemoryError``, while large real photos still decode."""
    if units * min_bits > 8 * nbytes:
        raise ValueError("frame larger than its scan can carry")


def decode_jpeg(blob: bytes):
    """Baseline (SOF0) or progressive (SOF2) JPEG → (H, W, 3) uint8
    RGB array, or None for other coding processes / malformed input
    (the PIL plug-in point). Progressive covers both spectral
    selection and successive approximation — DC first/refine
    (interleaved or single-component) and AC first/refine with EOB
    runs, per T.81 Annex G."""
    if len(blob) < 4 or blob[:2] != b"\xff\xd8":
        return None
    try:
        qt = {}
        huff_dc = {}
        huff_ac = {}
        frame = None
        progressive = False
        lossless = False
        store = None  # progressive: cid -> (blocks_y, blocks_x, 64) int64
        any_scan = False
        restart_interval = 0
        pos = 2
        while pos + 2 <= len(blob):
            if blob[pos] != 0xFF:
                return None
            # T.81 B.1.1.2: any number of 0xFF fill bytes may precede
            # the marker byte — skip them instead of misreading the
            # next two bytes as a segment length.
            while pos + 1 < len(blob) and blob[pos + 1] == 0xFF:
                pos += 1
            marker = blob[pos + 1]
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                # TEM / RSTn: standalone markers with no length field
                pos += 2
                continue
            if pos + 4 > len(blob):
                return None
            (seg_len,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
            seg = blob[pos + 4 : pos + 2 + seg_len]
            if marker == 0xDB:  # DQT
                p = 0
                while p < len(seg):
                    prec, tid = seg[p] >> 4, seg[p] & 0xF
                    if prec != 0:
                        return None  # 16-bit tables: not baseline-8
                    tbl = np.frombuffer(
                        seg[p + 1 : p + 65], dtype=np.uint8
                    ).astype(np.int64)
                    dezig = np.zeros(64, dtype=np.int64)
                    dezig[ZIGZAG] = tbl
                    qt[tid] = dezig.reshape(8, 8)
                    p += 65
            elif marker == 0xC4:  # DHT
                p = 0
                while p < len(seg):
                    cls, tid = seg[p] >> 4, seg[p] & 0xF
                    bits = list(seg[p + 1 : p + 17])
                    n = sum(bits)
                    values = list(seg[p + 17 : p + 17 + n])
                    (huff_dc if cls == 0 else huff_ac)[tid] = _build_huffman(
                        bits, values
                    )
                    p += 17 + n
            elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
                prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
                if prec != 8 or nc not in (1, 3):
                    return None
                comps = []
                for c in range(nc):
                    cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                    comps.append(
                        {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                    )
                frame = {"h": h, "w": w, "comps": comps}
                progressive = marker == 0xC2
                if progressive:
                    hmax = max(c["h"] for c in comps)
                    vmax = max(c["v"] for c in comps)
                    mcux = -(-w // (8 * hmax))
                    mcuy = -(-h // (8 * vmax))
                    # each block of a component is in its DC-first scan
                    _check_carried(
                        max(mcuy * c["v"] * mcux * c["h"] for c in comps),
                        len(blob) - pos, 1,
                    )
                    store = {
                        c["id"]: np.zeros(
                            (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64
                        )
                        for c in comps
                    }
            elif marker == 0xC3:  # SOF3 lossless (Annex H)
                prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
                if not (8 <= prec <= 16) or nc not in (1, 3):
                    return None  # sub-8-bit lossless: no 8-bit presentation
                comps = []
                for c in range(nc):
                    cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                    if hv != 0x11:
                        return None  # subsampled lossless: plug-in point
                    comps.append({"id": cid, "h": 1, "v": 1, "tq": tq})
                frame = {"h": h, "w": w, "comps": comps, "prec": prec}
                lossless = True
            elif marker in (0xC1, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # extended/hierarchical/arithmetic processes
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack(">H", seg[:2])
            elif marker == 0xDA:  # SOS
                if frame is None:
                    return None
                ns = seg[0]
                scan = []
                for c in range(ns):
                    cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                    comp = next(
                        x for x in frame["comps"] if x["id"] == cs
                    )
                    scan.append(
                        {"comp": comp, "dc": tt >> 4, "ac": tt & 0xF}
                    )
                data_start = pos + 2 + seg_len
                if lossless:
                    if ns != len(frame["comps"]):
                        return None
                    predictor = seg[1 + 2 * ns]  # Ss = predictor selector
                    pt = seg[3 + 2 * ns] & 0xF  # Al = point transform
                    if not 1 <= predictor <= 7:
                        return None
                    return _decode_lossless_scan(
                        blob[data_start:], frame, scan, huff_dc,
                        predictor, pt,
                    )
                if not progressive:
                    if ns != len(frame["comps"]):
                        # Non-interleaved multi-scan baseline (ns < nc):
                        # decoding only the first scan would silently
                        # return zero-filled remaining planes — keep the
                        # auditable-NULL contract instead.
                        return None
                    return _decode_scan(
                        blob[data_start:], frame, scan, qt, huff_dc,
                        huff_ac, restart_interval,
                    )
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                ah, al = ahal >> 4, ahal & 0xF
                data_end = _entropy_end(blob, data_start)
                _decode_progressive_scan(
                    blob[data_start:data_end], frame, scan, ss, se, ah,
                    al, store, huff_dc, huff_ac, restart_interval,
                )
                any_scan = True
                pos = data_end
                continue
            pos += 2 + seg_len
        if progressive and any_scan:
            return _finish_progressive(frame, store, qt)
        return None
    except (EOFError, ValueError, IndexError, StopIteration, struct.error):
        return None


def _decode_scan(data, frame, scan, qt, huff_dc, huff_ac, restart_interval):
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # a block is at least a DC code and an AC code (EOB)
    _check_carried(
        sum(mcuy * c["v"] * mcux * c["h"] for c in frame["comps"]),
        len(data), 2,
    )
    planes = {}
    for c in frame["comps"]:
        planes[c["id"]] = np.zeros(
            (mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64
        )
    reader = _BitReader(data)
    pred = {s["comp"]["id"]: 0 for s in scan}
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                reader.align()
                pred = {k: 0 for k in pred}
            for s in scan:
                c = s["comp"]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = np.zeros(64, dtype=np.int64)
                        t = reader.decode_huff(huff_dc[s["dc"]])
                        diff = reader.receive_extend(t)
                        pred[c["id"]] += diff
                        coef[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = reader.decode_huff(huff_ac[s["ac"]])
                            r, sz = rs >> 4, rs & 0xF
                            if sz == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC overflow")
                            coef[k] = reader.receive_extend(sz)
                            k += 1
                        block = np.zeros(64, dtype=np.int64)
                        block[ZIGZAG] = coef
                        dq = block.reshape(8, 8) * qt[c["tq"]]
                        px = _idct2(dq.astype(np.float64)) + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = px
            n_mcu += 1
    return _compose(frame, planes)


def _decode_lossless_scan(data, frame, scan, huff_dc, predictor, pt):
    """LOSSLESS JPEG (SOF3, T.81 Annex H): per sample, a DC-style
    Huffman SSSS category + appended bits give the prediction DIFF;
    prediction runs over the reconstructed neighbors a/b/c with the
    scan's predictor selector (1-7), with the Annex-H edge rules —
    2^(P-Pt-1) for the very first sample, Ra along the first line,
    Rb down the first column — and modulo-2^16 reconstruction. SSSS
    16 codes diff = 32768 with no appended bits. Components are
    interleaved sample-by-sample (1x1 sampling enforced at SOF3).
    Presentation: value << Pt, then the high 8 bits for P > 8 (the
    same reduction as 16-bit PNG); 1 component → gray, 3 → RGB
    (lossless JPEG stores source color planes — no YCbCr)."""
    h, w, prec = frame["h"], frame["w"], frame["prec"]
    ncomp = len(scan)
    _check_carried(h * w * ncomp, len(data), 1)  # a code per sample
    planes = [np.zeros((h, w), dtype=np.int64) for _ in scan]
    tables = [huff_dc[s["dc"]] for s in scan]
    reader = _BitReader(data)
    default = 1 << (prec - pt - 1)
    for y in range(h):
        for x in range(w):
            for ci in range(ncomp):
                ssss = reader.decode_huff(tables[ci])
                diff = 32768 if ssss == 16 else reader.receive_extend(ssss)
                pl = planes[ci]
                if y == 0 and x == 0:
                    pred = default
                elif y == 0:
                    pred = int(pl[0, x - 1])
                elif x == 0:
                    pred = int(pl[y - 1, 0])
                else:
                    a = int(pl[y, x - 1])
                    b = int(pl[y - 1, x])
                    c = int(pl[y - 1, x - 1])
                    if predictor == 1:
                        pred = a
                    elif predictor == 2:
                        pred = b
                    elif predictor == 3:
                        pred = c
                    elif predictor == 4:
                        pred = a + b - c
                    elif predictor == 5:
                        pred = a + ((b - c) >> 1)
                    elif predictor == 6:
                        pred = b + ((a - c) >> 1)
                    else:
                        pred = (a + b) >> 1
                pl[y, x] = (pred + diff) & 0xFFFF
    out = []
    for pl in planes:
        v = pl << pt
        if prec > 8:
            v = v >> (prec - 8)
        out.append(np.clip(v, 0, 255).astype(np.uint8))
    if ncomp == 1:
        return np.repeat(out[0][:, :, None], 3, axis=2)
    return np.stack(out, axis=2)


_LOSSLESS_BITS = [0, 0, 0, 0, 17] + [0] * 11  # 17 SSSS symbols, length 5
_LOSSLESS_VALUES = list(range(17))


def encode_jpeg_lossless(
    samples, *, predictor: int = 1, precision: int = 8,
    point_transform: int = 0,
) -> bytes:
    """(H, W) or (H, W, 3) integer sample array (values < 2^precision,
    already >> point_transform) → LOSSLESS JPEG (SOF3): one DHT with
    all 17 SSSS symbols at code length 5, interleaved 1x1 components,
    diffs reduced mod 2^16 into [-32767, 32768] with -32768 ≡ 32768
    coded as SSSS 16. Bit-exact partner of the SOF3 branch in
    :func:`decode_jpeg`."""
    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    codes = _huff_codes(_LOSSLESS_BITS, _LOSSLESS_VALUES)
    wtr = _BitWriter()
    planes = [arr[:, :, ci] for ci in range(nc)]
    default = 1 << (precision - point_transform - 1)
    for y in range(h):
        for x in range(w):
            for ci in range(nc):
                pl = planes[ci]
                if y == 0 and x == 0:
                    pred = default
                elif y == 0:
                    pred = int(pl[0, x - 1])
                elif x == 0:
                    pred = int(pl[y - 1, 0])
                else:
                    a = int(pl[y, x - 1])
                    b = int(pl[y - 1, x])
                    c = int(pl[y - 1, x - 1])
                    if predictor == 1:
                        pred = a
                    elif predictor == 2:
                        pred = b
                    elif predictor == 3:
                        pred = c
                    elif predictor == 4:
                        pred = a + b - c
                    elif predictor == 5:
                        pred = a + ((b - c) >> 1)
                    elif predictor == 6:
                        pred = b + ((a - c) >> 1)
                    else:
                        pred = (a + b) >> 1
                diff = (int(pl[y, x]) - pred) & 0xFFFF
                if diff >= 32768:
                    diff -= 65536
                if diff == -32768:
                    ln, code = codes[16]
                    wtr.write(code, ln)
                    continue
                size, bits = _magnitude(diff)
                ln, code = codes[size]
                wtr.write(code, ln)
                if size:
                    wtr.write(bits, size)
    comps_sof = b"".join(
        bytes([ci + 1, 0x11, 0]) for ci in range(nc)
    )
    sof = (
        b"\xff\xc3"
        + struct.pack(">H", 8 + 3 * nc)
        + bytes([precision])
        + struct.pack(">HH", h, w)
        + bytes([nc])
        + comps_sof
    )
    dht = _dht_segment(0, 0, _LOSSLESS_BITS, _LOSSLESS_VALUES)
    sos = (
        b"\xff\xda"
        + struct.pack(">H", 6 + 2 * nc)
        + bytes([nc])
        + b"".join(bytes([ci + 1, 0x00]) for ci in range(nc))
        + bytes([predictor, 0, point_transform])
    )
    return b"\xff\xd8" + sof + dht + sos + wtr.flush() + b"\xff\xd9"


def _compose(frame, planes):
    """Upsample per-component pixel planes to full resolution, crop,
    and convert to RGB — shared by the baseline and progressive
    finish paths (identical float expression order, so the flat-block
    DC oracle arithmetic holds for both)."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    comps = frame["comps"]
    full = []
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _nonintl_blocks(frame, comp):
    """Block-grid dimensions of one component for a NON-interleaved
    scan (T.81 A.2.2: ceil of the scaled component size / 8)."""
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    cw = -(-frame["w"] * comp["h"] // hmax)
    ch = -(-frame["h"] * comp["v"] // vmax)
    return -(-ch // 8), -(-cw // 8)


def _decode_progressive_scan(
    data, frame, scan, ss, se, ah, al, store, huff_dc, huff_ac,
    restart_interval,
):
    """One progressive scan (T.81 Annex G) into the coefficient store
    (natural-order 64-vectors per block). Four regimes: DC first /
    DC refine (interleaved MCU order, or single-component order when
    ns == 1) and AC first / AC refine (always single-component, with
    EOB-run and correction-bit semantics — the libjpeg-documented
    algorithm)."""
    reader = _BitReader(data)
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        _prog_dc_scan(reader, frame, scan, ah, al, store, huff_dc,
                      restart_interval)
        return
    if len(scan) != 1:
        raise ValueError("progressive AC scan must be single-component")
    if ah == 0:
        _prog_ac_first(reader, frame, scan[0], ss, se, al, store,
                       huff_ac, restart_interval)
    else:
        _prog_ac_refine(reader, frame, scan[0], ss, se, al, store,
                        huff_ac, restart_interval)


def _prog_dc_scan(reader, frame, scan, ah, al, store, huff_dc,
                  restart_interval):
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    pred = {s["comp"]["id"]: 0 for s in scan}
    if len(scan) == 1:
        c = scan[0]["comp"]
        by, bx = _nonintl_blocks(frame, c)
        units = [
            [(c["id"], scan[0]["dc"], y, x)]
            for y in range(by)
            for x in range(bx)
        ]
    else:
        mcux = -(-frame["w"] // (8 * hmax))
        mcuy = -(-frame["h"] // (8 * vmax))
        units = []
        for my in range(mcuy):
            for mx in range(mcux):
                blocks = []
                for s in scan:
                    c = s["comp"]
                    for yy in range(c["v"]):
                        for xx in range(c["h"]):
                            blocks.append(
                                (c["id"], s["dc"],
                                 my * c["v"] + yy, mx * c["h"] + xx)
                            )
                units.append(blocks)
    n = 0
    for blocks in units:
        if restart_interval and n and n % restart_interval == 0:
            reader.align()
            pred = {k: 0 for k in pred}
        for cid, dct, y, x in blocks:
            coef = store[cid][y, x]
            if ah == 0:
                t = reader.decode_huff(huff_dc[dct])
                pred[cid] += reader.receive_extend(t)
                coef[0] = pred[cid] << al
            else:
                if reader.read_bit():
                    coef[0] |= 1 << al
        n += 1


def _prog_ac_first(reader, frame, s, ss, se, al, store, huff_ac,
                   restart_interval):
    c = s["comp"]
    table = huff_ac[s["ac"]]
    by, bx = _nonintl_blocks(frame, c)
    eobrun = 0
    n = 0
    for y in range(by):
        for x in range(bx):
            if restart_interval and n and n % restart_interval == 0:
                reader.align()
                eobrun = 0
            n += 1
            if eobrun > 0:
                eobrun -= 1
                continue
            coef = store[c["id"]][y, x]
            k = ss
            while k <= se:
                rs = reader.decode_huff(table)
                r, sz = rs >> 4, rs & 0xF
                if sz == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    # EOBn: run of 2^r blocks, extension bits, ends
                    # the CURRENT block immediately
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.receive(r)
                    break
                k += r
                if k > se:
                    raise ValueError("AC overflow")
                coef[ZIGZAG[k]] = reader.receive_extend(sz) << al
                k += 1


def _prog_ac_refine(reader, frame, s, ss, se, al, store, huff_ac,
                    restart_interval):
    c = s["comp"]
    table = huff_ac[s["ac"]]
    by, bx = _nonintl_blocks(frame, c)
    p1 = 1 << al
    m1 = -1 << al
    eobrun = 0
    n = 0

    def correct(coef, k):
        """Correction bit for an already-nonzero coefficient: append
        bit ``al`` toward larger magnitude unless already set (two's
        complement bit test — valid because every value at this stage
        is a multiple of 2^al)."""
        z = ZIGZAG[k]
        if reader.read_bit() and (int(coef[z]) & p1) == 0:
            coef[z] += p1 if coef[z] >= 0 else m1

    for y in range(by):
        for x in range(bx):
            if restart_interval and n and n % restart_interval == 0:
                reader.align()
                eobrun = 0
            n += 1
            coef = store[c["id"]][y, x]
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = reader.decode_huff(table)
                    r, sz = rs >> 4, rs & 0xF
                    newval = 0
                    if sz == 0:
                        if r < 15:
                            # EOB run INCLUDING this block: the tail
                            # below still reads correction bits
                            eobrun = 1 << r
                            if r:
                                eobrun += reader.receive(r)
                            break
                        # r == 15: skip 16 zero-history coefficients
                    else:
                        if sz != 1:
                            raise ValueError("bad refinement size")
                        newval = p1 if reader.read_bit() else m1
                    # advance past r zero-history coefficients,
                    # emitting correction bits for nonzero ones
                    while k <= se:
                        z = ZIGZAG[k]
                        if coef[z] != 0:
                            correct(coef, k)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        coef[ZIGZAG[k]] = newval
                    k += 1
            if eobrun > 0:
                while k <= se:
                    if coef[ZIGZAG[k]] != 0:
                        correct(coef, k)
                    k += 1
                eobrun -= 1


def _finish_progressive(frame, store, qt):
    """Dequantize + IDCT the accumulated coefficient store — the same
    per-block arithmetic (and float op order) as the baseline path —
    then compose."""
    planes = {}
    for c in frame["comps"]:
        arr = store[c["id"]]
        q = qt[c["tq"]]
        nby, nbx, _ = arr.shape
        plane = np.zeros((nby * 8, nbx * 8), dtype=np.float64)
        for y in range(nby):
            for x in range(nbx):
                dq = arr[y, x].reshape(8, 8) * q
                plane[y * 8 : y * 8 + 8, x * 8 : x * 8 + 8] = (
                    _idct2(dq.astype(np.float64)) + 128.0
                )
        planes[c["id"]] = plane
    return _compose(frame, planes)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.acc <<= 8 - self.n
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _magnitude(v: int):
    """(size, appended-bits value) per F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(wtr, block, q, dc_codes, ac_codes, pred):
    coef = np.round(_fdct2(block.astype(np.float64) - 128.0) / q).astype(
        np.int64
    )
    zz = coef.reshape(-1)[ZIGZAG]
    diff = int(zz[0]) - pred
    size, bits = _magnitude(diff)
    ln, code = dc_codes[size]
    wtr.write(code, ln)
    if size:
        wtr.write(bits, size)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i] != 0), default=0)
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_codes[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        size, bits = _magnitude(v)
        ln, code = ac_codes[(run << 4) | size]
        wtr.write(code, ln)
        wtr.write(bits, size)
        run = 0
    if last_nz < 63:
        ln, code = ac_codes[0x00]  # EOB
        wtr.write(code, ln)
    return int(zz[0])


def _qt_segment(tid: int, q: np.ndarray) -> bytes:
    zz = q.reshape(-1)[ZIGZAG].astype(np.uint8)
    return b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + zz.tobytes()


def _dht_segment(cls: int, tid: int, bits, values) -> bytes:
    body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(values)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


def _scale_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * s + 50) // 100
    return np.clip(q, 1, 255)


def encode_jpeg(img, *, quality: int = 90) -> bytes:
    """(H, W) or (H, W, 3) uint8 → baseline JPEG bytes (grayscale or
    4:4:4 YCbCr, Annex-K tables scaled by ``quality``)."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qy = _scale_qt(K1_LUMA_QT.reshape(8, 8), quality)
    qc = _scale_qt(K2_CHROMA_QT.reshape(8, 8), quality)
    out = bytearray(b"\xff\xd8")
    out += _qt_segment(0, qy)
    if not gray:
        out += _qt_segment(1, qc)
    nc = 1 if gray else 3
    sof = struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    if gray:
        sof += bytes([1, 0x11, 0])
    else:
        for cid, tq in ((1, 0), (2, 1), (3, 1)):
            sof += bytes([cid, 0x11, tq])
    out += b"\xff\xc0" + sof
    out += _dht_segment(0, 0, *K3_DC_LUMA)
    out += _dht_segment(1, 0, *K3_AC_LUMA)
    if not gray:
        out += _dht_segment(0, 1, *K3_DC_CHROMA)
        out += _dht_segment(1, 1, *K3_AC_CHROMA)
    sos = struct.pack(">HB", 6 + 2 * nc, nc)
    if gray:
        sos += bytes([1, 0x00])
    else:
        sos += bytes([1, 0x00, 2, 0x11, 3, 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + sos

    if gray:
        planes = [(img.astype(np.float64), qy, _huff_codes(*K3_DC_LUMA),
                   _huff_codes(*K3_AC_LUMA))]
    else:
        f = img.astype(np.float64)
        y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
        cb = -0.168736 * f[:, :, 0] - 0.331264 * f[:, :, 1] + 0.5 * f[:, :, 2] + 128
        cr = 0.5 * f[:, :, 0] - 0.418688 * f[:, :, 1] - 0.081312 * f[:, :, 2] + 128
        dcl, acl = _huff_codes(*K3_DC_LUMA), _huff_codes(*K3_AC_LUMA)
        dcc, acc = _huff_codes(*K3_DC_CHROMA), _huff_codes(*K3_AC_CHROMA)
        planes = [(y, qy, dcl, acl), (cb, qc, dcc, acc), (cr, qc, dcc, acc)]

    # pad each plane to multiples of 8 by edge replication
    padded = []
    for p, q, dc, ac in planes:
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        pp = np.zeros((ph, pw))
        pp[:h, :w] = p
        if pw > w:
            pp[:h, w:] = p[:, -1:]
        if ph > h:
            pp[h:, :] = pp[h - 1 : h, :]
        padded.append((pp, q, dc, ac))

    wtr = _BitWriter()
    preds = [0] * len(padded)
    ph, pw = padded[0][0].shape
    for my in range(ph // 8):
        for mx in range(pw // 8):
            for ci, (pp, q, dc, ac) in enumerate(padded):
                block = pp[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8]
                preds[ci] = _encode_block(wtr, block, q, dc, ac, preds[ci])
    out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(img, *, quality: int = 90) -> bytes:
    """(H, W) or (H, W, 3) uint8 → PROGRESSIVE JPEG bytes (SOF2,
    grayscale or 4:4:4 YCbCr, Annex-K tables). Scan script: DC first
    with one successive-approximation level (Ss=0 Se=0 Ah=0 Al=1,
    interleaved), AC spectral bands 1-5 and 6-63 per component
    (Al=0), then the DC refinement scan (Ah=1 Al=0) — so a decoder
    must get spectral selection, interleaved + single-component
    traversal, AND DC successive approximation right to reproduce the
    baseline pixels. Quantized coefficients are computed with the
    SAME arithmetic as :func:`encode_jpeg`, so decoding the
    progressive stream must yield an array IDENTICAL to decoding the
    baseline encoding of the same image (the roundtrip test and the
    flat-block DC oracle both lean on this). AC refinement scans are
    not emitted (the K3 tables carry no EOBn codes); the DECODER
    handles them and is pinned by hand-crafted streams in tests."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qy = _scale_qt(K1_LUMA_QT.reshape(8, 8), quality)
    qc = _scale_qt(K2_CHROMA_QT.reshape(8, 8), quality)
    out = bytearray(b"\xff\xd8")
    out += _qt_segment(0, qy)
    if not gray:
        out += _qt_segment(1, qc)
    nc = 1 if gray else 3
    sof = struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    if gray:
        sof += bytes([1, 0x11, 0])
    else:
        for cid, tq in ((1, 0), (2, 1), (3, 1)):
            sof += bytes([cid, 0x11, tq])
    out += b"\xff\xc2" + sof
    out += _dht_segment(0, 0, *K3_DC_LUMA)
    out += _dht_segment(1, 0, *K3_AC_LUMA)
    if not gray:
        out += _dht_segment(0, 1, *K3_DC_CHROMA)
        out += _dht_segment(1, 1, *K3_AC_CHROMA)

    if gray:
        comps = [(img.astype(np.float64), qy, 1, 0, 0)]
    else:
        f = img.astype(np.float64)
        y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
        cb = -0.168736 * f[:, :, 0] - 0.331264 * f[:, :, 1] + 0.5 * f[:, :, 2] + 128
        cr = 0.5 * f[:, :, 0] - 0.418688 * f[:, :, 1] - 0.081312 * f[:, :, 2] + 128
        comps = [(y, qy, 1, 0, 0), (cb, qc, 2, 1, 1), (cr, qc, 3, 1, 1)]

    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    nby, nbx = ph // 8, pw // 8
    zz_all = []
    for p, q, _cid, _dt, _at in comps:
        pp = np.zeros((ph, pw))
        pp[:h, :w] = p
        if pw > w:
            pp[:h, w:] = p[:, -1:]
        if ph > h:
            pp[h:, :] = pp[h - 1 : h, :]
        zz = np.zeros((nby, nbx, 64), dtype=np.int64)
        for by in range(nby):
            for bx in range(nbx):
                block = pp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                cf = np.round(
                    _fdct2(block.astype(np.float64) - 128.0) / q
                ).astype(np.int64)
                zz[by, bx] = cf.reshape(-1)[ZIGZAG]
        zz_all.append(zz)

    dc_codes = [_huff_codes(*(K3_DC_LUMA if t == 0 else K3_DC_CHROMA))
                for _p, _q, _c, t, _a in comps]
    ac_codes = [_huff_codes(*(K3_AC_LUMA if t == 0 else K3_AC_CHROMA))
                for _p, _q, _c, _d, t in comps]

    def sos(spec, ss, se, ah, al) -> bytes:
        body = bytes([len(spec)])
        for cid, dct, act in spec:
            body += bytes([cid, (dct << 4) | act])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    all_spec = [(c, d, a) for _p, _q, c, d, a in comps]

    # scan 1: DC first, Al=1, interleaved (4:4:4 MCU = block raster)
    wtr = _BitWriter()
    preds = [0] * len(comps)
    for by in range(nby):
        for bx in range(nbx):
            for ci in range(len(comps)):
                d = int(zz_all[ci][by, bx, 0]) >> 1
                diff = d - preds[ci]
                preds[ci] = d
                size, bits = _magnitude(diff)
                ln, code = dc_codes[ci][size]
                wtr.write(code, ln)
                if size:
                    wtr.write(bits, size)
    out += sos(all_spec, 0, 0, 0, 1) + wtr.flush()

    # scans 2..: AC spectral bands per component, Al=0
    def emit_band(wtr, band, ss, se, codes) -> None:
        nz = [k for k in range(ss, se + 1) if band[k] != 0]
        if not nz:
            ln, code = codes[0x00]
            wtr.write(code, ln)
            return
        run = 0
        for k in range(ss, nz[-1] + 1):
            v = int(band[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ln, code = codes[0xF0]
                wtr.write(code, ln)
                run -= 16
            size, bits = _magnitude(v)
            ln, code = codes[(run << 4) | size]
            wtr.write(code, ln)
            wtr.write(bits, size)
            run = 0
        if nz[-1] < se:
            ln, code = codes[0x00]
            wtr.write(code, ln)

    for ci in range(len(comps)):
        for ss, se in ((1, 5), (6, 63)):
            wtr = _BitWriter()
            for by in range(nby):
                for bx in range(nbx):
                    emit_band(wtr, zz_all[ci][by, bx], ss, se, ac_codes[ci])
            out += sos([all_spec[ci]], ss, se, 0, 0) + wtr.flush()

    # final scan: DC refinement (Ah=1, Al=0): raw bit 0 per block
    wtr = _BitWriter()
    for by in range(nby):
        for bx in range(nbx):
            for ci in range(len(comps)):
                wtr.write(int(zz_all[ci][by, bx, 0]) & 1, 1)
    out += sos(all_spec, 0, 0, 1, 0) + wtr.flush()

    out += b"\xff\xd9"
    return bytes(out)
