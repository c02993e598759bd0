"""Second-decoder cross-validation for ALAC (the FLAC r11 pattern).

No external ALAC decoder exists in this environment (ledgered in
BENCH_NOTES_r11.md), and operators/alac.py deliberately SHARES its
adaptation code between encoder and decoder — which guarantees
internal consistency but means a bug in a shared expression would be
invisible to roundtrip tests. This decoder re-implements the packet
walk with a DIFFERENT structure: integer-cursor bit access over one
big int (no shared BitReader), iterative Golomb decode with explicit bit windows,
matrix reconstruction in a single expression, and NO imports from the
shared entropy/predictor helpers. Agreement on every synth fixture
bounds the implementation-level mirror risk (the spec-level risk —
one author's reading of the public format — is ledgered)."""

from __future__ import annotations

import hashlib

from hadoopxmlextractor_spark.operators import alac as A
from hadoopxmlextractor_spark.operators.bitio import BitReader, BitWriter


def _br(data: bytes) -> BitReader:
    return BitReader(data, 0, "ALAC bitstream overrun")


QB = 512


def _xval_packet(data: bytes, cfg: dict):
    big = int.from_bytes(data, "big")
    nbits = len(data) * 8
    pos = 0

    def bits(n):
        nonlocal pos
        if pos + n > nbits:
            raise ValueError("xval overrun")
        v = (big >> (nbits - pos - n)) & ((1 << n) - 1) if n else 0
        pos += n
        return v

    def sbits(n):
        v = bits(n)
        return v - (1 << n) if v >> (n - 1) else v

    def golomb(m, k, esc_bits):
        nonlocal pos
        pre = 0
        while pre < 9 and (big >> (nbits - pos - 1)) & 1:
            pre += 1
            pos += 1
        if pre == 9:
            return bits(esc_bits)
        pos += 1  # terminator zero
        if k == 0:
            return pre * m
        # peek k bits (zero-padded at stream end)
        avail = min(k, nbits - pos)
        v = ((big >> (nbits - pos - avail)) & ((1 << avail) - 1)) << (
            k - avail
        )
        if v < 2:
            pos += k - 1
            return pre * m
        pos += k
        return pre * m + v - 1

    def residuals(num, chanbits, pb):
        out = []
        mean = cfg["mb"] * QB
        zrun_next = False
        while len(out) < num:
            m = mean // QB
            k = min(len(bin(m + 3)) - 3, cfg["kb"])  # floor(log2(m+3))
            n = golomb((1 << k) - 1, k, chanbits)
            nd = n + (1 if zrun_next else 0)
            out.append((nd + 1) // 2 if nd % 2 == 0 else -((nd + 1) // 2))
            mean = pb * nd + mean - (pb * mean) // QB
            if nd > 0xFFFF:
                mean = 0xFFFF
            zrun_next = False
            if mean * 4 < QB and len(out) < num:
                kz = (32 - mean.bit_length()) - 24 + (mean + 16) // 64
                mz = max(((1 << kz) - 1) & ((1 << cfg["kb"]) - 1), 1)
                run = golomb(mz, kz, 16)
                out += [0] * run
                zrun_next = run < 0xFFFF
                mean = 0
        return out

    def lpc(res, coefs, chanbits, den):
        cs = list(coefs)
        nact = len(cs)
        if nact == 0:
            return list(res)
        width = 1 << chanbits
        half = width >> 1

        def wrap(x):
            x &= width - 1
            return x - width if x >= half else x

        out = [res[0]]
        if nact == 31:
            for r in res[1:]:
                out.append(wrap(out[-1] + r))
            return out
        for j in range(1, min(nact + 1, len(res))):
            out.append(wrap(out[-1] + res[j]))
        dh = (1 << (den - 1)) if den else 0
        for j in range(nact + 1, len(res)):
            anchor = out[j - nact - 1]
            acc = sum(c * (out[j - 1 - t] - anchor)
                      for t, c in enumerate(cs))
            out.append(wrap(res[j] + anchor + ((acc + dh) >> den)))
            # sign adaptation (same rule, different loop shape)
            e = res[j]
            s = (e > 0) - (e < 0)
            if s:
                rem = e
                for t in reversed(range(nact)):
                    d = anchor - out[j - 1 - t]
                    sg = (d > 0) - (d < 0)
                    cs[t] -= s * sg
                    rem -= s * (nact - t) * ((sg * d) >> den)
                    if s * rem <= 0:
                        break
        return out

    chans = []
    while True:
        tag = bits(3)
        if tag == 7:
            break
        assert tag in (0, 3)
        stereo = tag == 3
        bits(4)
        assert bits(12) == 0
        hb = bits(4)
        partial, shifted, esc = hb >> 3, (hb >> 1) & 3, hb & 1
        num = bits(32) if partial else cfg["frame_length"]
        depth = cfg["bit_depth"]
        if esc:
            if stereo:
                pair = [sbits(depth) for _ in range(2 * num)]
                chans += [pair[0::2], pair[1::2]]
            else:
                chans.append([sbits(depth) for _ in range(num)])
            continue
        sh = shifted * 8
        cb = depth - sh + (1 if stereo else 0)
        mixb = bits(8)
        mixr = sbits(8)
        params = []
        for _ in range(2 if stereo else 1):
            h1, h2 = bits(8), bits(8)
            params.append((h1 >> 4, h1 & 15, h2 >> 5,
                           [sbits(16) for _ in range(h2 & 31)]))
        lows = None
        if sh:
            lows = [bits(sh) for _ in range(num * (2 if stereo else 1))]
        planes = []
        for mode, den, pbf, coefs in params:
            res = residuals(num, cb, (cfg["pb"] * pbf) >> 2)
            if mode:
                res = lpc(res, [0] * 31, cb, 0)
            planes.append(lpc(res, coefs, cb, den))
        if stereo:
            u, v = planes
            if mixr:
                out_pair = [
                    (u[i] + v[i] - ((mixr * v[i]) >> mixb),
                     u[i] - ((mixr * v[i]) >> mixb))
                    for i in range(num)
                ]
                l_ = [p[0] for p in out_pair]
                r_ = [p[1] for p in out_pair]
            else:
                l_, r_ = u, v
            if sh:
                l_ = [(x << sh) | lows[2 * i] for i, x in enumerate(l_)]
                r_ = [(x << sh) | lows[2 * i + 1] for i, x in enumerate(r_)]
            chans += [l_, r_]
        else:
            mono = planes[0]
            if sh:
                mono = [(x << sh) | lows[i] for i, x in enumerate(mono)]
            chans.append(mono)
    return chans


def _xval_m4a(blob: bytes):
    d = A.decode_alac(blob)  # container walk reused; codec is the x-check
    import struct

    # re-frame the mdat independently via stsz
    stsz_at = blob.index(b"stsz")
    _vf, fixed, count = struct.unpack(
        ">III", blob[stsz_at + 4 : stsz_at + 16]
    )
    sizes = [
        struct.unpack(">I", blob[stsz_at + 16 + 4 * i: stsz_at + 20 + 4 * i])[0]
        for i in range(count)
    ]
    cookie_at = blob.index(b"alac", blob.index(b"alac") + 4)
    cfg = A.parse_alac_cookie(blob[cookie_at + 8 : cookie_at + 32])
    mdat_at = blob.index(b"mdat") + 4
    chans = [[] for _ in range(cfg["channels"])]
    pos = mdat_at
    for sz in sizes:
        got = _xval_packet(blob[pos : pos + sz], cfg)
        for c, vals in enumerate(got):
            chans[c].extend(vals)
        pos += sz
    return chans, d


def test_alac_second_decoder_agrees_on_both_fixture_families():
    for synth in (A._synth_alac_doc, A._synth_alac_hires_doc):
        for i in range(40):
            blob = synth(i)
            xval, primary = _xval_m4a(blob)
            assert xval == primary["samples"], (synth.__name__, i)


def test_alac_second_decoder_golomb_unit_vectors():
    """Direct entropy-coder agreement on crafted value sets (zero
    runs, escapes, alternating extremes) without any packet framing."""
    import random

    rng = random.Random(21)
    for vals in (
        [3, -1] + [0] * 300 + [5],
        [rng.randint(-32768, 32767) for _ in range(128)],
        [0] * 200,
        [1] * 50 + [0] * 50 + [-1] * 50,
    ):
        bw = BitWriter()
        A._dyn_comp(bw, vals, 17, A.MB0, A.PB0, A.KB0)
        bw.align()
        data = bw.tobytes()
        # primary decode
        assert A._dyn_decomp(_br(data), len(vals), 17,
                             A.MB0, A.PB0, A.KB0) == vals
        # independent decode of the same bits via the xval machinery:
        # wrap as a fake mono residual-only walk
        big = int.from_bytes(data, "big")
        nbits = len(data) * 8
        pos = 0

        def bits(n):
            nonlocal pos
            v = (big >> (nbits - pos - n)) & ((1 << n) - 1) if n else 0
            pos += n
            return v

        out = []
        mean = A.MB0 * 512
        zn = False
        while len(out) < len(vals):
            m = mean // 512
            k = min(len(bin(m + 3)) - 3, A.KB0)
            pre = 0
            while pre < 9 and (big >> (nbits - pos - 1)) & 1:
                pre += 1
                pos += 1
            if pre == 9:
                n = bits(17)
            else:
                pos += 1
                mm = (1 << k) - 1
                avail = min(k, nbits - pos)
                v = ((big >> (nbits - pos - avail))
                     & ((1 << avail) - 1)) << (k - avail)
                if v < 2:
                    pos += k - 1
                    n = pre * mm
                else:
                    pos += k
                    n = pre * mm + v - 1
            nd = n + (1 if zn else 0)
            out.append((nd + 1) // 2 if nd % 2 == 0 else -((nd + 1) // 2))
            mean = A.PB0 * nd + mean - (A.PB0 * mean) // 512
            if nd > 0xFFFF:
                mean = 0xFFFF
            zn = False
            if mean * 4 < 512 and len(out) < len(vals):
                kz = (32 - mean.bit_length()) - 24 + (mean + 16) // 64
                mz = max(((1 << kz) - 1) & ((1 << A.KB0) - 1), 1)
                pre = 0
                while pre < 9 and (big >> (nbits - pos - 1)) & 1:
                    pre += 1
                    pos += 1
                if pre == 9:
                    run = bits(16)
                else:
                    pos += 1
                    avail = min(kz, nbits - pos)
                    v = ((big >> (nbits - pos - avail))
                         & ((1 << avail) - 1)) << (kz - avail)
                    if v < 2:
                        pos += kz - 1
                        run = pre * mz
                    else:
                        pos += kz
                        run = pre * mz + v - 1
                out += [0] * run
                zn = run < 0xFFFF
                mean = 0
        assert out == vals
