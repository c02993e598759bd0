"""ALAC codec units (operators/alac.py, r11): entropy-coder and
predictor roundtrips, zero-run/escape liveness, container walk,
hostile-input refusals."""

from __future__ import annotations

import hashlib
import random

import pytest

from hadoopxmlextractor_spark.operators import alac as A
from hadoopxmlextractor_spark.operators.bitio import BitReader, BitWriter


def _br(data: bytes) -> BitReader:
    return BitReader(data, 0, "ALAC bitstream overrun")


CFG2 = {
    "frame_length": 64, "bit_depth": 16, "pb": A.PB0, "mb": A.MB0,
    "kb": A.KB0, "channels": 2, "sample_rate": 44100,
}
CFG1 = dict(CFG2, channels=1)


def _roundtrip(chans, arms, cfg, **kw):
    pkt = A.encode_alac_packet(chans, cfg, arms, **kw)
    assert A.decode_alac_packet(pkt, cfg) == chans
    return pkt


def test_entropy_coder_roundtrip_and_zero_run_compression():
    rng = random.Random(3)
    for vals in (
        [rng.randint(-40, 40) for _ in range(200)],
        [rng.randint(-32768, 32767) for _ in range(100)],  # escapes
        [5, -3, 0, 0, 1] + [0] * 120 + [7],  # long zero run
        [0] * 64,
        [32767, -32768] * 10,
    ):
        bw = BitWriter()
        A._dyn_comp(bw, vals, 17, A.MB0, A.PB0, A.KB0)
        bw.align()
        br = _br(bw.tobytes())
        assert A._dyn_decomp(br, len(vals), 17, A.MB0, A.PB0, A.KB0) == vals
    # the zero-run coder is LIVE: a silence tail must cost almost
    # nothing vs coding each zero individually
    bw = BitWriter()
    A._dyn_comp(bw, [9, -9] + [0] * 500, 17, A.MB0, A.PB0, A.KB0)
    bw.align()
    assert len(bw.tobytes()) < 20  # run-coded, not 500 symbols


def test_entropy_escape_path_is_live():
    # a value far above the adapted mean forces the 9-ones escape
    bw = BitWriter()
    A._dyn_comp(bw, [1, 1, 30000], 16, A.MB0, A.PB0, A.KB0)
    bw.align()
    data = bw.tobytes()
    # 9 consecutive 1 bits appear somewhere (the escape prefix)
    bits = "".join(f"{b:08b}" for b in data)
    assert "1" * 9 in bits
    br = _br(data)
    assert A._dyn_decomp(br, 3, 16, A.MB0, A.PB0, A.KB0) == [1, 1, 30000]


def test_predictor_roundtrip_orders_and_adaptation():
    rng = random.Random(11)
    ramp = [100 + 7 * k for k in range(80)]
    noisy = [rng.randint(-300, 300) for _ in range(80)]
    for sig, coefs, den in (
        (ramp, [24, -8], 4),
        (noisy, [16], 4),
        (ramp, [31, -12, 5, -2], 5),
        (noisy, [], 0),
    ):
        r = A._pc_block(sig, list(coefs), 17, den)
        assert A._unpc_block(r, list(coefs), 17, den) == sig
    # order-31 first difference
    r = A._pc_block(ramp, [0] * 31, 17, 0)
    assert A._unpc_block(r, [0] * 31, 17, 0) == ramp


def test_packet_arms_roundtrip():
    rng = random.Random(5)
    L = [rng.randint(-32768, 32767) for _ in range(64)]
    R = [rng.randint(-32768, 32767) for _ in range(64)]
    _roundtrip([L, R], [], CFG2, escape=True)
    arms0 = [
        {"denshift": 0, "coefs": [], "pbf": 4, "mix_bits": 0, "mix_res": 0},
        {"denshift": 0, "coefs": [], "pbf": 4},
    ]
    _roundtrip([L, R], arms0, CFG2)
    # matrixed with every legal mixRes
    Ls = [1000 + 3 * k for k in range(64)]
    Rs = [-500 + 2 * k for k in range(64)]
    for mr in (1, 2, 3):
        arms = [
            {"denshift": 4, "coefs": [24, -8], "pbf": 4,
             "mix_bits": 2, "mix_res": mr},
            {"denshift": 4, "coefs": [16, 0], "pbf": 4},
        ]
        _roundtrip([Ls, Rs], arms, CFG2)
    # mode>0 prepass, mono, partial
    armm = [{"denshift": 4, "coefs": [16], "pbf": 4, "mode": 1,
             "mix_bits": 0, "mix_res": 0}]
    _roundtrip([Ls], armm, CFG1)
    _roundtrip([Ls[:24], Rs[:24]], arms0, CFG2, partial=True)


def test_synth_decode_exact_and_arms_live():
    monos = partials = escapes = matrixed = 0
    for i in range(48):
        b = hashlib.md5(f"{i}:alac".encode()).digest()
        d = A.decode_alac(A._synth_alac_doc(i))
        nf = 2 + b[0] % 2
        partial = b[5] % 2 == 1
        frames = [(f, 64) for f in range(nf)]
        if partial:
            frames.append((nf, 24 + b[5] % 16))
        mono = i % 5 == 4
        for ch in range(1 if mono else 2):
            exp = []
            for f, n in frames:
                exp.extend(
                    A._alac_samples(i, f, ch, (b[2] + f + ch) % 4, n, b)
                )
            assert d["samples"][ch] == exp
        monos += mono
        partials += partial
        escapes += any((b[1] + f) % 4 == 0 for f, _ in frames)
        matrixed += (not mono) and any(
            (b[1] + f) % 4 in (1, 3) for f, _ in frames
        )
    assert monos and partials and escapes and matrixed


def test_hostile_inputs_refuse():
    cfg = CFG2
    pkt = A.encode_alac_packet([[1] * 64, [2] * 64], cfg, [], escape=True)
    # unknown element tag
    bad = bytes([0b001_00000]) + pkt[1:]
    with pytest.raises(ValueError, match="element tag"):
        A.decode_alac_packet(bad, cfg)
    # unused header bits set
    bad = bytearray(pkt)
    bad[0] |= 1  # byte 0's last bit is the first of the 12 unused bits
    with pytest.raises(ValueError, match="unused"):
        A.decode_alac_packet(bytes(bad), cfg)
    # channel count mismatch (mono packet, stereo config)
    mono_pkt = A.encode_alac_packet([[1] * 64], CFG1, [], escape=True)
    with pytest.raises(ValueError, match="channel count"):
        A.decode_alac_packet(mono_pkt, cfg)
    # truncated stream
    with pytest.raises(ValueError, match="overrun"):
        A.decode_alac_packet(pkt[: len(pkt) // 2], cfg)
    # container: stsz past mdat
    blob = bytearray(A.build_alac_m4a(cfg, [pkt]))
    stsz_at = bytes(blob).index(b"stsz")
    import struct as S

    blob[stsz_at + 16 : stsz_at + 20] = S.pack(">I", 1 << 20)  # size[0]
    with pytest.raises(ValueError, match="past mdat"):
        A.decode_alac(bytes(blob))
    # hostile count past the box end
    blob = bytearray(A.build_alac_m4a(cfg, [pkt]))
    blob[stsz_at + 12 : stsz_at + 16] = S.pack(">I", 1 << 20)
    with pytest.raises(ValueError, match="past box end"):
        A.decode_alac(bytes(blob))
    # cookie version must be 0
    blob = bytearray(A.build_alac_m4a(cfg, [pkt]))
    cookie_at = bytes(blob).index(b"alac", bytes(blob).index(b"alac") + 4)
    blob[cookie_at + 12] = 9  # version byte of ALACSpecificConfig
    with pytest.raises(ValueError, match="cookie version"):
        A.decode_alac(bytes(blob))


def test_m4a_walk_multi_packet_and_cookie_fields():
    cfg = dict(CFG2, sample_rate=48000)
    pkts = [
        A.encode_alac_packet([[k] * 64, [-k] * 64], cfg, [], escape=True)
        for k in range(1, 4)
    ]
    d = A.decode_alac(A.build_alac_m4a(cfg, pkts))
    assert d["sample_rate"] == 48000
    assert d["n_packets"] == 3 and d["channels"] == 2
    assert d["samples"][0] == [1] * 64 + [2] * 64 + [3] * 64
    assert d["samples"][1] == [-1] * 64 + [-2] * 64 + [-3] * 64


def test_bytes_shifted_24bit_roundtrip_and_synth():
    import random

    rng = random.Random(13)
    cfg = dict(CFG2, bit_depth=24)
    L = [rng.randint(-(1 << 23), (1 << 23) - 1) for _ in range(64)]
    R = [rng.randint(-(1 << 23), (1 << 23) - 1) for _ in range(64)]
    arms0 = [
        {"denshift": 0, "coefs": [], "pbf": 4, "mix_bits": 0, "mix_res": 0},
        {"denshift": 0, "coefs": [], "pbf": 4},
    ]
    pkt = A.encode_alac_packet([L, R], cfg, arms0, bytes_shifted=1)
    assert A.decode_alac_packet(pkt, cfg) == [L, R]
    # matrixed + shifted: lows ride the shift buffer, highs matrix
    Ls = [(1000 + 3 * k) * 256 + (k * 37) % 256 for k in range(64)]
    Rs = [(-500 + 2 * k) * 256 + (k * 11) % 256 for k in range(64)]
    arms = [
        {"denshift": 4, "coefs": [24, -8], "pbf": 4,
         "mix_bits": 2, "mix_res": 2},
        {"denshift": 4, "coefs": [16, 0], "pbf": 4},
    ]
    pkt = A.encode_alac_packet([Ls, Rs], cfg, arms, bytes_shifted=1)
    assert A.decode_alac_packet(pkt, cfg) == [Ls, Rs]
    # a corrupted low byte in the shift buffer flips EXACTLY one
    # sample's low bits (locates the buffer between params and
    # residuals — a misplaced read would break many samples)
    got = A.decode_alac_packet(pkt, cfg)
    assert got == [Ls, Rs]
    # hires synth fixtures decode exactly, mono + escape arms live
    import hashlib

    monos = escapes = 0
    for i in range(24):
        b = hashlib.md5(f"{i}:a24".encode()).digest()
        d = A.decode_alac(A._synth_alac_hires_doc(i))
        mono = i % 4 == 3
        monos += mono
        escapes += any((b[1] + f) % 3 == 0 for f in range(2 + b[0] % 2))
        for ch in range(1 if mono else 2):
            exp = []
            for f in range(2 + b[0] % 2):
                exp.extend(
                    A._alac_hires_samples(i, f, ch, (b[2] + f + ch) % 3, b)
                )
            assert d["samples"][ch] == exp
    assert monos and escapes


def test_dyn_coder_fast_matches_reference():
    """r15 opt firewall: the codec's inlined `_dyn_comp`/`_dyn_decomp`
    must be bit-/value-identical to the reference forms composed of
    the shared state-update helpers, across a seeded battery that
    exercises escapes, the zero-run coder, and truncated streams."""
    import random

    rng = random.Random(7)
    cases = 0
    for trial in range(1500):
        kb = rng.choice([10, 14, 3, 5])
        pb = rng.choice([40, 16, 255])
        mb0 = rng.choice([10, 1, 255])
        num = rng.randrange(1, 80)
        maxsz = rng.choice([17, 20, 32])
        style = trial % 4
        if style == 0:
            vals = [rng.randrange(-3, 4) for _ in range(num)]
        elif style == 1:
            vals = [0] * num
            for _ in range(num // 8 + 1):
                vals[rng.randrange(num)] = rng.randrange(-2, 3)
        elif style == 2:
            vals = [rng.randrange(-(1 << 14), 1 << 14) for _ in range(num)]
        else:
            vals = [
                rng.choice([0, 0, 0, rng.randrange(-(1 << 15), 1 << 15)])
                for _ in range(num)
            ]
        b_ref, b_fast = BitWriter(), BitWriter()
        e_ref = e_fast = None
        try:
            A._dyn_comp_ref(b_ref, vals, maxsz, mb0, pb, kb)
        except ValueError as e:
            e_ref = str(e)
        try:
            A._dyn_comp(b_fast, vals, maxsz, mb0, pb, kb)
        except ValueError as e:
            e_fast = str(e)
        assert e_ref == e_fast
        if e_ref is not None:
            continue
        b_ref.align(), b_fast.align()
        assert b_ref.tobytes() == b_fast.tobytes()
        data = b_ref.tobytes()
        r_ref, r_fast = _br(data), _br(data)
        v_ref = A._dyn_decomp_ref(r_ref, num, maxsz, mb0, pb, kb)
        v_fast = A._dyn_decomp(r_fast, num, maxsz, mb0, pb, kb)
        assert v_ref == v_fast == vals
        assert r_ref.pos == r_fast.pos
        # truncated stream: identical refusal/result
        cut = data[: rng.randrange(0, max(1, len(data) - 1))]
        o_ref = o_fast = x_ref = x_fast = None
        try:
            o_ref = A._dyn_decomp_ref(_br(cut), num, maxsz, mb0, pb, kb)
        except ValueError as e:
            x_ref = str(e)
        try:
            o_fast = A._dyn_decomp(_br(cut), num, maxsz, mb0, pb, kb)
        except ValueError as e:
            x_fast = str(e)
        assert o_ref == o_fast and x_ref == x_fast
        cases += 1
    assert cases > 1200
