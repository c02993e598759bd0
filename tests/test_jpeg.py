"""Native baseline JPEG codec (operators/jpeg.py): the correctness
battery pins the decoder three independent ways — flat-block DC
exactness, coefficient injection vs an independent IDCT, and
hand-built streams for restart markers and 4:2:0 subsampling —
because a lossy codec cannot be proven by roundtrip alone (a
matched-bug encoder/decoder pair would hide errors)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from hadoopxmlextractor_spark.operators.jpeg import (
    K1_LUMA_QT,
    K2_CHROMA_QT,
    K3_AC_CHROMA,
    K3_AC_LUMA,
    K3_DC_CHROMA,
    K3_DC_LUMA,
    ZIGZAG,
    _BitWriter,
    _check_carried,
    _dht_segment,
    _huff_codes,
    _idct2,
    _magnitude,
    _qt_segment,
    _scale_qt,
    decode_jpeg,
    encode_jpeg,
)


def _gray_headers(w: int, h: int, q) -> bytearray:
    out = bytearray(b"\xff\xd8")
    out += _qt_segment(0, q)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + bytes(
        [1, 0x11, 0]
    )
    out += _dht_segment(0, 0, *K3_DC_LUMA)
    out += _dht_segment(1, 0, *K3_AC_LUMA)
    return out


def _write_block(w, zz_coef, dc, ac):
    size, bits = _magnitude(int(zz_coef[0]))
    ln, code = dc[size]
    w.write(code, ln)
    if size:
        w.write(bits, size)
    run = 0
    last = max((i for i in range(1, 64) if zz_coef[i] != 0), default=0)
    for k in range(1, last + 1):
        v = int(zz_coef[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac[0xF0]
            w.write(code, ln)
            run -= 16
        size, bits = _magnitude(v)
        ln, code = ac[(run << 4) | size]
        w.write(code, ln)
        w.write(bits, size)
        run = 0
    if last < 63:
        ln, code = ac[0x00]
        w.write(code, ln)


def test_jpeg_roundtrip_flat_gradient_noise_and_refusals():
    rng = np.random.RandomState(7)
    for v in (0, 7, 128, 200, 255):
        img = np.full((16, 24), v, dtype=np.uint8)
        back = decode_jpeg(encode_jpeg(img, quality=90))
        assert back is not None
        assert np.abs(back[:, :, 0].astype(int) - int(v)).max() <= 1
    x = np.linspace(0, 255, 32)
    img = np.stack(
        np.meshgrid(x, x)[0:2] + [np.full((32, 32), 100.0)], axis=2
    ).astype(np.uint8)
    back = decode_jpeg(encode_jpeg(img, quality=95))
    assert np.abs(back.astype(int) - img.astype(int)).max() <= 14
    img = rng.randint(0, 256, size=(13, 19), dtype=np.uint8)
    assert decode_jpeg(encode_jpeg(img, quality=90)).shape == (13, 19, 3)
    assert decode_jpeg(b"\xff\xd8junk") is None
    assert decode_jpeg(b"not jpeg") is None
    # progressive (SOF2) refuses to the PIL plug-in point
    blob = bytearray(encode_jpeg(np.full((8, 8), 90, dtype=np.uint8)))
    sof_at = blob.index(b"\xff\xc0")
    blob[sof_at + 1] = 0xC2
    assert decode_jpeg(bytes(blob)) is None


def test_jpeg_coefficient_injection_matches_independent_idct():
    """Entropy stream built directly from CHOSEN quantized
    coefficients must decode to the IDCT computed independently here —
    pins huffman decode, run/length/ZRL/EOB handling, de-zigzag,
    dequantization, and the IDCT without trusting the encoder."""
    q = _scale_qt(K1_LUMA_QT.reshape(8, 8), 90)
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = 37
    for pos, val in [(1, -5), (3, 9), (10, -2), (20, 3), (35, 1), (63, -1)]:
        zz[pos] = val
    out = _gray_headers(8, 8, q)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0, 0, 63, 0])
    w = _BitWriter()
    _write_block(w, zz, _huff_codes(*K3_DC_LUMA), _huff_codes(*K3_AC_LUMA))
    out += w.flush() + b"\xff\xd9"
    got = decode_jpeg(bytes(out))
    ref_block = np.zeros(64, dtype=np.int64)
    ref_block[ZIGZAG] = zz
    ref = _idct2((ref_block.reshape(8, 8) * q).astype(float)) + 128.0
    ref = np.clip(np.round(ref), 0, 255).astype(np.uint8)
    assert got is not None and np.array_equal(got[:, :, 0], ref)


def test_jpeg_restart_markers_reset_dc_prediction():
    q = _scale_qt(K1_LUMA_QT.reshape(8, 8), 90)
    out = _gray_headers(16, 8, q)
    out += b"\xff\xdd" + struct.pack(">HH", 4, 1)  # DRI = 1 MCU
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0, 0, 63, 0])
    dc, ac = _huff_codes(*K3_DC_LUMA), _huff_codes(*K3_AC_LUMA)

    def mcu(dcval):
        w = _BitWriter()
        z = np.zeros(64, dtype=np.int64)
        z[0] = dcval
        _write_block(w, z, dc, ac)
        return w.flush()

    out += mcu(10) + b"\xff\xd0" + mcu(-20) + b"\xff\xd9"
    got = decode_jpeg(bytes(out))
    b0 = int(np.round(np.clip(10 * q[0, 0] / 8.0 + 128, 0, 255)))
    b1 = int(np.round(np.clip(-20 * q[0, 0] / 8.0 + 128, 0, 255)))
    assert got is not None
    assert got[0, 0, 0] == b0 and got[0, 8, 0] == b1  # reset, not 10-20


def test_jpeg_420_subsampled_decode():
    qy = _scale_qt(K1_LUMA_QT.reshape(8, 8), 90)
    qc = _scale_qt(K2_CHROMA_QT.reshape(8, 8), 90)
    out = bytearray(b"\xff\xd8")
    out += _qt_segment(0, qy) + _qt_segment(1, qc)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 16, 16, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    out += _dht_segment(0, 0, *K3_DC_LUMA) + _dht_segment(1, 0, *K3_AC_LUMA)
    out += _dht_segment(0, 1, *K3_DC_CHROMA) + _dht_segment(
        1, 1, *K3_AC_CHROMA
    )
    out += b"\xff\xda" + struct.pack(">HB", 12, 3) + bytes(
        [1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]
    )
    dc, ac = _huff_codes(*K3_DC_LUMA), _huff_codes(*K3_AC_LUMA)
    dcc, acc = _huff_codes(*K3_DC_CHROMA), _huff_codes(*K3_AC_CHROMA)
    w = _BitWriter()

    def put(cdc, cac, dcval):
        z = np.zeros(64, dtype=np.int64)
        z[0] = dcval
        _write_block(w, z, cdc, cac)

    put(dc, ac, 16)
    for _ in range(3):
        put(dc, ac, 0)  # 4 Y blocks, same DC via zero diffs
    put(dcc, acc, 0)  # Cb neutral
    put(dcc, acc, 0)  # Cr neutral
    out += w.flush() + b"\xff\xd9"
    got = decode_jpeg(bytes(out))
    yv = int(np.round(np.clip(16 * qy[0, 0] / 8.0 + 128, 0, 255)))
    assert got is not None and got.shape == (16, 16, 3)
    assert np.all(got == yv)


def test_jpeg_flat_block_dc_formula_and_feature_path(spark):
    """The exact-oracle identity the registry query leans on, checked
    for EVERY byte value 0..255 driver-side, plus the Spark feature
    path decoding real JPEG media (non-null features)."""
    from hadoopxmlextractor_spark.operators.multimodal import (
        extract_media_features,
        synth_jpeg_blocks_media,
    )

    for v in range(256):
        img = np.full((8, 8), v, dtype=np.uint8)
        got = int(decode_jpeg(encode_jpeg(img, quality=90))[0, 0, 0])
        c = v - 128
        expect = int(
            min(255, max(0, np.round(3 * np.round(8.0 * c / 3) / 8.0 + 128)))
        )
        assert got == expect, (v, got, expect)

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    feats = extract_media_features(
        synth_jpeg_blocks_media(docs), decode="real"
    ).collect()
    assert len(feats) == 8 and all(r.feature is not None for r in feats)


def test_jpeg_fill_bytes_tem_marker_and_multiscan_refusal():
    """T.81 conformance corners from the r6 advice: (a) 0xFF fill
    bytes before a marker and a standalone TEM (0x01) marker in the
    header must not derail the segment walk; (b) a baseline file whose
    SOS covers fewer components than the frame (non-interleaved
    multi-scan) must refuse to None instead of silently returning
    zero-filled chroma planes."""
    img = np.arange(64, dtype=np.uint8).reshape(8, 8) * 3
    blob = encode_jpeg(img, quality=90)
    ref = decode_jpeg(blob)

    # (a) insert fill bytes before SOF and a TEM marker after SOI
    sof_at = blob.index(b"\xff\xc0")
    padded = (
        blob[:2] + b"\xff\x01"  # TEM: standalone, no length
        + blob[2:sof_at] + b"\xff\xff\xff"  # fill bytes, then \xff\xc0
        + blob[sof_at:]
    )
    got = decode_jpeg(padded)
    assert got is not None and np.array_equal(got, ref)

    # (b) color frame, SOS listing only component 1
    color = encode_jpeg(
        np.dstack([img, img, img]).astype(np.uint8), quality=90
    )
    sos_at = color.index(b"\xff\xda")
    (sos_len,) = struct.unpack(">H", color[sos_at + 2 : sos_at + 4])
    one_comp_sos = (
        b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    )
    hacked = color[:sos_at] + one_comp_sos + color[sos_at + 2 + sos_len :]
    assert decode_jpeg(hacked) is None


def test_progressive_decodes_identical_to_baseline():
    """Spectral selection + DC successive approximation (r6 verdict
    item 3): the progressive encoder writes the SAME quantized
    coefficients as the baseline encoder, so decode(progressive) must
    be ARRAY-IDENTICAL to decode(baseline) — gray, color, odd sizes."""
    from hadoopxmlextractor_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(3)
    for shape in [(16, 16), (13, 19), (8, 8), (32, 24, 3), (11, 7, 3)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        for q in (85, 95):
            b = decode_jpeg(encode_jpeg(img, quality=q))
            p = decode_jpeg(encode_jpeg_progressive(img, quality=q))
            assert p is not None and np.array_equal(b, p), (shape, q)


def test_progressive_ac_refinement_hand_crafted_stream():
    """AC successive-approximation refinement (the path the encoder
    doesn't emit): a hand-built 3-scan stream — AC first at Al=1,
    then an Ah=1→Al=0 refinement carrying correction bits for
    already-nonzero coefficients, newly-significant ±1s, and an EOB
    run — must reconstruct exactly the chosen coefficients (verified
    against an independent IDCT)."""
    from hadoopxmlextractor_spark.operators.jpeg import (
        ZIGZAG,
        _huff_codes,
        _idct2,
    )
    from hadoopxmlextractor_spark.operators.jpeg import _BitWriter

    dc_codes = _huff_codes(*K3_DC_LUMA)
    ac_codes = _huff_codes(*K3_AC_LUMA)

    # headers: 8x8 grayscale SOF2, all-ones quant table
    out = bytearray(b"\xff\xd8")
    out += _qt_segment(0, np.ones((8, 8), dtype=np.int64))
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes(
        [1, 0x11, 0]
    )
    out += _dht_segment(0, 0, *K3_DC_LUMA)
    out += _dht_segment(1, 0, *K3_AC_LUMA)

    def sos(ss, se, ah, al):
        return b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes(
            [1, 0x00, ss, se, (ah << 4) | al]
        )

    # target zigzag coefficients: dc=11, k1=5, k2=-3, k5=1, k7=-1
    # scan 1: DC first Al=1 -> diff = 11>>1 = 5
    w = _BitWriter()
    size, bits = _magnitude(5)
    ln, code = dc_codes[size]
    w.write(code, ln)
    w.write(bits, size)
    out += sos(0, 0, 0, 1) + w.flush()

    # scan 2: AC first Ss=1 Se=63 Al=1 -> values [2, -1], EOB
    w = _BitWriter()
    for v in (2, -1):
        size, bits = _magnitude(v)
        ln, code = ac_codes[size]  # run 0
        w.write(code, ln)
        w.write(bits, size)
    ln, code = ac_codes[0x00]
    w.write(code, ln)
    out += sos(1, 63, 0, 1) + w.flush()

    # scan 3: AC refine Ah=1 Al=0 (jcphuff emission order):
    #   (r=2, s=1) + sign 1 + correction bits [1, 1]  -> k5 = +1
    #   (r=1, s=1) + sign 0                           -> k7 = -1
    #   EOB (eobrun = 1 covers the band tail)
    w = _BitWriter()
    ln, code = ac_codes[0x21]
    w.write(code, ln)
    w.write(1, 1)  # sign of new +1
    w.write(1, 1)  # correction: k1 4 -> 5
    w.write(1, 1)  # correction: k2 -2 -> -3
    ln, code = ac_codes[0x11]
    w.write(code, ln)
    w.write(0, 1)  # sign of new -1
    ln, code = ac_codes[0x00]
    w.write(code, ln)
    out += sos(1, 63, 1, 0) + w.flush()

    # scan 4: DC refine -> bit 11 & 1
    w = _BitWriter()
    w.write(1, 1)
    out += sos(0, 0, 1, 0) + w.flush()
    out += b"\xff\xd9"

    got = decode_jpeg(bytes(out))
    assert got is not None and got.shape == (8, 8, 3)

    zz = np.zeros(64, dtype=np.int64)
    zz[0], zz[1], zz[2], zz[5], zz[7] = 11, 5, -3, 1, -1
    coef = np.zeros(64, dtype=np.int64)
    coef[ZIGZAG] = zz
    want = np.clip(
        np.round(_idct2(coef.reshape(8, 8).astype(np.float64)) + 128.0),
        0, 255,
    ).astype(np.uint8)
    assert np.array_equal(got[:, :, 0], want)


def test_progressive_refusals_and_feature_paths(spark):
    """Arithmetic coding (SOF10) still refuses; a progressive stream
    with a malformed scan header (DC scan with Se != 0) refuses; the
    Spark media paths (image_ahash, jpeg_block_values) decode
    progressive blobs for real."""
    from hadoopxmlextractor_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )
    from hadoopxmlextractor_spark.operators.multimodal import (
        image_ahash,
        jpeg_block_values,
        synth_jpeg_blocks_media,
    )

    img = np.arange(64, dtype=np.uint8).reshape(8, 8) * 2
    blob = bytearray(encode_jpeg_progressive(img))
    sof_at = blob.index(b"\xff\xc2")
    arith = bytearray(blob)
    arith[sof_at + 1] = 0xCA  # SOF10: progressive arithmetic
    assert decode_jpeg(bytes(arith)) is None

    bad = bytearray(blob)
    sos_at = bad.index(b"\xff\xda")
    bad[sos_at + 8] = 63  # DC scan claiming Se=63
    assert decode_jpeg(bytes(bad)) is None

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    prog = synth_jpeg_blocks_media(docs, progressive=True, salt="jpgp")
    vals = jpeg_block_values(prog).collect()
    assert len(vals) == 24 and all(r.val is not None for r in vals)
    base = synth_jpeg_blocks_media(docs, salt="jpgp")
    assert sorted((r.media_id, r.block_idx, r.val) for r in vals) == sorted(
        (r.media_id, r.block_idx, r.val)
        for r in jpeg_block_values(base).collect()
    )


def test_lossless_jpeg_all_predictors_and_precisions():
    """r8 SOF3: every predictor selector (1-7) roundtrips bit-exact on
    md5 planes at odd shapes; 12-bit presents the high byte with the
    full-width prediction chain intact; 16-bit extreme diffs exercise
    the SSSS-16 / mod-2^16 branch; RGB interleaves 1x1 components;
    point transform scales the presentation; truncation refuses."""
    import hashlib

    import numpy as np

    from hadoopxmlextractor_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.frombuffer(
        b"".join(hashlib.md5(f"jlst{k}".encode()).digest() for k in range(64)),
        dtype=np.uint8,
    )
    for pred in range(1, 8):
        for shape in ((8, 8), (5, 9), (1, 7)):
            h, w = shape
            vals = rng[: h * w].reshape(h, w).astype(np.int64)
            img = decode_jpeg(
                encode_jpeg_lossless(vals, predictor=pred, precision=8)
            )
            exp = np.repeat(vals.astype(np.uint8)[:, :, None], 3, axis=2)
            assert img is not None and np.array_equal(img, exp), (pred, shape)

    vals12 = (
        (rng[:64].astype(np.int64) << 4) | (rng[64:128].astype(np.int64) >> 4)
    ).reshape(8, 8)
    img = decode_jpeg(encode_jpeg_lossless(vals12, predictor=4, precision=12))
    assert np.array_equal(
        img, np.repeat((vals12 >> 4).astype(np.uint8)[:, :, None], 3, axis=2)
    )

    v16 = np.array(
        [[0, 65535, 0, 32768], [65535, 0, 32767, 1]], dtype=np.int64
    )
    img = decode_jpeg(encode_jpeg_lossless(v16, predictor=1, precision=16))
    assert np.array_equal(
        img, np.repeat((v16 >> 8).astype(np.uint8)[:, :, None], 3, axis=2)
    )

    rgb = rng[:192].reshape(8, 8, 3).astype(np.int64)
    img = decode_jpeg(encode_jpeg_lossless(rgb, predictor=5, precision=8))
    assert np.array_equal(img, rgb.astype(np.uint8))

    pt = (rng[:64] >> 1).reshape(8, 8).astype(np.int64)
    img = decode_jpeg(
        encode_jpeg_lossless(pt, predictor=2, precision=8, point_transform=1)
    )
    assert np.array_equal(
        img, np.repeat((pt << 1).astype(np.uint8)[:, :, None], 3, axis=2)
    )

    blob = encode_jpeg_lossless(rng[:64].reshape(8, 8).astype(np.int64))
    assert decode_jpeg(blob[: len(blob) // 2]) is None


_PATCHED_SOF_CHILD = r"""
import resource, sys
resource.setrlimit(resource.RLIMIT_AS, (3 << 30, 3 << 30))
import numpy as np
from hadoopxmlextractor_spark.operators.jpeg import (
    decode_jpeg, encode_jpeg, encode_jpeg_lossless,
)

def patched(blob, sof):
    b = bytearray(blob)
    k = b.index(sof)
    b[k + 5 : k + 9] = b"\xff\xff\xff\xff"  # height, width = 65535
    return bytes(b)

img = (np.arange(16, dtype=np.uint8) * 16).reshape(4, 4)
out = [
    decode_jpeg(patched(encode_jpeg(img), b"\xff\xc0")),
    decode_jpeg(patched(encode_jpeg_lossless(img), b"\xff\xc3")),
]
print(out)
"""


def test_patched_sof_dimensions_refuse_instead_of_memory_error():
    """A 4x4 baseline / lossless stream whose SOF claims 65535x65535
    asks for 32 GiB of planes. Under a 3 GiB address-space limit (set
    in the child only) decode_jpeg must return None — the frame is
    refused as larger than its scan can carry, before any plane is
    allocated — not die with MemoryError."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, OPENBLAS_NUM_THREADS="1",
               OMP_NUM_THREADS="1")
    res = subprocess.run(
        [sys.executable, "-c", _PATCHED_SOF_CHILD], env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip() == "[None, None]"


def test_scan_carry_bound_admits_large_photos():
    """The patched-SOF refusal bounds a frame by its scan bytes, not by
    a fixed pixel budget: a 48 MP 8000x6000 4:2:0 baseline frame (1.125M
    blocks, >= 2 bits each) needs 281,250 scan bytes, and a real photo
    of that size carries megabytes."""
    blocks = (6000 // 8) * (8000 // 8) * 3 // 2
    _check_carried(blocks, 281_250, 2)
    _check_carried(blocks, 8 << 20, 2)
    with pytest.raises(ValueError):
        _check_carried(blocks, 281_249, 2)
    with pytest.raises(ValueError):  # the patched 65535x65535 lossless
        _check_carried(65535 * 65535, 600, 1)
