"""Byte-identity pins for the fixture encoders.

Every synthesizer below writes through the shared MSB-first bit
writer (``operators/bitio.py``) or the AES dispatch; the digests were
taken before those layers were merged, so a single changed output byte
anywhere in a family fails its pin. Each family hashes the sha256 of
every blob, in order."""

from __future__ import annotations

import hashlib

import pytest

from hadoopxmlextractor_spark import queries_r13, queries_r14
from hadoopxmlextractor_spark.operators import alac as A
from hadoopxmlextractor_spark.operators import containers as C
from hadoopxmlextractor_spark.operators import flac

_CFG2 = {
    "frame_length": 64, "bit_depth": 16, "pb": A.PB0, "mb": A.MB0,
    "kb": A.KB0, "channels": 2, "sample_rate": 44100,
}


def _alac_fixtures() -> list[bytes]:
    """The encode_alac_packet / build_alac_m4a fixtures of
    tests/test_alac.py (escape, multi-packet, 24-bit bytes-shifted)."""
    out = [A.encode_alac_packet([[1] * 64, [2] * 64], _CFG2, [],
                                escape=True),
           A.encode_alac_packet([[1] * 64], dict(_CFG2, channels=1), [],
                                escape=True)]
    out.append(A.build_alac_m4a(_CFG2, [out[0]]))
    cfg48 = dict(_CFG2, sample_rate=48000)
    out.append(A.build_alac_m4a(cfg48, [
        A.encode_alac_packet([[k] * 64, [-k] * 64], cfg48, [], escape=True)
        for k in range(1, 4)
    ]))
    cfg24 = dict(_CFG2, bit_depth=24)
    Ls = [(1000 + 3 * k) * 256 + (k * 37) % 256 for k in range(64)]
    Rs = [(-500 + 2 * k) * 256 + (k * 11) % 256 for k in range(64)]
    arms = [
        {"denshift": 4, "coefs": [24, -8], "pbf": 4,
         "mix_bits": 2, "mix_res": 2},
        {"denshift": 4, "coefs": [16, 0], "pbf": 4},
    ]
    out.append(A.encode_alac_packet([Ls, Rs], cfg24, arms, bytes_shifted=1))
    return out


def _mp1_fixture() -> list[bytes]:
    frames = [
        [(0, 2, 0, [0, 1, 2, 3] * 3),
         (7, 15, 60, list(range(12))),
         (31, 8, 30, [200] * 12)],
        [(3, 5, 9, [7] * 12)],
    ]
    return [C.build_mp1(frames, version="1", sr_idx=2, br_idx=12)]


_FAMILIES = {
    "flac_synth": lambda: [flac._synth_flac_doc(i) for i in range(60)],
    "alac_synth": lambda: [A._synth_alac_doc(i) for i in range(60)],
    "alac_hires_synth": lambda: [
        A._synth_alac_hires_doc(i) for i in range(60)
    ],
    "alac_fixtures": _alac_fixtures,
    "mp3_synth": lambda: [queries_r14._synth_mp3_blob(i) for i in range(60)],
    "mp3_lsf_synth": lambda: [
        queries_r14._synth_mp3_lsf_blob(i) for i in range(60)
    ],
    "mp2_synth": lambda: [queries_r14._synth_mp2_blob(i) for i in range(60)],
    "mp1_synth": lambda: [queries_r13._synth_mp1_blob(i) for i in range(60)],
    "mp1_fixture": _mp1_fixture,
    "pdf_aesv3_synth": lambda: [
        queries_r13._synth_pdf_aesv3_blob(i) for i in range(20)
    ],
    "7z_aes_synth": lambda: [
        queries_r14._synth_7z_aes_blob(i) for i in range(20)
    ],
}


def _digest(blobs: list[bytes]) -> str:
    h = hashlib.sha256()
    for b in blobs:
        h.update(hashlib.sha256(b).digest())
    return h.hexdigest()


_PINNED = {
    "7z_aes_synth":
        "05d3d7cbfcbe04540afd4dfb6f2ce039d311fa057655a8e795e610ce8a142199",
    "alac_fixtures":
        "c9537e342d61bc5cb9fae8ba354b8f681687805481e367a46ba3a8574f33eeea",
    "alac_hires_synth":
        "af68eecb3276c29f12582ca34a27f41e4635438214fcafe0bc5bbf3afe5e58bd",
    "alac_synth":
        "d639e220329ebf71e7a20559a6be67874f2ea95b030e6a7c21ec87caae79d2d4",
    "flac_synth":
        "6d7f15178e5374617141d58386296af24dab34f7e0e2236a46b57ce7d40f5c54",
    "mp1_fixture":
        "14ebb9c5a0d081c0abe66fc08ecefeaacdfff4ba7621d1444150c3db9c9c52f8",
    "mp1_synth":
        "e2bf28c3e347bddca7275aee58fb21ac5232c1972d1bda51f021081832953be1",
    "mp2_synth":
        "c27d291f43addc63a0a033a1d72f7869a84284bc6fe2017010108eb86eb69d96",
    "mp3_lsf_synth":
        "04f6b63803153a6127406f409b996af3875d8a6c09be8b73951e0b1d1298976e",
    "mp3_synth":
        "ae5ef4e29604ee9a231c80a55ab6abf899e95f514248343212c49df61931fc41",
    "pdf_aesv3_synth":
        "efd842e071cc6a81af3e08e1145cd0b4490dfa1e81a727953baf05a0d44a0d51",
}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_encoder_output_is_byte_identical(family):
    assert _digest(_FAMILIES[family]()) == _PINNED[family]
