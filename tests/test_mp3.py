"""MPEG-1 Layer III spectral decode (r14): writer/reader roundtrip
through side info, the byte reservoir, scfsi, short blocks, Huffman
regions + count1 quads, and the dyadic requantizer; registry/contract
refusals; spec-consistency properties of the restated code lists."""

from __future__ import annotations

import pytest

from hadoopxmlextractor_spark.operators import mp3 as M
from hadoopxmlextractor_spark.operators.bitio import BitReader


def _g_long(sr, gg, actives, *, preflag=0, sfc=9):
    L = M._SFB_LONG[sr]
    spec = [0] * 576
    sf_long = [0] * 22
    for s, (k, nn, sf) in actives.items():
        for j in range(k):
            spec[L[s] + j] = -1 if j < nn else 1
        if s < 21:
            sf_long[s] = sf
    return {"short": 0, "global_gain": gg, "scalefac_compress": sfc,
            "sf_long": sf_long, "preflag": preflag, "spectrum": spec}


def _g_short(sr, gg, actives, *, sbg=(0, 1, 2), sfc=10):
    S = M._SFB_SHORT[sr]
    spec = [0] * 576
    sf_short = [[0] * 3 for _ in range(13)]
    for (s, w), (k, nn, sf) in actives.items():
        width = S[s + 1] - S[s]
        for j in range(k):
            spec[3 * S[s] + w * width + j] = -1 if j < nn else 1
        if s < 12:
            sf_short[s][w] = sf
    return {"short": 1, "global_gain": gg, "scalefac_compress": sfc,
            "sf_short": sf_short, "subblock_gain": list(sbg),
            "spectrum": spec}


def _side_bit(blob, frame, flen, bit, *, clear=False, set_=False):
    out = bytearray(blob)
    at = frame * flen + 4 + bit // 8
    mask = 1 << (7 - bit % 8)
    if clear:
        out[at] &= ~mask
    if set_:
        out[at] |= mask
    return bytes(out)


def test_mp3_roundtrip_all_srs_with_reservoir_and_count1():
    for sr_idx, sr in enumerate((44100, 48000, 32000)):
        L = M._SFB_LONG[sr]
        g0 = _g_long(sr, 214, {0: (3, 1, 2), 5: (2, 0, 1),
                               11: (4, 2, 3), 13: (2, 1, 0),
                               15: (1, 0, 2)}, preflag=1)
        g1 = _g_long(sr, 210, {0: (3, 1, 2), 2: (1, 1, 1),
                               14: (5, 2, 3)})
        g1["sf_long"][:6] = g0["sf_long"][:6]  # scfsi band 0
        g2 = _g_short(sr, 206, {(0, 0): (2, 1, 1), (3, 2): (3, 0, 2),
                                (7, 1): (2, 2, 3)})
        g3 = _g_long(sr, 218, {2: (2, 0, 3), 12: (3, 1, 2)}, sfc=13)
        blob = M.build_mp3l3(
            [([1, 0, 0, 0], [g0, g1]), ([0, 0, 0, 0], [g2, g3])],
            sr_idx=sr_idx,
        )
        rows = M.mp3_spectral_stats(blob)
        # sfbs 12+ sit beyond the big-values cut -> count1 region
        assert L[12] // 2 * 2 == L[12]
        by = {(r["frame"], r["gr"], r["sfb"], r["win"]): r
              for r in rows}
        r = by[(0, 0, 13, -1)]
        # gg 214 -> exp base 1; preflag pretab[13] = 1; sf 0
        assert (r["exp"], r["n_nonzero"], r["pmn"]) == (0, 2, 0)
        assert r["dec_abs"] == 2.0 and r["dec_sum"] == 0.0
        # scfsi reuse: gr1 band 0 carries gr0's scalefacs
        assert by[(0, 1, 0, -1)]["scalefac"] == 2
        # short windows carry subblock gain in the exponent
        rs = by[(1, 0, 7, 1)]
        assert rs["exp"] == (206 - 210) // 4 - 8 * 1 - 3
        # the reservoir is genuinely engaged: later frames' mdb > 0
        flen = len(blob) // 2
        r2 = BitReader(blob[flen + 4 : flen + 4 + 17])
        assert r2.read(9) > 0


def test_mp3_huffman_tables_are_prefix_free_and_complete():
    # Kraft sums == 1 -> complete prefix codes (a transcription typo
    # in either table would almost surely break this)
    for tid, table in M._HUFF_BIG.items():
        if not table:
            continue
        assert sum(2.0 ** -bits for bits, _ in table.values()) == 1.0
        codes = {(bits, code) for bits, code in table.values()}
        assert len(codes) == len(table)
        for b1, c1 in codes:
            for b2, c2 in codes:
                if (b1, c1) != (b2, c2) and b1 <= b2:
                    assert c2 >> (b2 - b1) != c1, "prefix collision"
    assert sum(2.0 ** -b for b, _ in M._CNT1B.values()) == 1.0
    assert len({c for _b, c in M._CNT1B.values()}) == 16
    # structural table invariants
    for sr, bounds in M._SFB_LONG.items():
        assert bounds[0] == 0 and bounds[-1] == 576 == len(
            bounds
        ) * 0 + 576 and len(bounds) == 23
        assert all(a < b for a, b in zip(bounds, bounds[1:]))
        assert bounds[12] % 2 == 0  # the synth's big-values cut
    for sr, bounds in M._SFB_SHORT.items():
        assert bounds[0] == 0 and bounds[-1] == 192
        assert len(bounds) == 14
    assert len(M._PRETAB) == 22 and len(M._SLEN) == 16


def test_mp3_refusals():
    sr = 44100
    g = _g_long(sr, 210, {3: (2, 1, 1)})
    blob = M.build_mp3l3([([0] * 4, [g, _g_long(sr, 214, {})])])
    flen = len(blob)

    bad = bytearray(blob)
    bad[3] &= 0x3F
    with pytest.raises(ValueError, match="stereo"):
        M.mp3_spectral_stats(bytes(bad))
    bad = bytearray(blob)
    bad[1] &= ~0x10  # version bits 11 -> 01 (reserved)
    with pytest.raises(ValueError, match="reserved MPEG"):
        M.mp3_spectral_stats(bytes(bad))
    bad = bytearray(blob)
    bad[1] &= ~0x18  # version bits 11 -> 00 (MPEG-2.5)
    with pytest.raises(ValueError, match="2.5"):
        M.mp3_spectral_stats(bytes(bad))
    bad = bytearray(blob)
    bad[1] &= ~0x01
    with pytest.raises(ValueError, match="CRC"):
        M.mp3_spectral_stats(bytes(bad))
    bad = bytearray(blob)
    bad[1] = (bad[1] & ~0x06) | (3 << 1)
    with pytest.raises(ValueError, match="not Layer III"):
        M.mp3_spectral_stats(bytes(bad))
    # gr0 side-info bit map (mono, non-wsf): tables at 52-66,
    # scalefac_scale at 75, count1 select at 76
    with pytest.raises(ValueError, match="not in registry"):
        M.mp3_spectral_stats(
            # region 0's table_select (bits 52-56): 1 -> 3
            _side_bit(blob, 0, flen, 55, set_=True)
        )
    # scalefac_scale 0 halves the step: refuses only where the
    # half-step lands on nonzero content (sfb 3 carries sf 1 here)
    with pytest.raises(ValueError, match="half-step"):
        M.mp3_spectral_stats(_side_bit(blob, 0, flen, 75, clear=True))
    # count1 table A refusal needs a granule that actually READS
    # quads (content beyond the big-values cut)
    gq = _g_long(sr, 210, {3: (2, 1, 1), 13: (2, 1, 0)})
    qblob = M.build_mp3l3([([0] * 4, [gq, _g_long(sr, 214, {})])])
    with pytest.raises(ValueError, match="count1 table A"):
        M.mp3_spectral_stats(
            _side_bit(qblob, 0, len(qblob), 76, clear=True)
        )
    # global_gain must stay ≡ 210 (mod 4): gg bits 39-46
    with pytest.raises(ValueError, match="global_gain"):
        M.mp3_spectral_stats(_side_bit(blob, 0, flen, 46, set_=True))
    # reservoir underflow: frame 0 with nonzero main_data_begin
    with pytest.raises(ValueError, match="reservoir"):
        M.mp3_spectral_stats(_side_bit(blob, 0, flen, 8, set_=True))
    # mixed-block flag on a short granule
    gs = _g_short(sr, 210, {(1, 0): (2, 0, 1)})
    sblob = M.build_mp3l3([([0] * 4, [gs, _g_long(sr, 214, {})])])
    # wsf layout: block_type 52-53, mixed 54
    with pytest.raises(ValueError, match="mixed"):
        M.mp3_spectral_stats(
            _side_bit(sblob, 0, len(sblob), 54, set_=True)
        )
    # truncation
    with pytest.raises(ValueError, match="past stream end"):
        M.mp3_spectral_stats(blob[:-10])
    with pytest.raises(ValueError, match="no Layer III frames"):
        M.mp3_spectral_stats(b"")
    # writer refuses scfsi reuse with differing scalefactors
    ga = _g_long(sr, 210, {0: (1, 0, 2)})
    gb = _g_long(sr, 210, {0: (1, 0, 3)})
    with pytest.raises(ValueError, match="scfsi band reuse"):
        M.build_mp3l3([([1, 0, 0, 0], [ga, gb])])


# a REAL MPEG-2 LSF Layer III file (gsutil's test corpus, found in
# this container r14): 22.05 kHz mono 64 kbps, 45 frames of digital
# silence (every granule: part2_3_length 0, big_values 0,
# global_gain 210, all-zero spectra) — tiny under gzip
_REAL_MP3_GZ_B64 = (
    "H4sIAKJNgmoC/+3PMQrCQBBA0YVYWnuMRVwCWgoGFGIVcwAbj2AtXs3cKAdYk8IT"
    "bGGK95uBYYp5l1NahbnNreuaaa5DqNr781GnWMdtyONrmLbVeb5pj9cmxcM+7vq/"
    "VvBHHt/D5+fpl1IhKAMBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEt"
    "FFTQF/ANmwHcJAAA"
)


def test_mp3_real_lsf_file_decodes_completely():
    """A file a REAL encoder wrote (not this module's writer)
    decodes end-to-end: the MPEG-2 LSF side-info layout (9 bytes,
    one granule, 9-bit scalefac_compress, derived preflag), the
    22.05 kHz sfb table, and the per-band dyadic gate (sfsc 0 is
    fine when no content carries a half-step). Digital silence ->
    zero nonzero-band rows, and the frame walk agrees with the
    metadata leg."""
    import base64 as _b64
    import gzip as _gz

    from hadoopxmlextractor_spark.operators import containers as C

    blob = _gz.decompress(_b64.b64decode(_REAL_MP3_GZ_B64))
    info = C.mp3_frame_info(blob)
    assert (info["version"], info["layer"], info["sample_rate"],
            info["channels"]) == ("2", 3, 22050, 1)
    rows = M.mp3_spectral_stats(blob)
    assert rows == []  # digital silence, all 45 frames walked


def test_mp3_lsf_roundtrip_all_branches():
    """MPEG-2 LSF synthetic roundtrip over all three
    scalefac_compress branches (partitions [6,5,5,5]/[6,5,7,3]/
    [11,10,0,0], branch-c derived preflag) and all LSF rates."""
    for sr_idx, sr in enumerate((22050, 24000, 16000)):
        L = M._SFB_LONG[sr]
        assert L[12] % 2 == 0
        for sfc, pre in (
            ((2 * 5 + 3) * 16 + (2 << 2) + 2, 0),   # a: [2,3,2,2]
            (400 + ((2 * 5 + 3) << 2) + 2, 0),      # b: [2,3,2,0]
            (500 + 2 * 3 + 2, 1),                    # c: [2,2,0,0]
        ):
            slens, parts, preflag = M._lsf_slens(sfc)
            assert preflag == pre and sum(parts) == 21
            spec = [0] * 576
            sf = [0] * 22
            lims = []
            for slen, width in zip(slens, parts):
                lims += [1 << slen] * width
            lims += [1]
            actives = {0: 3, 7: 2, 13: 4, 15: 1}
            for s, k in actives.items():
                for j in range(k):
                    spec[L[s] + j] = -1 if j < 1 else 1
                sf[s] = (s + 1) % min(4, lims[s])
            gd = {"short": 0, "global_gain": 214,
                  "scalefac_compress": sfc, "sf_long": sf,
                  "preflag": pre, "spectrum": spec}
            blob = M.build_mp3l3(
                [([0] * 4, [gd]), ([0] * 4, [gd])],
                version="2", sr_idx=sr_idx, br_idx=11,
            )
            rows = M.mp3_spectral_stats(blob)
            assert [r["sfb"] for r in rows] == [0, 7, 13, 15] * 2
            for r in rows:
                s = r["sfb"]
                assert r["scalefac"] == sf[s]
                assert r["exp"] == 1 - (sf[s] + pre * M._PRETAB[s])
                assert r["n_nonzero"] == actives[s]
                assert r["dec_abs"] == actives[s] * 2.0 ** r["exp"]
    # LSF constraints enforced by the writer
    gd0 = {"short": 0, "global_gain": 210, "scalefac_compress": 0,
           "sf_long": [0] * 22, "preflag": 0, "spectrum": [0] * 576}
    with pytest.raises(ValueError, match="one granule"):
        M.build_mp3l3([([0] * 4, [gd0, gd0])], version="2")


def test_mp3_corrupt_streams_refuse_or_decode():
    """r15 opt regression guard: the Huffman region walk and bit
    reader were inlined/LUT-ified — corrupted or truncated streams
    must refuse with ValueError (the marker-row contract), never
    crash with anything else or loop."""
    import random

    from hadoopxmlextractor_spark.queries_r14 import _synth_mp3_blob

    rng = random.Random(9)
    for t in range(150):
        blob = bytearray(_synth_mp3_blob(t % 60))
        if t % 2:
            blob = blob[: rng.randrange(4, len(blob))]
        else:
            blob[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
        try:
            M.mp3_spectral_stats(bytes(blob))
        except ValueError:
            pass
