"""MPEG-1 Layer III (MP3) spectral decode — the r14 headline
(VERDICT r13 item 1): the sample-level path for the web's dominant
audio format, carried to the SPECTRAL domain where exactness is
provable, the same honest-sub-step strategy the Layer I/II subband
legs established.

What is implemented end-to-end (ISO/IEC 11172-3 §2.4.1.7/§2.4.3.4,
ISO/IEC 13818-3 for the LSF form):

- side info (mono): MPEG-1 (17 bytes, two granules, scfsi bands)
  and MPEG-2 LSF (9 bytes, ONE granule, 8-bit main_data_begin,
  9-bit scalefac_compress whose branch algorithm derives the slen
  partition AND preflag) — the LSF arm is what the round's real
  -file find (a gsutil-corpus 22.05 kHz MP3) actually is, and that
  file decodes end-to-end as a golden test; per granule
  part2_3_length, big_values, global_gain, scalefac_compress,
  window switching (pure short blocks, block_type 2, non-mixed;
  MPEG-1 only), table_select, subblock_gain, region0/region1
  counts, preflag, scalefac_scale, count1table_select;
- the BYTE RESERVOIR: each frame's main data starts
  main_data_begin bytes before its own slot, granule bitstreams
  packed back-to-back with ancillary stuffing — the walk keeps the
  whole main-data stream and addresses each frame by slot offset;
- scalefactors: slen1/slen2 from the scalefac_compress table, scfsi
  band reuse across granules (long), 3-window short forms;
- Huffman: a TABLE REGISTRY keyed by table_select / count1 select.
  Restated from the spec's code lists here: big-value table 0 (the
  zero table), big-value table 1, and count1 table B (fixed 4-bit
  one's-complement codes). The remaining big-value code lists are
  pure registry data — the decoder's region walk, escape/linbits
  hooks, sign bits, and count1 quad handling are table-agnostic —
  and stay the documented residue until transcribed; streams
  selecting them refuse rather than mis-decode;
- requantization to spectral values: |is|^(4/3) · 2^E with
  E = (global_gain − 210)/4 − (scalefac_scale multiplier) ·
  (scalefac + preflag·pretab) − 8·subblock_gain. The synth restricts
  itself to |is| ≤ 1, global_gain ≡ 210 (mod 4) and
  scalefac_scale = 1, making every spectral value ±2^E EXACTLY
  (dyadic); the reader tracks exponents in HALF units and refuses
  only where a half-step (scalefac_scale 0 with odd scaled sum)
  lands on NONZERO content — so real silent/sparse streams stay
  fully decodable on the exact path, like the Layer I/II legs.

The alias-reduction butterflies, IMDCT, and polyphase synthesis that
carry spectra to PCM are transcendental (cs/ca = f(1/sqrt(1+ci^2)),
cosine banks) — per the repo's exactness rules they cannot sit in an
exact oracle and remain the ledgered residue; curation-grade energy
statistics live in the spectral domain by Parseval anyway.

Reference parity note: the reference engine (XmlExtractor.java) has
no audio surface; this module extends the multimodal tier's parity
goal (audio_energy_windows contract) toward MP3.
"""

from __future__ import annotations

import struct  # noqa: F401

from hadoopxmlextractor_spark.operators.bitio import BitReader, BitWriter
from hadoopxmlextractor_spark.operators.containers import (
    _EXHAUSTED,
    _MP3_BR_V1,
    _MP3_BR_V2,
    _MP3_SR,
    _mp3_frame_len,
    _unsyncsafe,
)

# scalefac_compress -> (slen1, slen2), ISO table (§2.4.2.7)
_SLEN = [
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
]

# scalefactor-band boundaries (Table B.8), MPEG-1 sample rates plus
# the MPEG-2 LSF rates (22.05/24 kHz; 16 kHz shares the 22.05 table)
_SFB_LONG = {
    44100: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90,
            110, 134, 162, 196, 238, 288, 342, 418, 576],
    48000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88,
            106, 128, 156, 190, 230, 276, 330, 384, 576],
    32000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102,
            126, 156, 194, 240, 296, 364, 448, 550, 576],
    22050: [0, 6, 12, 18, 24, 30, 36, 44, 54, 66, 80, 96, 116, 140,
            168, 200, 238, 284, 336, 396, 464, 522, 576],
    24000: [0, 6, 12, 18, 24, 30, 36, 44, 54, 66, 80, 96, 114, 136,
            162, 194, 232, 278, 332, 394, 464, 540, 576],
}
_SFB_LONG[16000] = _SFB_LONG[22050]

# MPEG-2 LSF scalefactor partitioning (long blocks, single channel):
# the 9-bit scalefac_compress selects a branch; each branch fixes
# four slen values and a 4-group sfb partition; preflag derives from
# the branch instead of a side-info bit
_LSF_PARTS = {
    "a": (6, 5, 5, 5),
    "b": (6, 5, 7, 3),
    "c": (11, 10, 0, 0),
}


def _lsf_slens(sfc: int) -> tuple[list[int], tuple[int, ...], int]:
    """(slen[4], sfb partition, preflag) from the LSF 9-bit
    scalefac_compress (ISO 13818-3 §2.4.3.2, mono)."""
    if sfc < 400:
        return ([(sfc >> 4) // 5, (sfc >> 4) % 5, (sfc & 15) >> 2,
                 sfc & 3], _LSF_PARTS["a"], 0)
    if sfc < 500:
        q = sfc - 400
        return ([(q >> 2) // 5, (q >> 2) % 5, q & 3, 0],
                _LSF_PARTS["b"], 0)
    q = sfc - 500
    return ([q // 3, q % 3, 0, 0], _LSF_PARTS["c"], 1)


_SFB_SHORT = {
    44100: [0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192],
    48000: [0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126, 192],
    32000: [0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180, 192],
}

# preflag pretab (long sfbs 0..21)
_PRETAB = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
           1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0]

# Huffman registry: big-value tables as {(x, y): (hlen, hcod)} plus
# per-table linbits. Table 0 is the zero table (no codewords — the
# region contributes zero lines); table 1 is the 2x2 code list from
# Table B.7. Tables 2..31 are registry data to be transcribed — a
# stream selecting an absent table refuses.
_HUFF_BIG: dict[int, dict[tuple[int, int], tuple[int, int]]] = {
    0: {},
    1: {(0, 0): (1, 0b1), (0, 1): (3, 0b001),
        (1, 0): (2, 0b01), (1, 1): (3, 0b000)},
}
_HUFF_LINBITS = {0: 0, 1: 0}

# count1 table B (count1table_select = 1): every quadruple (v,w,x,y)
# coded in 4 bits as the one's complement of its value
_CNT1B = {v: (4, (~v) & 0xF) for v in range(16)}

_SIDE_BITS_MONO = 17      # MPEG-1 single_channel
_SIDE_BITS_MONO_LSF = 9   # MPEG-2 LSF single_channel (one granule)


def _decode_map(table: dict) -> dict[tuple[int, int], object]:
    """(hlen, hcod) -> value lookup for the bit-serial reader."""
    return {(bits, code): val for val, (bits, code) in table.items()}


_HUFF_BIG_DECODE = {tid: _decode_map(t) for tid, t in _HUFF_BIG.items()}


class _SideInfo:
    __slots__ = (
        "part2_3_length", "big_values", "global_gain",
        "scalefac_compress", "window_switching", "block_type",
        "mixed_block", "table_select", "subblock_gain",
        "region0_count", "region1_count", "preflag",
        "scalefac_scale", "count1table_select",
    )


def _parse_side_info(data: bytes) -> tuple[int, list[int], list[_SideInfo]]:
    """(main_data_begin, scfsi[4], granule side info ×2) of a mono
    MPEG-1 frame's 17 side-info bytes."""
    r = BitReader(data, 0, _EXHAUSTED)
    mdb = r.read(9)
    r.read(5)  # private_bits (mono)
    scfsi = [r.read(1) for _ in range(4)]
    grs = []
    for _g in range(2):
        si = _SideInfo()
        si.part2_3_length = r.read(12)
        si.big_values = r.read(9)
        si.global_gain = r.read(8)
        si.scalefac_compress = r.read(4)
        si.window_switching = r.read(1)
        if si.window_switching:
            si.block_type = r.read(2)
            si.mixed_block = r.read(1)
            si.table_select = [r.read(5) for _ in range(2)]
            si.subblock_gain = [r.read(3) for _ in range(3)]
            si.region0_count = 7   # implied (§2.4.2.7)
            si.region1_count = 36  # "rest" sentinel
            if si.block_type == 0:
                raise ValueError(
                    "window_switching with reserved block_type 0"
                )
        else:
            si.block_type = 0
            si.mixed_block = 0
            si.table_select = [r.read(5) for _ in range(3)]
            si.subblock_gain = [0, 0, 0]
            si.region0_count = r.read(4)
            si.region1_count = r.read(3)
        si.preflag = r.read(1)
        si.scalefac_scale = r.read(1)
        si.count1table_select = r.read(1)
        grs.append(si)
    return mdb, scfsi, grs


def _parse_side_info_lsf(data: bytes) -> tuple[int, list[_SideInfo]]:
    """(main_data_begin, [granule side info]) of a mono MPEG-2 LSF
    frame's 9 side-info bytes: 8-bit main_data_begin, no scfsi, ONE
    granule whose scalefac_compress widens to 9 bits and whose
    preflag derives from the scalefac_compress branch instead of a
    bit."""
    r = BitReader(data, 0, _EXHAUSTED)
    mdb = r.read(8)
    r.read(1)  # private_bits (mono)
    si = _SideInfo()
    si.part2_3_length = r.read(12)
    si.big_values = r.read(9)
    si.global_gain = r.read(8)
    si.scalefac_compress = r.read(9)
    si.window_switching = r.read(1)
    if si.window_switching:
        si.block_type = r.read(2)
        si.mixed_block = r.read(1)
        si.table_select = [r.read(5) for _ in range(2)]
        si.subblock_gain = [r.read(3) for _ in range(3)]
        si.region0_count = 7
        si.region1_count = 36
    else:
        si.block_type = 0
        si.mixed_block = 0
        si.table_select = [r.read(5) for _ in range(3)]
        si.subblock_gain = [0, 0, 0]
        si.region0_count = r.read(4)
        si.region1_count = r.read(3)
    si.preflag = _lsf_slens(si.scalefac_compress)[2]
    si.scalefac_scale = r.read(1)
    si.count1table_select = r.read(1)
    return mdb, [si]


# r15 opt: flat prefix LUT per table — index by the next max-code-
# length bits, get (x, y, hlen) or None where no codeword matches
# (the bit-serial walk below remains the fallback and the reference).
def _huff_lut(table: dict) -> tuple[int, list]:
    width = max(bits for bits, _ in table.values())
    lut: list = [None] * (1 << width)
    for val, (bits, code) in table.items():
        base = code << (width - bits)
        for k in range(1 << (width - bits)):
            lut[base + k] = (val[0], val[1], bits)
    return width, lut


_HUFF_BIG_LUT = {
    tid: _huff_lut(t) for tid, t in _HUFF_BIG.items() if t
}


def _read_huff_pair_serial(
    r: BitReader, table_id: int
) -> tuple[int, int]:
    """Bit-serial reference walk (also the fallback where the stream
    tail is shorter than the LUT width)."""
    dm = _HUFF_BIG_DECODE[table_id]
    bits = 0
    code = 0
    while bits < 20:
        code = (code << 1) | r.read(1)
        bits += 1
        hit = dm.get((bits, code))
        if hit is not None:
            return hit
    raise ValueError("Huffman codeword exceeds table depth")


def _read_huff_pair(r: BitReader, table_id: int) -> tuple[int, int]:
    if table_id not in _HUFF_BIG:
        raise ValueError(
            f"Huffman big-value table {table_id} not in registry"
        )
    if not _HUFF_BIG[table_id]:
        return 0, 0
    width, lut = _HUFF_BIG_LUT[table_id]
    pos = r.pos
    d = r.d
    byte_end = (pos + width + 7) >> 3
    if byte_end > len(d):
        # stream tail shorter than the LUT width: the serial walk
        # preserves the exact per-bit overrun behavior
        return _read_huff_pair_serial(r, table_id)
    chunk = int.from_bytes(d[pos >> 3 : byte_end], "big")
    idx = (chunk >> ((byte_end << 3) - (pos + width))) & ((1 << width) - 1)
    hit = lut[idx]
    if hit is None:
        return _read_huff_pair_serial(r, table_id)
    r.pos = pos + hit[2]
    return hit[0], hit[1]


def _read_cnt1(r: BitReader, select: int) -> tuple[int, int, int, int]:
    if select != 1:
        raise ValueError("count1 table A not in registry")
    v = r.read(4) ^ 0xF
    return (v >> 3) & 1, (v >> 2) & 1, (v >> 1) & 1, v & 1


def mp3_spectral_stats(blob: bytes) -> list[dict]:
    """Spectral-domain decode of a mono MPEG-1 Layer III stream: per
    (frame, granule, scalefactor band[, short window]) the applied
    scalefactor (scfsi-resolved), the integer exponent E of the
    dyadic requantizer, the nonzero-line count, the signed line sum
    (n_pos − n_neg), and the exact spectral sums

        dec_sum = (n_pos − n_neg) · 2^E,   dec_abs = n · 2^E.

    Refusals (ValueError — marker-row contract): stereo, MPEG-2/2.5,
    Layers I/II, free format, CRC-protected frames, mixed blocks,
    long window-switched block types 1/3, Huffman tables absent from
    the registry, count1 table A, global_gain not ≡ 210 (mod 4) or
    scalefac_scale 0 (non-dyadic requantizer — the exact-stats
    contract), reservoir underflow, scfsi on a short granule, and
    truncated payloads."""
    off = 0
    if blob[:3] == b"ID3":
        off = 10 + _unsyncsafe(blob[6:10]) + (10 if blob[5] & 0x10 else 0)
    end = len(blob)
    if blob[-128:][:3] == b"TAG":
        end -= 128

    # pass 1: frame walk — collect side info and main-data slots
    frames: list[tuple[int, list[int], list[_SideInfo], int, int]] = []
    md_all = bytearray()
    sr = None
    while off + 4 <= end:
        if blob[off] != 0xFF or blob[off + 1] & 0xE0 != 0xE0:
            raise ValueError("no MPEG frame sync")
        b1, b2, b3 = blob[off + 1], blob[off + 2], blob[off + 3]
        version = {0: "2.5", 2: "2", 3: "1"}.get((b1 >> 3) & 3)
        layer = {1: 3, 2: 2, 3: 1}.get((b1 >> 1) & 3)
        if version is None or layer is None:
            raise ValueError("reserved MPEG version/layer")
        if layer != 3:
            raise ValueError("not Layer III")
        if version == "2.5":
            raise ValueError("MPEG-2.5 Layer III unsupported")
        if not (b1 & 1):
            raise ValueError("CRC-protected Layer III unsupported")
        br_idx, sr_idx, pad = b2 >> 4, (b2 >> 2) & 3, (b2 >> 1) & 1
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("unsupported bitrate/samplerate code")
        if b3 >> 6 != 3:
            raise ValueError("stereo Layer III unsupported")
        sr = _MP3_SR[version][sr_idx]
        br = (_MP3_BR_V1 if version == "1" else _MP3_BR_V2)[3][
            br_idx - 1
        ]
        flen = _mp3_frame_len(version, 3, br, sr, pad)
        if off + flen > end:
            raise ValueError("Layer III frame past stream end")
        side_len = (_SIDE_BITS_MONO if version == "1"
                    else _SIDE_BITS_MONO_LSF)
        side = blob[off + 4 : off + 4 + side_len]
        if len(side) < side_len:
            raise ValueError("Layer III side info past frame end")
        if version == "1":
            mdb, scfsi, grs = _parse_side_info(side)
        else:
            mdb, grs = _parse_side_info_lsf(side)
            scfsi = [0, 0, 0, 0]
        slot = blob[off + 4 + side_len : off + flen]
        frames.append((version, mdb, scfsi, grs, len(md_all),
                       len(slot)))
        md_all += slot
        off += flen
    if not frames:
        raise ValueError("no Layer III frames")

    L = _SFB_LONG[sr]
    S = _SFB_SHORT.get(sr)  # MPEG-1 only; LSF short blocks refuse
    out: list[dict] = []

    prev_long_sf: list[int] = [0] * 22
    for f_no, (ver, mdb, scfsi, grs, slot_off,
               _slot_len) in enumerate(frames):
        start = slot_off - mdb
        if start < 0:
            raise ValueError("Layer III reservoir underflow")
        r = BitReader(bytes(md_all[start:]), 0, _EXHAUSTED)
        gr0_short = False
        for g_no, si in enumerate(grs):
            if si.mixed_block:
                raise ValueError("mixed blocks unsupported")
            if si.window_switching and si.block_type != 2:
                raise ValueError(
                    "long window-switched block types unsupported"
                )
            short = si.window_switching and si.block_type == 2
            if short and ver != "1":
                raise ValueError("LSF short blocks unsupported")
            if g_no == 0:
                gr0_short = short
            elif any(scfsi) and (short or gr0_short):
                raise ValueError("scfsi on a short granule")
            if (si.global_gain - 210) % 4:
                raise ValueError(
                    "non-integer-exponent global_gain unsupported"
                )
            gg_exp = (si.global_gain - 210) // 4
            if ver == "1":
                slen1, slen2 = _SLEN[si.scalefac_compress]
            bit0 = r.pos

            # --- part 2: scalefactors
            if short:
                sf_short = [[0] * 3 for _ in range(13)]
                for s in range(12):
                    for w in range(3):
                        sf_short[s][w] = r.read(
                            slen1 if s < 6 else slen2
                        )
            elif ver == "1":
                sf_long = [0] * 22
                bands = [(0, 6, slen1), (6, 11, slen1),
                         (11, 16, slen2), (16, 21, slen2)]
                for band, (lo, hi, slen) in enumerate(bands):
                    if g_no == 1 and scfsi[band]:
                        for s in range(lo, hi):
                            sf_long[s] = prev_long_sf[s]
                    else:
                        for s in range(lo, hi):
                            sf_long[s] = r.read(slen)
                prev_long_sf = list(sf_long)
            else:
                # MPEG-2 LSF: four slen groups over a branch-selected
                # sfb partition, preflag already derived
                sf_long = [0] * 22
                slens, parts, _pre = _lsf_slens(si.scalefac_compress)
                s_at = 0
                for slen, width in zip(slens, parts):
                    for s in range(s_at, s_at + width):
                        sf_long[s] = r.read(slen)
                    s_at += width

            # --- part 3: Huffman
            is_ = [0] * 576
            nbig = 2 * si.big_values
            if nbig > 576:
                raise ValueError("big_values beyond spectrum")
            if short:
                region_bounds = [min(36, nbig), nbig]
            else:
                r0_end = L[min(si.region0_count + 1, 22)]
                r1_end = L[min(si.region0_count + 1
                               + si.region1_count + 1, 22)]
                region_bounds = [min(r0_end, nbig),
                                 min(r1_end, nbig), nbig]
            pos = 0
            # r15 opt: the per-pair Huffman + sign reads inlined over
            # local reader state (LUT hit path; any tail-short or
            # unmatched prefix falls back to the function forms,
            # which preserve the exact serial overrun behavior)
            d = r.d
            dlen8 = len(d) << 3
            for reg, bound in enumerate(region_bounds):
                tid = si.table_select[reg]
                if pos >= bound:
                    # empty region: the table id is never validated
                    # (matches the function form, which only checks
                    # when a pair is actually read)
                    continue
                if tid not in _HUFF_BIG:
                    raise ValueError(
                        f"Huffman big-value table {tid} not in registry"
                    )
                if not _HUFF_BIG[tid]:
                    while pos < bound:  # zero table: no bits, no lines
                        pos += 2
                    continue
                width, lut = _HUFF_BIG_LUT[tid]
                lb = _HUFF_LINBITS[tid]
                rpos = r.pos
                while pos < bound:
                    if rpos + width > dlen8:
                        r.pos = rpos
                        x, y = _read_huff_pair(r, tid)
                        rpos = r.pos
                    else:
                        byte_end = (rpos + width + 7) >> 3
                        chunk = int.from_bytes(
                            d[rpos >> 3 : byte_end], "big"
                        )
                        hit = lut[
                            (chunk >> ((byte_end << 3) - (rpos + width)))
                            & ((1 << width) - 1)
                        ]
                        if hit is None:
                            r.pos = rpos
                            x, y = _read_huff_pair(r, tid)
                            rpos = r.pos
                        else:
                            x, y = hit[0], hit[1]
                            rpos += hit[2]
                    if x == 15 and lb:
                        r.pos = rpos
                        x += r.read(lb)
                        rpos = r.pos
                    if x:
                        if rpos >= dlen8:
                            raise ValueError("Layer I payload exhausted")
                        is_[pos] = (
                            -x if (d[rpos >> 3] >> (7 - (rpos & 7))) & 1
                            else x
                        )
                        rpos += 1
                    pos += 1
                    if y == 15 and lb:
                        r.pos = rpos
                        y += r.read(lb)
                        rpos = r.pos
                    if y:
                        if rpos >= dlen8:
                            raise ValueError("Layer I payload exhausted")
                        is_[pos] = (
                            -y if (d[rpos >> 3] >> (7 - (rpos & 7))) & 1
                            else y
                        )
                        rpos += 1
                    pos += 1
                r.pos = rpos
            # count1 quads until the granule's bit budget runs out
            while r.pos - bit0 < si.part2_3_length and pos + 4 <= 576:
                quad_start_bit = r.pos
                vals = _read_cnt1(r, si.count1table_select)
                signed = []
                for v in vals:
                    signed.append(-v if (v and r.read(1)) else v)
                if r.pos - bit0 > si.part2_3_length:
                    # the spec's overshoot rule: the final partial
                    # quad is discarded
                    r.pos = quad_start_bit
                    break
                for v in signed:
                    is_[pos] = v
                    pos += 1
            if r.pos - bit0 > si.part2_3_length:
                raise ValueError("granule overran part2_3_length")
            # ancillary/stuffing bits inside the granule budget
            r.pos = bit0 + si.part2_3_length

            # --- requantize + bucket stats (|is| <= 1 on this path:
            # 1^(4/3) = 1, so every line is exactly ±2^E)
            if min(is_) < -1 or max(is_) > 1:
                raise ValueError(
                    "non-unit spectral magnitude on the exact path"
                )
            # the scalefac_scale multiplier is (sfsc+1)/2 — track
            # exponents in HALF units and refuse only where a
            # half-step actually lands on nonzero content (a real
            # silent stream with sfsc 0 stays fully decodable)
            mult = si.scalefac_scale + 1
            if short:
                for s in range(13):
                    width = S[s + 1] - S[s]
                    for w in range(3):
                        seg = 3 * S[s] + w * width
                        lines = is_[seg : seg + width]
                        # every line is in {-1, 0, 1} here (checked
                        # above), so count/sum ARE the stats
                        n = len(lines) - lines.count(0)
                        if not n:
                            continue
                        pmn = sum(lines)
                        sf = sf_short[s][w] if s < 12 else 0
                        e2 = (2 * gg_exp - 16 * si.subblock_gain[w]
                              - mult * sf)
                        if e2 % 2:
                            raise ValueError(
                                "half-step scalefactor exponent on "
                                "the exact path"
                            )
                        e = e2 // 2
                        out.append({
                            "frame": f_no, "gr": g_no, "short": 1,
                            "sfb": s, "win": w, "scalefac": sf,
                            "exp": e, "n_nonzero": n, "pmn": pmn,
                            "dec_sum": float(pmn) * 2.0 ** e,
                            "dec_abs": float(n) * 2.0 ** e,
                        })
            else:
                for s in range(22):
                    lines = is_[L[s] : L[s + 1]]
                    n = len(lines) - lines.count(0)
                    if not n:
                        continue
                    pmn = sum(lines)
                    sf = sf_long[s] if s < 21 else 0
                    e2 = 2 * gg_exp - mult * (
                        sf + si.preflag * _PRETAB[s]
                    )
                    if e2 % 2:
                        raise ValueError(
                            "half-step scalefactor exponent on the "
                            "exact path"
                        )
                    e = e2 // 2
                    out.append({
                        "frame": f_no, "gr": g_no, "short": 0,
                        "sfb": s, "win": -1, "scalefac": sf,
                        "exp": e, "n_nonzero": n, "pmn": pmn,
                        "dec_sum": float(pmn) * 2.0 ** e,
                        "dec_abs": float(n) * 2.0 ** e,
                    })
    return out


# ---------------------------------------------------------------------------
# Synth writer
# ---------------------------------------------------------------------------


def _encode_granule(si_dict: dict, spectrum: list[int], sr: int,
                    scfsi: list[int], g_no: int,
                    prev_sf: list[int] | None,
                    version: str = "1") -> tuple[bytes, int, dict]:
    """One granule's main-data bits → (payload bytes, bit length,
    side-info fields). ``spectrum`` is 576 ints in {−1, 0, 1}."""
    L = _SFB_LONG[sr]
    short = si_dict["short"]
    w = BitWriter()
    if short:
        S = _SFB_SHORT[sr]
        slen1, slen2 = _SLEN[si_dict["scalefac_compress"]]
        for s in range(12):
            for win in range(3):
                w.write(si_dict["sf_short"][s][win],
                        slen1 if s < 6 else slen2)
    elif version == "1":
        slen1, slen2 = _SLEN[si_dict["scalefac_compress"]]
        bands = [(0, 6, slen1), (6, 11, slen1),
                 (11, 16, slen2), (16, 21, slen2)]
        for band, (lo, hi, slen) in enumerate(bands):
            if g_no == 1 and scfsi[band]:
                for s in range(lo, hi):
                    if si_dict["sf_long"][s] != prev_sf[s]:
                        raise ValueError(
                            "scfsi band reuse with differing sfs"
                        )
            else:
                for s in range(lo, hi):
                    w.write(si_dict["sf_long"][s], slen)
    else:
        slens, parts, _pre = _lsf_slens(si_dict["scalefac_compress"])
        s_at = 0
        for slen, width in zip(slens, parts):
            for s in range(s_at, s_at + width):
                w.write(si_dict["sf_long"][s], slen)
            s_at += width

    cut = 3 * _SFB_SHORT[sr][8] if short else L[12]
    big_values = cut // 2
    tab1 = _HUFF_BIG[1]
    # r15 opt: per-pair writer calls inlined over the accumulator
    # (same bit stream; masking the accumulator after a flush is
    # equivalent because flushed reads never reach above the logical
    # bit watermark)
    acc = w.acc
    nbits_w = w.nbits
    append = w.buf.append
    for p in range(0, cut, 2):
        sx, sy = spectrum[p], spectrum[p + 1]
        x = -sx if sx < 0 else sx
        y = -sy if sy < 0 else sy
        bits, code = tab1[(x, y)]
        acc = (acc << bits) | code
        nbits_w += bits
        if x:
            acc = (acc << 1) | (1 if sx < 0 else 0)
            nbits_w += 1
        if y:
            acc = (acc << 1) | (1 if sy < 0 else 0)
            nbits_w += 1
        while nbits_w >= 8:
            nbits_w -= 8
            append((acc >> nbits_w) & 0xFF)
        acc &= (1 << nbits_w) - 1
    last_nz = 575
    while last_nz >= 0 and not spectrum[last_nz]:
        last_nz -= 1
    n_quads = max(0, -(-(last_nz + 1 - cut) // 4)) if last_nz >= cut else 0
    if short and n_quads:
        raise ValueError("short granule content beyond big values")
    for q in range(n_quads):
        base = cut + 4 * q
        s0, s1, s2, s3 = spectrum[base : base + 4]
        a0 = -s0 if s0 < 0 else s0
        a1 = -s1 if s1 < 0 else s1
        a2 = -s2 if s2 < 0 else s2
        a3 = -s3 if s3 < 0 else s3
        v = (a0 << 3) | (a1 << 2) | (a2 << 1) | a3
        bits, code = _CNT1B[v]
        acc = (acc << bits) | code
        nbits_w += bits
        for av, sv in ((a0, s0), (a1, s1), (a2, s2), (a3, s3)):
            if av:
                acc = (acc << 1) | (1 if sv < 0 else 0)
                nbits_w += 1
        while nbits_w >= 8:
            nbits_w -= 8
            append((acc >> nbits_w) & 0xFF)
        acc &= (1 << nbits_w) - 1
    w.acc = acc
    w.nbits = nbits_w
    p23 = w.nbits + len(w.buf) * 8
    side = {
        "part2_3_length": p23,
        "big_values": big_values,
        "global_gain": si_dict["global_gain"],
        "scalefac_compress": si_dict["scalefac_compress"],
        "short": short,
        "subblock_gain": si_dict.get("subblock_gain", [0, 0, 0]),
        "region0_count": 15,
        "region1_count": 0,
        "preflag": si_dict.get("preflag", 0),
    }
    return w.tobytes(), p23, side


def build_mp3l3(
    frame_specs: list[tuple[list[int], list[dict]]], *,
    sr_idx: int = 0, br_idx: int = 9, reservoir_cap: int = 300,
    version: str = "1",
) -> bytes:
    """A mono MPEG-1 Layer III stream from (scfsi[4], [granule spec
    ×2]) frame specs; each granule spec carries short flag,
    global_gain, scalefac_compress, sf_long/sf_short, preflag,
    subblock_gain, and a 576-line spectrum in {−1, 0, 1}. Granule
    bitstreams pack back-to-back through the BYTE RESERVOIR: each
    frame's main_data_begin points up to ``reservoir_cap`` bytes
    back into earlier frames' slots, with zero-byte ancillary
    stuffing keeping the offset within the spec's 511-byte ceiling.
    Write partner of :func:`mp3_spectral_stats`. ``version`` "2"
    writes the MPEG-2 LSF form: one granule per frame, 9-byte side
    info with an 8-bit main_data_begin (reservoir capped at 255),
    the 9-bit scalefac_compress branch algorithm, no scfsi."""
    sr = _MP3_SR[version][sr_idx]
    br = (_MP3_BR_V1 if version == "1" else _MP3_BR_V2)[3][br_idx - 1]
    flen = _mp3_frame_len(version, 3, br, sr, 0)
    side_len = _SIDE_BITS_MONO if version == "1" else _SIDE_BITS_MONO_LSF
    cap = flen - 4 - side_len
    if version != "1":
        reservoir_cap = min(reservoir_cap, 255)

    mds: list[bytes] = []
    sides: list[tuple[list[int], list[dict]]] = []
    prev_sf = [0] * 22
    for scfsi, granules in frame_specs:
        if version != "1" and (len(granules) != 1 or any(scfsi)):
            raise ValueError("LSF frames carry one granule, no scfsi")
        frame_bits = BitWriter()
        gr_sides = []
        for g_no, gd in enumerate(granules):
            payload, p23, side = _encode_granule(
                gd, gd["spectrum"], sr, scfsi, g_no, prev_sf,
                version,
            )
            if not gd["short"]:
                prev_sf = list(gd["sf_long"])
            gr_sides.append(side)
            # r15 opt: append the payload's top p23 bits in one write
            # (the writer accumulator handles arbitrary widths) —
            # bit-identical to the old per-bit copy loop
            if p23:
                val = int.from_bytes(payload, "big") >> (
                    len(payload) * 8 - p23
                )
                frame_bits.write(val, p23)
        mds.append(frame_bits.tobytes())
        sides.append((scfsi, gr_sides))

    # greedy reservoir packing with stuffing to honor the cap
    stuffed: list[bytes] = []
    mdbs: list[int] = []
    s_total = 0  # slot bytes before current frame
    o_total = 0  # main-data bytes before current frame
    for k, md in enumerate(mds):
        gap = s_total - o_total
        if gap > min(reservoir_cap, 511):
            stuff = gap - min(reservoir_cap, 511)
            stuffed[-1] = stuffed[-1] + bytes(stuff)
            o_total += stuff
            gap = s_total - o_total
        if gap < 0:
            raise ValueError("reservoir accounting underflow")
        mdbs.append(gap)
        if o_total + len(md) > s_total + cap:
            raise ValueError("main data exceeds frame slot + reservoir")
        stuffed.append(md)
        o_total += len(md)
        s_total += cap
    stream_md = b"".join(stuffed)
    stream_md += bytes(s_total - len(stream_md))

    vid = {"1": 3, "2": 2}[version]
    out = b""
    for k, (scfsi, gr_sides) in enumerate(sides):
        header = bytes([
            0xFF,
            0xE0 | (vid << 3) | (1 << 1) | 1,  # layer III, no CRC
            (br_idx << 4) | (sr_idx << 2),
            3 << 6,  # mono
        ])
        w = BitWriter()
        w.write(mdbs[k], 9 if version == "1" else 8)
        w.write(0, 5 if version == "1" else 1)
        if version == "1":
            for b in scfsi:
                w.write(b, 1)
        for side in gr_sides:
            w.write(side["part2_3_length"], 12)
            w.write(side["big_values"], 9)
            w.write(side["global_gain"], 8)
            w.write(side["scalefac_compress"],
                    4 if version == "1" else 9)
            if side["short"]:
                w.write(1, 1)   # window_switching
                w.write(2, 2)   # block_type 2
                w.write(0, 1)   # not mixed
                for t in (1, 1):
                    w.write(t, 5)
                for sbg in side["subblock_gain"]:
                    w.write(sbg, 3)
            else:
                w.write(0, 1)
                for t in (1, 1, 1):
                    w.write(t, 5)
                w.write(side["region0_count"], 4)
                w.write(side["region1_count"], 3)
            if version == "1":
                w.write(side["preflag"], 1)
            w.write(1, 1)  # scalefac_scale = 1 (dyadic contract)
            w.write(1, 1)  # count1 table B
        side_bytes = w.tobytes()
        if len(side_bytes) != side_len:
            raise ValueError("side info misencoded")
        slot = stream_md[k * cap : (k + 1) * cap]
        out += header + side_bytes + slot
    return out
