"""Native ALAC (Apple Lossless) — full SAMPLE decode (round 11),
zero dependencies.

The second integer-exact lossless audio codec after FLAC
(operators/flac.py), landing on the same exact-oracle contract:
decoded samples admit md5-arithmetic moment oracles. Implements the
published ALAC bitstream (the format Apple open-sourced — element
syntax, adaptive-Golomb entropy coding, sign-adaptive LPC, stereo
matrixing) re-derived from the public specification:

- M4A container: ``alac`` AudioSampleEntry carrying the
  ALACSpecificConfig magic cookie (frameLength, bitDepth, pb/mb/kb,
  channels, maxRun, sampleRate), ``stsz`` per-packet sizes framing
  the ``mdat`` payload;
- packet elements: SCE (mono), CPE (stereo pair), END; 12-bit
  unused-header check, partial-frame 32-bit sample count, escape
  (verbatim) frames;
- adaptive Golomb ("dynamic") entropy coding: modified Golomb with
  m = 2^k − 1 (a zero remainder spends k−1 bits), 9-ones escape to
  raw values, the QBSHIFT=9 adaptive mean ``mb`` update
  ``mb += pb·n − (pb·mb >> 9)``, and the LOW-MEAN ZERO-RUN mode
  (16-bit run coder, post-run ``zmode`` value shift);
- sign-adaptive LPC: warm-up deltas, ``top``-anchored prediction
  with denshift rounding, per-sample coefficient adaptation by
  residual sign, the order-31 first-difference prepass (mode > 0);
- stereo matrixing: ``l = u + v − ((mixRes·v) >> mixBits)``,
  ``r = l − v`` (mixRes = 0 ⇒ independent channels), the pair
  element's channels at bitDepth+1 bits.

Encoder is the write partner over the same surface; the entropy and
predictor ADAPTATION code paths are SHARED between encode and decode
(one implementation each), so the synth/replay contract cannot drift
between the two sides. Bits go through the shared MSB-first
``bitio.BitReader``/``BitWriter`` (overrun message "ALAC bitstream
overrun"); the adaptive-Golomb walks inline over their state.
Caveat (mirror-bug ledger, like FLAC r10): proven against this
module's own synthesizer; cross-validate against a second decoder
when the environment permits.

Reference parity note: the reference decodes records packed in Hadoop
containers (SeqXmlRecordReader.java:233-328); this is the same
byte-level record discipline applied to an audio bitstream.
"""

from __future__ import annotations

import struct

from hadoopxmlextractor_spark.operators.bitio import BitReader, BitWriter

# adaptive-Golomb constants (public ALACSpecificConfig defaults)
_QBSHIFT = 9
_QB = 1 << _QBSHIFT
_MMULSHIFT = 2
_MDENSHIFT = _QBSHIFT - _MMULSHIFT - 1  # 6
_MOFF = 1 << (_MDENSHIFT - 2)  # 16
_BITOFF = 24
_MAX_PREFIX = 9
_MAX_RUN_BITS = 16
PB0, MB0, KB0, MAXRUN0 = 40, 10, 14, 255


def _lead(x: int) -> int:
    """Leading-zero count of a 32-bit value (32 for x == 0)."""
    return 32 - x.bit_length()


def _lg3a(x: int) -> int:
    return (x + 3).bit_length() - 1  # floor(log2(x + 3))


def _sign_extend(v: int, bits: int) -> int:
    v &= (1 << bits) - 1
    return v - (1 << bits) if v >= 1 << (bits - 1) else v


# ---------------------------------------------------------------------------
# adaptive-Golomb entropy coder — decoder and encoder share every
# state-update expression below (the mirror-bug firewall)
# ---------------------------------------------------------------------------


def _golomb_params(mb: int, kb: int) -> tuple[int, int]:
    """(m, k) for the current adaptive mean."""
    k = min(_lg3a(mb >> _QBSHIFT), kb)
    return (1 << k) - 1, k


def _zero_run_params(mb: int, wb: int) -> tuple[int, int]:
    """(mz, k) of the low-mean zero-run coder."""
    k = _lead(mb) - _BITOFF + ((mb + _MOFF) >> _MDENSHIFT)
    return max(((1 << k) - 1) & wb, 1), k


def _mb_update(mb: int, pb: int, n: int) -> int:
    mb = pb * n + mb - ((pb * mb) >> _QBSHIFT)
    return 0xFFFF if n > 0xFFFF else mb


def _dyn_get(br: BitReader, m: int, k: int, escape_bits: int) -> int:
    """One modified-Golomb value: unary prefix of 1s (9 escapes to
    ``escape_bits`` raw bits); remainder in k bits unless it is 0,
    which spends only k−1 (m = 2^k − 1 truncated coding)."""
    pre = br.leading_ones(_MAX_PREFIX)
    if pre >= _MAX_PREFIX:
        br.pos += _MAX_PREFIX
        return br.read(escape_bits)
    br.pos += pre + 1
    if k == 0:
        return pre * m
    save = br.pos
    avail = (len(br.d) << 3) - save
    if avail >= k:
        v = br.read(k)
    else:
        v = br.read(avail) << (k - avail)
    if v < 2:
        br.pos = save + k - 1
        return pre * m
    br.pos = save + k
    return pre * m + v - 1


def _dyn_put(bw: BitWriter, n: int, m: int, k: int, escape_bits: int) -> None:
    """Write partner of :func:`_dyn_get`."""
    div = n // m
    if div >= _MAX_PREFIX:
        if n >= 1 << escape_bits:
            raise ValueError("ALAC golomb escape overflow")
        bw.write((1 << _MAX_PREFIX) - 1, _MAX_PREFIX)
        bw.write(n, escape_bits)
        return
    mod = n % m
    bw.write((1 << div) - 1, div)  # prefix ones
    bw.write(0, 1)  # terminator
    if k == 0:
        return
    if mod == 0:
        bw.write(0, k - 1)
    else:
        bw.write(mod + 1, k)


def _dyn_decomp_ref(
    br: BitReader, num: int, max_size: int, mb0: int, pb: int, kb: int
) -> list[int]:
    """Residual block decode: adaptive Golomb + zigzag sign + the
    low-mean zero-run mode. REFERENCE form, composed of the shared
    state-update helpers above (the encode/decode mirror-bug
    firewall); the codec runs :func:`_dyn_decomp`, whose equivalence
    to this function is asserted over a seeded battery in tests."""
    wb = (1 << kb) - 1
    out: list[int] = []
    mb = mb0 << _QBSHIFT
    zmode = 0
    while len(out) < num:
        m, k = _golomb_params(mb, kb)
        n = _dyn_get(br, m, k, max_size)
        ndecode = n + zmode
        mult = -1 if ndecode & 1 else 1
        out.append(((ndecode + 1) >> 1) * mult)
        mb = _mb_update(mb, pb, n + zmode)
        zmode = 0
        if (mb << _MMULSHIFT) < _QB and len(out) < num:
            zmode = 1
            mz, kz = _zero_run_params(mb, wb)
            run = _dyn_get(br, mz, kz, _MAX_RUN_BITS)
            if len(out) + run > num:
                raise ValueError("ALAC zero run past block end")
            out.extend([0] * run)
            if run >= 0xFFFF:
                zmode = 0
            mb = 0
    return out


def _dyn_decomp(
    br: BitReader, num: int, max_size: int, mb0: int, pb: int, kb: int
) -> list[int]:
    """r15 opt: :func:`_dyn_decomp_ref` with the per-sample helper
    calls (`_golomb_params`/`_dyn_get`/`_mb_update`/
    `_zero_run_params` and the bit-reader methods) inlined over local
    state — the adaptive coder is inherently sequential, so the win
    is pure call-overhead removal. Bit-walk, adaptation arithmetic,
    and every overrun check are expression-for-expression the same;
    a seeded battery test asserts value- and position-identity
    against the reference form."""
    d = br.d
    nbits = len(d) << 3
    pos = br.pos
    wb = (1 << kb) - 1
    out: list[int] = []
    append = out.append
    cnt = 0
    mb = mb0 << _QBSHIFT
    zmode = 0
    while cnt < num:
        # _golomb_params
        k = ((mb >> _QBSHIFT) + 3).bit_length() - 1
        if k > kb:
            k = kb
        m = (1 << k) - 1
        # _dyn_get
        pre = 0
        while pre < _MAX_PREFIX:
            p = pos + pre
            if p >= nbits:
                raise ValueError("ALAC bitstream overrun")
            if not (d[p >> 3] >> (7 - (p & 7))) & 1:
                break
            pre += 1
        if pre >= _MAX_PREFIX:
            pos += _MAX_PREFIX
            end = pos + max_size
            byte_end = (end + 7) >> 3
            if byte_end > len(d):
                raise ValueError("ALAC bitstream overrun")
            chunk = int.from_bytes(d[pos >> 3 : byte_end], "big")
            n = (chunk >> ((byte_end << 3) - end)) & ((1 << max_size) - 1)
            pos = end
        else:
            pos += pre + 1
            if k == 0:
                n = pre * m
            else:
                save = pos
                avail = nbits - save
                rd = k if avail >= k else avail
                if rd == 0:
                    v = 0
                else:
                    end = save + rd
                    byte_end = (end + 7) >> 3
                    chunk = int.from_bytes(d[save >> 3 : byte_end], "big")
                    v = (chunk >> ((byte_end << 3) - end)) & ((1 << rd) - 1)
                if avail < k:
                    v <<= k - avail
                if v < 2:
                    pos = save + k - 1
                    n = pre * m
                else:
                    pos = save + k
                    n = pre * m + v - 1
        ndecode = n + zmode
        append(((ndecode + 1) >> 1) * (-1 if ndecode & 1 else 1))
        cnt += 1
        # _mb_update
        mb = pb * ndecode + mb - ((pb * mb) >> _QBSHIFT)
        if ndecode > 0xFFFF:
            mb = 0xFFFF
        zmode = 0
        if (mb << _MMULSHIFT) < _QB and cnt < num:
            zmode = 1
            # _zero_run_params
            kz = _lead(mb) - _BITOFF + ((mb + _MOFF) >> _MDENSHIFT)
            mz = ((1 << kz) - 1) & wb
            if mz < 1:
                mz = 1
            # _dyn_get (zero-run arm)
            pre = 0
            while pre < _MAX_PREFIX:
                p = pos + pre
                if p >= nbits:
                    raise ValueError("ALAC bitstream overrun")
                if not (d[p >> 3] >> (7 - (p & 7))) & 1:
                    break
                pre += 1
            if pre >= _MAX_PREFIX:
                pos += _MAX_PREFIX
                end = pos + _MAX_RUN_BITS
                byte_end = (end + 7) >> 3
                if byte_end > len(d):
                    raise ValueError("ALAC bitstream overrun")
                chunk = int.from_bytes(d[pos >> 3 : byte_end], "big")
                run = (chunk >> ((byte_end << 3) - end)) & (
                    (1 << _MAX_RUN_BITS) - 1
                )
                pos = end
            else:
                pre_run = pre
                pos += pre_run + 1
                if kz == 0:
                    run = pre_run * mz
                else:
                    save = pos
                    avail = nbits - save
                    rd = kz if avail >= kz else avail
                    if rd == 0:
                        v = 0
                    else:
                        end = save + rd
                        byte_end = (end + 7) >> 3
                        chunk = int.from_bytes(
                            d[save >> 3 : byte_end], "big"
                        )
                        v = (chunk >> ((byte_end << 3) - end)) & (
                            (1 << rd) - 1
                        )
                    if avail < kz:
                        v <<= kz - avail
                    if v < 2:
                        pos = save + kz - 1
                        run = pre_run * mz
                    else:
                        pos = save + kz
                        run = pre_run * mz + v - 1
            if cnt + run > num:
                raise ValueError("ALAC zero run past block end")
            out.extend([0] * run)
            cnt += run
            if run >= 0xFFFF:
                zmode = 0
            mb = 0
    br.pos = pos
    return out


def _dyn_comp_ref(
    bw: BitWriter, vals: list[int], max_size: int, mb0: int, pb: int, kb: int
) -> None:
    """Write partner of :func:`_dyn_decomp_ref` — identical state
    walk, composed of the shared helpers (the firewall form; the
    codec runs :func:`_dyn_comp`, battery-asserted identical)."""
    wb = (1 << kb) - 1
    mb = mb0 << _QBSHIFT
    zmode = 0
    c = 0
    num = len(vals)
    while c < num:
        m, k = _golomb_params(mb, kb)
        del_ = vals[c]
        if zmode and del_ == 0:
            raise ValueError("zero sample in zmode (run not maximal)")
        ndecode = 2 * del_ if del_ >= 0 else -2 * del_ - 1
        n = ndecode - zmode
        _dyn_put(bw, n, m, k, max_size)
        c += 1
        mb = _mb_update(mb, pb, n + zmode)
        zmode = 0
        if (mb << _MMULSHIFT) < _QB and c < num:
            zmode = 1
            mz, kz = _zero_run_params(mb, wb)
            run = 0
            while c + run < num and vals[c + run] == 0 and run < 0xFFFF:
                run += 1
            _dyn_put(bw, run, mz, kz, _MAX_RUN_BITS)
            c += run
            if run >= 0xFFFF:
                zmode = 0
            mb = 0


def _dyn_comp(
    bw: BitWriter, vals: list[int], max_size: int, mb0: int, pb: int, kb: int
) -> None:
    """r15 opt: :func:`_dyn_comp_ref` with `_dyn_put`/`_golomb_params`
    and the bit-writer inlined over a local accumulator — same bit
    stream by construction (battery-asserted byte-identical against
    the reference, plus the existing round-trip matrix)."""
    wb = (1 << kb) - 1
    mb = mb0 << _QBSHIFT
    zmode = 0
    c = 0
    num = len(vals)
    acc = bw.acc
    nacc = bw.nbits
    buf = bw.buf
    append = buf.append
    while c < num:
        k = ((mb >> _QBSHIFT) + 3).bit_length() - 1
        if k > kb:
            k = kb
        m = (1 << k) - 1
        del_ = vals[c]
        if zmode and del_ == 0:
            raise ValueError("zero sample in zmode (run not maximal)")
        ndecode = 2 * del_ if del_ >= 0 else -2 * del_ - 1
        n = ndecode - zmode
        # _dyn_put
        div = n // m
        if div >= _MAX_PREFIX:
            if n >= 1 << max_size:
                raise ValueError("ALAC golomb escape overflow")
            acc = (acc << _MAX_PREFIX) | ((1 << _MAX_PREFIX) - 1)
            acc = (acc << max_size) | n
            nacc += _MAX_PREFIX + max_size
        else:
            mod = n % m
            acc = (acc << (div + 1)) | (((1 << div) - 1) << 1)
            nacc += div + 1
            if k:
                if mod == 0:
                    acc <<= k - 1
                    nacc += k - 1
                else:
                    acc = (acc << k) | (mod + 1)
                    nacc += k
        while nacc >= 8:
            nacc -= 8
            append((acc >> nacc) & 0xFF)
        acc &= (1 << nacc) - 1
        c += 1
        mb = pb * ndecode + mb - ((pb * mb) >> _QBSHIFT)
        if ndecode > 0xFFFF:
            mb = 0xFFFF
        zmode = 0
        if (mb << _MMULSHIFT) < _QB and c < num:
            zmode = 1
            kz = _lead(mb) - _BITOFF + ((mb + _MOFF) >> _MDENSHIFT)
            mz = ((1 << kz) - 1) & wb
            if mz < 1:
                mz = 1
            run = 0
            while c + run < num and vals[c + run] == 0 and run < 0xFFFF:
                run += 1
            div = run // mz
            if div >= _MAX_PREFIX:
                if run >= 1 << _MAX_RUN_BITS:
                    raise ValueError("ALAC golomb escape overflow")
                acc = (acc << _MAX_PREFIX) | ((1 << _MAX_PREFIX) - 1)
                acc = (acc << _MAX_RUN_BITS) | run
                nacc += _MAX_PREFIX + _MAX_RUN_BITS
            else:
                mod = run % mz
                acc = (acc << (div + 1)) | (((1 << div) - 1) << 1)
                nacc += div + 1
                if kz:
                    if mod == 0:
                        acc <<= kz - 1
                        nacc += kz - 1
                    else:
                        acc = (acc << kz) | (mod + 1)
                        nacc += kz
            while nacc >= 8:
                nacc -= 8
                append((acc >> nacc) & 0xFF)
            acc &= (1 << nacc) - 1
            c += run
            if run >= 0xFFFF:
                zmode = 0
            mb = 0
    bw.acc = acc
    bw.nbits = nacc


# ---------------------------------------------------------------------------
# sign-adaptive LPC — the adaptation body is shared by both directions
# ---------------------------------------------------------------------------


def _sign(x: int) -> int:
    return (x > 0) - (x < 0)


def _adapt(
    coefs: list[int], out: list[int], j: int, top: int, resid: int,
    denshift: int,
) -> None:
    """Per-sample coefficient adaptation by residual sign — called
    with the reconstructed signal by BOTH the predictor and its
    inverse, so encode/decode stay in lockstep by construction."""
    active = len(coefs)
    sg = _sign(resid)
    if sg == 0:
        return
    del0 = resid
    for k in range(active - 1, -1, -1):
        dd = top - out[j - 1 - k]
        sgn = _sign(dd)
        coefs[k] -= sg * sgn
        del0 -= sg * (active - k) * ((sgn * dd) >> denshift)
        if (sg > 0 and del0 <= 0) or (sg < 0 and del0 >= 0):
            break


def _predict(
    coefs: list[int], out: list[int], j: int, denshift: int
) -> tuple[int, int]:
    """(top, rounded prediction delta) at position j."""
    active = len(coefs)
    top = out[j - active - 1]
    sum1 = 0
    for k in range(active):
        sum1 += coefs[k] * (out[j - 1 - k] - top)
    denhalf = 1 << (denshift - 1) if denshift else 0
    return top, (sum1 + denhalf) >> denshift


def _unpc_block(
    resid: list[int], coefs: list[int], chanbits: int, denshift: int
) -> list[int]:
    """Residuals → signal (decode direction). ``coefs`` is mutated
    (adaptive). order 0 = verbatim; order 31 = first-difference."""
    num = len(resid)
    if not num:
        return []
    active = len(coefs)
    if active == 0:
        return list(resid)
    out = [resid[0]]
    if active == 31:
        for j in range(1, num):
            out.append(_sign_extend(out[j - 1] + resid[j], chanbits))
        return out
    for j in range(1, min(active + 1, num)):
        out.append(_sign_extend(out[j - 1] + resid[j], chanbits))
    for j in range(active + 1, num):
        top, pred = _predict(coefs, out, j, denshift)
        out.append(_sign_extend(resid[j] + top + pred, chanbits))
        _adapt(coefs, out, j, top, resid[j], denshift)
    return out


def _pc_block(
    signal: list[int], coefs: list[int], chanbits: int, denshift: int
) -> list[int]:
    """Signal → residuals (encode direction), running the IDENTICAL
    adaptation over the same reconstructed values."""
    num = len(signal)
    if not num:
        return []
    active = len(coefs)
    if active == 0:
        return list(signal)
    resid = [signal[0]]
    if active == 31:
        for j in range(1, num):
            resid.append(_sign_extend(signal[j] - signal[j - 1], chanbits))
        return resid
    for j in range(1, min(active + 1, num)):
        resid.append(_sign_extend(signal[j] - signal[j - 1], chanbits))
    for j in range(active + 1, num):
        top, pred = _predict(coefs, signal, j, denshift)
        r = signal[j] - top - pred
        resid.append(r)
        _adapt(coefs, signal, j, top, r, denshift)
    return resid


# ---------------------------------------------------------------------------
# element codec
# ---------------------------------------------------------------------------

_ID_SCE, _ID_CPE, _ID_END = 0, 3, 7


def _read_channel_params(br: BitReader) -> dict:
    hb = br.read(8)
    mode, denshift = hb >> 4, hb & 0xF
    hb = br.read(8)
    pbf, order = hb >> 5, hb & 0x1F
    return {
        "mode": mode, "denshift": denshift, "pbf": pbf,
        "coefs": [br.sread(16) for _ in range(order)],
    }


def _write_channel_params(bw: BitWriter, arm: dict) -> None:
    bw.write((arm.get("mode", 0) << 4) | arm["denshift"], 8)
    bw.write((arm.get("pbf", 4) << 5) | len(arm["coefs"]), 8)
    for c in arm["coefs"]:
        bw.swrite(c, 16)


def _decode_residual_channel(
    br: BitReader, num: int, chanbits: int, cfg: dict, params: dict
) -> list[int]:
    pb = (cfg["pb"] * params["pbf"]) >> 2
    resid = _dyn_decomp(br, num, chanbits, cfg["mb"], pb, cfg["kb"])
    if params["mode"]:
        resid = _unpc_block(resid, [0] * 31, chanbits, 0)
    return _unpc_block(
        resid, list(params["coefs"]), chanbits, params["denshift"]
    )


def _decode_element(br: BitReader, stereo: bool, cfg: dict) -> list[list[int]]:
    """One SCE/CPE element body (tag already consumed) → channels."""
    br.read(4)  # element instance tag
    if br.read(12) != 0:
        raise ValueError("ALAC unused element header bits set")
    hb = br.read(4)
    partial, bytes_shifted, escape = hb >> 3, (hb >> 1) & 0x3, hb & 1
    if bytes_shifted == 3:
        raise ValueError("ALAC reserved byte-shift value")
    num = br.read(32) if partial else cfg["frame_length"]
    bit_depth = cfg["bit_depth"]
    if escape:
        if stereo:
            left, right = [], []
            for _ in range(num):  # interleaved L R pairs, full width
                left.append(br.sread(bit_depth))
                right.append(br.sread(bit_depth))
            return [left, right]
        return [[br.sread(bit_depth) for _ in range(num)]]
    shift = bytes_shifted * 8
    chanbits = bit_depth - shift + (1 if stereo else 0)
    mix_bits = br.read(8)
    mix_res = _sign_extend(br.read(8), 8)
    params_u = _read_channel_params(br)
    if stereo:
        params_v = _read_channel_params(br)
    shift_pos = None
    if bytes_shifted:
        # the shifted-off low bytes sit BETWEEN the parameter blocks
        # and the residuals: skip now, re-read after reconstruction
        shift_pos = br.pos
        br.pos += shift * num * (2 if stereo else 1)
    u = _decode_residual_channel(br, num, chanbits, cfg, params_u)
    if stereo:
        v = _decode_residual_channel(br, num, chanbits, cfg, params_v)
        if mix_res != 0:
            left, right = [], []
            for uu, vv in zip(u, v):
                l_ = uu + vv - ((mix_res * vv) >> mix_bits)
                left.append(l_)
                right.append(l_ - vv)
            chans = [left, right]
        else:
            chans = [u, v]
    else:
        chans = [u]
    if bytes_shifted:
        sbr = BitReader(br.d, shift_pos, br.overrun)
        for i in range(num):  # interleaved per sample across channels
            for ch in chans:
                ch[i] = (ch[i] << shift) | sbr.read(shift)
    return chans


def decode_alac_packet(data: bytes, cfg: dict) -> list[list[int]]:
    """One mdat packet → per-channel sample lists (elements walked in
    order, END byte-aligns)."""
    br = BitReader(data, 0, "ALAC bitstream overrun")
    chans: list[list[int]] = []
    while True:
        tag = br.read(3)
        if tag == _ID_END:
            break
        if tag == _ID_SCE:
            chans.extend(_decode_element(br, False, cfg))
        elif tag == _ID_CPE:
            chans.extend(_decode_element(br, True, cfg))
        else:
            raise ValueError(f"unsupported ALAC element tag {tag}")
    if len(chans) != cfg["channels"]:
        raise ValueError("ALAC channel count mismatch")
    return chans


def encode_alac_packet(
    channels: list[list[int]], cfg: dict, arms: list[dict],
    *, escape: bool = False, partial: bool = False,
    bytes_shifted: int = 0,
) -> bytes:
    """Per-channel samples → one packet (SCE or CPE + END);
    ``arms[k]`` is channel k's coding config (mode, denshift, pbf,
    coefs, and — on arms[0] — mix_bits/mix_res for the pair).
    ``bytes_shifted`` splits off the low bytes into the shift buffer
    (the real >16-bit layout): prediction/matrixing run on the high
    parts, the lows ride verbatim between params and residuals."""
    bw = BitWriter()
    num = len(channels[0])
    stereo = len(channels) == 2
    bit_depth = cfg["bit_depth"]
    bw.write(_ID_CPE if stereo else _ID_SCE, 3)
    bw.write(0, 4)  # instance tag
    bw.write(0, 12)  # unused, must be zero
    bw.write((int(partial) << 3) | (bytes_shifted << 1) | int(escape), 4)
    if partial:
        bw.write(num, 32)
    if escape:
        if stereo:
            for l_, r_ in zip(*channels):
                bw.swrite(l_, bit_depth)
                bw.swrite(r_, bit_depth)
        else:
            for s in channels[0]:
                bw.swrite(s, bit_depth)
    else:
        shift = bytes_shifted * 8
        chanbits = bit_depth - shift + (1 if stereo else 0)
        mix_bits = arms[0].get("mix_bits", 0)
        mix_res = arms[0].get("mix_res", 0)
        bw.write(mix_bits, 8)
        bw.swrite(mix_res, 8)
        if shift:
            lows = [[s & ((1 << shift) - 1) for s in ch]
                    for ch in channels]
            highs = [[s >> shift for s in ch] for ch in channels]
        else:
            lows = None
            highs = channels
        if stereo:
            left, right = highs
            if mix_res != 0:
                v = [l_ - r_ for l_, r_ in zip(left, right)]
                u = [
                    r_ + ((mix_res * vv) >> mix_bits)
                    for r_, vv in zip(right, v)
                ]
            else:
                u, v = left, right
            planes = [u, v]
        else:
            planes = [highs[0]]
        for arm in arms[: len(planes)]:
            _write_channel_params(bw, arm)
        if shift:
            for i in range(num):  # interleaved per sample, L then R
                for ch_lows in lows:
                    bw.write(ch_lows[i], shift)
        for plane, arm in zip(planes, arms):
            resid = _pc_block(
                plane, list(arm["coefs"]), chanbits, arm["denshift"]
            )
            if arm.get("mode", 0):
                resid = _pc_block(resid, [0] * 31, chanbits, 0)
            _dyn_comp(
                bw, resid, chanbits, cfg["mb"],
                (cfg["pb"] * arm.get("pbf", 4)) >> 2, cfg["kb"],
            )
    bw.write(_ID_END, 3)
    bw.align()
    return bw.tobytes()


# ---------------------------------------------------------------------------
# M4A container: alac sample entry + magic cookie + stsz/mdat walk
# ---------------------------------------------------------------------------


def build_alac_cookie(cfg: dict) -> bytes:
    """24-byte ALACSpecificConfig."""
    return struct.pack(
        ">IBBBBBBHIII",
        cfg["frame_length"], 0, cfg["bit_depth"], cfg["pb"], cfg["mb"],
        cfg["kb"], cfg["channels"], cfg.get("max_run", MAXRUN0),
        cfg.get("max_frame_bytes", 0), cfg.get("avg_bit_rate", 0),
        cfg["sample_rate"],
    )


def parse_alac_cookie(raw: bytes) -> dict:
    if len(raw) < 24:
        raise ValueError("short ALAC magic cookie")
    (fl, ver, bits, pb, mb, kb, ch, mr, _mfb, _abr, sr) = struct.unpack(
        ">IBBBBBBHIII", raw[:24]
    )
    if ver != 0:
        raise ValueError("unsupported ALAC cookie version")
    return {
        "frame_length": fl, "bit_depth": bits, "pb": pb, "mb": mb,
        "kb": kb, "channels": ch, "max_run": mr, "sample_rate": sr,
    }


def _iter_boxes(data: bytes, pos: int, end: int):
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        fourcc = data[pos + 4 : pos + 8]
        if size < 8 or pos + size > end:
            raise ValueError("bad MP4 box size")
        yield fourcc, pos + 8, pos + size
        pos += size


def _find_box(data: bytes, pos: int, end: int, path: list[bytes]):
    """(start, end) of the payload at a nested box path."""
    for fourcc, s, e in _iter_boxes(data, pos, end):
        if fourcc == path[0]:
            if len(path) == 1:
                return s, e
            return _find_box(data, s, e, path[1:])
    raise ValueError(f"missing MP4 box {path[0]!r}")


def build_alac_m4a(cfg: dict, packets: list[bytes]) -> bytes:
    """Minimal M4A wrapping ALAC packets: moov/trak/mdia/minf/stbl
    with an ``alac`` AudioSampleEntry (nested cookie box), stsz
    per-packet sizes, single-chunk stco, then one mdat."""
    from hadoopxmlextractor_spark.operators.containers import _box

    cookie = _box(b"alac", b"\x00" * 4 + build_alac_cookie(cfg))
    aentry = _box(
        b"alac",
        b"\x00" * 6 + struct.pack(">H", 1)  # SampleEntry reserved+dref
        + b"\x00" * 8
        + struct.pack(">HH", cfg["channels"], cfg["bit_depth"])
        + b"\x00" * 4
        # 16.16 fixed-point field caps at 65535 Hz — hi-res rates
        # live in the cookie (authoritative) like real muxers do
        + struct.pack(">I", min(cfg["sample_rate"], 0xFFFF) << 16)
        + cookie,
    )
    stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + aentry)
    stsz = _box(
        b"stsz",
        b"\x00" * 4 + struct.pack(">II", 0, len(packets))
        + b"".join(struct.pack(">I", len(p)) for p in packets),
    )
    stts = _box(
        b"stts",
        b"\x00" * 4 + struct.pack(">I", 1)
        + struct.pack(">II", len(packets), cfg["frame_length"]),
    )
    stbl = _box(b"stbl", stsd + stts + stsz)
    hdlr = _box(b"hdlr", b"\x00" * 8 + b"soun" + b"\x00" * 12)
    mdhd = _box(
        b"mdhd",
        b"\x00" * 12 + struct.pack(">II", cfg["sample_rate"], 0)
        + b"\x00" * 4,
    )
    trak = _box(
        b"trak",
        _box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 80)
        + _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl)),
    )
    mvhd = _box(
        b"mvhd",
        b"\x00" * 12 + struct.pack(">II", cfg["sample_rate"], 0)
        + b"\x00" * 80,
    )
    return (
        _box(b"ftyp", b"M4A \x00\x00\x02\x00isomiso2")
        + _box(b"moov", mvhd + trak)
        + _box(b"mdat", b"".join(packets))
    )


def decode_alac(blob: bytes) -> dict:
    """Full M4A→samples decode: locate the alac sample entry's magic
    cookie, frame the mdat payload by the stsz size table, decode
    every packet. Returns {sample_rate, bit_depth, channels,
    n_packets, samples: [[ch0…], …]}. Raises on any malformed
    structure — callers keep the marker-row contract."""
    moov_s, moov_e = _find_box(blob, 0, len(blob), [b"moov"])
    stbl_s, stbl_e = _find_box(
        blob, moov_s, moov_e, [b"trak", b"mdia", b"minf", b"stbl"]
    )
    stsd_s, stsd_e = _find_box(blob, stbl_s, stbl_e, [b"stsd"])
    entry_pos = stsd_s + 8  # version/flags + entry count
    (fourcc,) = struct.unpack(">4s", blob[entry_pos + 4 : entry_pos + 8])
    if fourcc != b"alac":
        raise ValueError("not an ALAC sample entry")
    # the nested cookie box sits after the 36-byte AudioSampleEntry
    cookie_s, cookie_e = _find_box(
        blob, entry_pos + 8 + 28, stsd_e, [b"alac"]
    )
    cfg = parse_alac_cookie(blob[cookie_s + 4 : cookie_e])
    stsz_s, stsz_e = _find_box(blob, stbl_s, stbl_e, [b"stsz"])
    fixed, count = struct.unpack(">II", blob[stsz_s + 4 : stsz_s + 12])
    if fixed != 0:
        raise ValueError("fixed-size ALAC stsz unsupported")
    if stsz_s + 12 + 4 * count > stsz_e:
        raise ValueError("stsz count past box end")
    sizes = [
        struct.unpack(">I", blob[stsz_s + 12 + 4 * i : stsz_s + 16 + 4 * i])[0]
        for i in range(count)
    ]
    mdat_s, mdat_e = _find_box(blob, 0, len(blob), [b"mdat"])
    if sum(sizes) > mdat_e - mdat_s:
        raise ValueError("stsz sizes past mdat end")
    samples: list[list[int]] = [[] for _ in range(cfg["channels"])]
    pos = mdat_s
    for sz in sizes:
        chans = decode_alac_packet(blob[pos : pos + sz], cfg)
        for c, vals in enumerate(chans):
            samples[c].extend(vals)
        pos += sz
    return {
        "sample_rate": cfg["sample_rate"],
        "bit_depth": cfg["bit_depth"],
        "channels": cfg["channels"],
        "n_packets": count,
        "samples": samples,
    }


# ---------------------------------------------------------------------------
# fixture synthesizer (exact-oracle partner of multimodal_audio_alac_decode)
# ---------------------------------------------------------------------------


def _alac_samples(i: int, f: int, ch: int, t: int, n: int, b: bytes
                  ) -> list[int]:
    """Closed-form samples the DuckDB oracle replays: t=0 md5-chain
    int16s, t=1 ramp, t=2 small random head + zero tail (drives the
    zero-run coder), t=3 constant."""
    import hashlib

    if t == 0:
        out = []
        for c in range(8):
            hx = hashlib.md5(
                f"{i}:{'aL' if ch == 0 else 'aR'}:{f}:{c}".encode()
            ).digest()
            for j in range(8):
                u = hx[2 * j] * 256 + hx[2 * j + 1]
                out.append(u - 65536 if u >= 32768 else u)
        return out[:n]
    if t == 1:
        return [(b[6] - 128) * 4 + 3 * k for k in range(n)]
    if t == 2:
        cx = hashlib.md5(f"{i}:ac:{f}:{ch}".encode()).digest()
        return [cx[k] - 128 if k < 8 else 0 for k in range(n)]
    return [(b[7] - 128) * 7] * n


def _synth_alac_doc(i: int) -> bytes:
    """One deterministic ALAC M4A from md5(doc:alac): 2+b0%2 full
    64-sample packets (+ a PARTIAL 24+b5%16 tail when b5%2), mono SCE
    when doc%5==4 else stereo CPE; per-packet coding rotates escape /
    matrixed (mixRes 1+b3%3, mixBits 2) / independent; per-channel
    sample arms rotate md5-random (order-0, Golomb escapes live),
    ramp (order-2 sign-adaptive LPC; order-31 prepass when b7%2),
    silence tail (zero-run coder live), constant (order-1, residual
    runs). Random frames force order-0 planes (escape-capacity
    safety: zigzag of a 17-bit plane exactly fits the 17-bit escape)."""
    import hashlib

    b = hashlib.md5(f"{i}:alac".encode()).digest()
    mono = i % 5 == 4
    nf = 2 + b[0] % 2
    partial = b[5] % 2 == 1
    psamp = 24 + b[5] % 16
    cfg = {
        "frame_length": 64, "bit_depth": 16, "pb": PB0, "mb": MB0,
        "kb": KB0, "channels": 1 if mono else 2,
        "sample_rate": (8000, 44100, 48000)[b[8] % 3],
    }
    frames = [(f, 64) for f in range(nf)]
    if partial:
        frames.append((nf, psamp))
    pkts = []
    for f, n in frames:
        nch = 1 if mono else 2
        ts = [(b[2] + f + ch) % 4 for ch in range(nch)]
        chans = [
            _alac_samples(i, f, ch, ts[ch], n, b) for ch in range(nch)
        ]
        m = (b[1] + f) % 4
        if m == 0:
            pkts.append(
                encode_alac_packet(chans, cfg, [], escape=True,
                                   partial=(n != 64))
            )
            continue
        mix_res = 0 if (m == 2 or mono) else 1 + b[3] % 3
        pbf = 2 + (b[4] + f) % 5
        smooth = all(t in (1, 3) for t in ts)
        arms = []
        for ch in range(nch):
            t = ts[ch]
            if not smooth and mix_res != 0:
                arm = {"denshift": 0, "coefs": [], "pbf": pbf}
            elif t in (0, 2):
                arm = {"denshift": 0, "coefs": [], "pbf": pbf}
            elif t == 1:
                arm = {
                    "denshift": 4,
                    "coefs": [24, -8] if ch == 0 else [16, 0],
                    "pbf": pbf, "mode": 1 if b[7] % 2 else 0,
                }
            else:
                arm = {"denshift": 4, "coefs": [16], "pbf": pbf}
            arms.append(arm)
        arms[0]["mix_bits"] = 2 if mix_res else 0
        arms[0]["mix_res"] = mix_res
        pkts.append(
            encode_alac_packet(chans, cfg, arms, partial=(n != 64))
        )
    return build_alac_m4a(cfg, pkts)


def _alac_hires_samples(i: int, f: int, ch: int, t: int, b: bytes
                        ) -> list[int]:
    """Closed-form 24-bit samples (64 per frame-channel): t=0 md5
    high-16 + md5 low-8 chains (the shift buffer carries REAL
    entropy), t=1 ramp highs with cycling lows, t=2 constant with
    zero lows (residual runs at depth)."""
    import hashlib

    if t == 0:
        his = []
        for c in range(8):
            hx = hashlib.md5(
                f"{i}:{'hL' if ch == 0 else 'hR'}:{f}:{c}".encode()
            ).digest()
            for j in range(8):
                u = hx[2 * j] * 256 + hx[2 * j + 1]
                his.append(u - 65536 if u >= 32768 else u)
        los = []
        for d in range(4):
            los.extend(
                hashlib.md5(f"{i}:hlo:{ch}:{f}:{d}".encode()).digest()
            )
        return [h * 256 + lo for h, lo in zip(his, los)]
    if t == 1:
        return [
            ((b[6] - 128) * 4 + 3 * k) * 256 + (k * 37 + b[4]) % 256
            for k in range(64)
        ]
    return [(b[7] - 128) * 7 * 256] * 64


def _synth_alac_hires_doc(i: int) -> bytes:
    """One deterministic 24-bit ALAC M4A from md5(doc:a24): every
    compressed packet uses bytesShifted=1 (the real >16-bit layout —
    prediction on the high 16 bits, low bytes in the shift buffer),
    escape packets rotate in at full 24-bit width; mono when i%4==3."""
    import hashlib

    b = hashlib.md5(f"{i}:a24".encode()).digest()
    mono = i % 4 == 3
    nf = 2 + b[0] % 2
    cfg = {
        "frame_length": 64, "bit_depth": 24, "pb": PB0, "mb": MB0,
        "kb": KB0, "channels": 1 if mono else 2,
        "sample_rate": (44100, 96000, 192000)[b[8] % 3],
    }
    pkts = []
    for f in range(nf):
        nch = 1 if mono else 2
        ts = [(b[2] + f + ch) % 3 for ch in range(nch)]
        chans = [
            _alac_hires_samples(i, f, ch, ts[ch], b) for ch in range(nch)
        ]
        m = (b[1] + f) % 3
        if m == 0:
            pkts.append(encode_alac_packet(chans, cfg, [], escape=True))
            continue
        mix_res = 0 if (m == 2 or mono) else 1 + b[3] % 3
        pbf = 2 + (b[4] + f) % 5
        smooth = all(t in (1, 2) for t in ts)
        arms = []
        for ch in range(nch):
            t = ts[ch]
            if (not smooth and mix_res != 0) or t == 0:
                arm = {"denshift": 0, "coefs": [], "pbf": pbf}
            elif t == 1:
                arm = {
                    "denshift": 4,
                    "coefs": [24, -8] if ch == 0 else [16, 0],
                    "pbf": pbf, "mode": 1 if b[7] % 2 else 0,
                }
            else:
                arm = {"denshift": 4, "coefs": [16], "pbf": pbf}
            arms.append(arm)
        arms[0]["mix_bits"] = 2 if mix_res else 0
        arms[0]["mix_res"] = mix_res
        pkts.append(
            encode_alac_packet(chans, cfg, arms, bytes_shifted=1)
        )
    return build_alac_m4a(cfg, pkts)
