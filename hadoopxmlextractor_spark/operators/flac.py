"""Native FLAC — full SAMPLE decode (round 10), zero dependencies.

The first full-fidelity audio codec in the engine: unlike the
perceptual codecs (MP3/Vorbis/Opus — env-blocked, metadata tier
only), FLAC is integer-exact end to end, so decoded samples admit the
same EXACT md5-arithmetic oracles as the PCM/G.711/ADPCM family.

Decoder implements the FLAC format (RFC 9639 layout): STREAMINFO
metadata walk; frame headers (14-bit sync, blocking strategy, coded
block-size/sample-rate incl. the 8/16-bit end-of-header escapes and
the STREAMINFO fallback, channel assignment, UTF-8-coded frame
number, CRC-8 poly 0x07); subframes CONSTANT / VERBATIM / FIXED
(orders 0-4) / LPC (quantized coefficients, arithmetic-shift
prediction) with wasted-bits unary; Rice/Rice2 residual partitions
(zigzag mapping, unary quotients, the all-ones ESCAPE to raw
residuals, partition 0 shortened by the predictor order); the three
stereo decorrelations (left/side, right/side, mid/side with the
side-LSB mid reconstruction) where the side channel carries bps+1
bits; frame CRC-16 (poly 0x8005) over the byte-aligned frame; and the
STREAMINFO MD5 over the decoded interleaved little-endian samples —
three independent integrity layers a decode fault cannot all satisfy.

Encoder is the bit-exact write partner over the same surface, used by
the fixture synthesizer to rotate every decode path deterministically.
Both sides run on the shared MSB-first ``bitio.BitReader`` /
``BitWriter`` (overrun message "FLAC bitstream overrun"); the Rice
residual walks inline over their state.
Reference parity note: the reference decodes records packed in Hadoop
containers (SeqXmlRecordReader.java:233-328); this is the same
byte-level record discipline applied to an audio bitstream.
"""

from __future__ import annotations

import hashlib

import numpy as np

from hadoopxmlextractor_spark.operators.bitio import BitReader, BitWriter


def _interleave_le(samples: list[list[int]], nbytes: int) -> bytes:
    """Interleaved little-endian sample bytes (the STREAMINFO MD5
    input): sample j of every channel in order, each masked to
    ``nbytes`` bytes — vectorized twin of the per-sample
    ``to_bytes`` loop (r15 opt), bit-identical by construction."""
    arr = np.array(samples, dtype=np.int64)
    if arr.size == 0:
        return b""
    arr &= (1 << (8 * nbytes)) - 1
    inter = np.ascontiguousarray(arr.T)
    if nbytes in (1, 2, 4, 8):
        return inter.astype(f"<u{nbytes}").tobytes()
    # odd widths (e.g. 24-bit): emit via the next power width and
    # keep the low ``nbytes`` bytes of each little-endian cell
    wide = 4 if nbytes == 3 else 8
    cells = np.frombuffer(
        inter.astype(f"<u{wide}").tobytes(), np.uint8
    ).reshape(-1, wide)
    return cells[:, :nbytes].tobytes()


# CRC tables GENERATED from the polynomials (0x07 / 0x8005), not
# transcribed — r15 opt: the per-bit loops were ~half of BOTH decode
# and encode kernel time (CRC-16 runs over every frame byte); the
# 256-entry table walk is the same math one byte at a time (~10×).
_CRC8_TABLE = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07) & 0xFF if _c & 0x80 else (_c << 1) & 0xFF
    _CRC8_TABLE.append(_c)

_CRC16_TABLE = []
for _b in range(256):
    _c = _b << 8
    for _ in range(8):
        _c = (
            ((_c << 1) ^ 0x8005) & 0xFFFF
            if _c & 0x8000
            else (_c << 1) & 0xFFFF
        )
    _CRC16_TABLE.append(_c)


def _crc8(data: bytes) -> int:
    crc = 0
    t = _CRC8_TABLE
    for byte in data:
        crc = t[crc ^ byte]
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    t = _CRC16_TABLE
    for byte in data:
        crc = ((crc << 8) & 0xFF00) ^ t[(crc >> 8) ^ byte]
    return crc


_SR_CODES = {88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5,
             22050: 6, 24000: 7, 32000: 8, 44100: 9, 48000: 10,
             96000: 11}
_SR_TABLE = {v: k for k, v in _SR_CODES.items()}

_FIXED_COEF = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _zigzag(v: int) -> int:
    return 2 * v if v >= 0 else -2 * v - 1


def _read_residual(br: BitReader, blocksize: int, order: int) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise ValueError("reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = br.read(4)
    if blocksize % (1 << po):
        raise ValueError("block size not divisible by partitions")
    # r15 opt: the per-sample unary+read+unzigzag method calls were
    # the decode hot loop — same bit walk inlined over local state
    # (identical overrun/runaway checks; br.pos restored on exit).
    d = br.d
    nbits = len(d) << 3
    pos = br.pos
    out: list[int] = []
    append = out.append
    for part in range(1 << po):
        n = (blocksize >> po) - (order if part == 0 else 0)
        if n < 0:
            br.pos = pos
            raise ValueError("predictor order exceeds first partition")
        end = pos + pbits
        byte_end = (end + 7) >> 3
        if byte_end > len(d):
            raise ValueError("FLAC bitstream overrun")
        chunk = int.from_bytes(d[pos >> 3 : byte_end], "big")
        param = (chunk >> ((byte_end << 3) - end)) & escape
        pos = end
        if param == escape:
            end = pos + 5
            byte_end = (end + 7) >> 3
            if byte_end > len(d):
                raise ValueError("FLAC bitstream overrun")
            chunk = int.from_bytes(d[pos >> 3 : byte_end], "big")
            raw_bits = (chunk >> ((byte_end << 3) - end)) & 31
            pos = end
            if raw_bits:
                sign = 1 << (raw_bits - 1)
                full = 1 << raw_bits
                mask = full - 1
                for _ in range(n):
                    end = pos + raw_bits
                    byte_end = (end + 7) >> 3
                    if byte_end > len(d):
                        raise ValueError("FLAC bitstream overrun")
                    chunk = int.from_bytes(d[pos >> 3 : byte_end], "big")
                    v = (chunk >> ((byte_end << 3) - end)) & mask
                    pos = end
                    append(v - full if v >= sign else v)
            else:
                for _ in range(n):
                    append(0)
        else:
            mask = (1 << param) - 1
            for _ in range(n):
                q = 0
                while True:
                    if pos >= nbits:
                        raise ValueError("FLAC bitstream overrun")
                    if (d[pos >> 3] >> (7 - (pos & 7))) & 1:
                        pos += 1
                        break
                    pos += 1
                    q += 1
                    if q > 1 << 20:
                        raise ValueError("runaway unary code")
                if param:
                    end = pos + param
                    byte_end = (end + 7) >> 3
                    if byte_end > len(d):
                        raise ValueError("FLAC bitstream overrun")
                    chunk = int.from_bytes(d[pos >> 3 : byte_end], "big")
                    u = (q << param) | (
                        (chunk >> ((byte_end << 3) - end)) & mask
                    )
                    pos = end
                else:
                    u = q
                append(u >> 1 if u % 2 == 0 else -(u >> 1) - 1)
    br.pos = pos
    return out


def _write_residual(
    bw: BitWriter, res: list[int], blocksize: int, order: int,
    *, po: int, rice2: bool, escape_all: bool,
) -> None:
    method = 1 if rice2 else 0
    pbits = 5 if rice2 else 4
    escape = (1 << pbits) - 1
    bw.write(method, 2)
    bw.write(po, 4)
    pos = 0
    # r15 opt: per-sample write/unary method calls inlined over the
    # writer's own accumulator state — identical bit stream (the
    # encode partner stays byte-identical; round-trip + fixture-sweep
    # asserted in tests).
    acc = bw.acc
    nbits = bw.nbits
    out = bw.buf
    append = out.append
    for part in range(1 << po):
        n = (blocksize >> po) - (order if part == 0 else 0)
        chunk = res[pos : pos + n]
        pos += n
        if escape_all:
            raw_bits = max(
                (max(abs(v) for v in chunk).bit_length() + 1 if chunk
                 else 1), 2,
            )
            acc = (acc << pbits) | escape
            acc = (acc << 5) | raw_bits
            nbits += pbits + 5
            mask = (1 << raw_bits) - 1
            for v in chunk:
                acc = (acc << raw_bits) | (v & mask)
                nbits += raw_bits
                while nbits >= 8:
                    nbits -= 8
                    append((acc >> nbits) & 0xFF)
                acc &= (1 << nbits) - 1
        else:
            mx = max((_zigzag(v) for v in chunk), default=0)
            param = min(max(mx.bit_length() - 3, 0), escape - 1)
            acc = (acc << pbits) | param
            nbits += pbits
            mask = (1 << param) - 1
            for v in chunk:
                u = 2 * v if v >= 0 else -2 * v - 1
                q = u >> param
                # unary: q zeros then a 1, then param remainder bits
                acc = (acc << (q + 1)) | 1
                acc = (acc << param) | (u & mask)
                nbits += q + 1 + param
                while nbits >= 8:
                    nbits -= 8
                    append((acc >> nbits) & 0xFF)
                acc &= (1 << nbits) - 1
        while nbits >= 8:
            nbits -= 8
            append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1
    bw.acc = acc
    bw.nbits = nbits


def _predict(warm: list[int], res: list[int], coefs: list[int],
             shift: int) -> list[int]:
    # specialized low orders (r15 opt): the genexpr-sum per sample was
    # a decode hot spot; orders 1/2 cover the FIXED fast paths and the
    # fixture LPC. Same arithmetic, same history convention
    # (coefs[k] pairs with out[-k-1]).
    out = list(warm)
    order = len(coefs)
    if order == 0:
        out.extend(res)
        return out
    append = out.append
    if order == 1:
        (c0,) = coefs
        prev = out[-1]
        for r in res:
            prev = r + ((c0 * prev) >> shift)
            append(prev)
        return out
    if order == 2:
        c0, c1 = coefs
        p1, p2 = out[-1], out[-2]
        for r in res:
            v = r + ((c0 * p1 + c1 * p2) >> shift)
            append(v)
            p2 = p1
            p1 = v
        return out
    for r in res:
        acc = 0
        for k in range(order):
            acc += coefs[k] * out[-k - 1]
        append(r + (acc >> shift))
    return out


def _read_subframe(br: BitReader, blocksize: int, bps: int) -> list[int]:
    if br.read(1):
        raise ValueError("subframe padding bit set")
    t = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.unary() + 1
    eff = bps - wasted
    if t == 0:  # constant
        samples = [br.sread(eff)] * blocksize
    elif t == 1:  # verbatim
        samples = [br.sread(eff) for _ in range(blocksize)]
    elif 8 <= t <= 12:  # fixed, order t-8
        order = t - 8
        warm = [br.sread(eff) for _ in range(order)]
        res = _read_residual(br, blocksize, order)
        samples = _predict(warm, res, _FIXED_COEF[order], 0)
    elif t >= 32:  # LPC, order (t & 31) + 1
        order = (t & 31) + 1
        warm = [br.sread(eff) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("invalid LPC precision escape")
        shift = br.sread(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [br.sread(precision) for _ in range(order)]
        res = _read_residual(br, blocksize, order)
        samples = _predict(warm, res, coefs, shift)
    else:
        raise ValueError(f"reserved subframe type {t}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac(blob: bytes) -> dict:
    """Full sample decode of a FLAC stream. Returns {sample_rate,
    channels, bits, samples: [[ch0...], [ch1...]], n_frames, md5_ok,
    modes: [channel-assignment code per frame]}. Frame CRC-8 and
    CRC-16 are VERIFIED — raises ValueError on any mismatch or
    malformed structure. The STREAMINFO sample-MD5 is checked and
    REPORTED via the ``md5_ok`` flag (not raised), so callers can
    surface bit-rot without losing the decoded samples."""
    if blob[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    while True:
        hdr = blob[pos : pos + 4]
        if len(hdr) < 4:
            raise ValueError("truncated metadata block")
        last = hdr[0] >> 7
        btype = hdr[0] & 0x7F
        blen = int.from_bytes(hdr[1:4], "big")
        body = blob[pos + 4 : pos + 4 + blen]
        if len(body) < blen:
            raise ValueError("truncated metadata body")
        if btype == 0:
            if blen != 34:
                raise ValueError("bad STREAMINFO length")
            packed = int.from_bytes(body[10:18], "big")
            info = {
                "min_block": int.from_bytes(body[0:2], "big"),
                "max_block": int.from_bytes(body[2:4], "big"),
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bits": ((packed >> 36) & 0x1F) + 1,
                "total": packed & ((1 << 36) - 1),
                "md5": body[18:34],
            }
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("no STREAMINFO")
    channels = info["channels"]
    samples: list[list[int]] = [[] for _ in range(channels)]
    n_frames = 0
    modes: list[int] = []
    while pos < len(blob):
        frame_start = pos
        br = BitReader(blob, pos * 8, "FLAC bitstream overrun")
        if br.read(14) != 0b11111111111110:
            raise ValueError("bad frame sync")
        if br.read(1):
            raise ValueError("reserved sync bit set")
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ca = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise ValueError("reserved header bit set")
        # UTF-8-coded frame number
        first = br.read(8)
        if first < 0x80:
            pass
        else:
            n_cont = 0
            mask = 0x40
            while first & mask:
                n_cont += 1
                mask >>= 1
            for _ in range(n_cont):
                if br.read(8) & 0xC0 != 0x80:
                    raise ValueError("bad UTF-8 frame number")
        if bs_code == 0:
            raise ValueError("reserved block size code")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 0:
            pass  # STREAMINFO rate
        elif sr_code in _SR_TABLE:
            if _SR_TABLE[sr_code] != info["sample_rate"]:
                raise ValueError("frame/STREAMINFO sample-rate clash")
        elif sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        else:
            raise ValueError("invalid sample rate code")
        if ss_code == 0:
            bps = info["bits"]
        else:
            bps = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}.get(ss_code)
            if bps is None:
                raise ValueError("reserved sample size code")
        hdr_bytes = blob[frame_start : br.pos >> 3]
        if _crc8(hdr_bytes) != br.read(8):
            raise ValueError("frame header CRC-8 mismatch")
        if ca <= 7:
            if ca + 1 != channels:
                raise ValueError("channel count clash")
            chans = [
                _read_subframe(br, blocksize, bps) for _ in range(channels)
            ]
        elif ca in (8, 9, 10):
            if channels != 2:
                raise ValueError("stereo decorrelation needs 2 channels")
            b0 = bps + (1 if ca == 9 else 0)
            b1 = bps + (1 if ca in (8, 10) else 0)
            c0 = _read_subframe(br, blocksize, b0)
            c1 = _read_subframe(br, blocksize, b1)
            if ca == 8:  # left/side
                chans = [c0, [left - s for left, s in zip(c0, c1)]]
            elif ca == 9:  # side/right
                chans = [[r + s for s, r in zip(c0, c1)], c1]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(c0, c1):
                    m = (m << 1) | (s & 1)
                    left.append((m + s) >> 1)
                    right.append((m - s) >> 1)
                chans = [left, right]
        else:
            raise ValueError("reserved channel assignment")
        br.align()
        frame_body = blob[frame_start : br.pos >> 3]
        if _crc16(frame_body) != br.read(16):
            raise ValueError("frame CRC-16 mismatch")
        for ch in range(channels):
            samples[ch].extend(chans[ch])
        modes.append(ca)
        n_frames += 1
        pos = br.pos >> 3
    # STREAMINFO MD5 over interleaved little-endian decoded samples
    nbytes = (info["bits"] + 7) // 8
    md5_ok = (
        hashlib.md5(_interleave_le(samples, nbytes)).digest()
        == info["md5"]
    )
    return {
        "sample_rate": info["sample_rate"],
        "channels": channels,
        "bits": info["bits"],
        "samples": samples,
        "n_frames": n_frames,
        "md5_ok": md5_ok,
        "modes": modes,
    }


def _write_subframe(
    bw: BitWriter, ch_samples: list[int], bps: int, plan: dict
) -> None:
    """One subframe per the plan: {type: 'constant'|'verbatim'|
    'fixed'|'lpc', order, wasted, po, rice2, escape}."""
    t = plan["type"]
    wasted = plan.get("wasted", 0)
    bw.write(0, 1)
    if t == "constant":
        bw.write(0, 6)
    elif t == "verbatim":
        bw.write(1, 6)
    elif t == "fixed":
        bw.write(8 + plan["order"], 6)
    else:
        bw.write(32 + plan["order"] - 1, 6)
    if wasted:
        bw.write(1, 1)
        bw.unary(wasted - 1)
        ch_samples = [s >> wasted for s in ch_samples]
    else:
        bw.write(0, 1)
    eff = bps - wasted
    blocksize = len(ch_samples)
    if t == "constant":
        bw.swrite(ch_samples[0], eff)
        return
    if t == "verbatim":
        for s in ch_samples:
            bw.swrite(s, eff)
        return
    if t == "fixed":
        order = plan["order"]
        coefs = _FIXED_COEF[order]
        shift = 0
    else:
        order = plan["order"]
        coefs = plan["coefs"]
        shift = plan["shift"]
    for s in ch_samples[:order]:
        bw.swrite(s, eff)
    res = []
    rappend = res.append
    if order == 1:
        (c0,) = coefs
        for n in range(1, blocksize):
            rappend(ch_samples[n] - ((c0 * ch_samples[n - 1]) >> shift))
    elif order == 2:
        c0, c1 = coefs
        for n in range(2, blocksize):
            rappend(
                ch_samples[n]
                - ((c0 * ch_samples[n - 1] + c1 * ch_samples[n - 2])
                   >> shift)
            )
    else:
        for n in range(order, blocksize):
            acc = 0
            for k in range(order):
                acc += coefs[k] * ch_samples[n - k - 1]
            rappend(ch_samples[n] - (acc >> shift))
    if t == "lpc":
        bw.write(plan["precision"] - 1, 4)
        bw.swrite(shift, 5)
        for c in coefs:
            bw.swrite(c, plan["precision"])
    _write_residual(
        bw, res, blocksize, order,
        po=plan.get("po", 0), rice2=plan.get("rice2", False),
        escape_all=plan.get("escape", False),
    )


def encode_flac(
    channel_samples: list[list[int]],
    sample_rate: int,
    bits: int,
    *,
    blocksize: int,
    frame_plans: list[dict],
    sr_in_frame: bool = True,
    corrupt_md5: bool = False,
) -> bytes:
    """FLAC stream of per-channel sample lists — lossless by
    construction (round-trip asserted in tests). ``frame_plans``: one
    dict per frame {mode: 0 indep | 8 L/S | 9 R/S | 10 M/S,
    subframes: [plan per coded channel]}; ``sr_in_frame`` False
    writes sample-rate code 0 (the STREAMINFO-fallback header path);
    ``corrupt_md5`` flips the STREAMINFO hash (the md5_ok=False
    fixture arm)."""
    channels = len(channel_samples)
    total = len(channel_samples[0])
    nbytes = (bits + 7) // 8
    md5 = bytearray(
        hashlib.md5(_interleave_le(channel_samples, nbytes)).digest()
    )
    if corrupt_md5:
        md5[0] ^= 0xFF
    packed = (
        (sample_rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36)
        | total
    )
    streaminfo = (
        blocksize.to_bytes(2, "big") * 2 + b"\x00" * 6
        + packed.to_bytes(8, "big") + bytes(md5)
    )
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    for fno, plan in enumerate(frame_plans):
        lo = fno * blocksize
        frame = [c[lo : lo + blocksize] for c in channel_samples]
        mode = plan["mode"]
        if mode == 8:  # left/side
            coded = [frame[0], [a - b for a, b in zip(frame[0], frame[1])]]
            bpss = [bits, bits + 1]
        elif mode == 9:  # side/right
            coded = [[a - b for a, b in zip(frame[0], frame[1])], frame[1]]
            bpss = [bits + 1, bits]
        elif mode == 10:  # mid/side
            coded = [
                [(a + b) >> 1 for a, b in zip(frame[0], frame[1])],
                [a - b for a, b in zip(frame[0], frame[1])],
            ]
            bpss = [bits, bits + 1]
        else:
            coded = frame
            bpss = [bits] * channels
        bw = BitWriter()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)
        bw.write(0, 1)  # fixed blocking
        bw.write(6, 4)  # 8-bit blocksize-1 at end of header
        bw.write(_SR_CODES[sample_rate] if sr_in_frame else 0, 4)
        bw.write(mode if mode >= 8 else channels - 1, 4)
        bw.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bits], 3)
        bw.write(0, 1)
        bw.write(fno, 8)  # UTF-8 frame number (< 0x80: one byte)
        bw.write(blocksize - 1, 8)
        hdr = bw.tobytes()
        bw2 = BitWriter()
        for byte in hdr:
            bw2.write(byte, 8)
        bw2.write(_crc8(hdr), 8)
        for ch, sf_plan in enumerate(plan["subframes"]):
            _write_subframe(bw2, coded[ch], bpss[ch], sf_plan)
        bw2.align()
        body = bw2.tobytes()
        out += body + _crc16(body).to_bytes(2, "big")
    return bytes(out)


def _synth_flac_doc(i: int) -> bytes:
    """One deterministic FLAC stream from md5(doc:flacd): 2-3 frames
    of 64 stereo 16-bit samples (md5-chain int16s), frame f's stereo
    mode rotating independent / left-side / side-right / mid-side,
    subframe types rotating verbatim / fixed(order (b3+f)%5) /
    LPC(order 2) / constant (source samples OVERRIDDEN to the
    constant, independent frames only), a verbatim+wasted-bits arm
    (samples masked to 4-sample-multiples), rice vs rice2 methods,
    partition orders 0-2, escape partitions, the STREAMINFO-fallback
    sample-rate header path, and a corrupted-STREAMINFO-md5 arm on
    doc%11==5 (md5_ok must be SEEN false). Every override is replayed
    by the query oracle's closed-form arithmetic."""
    b = hashlib.md5(f"{i}:flacd".encode()).digest()
    bs = 64
    nf = 2 + b[0] % 2

    def raw_channel(tag: str) -> list[int]:
        out = []
        for f in range(nf):
            for c in range(8):
                d = hashlib.md5(f"{i}:{tag}:{f}:{c}".encode()).digest()
                for k in range(8):
                    u = (d[2 * k] << 8) | d[2 * k + 1]
                    out.append(u - 65536 if u >= 32768 else u)
        return out

    L, R = raw_channel("fL"), raw_channel("fR")
    plans = []
    for f in range(nf):
        mode = {0: 0, 1: 8, 2: 9, 3: 10}[(b[1] + f) % 4]
        sfs = []
        for ch in range(2):
            t = (b[2] + f + ch) % 4
            tgt = L if ch == 0 else R
            if mode == 0 and t == 3:  # constant override
                d = hashlib.md5(f"{i}:fc:{f}:{ch}".encode()).digest()
                u = (d[0] << 8) | d[1]
                cval = u - 65536 if u >= 32768 else u
                for j in range(f * bs, (f + 1) * bs):
                    tgt[j] = cval
                sfs.append({"type": "constant"})
            elif mode == 0 and t == 0 and ch == 1 and (b[6] + f) % 2:
                for j in range(f * bs, (f + 1) * bs):  # wasted-bits arm
                    tgt[j] &= ~3
                sfs.append({"type": "verbatim", "wasted": 2})
            else:
                if mode != 0:
                    t = (b[2] + f + ch) % 3
                if t == 0 or t == 3:
                    sfs.append({"type": "verbatim"})
                elif t == 1:
                    sfs.append({
                        "type": "fixed", "order": (b[3] + f) % 5,
                        "po": (b[4] + f) % 3,
                        "rice2": bool((b[5] + f + ch) % 2),
                        "escape": (b[7] + f + ch) % 4 == 0,
                    })
                else:
                    sfs.append({
                        "type": "lpc", "order": 2, "coefs": [3, -1],
                        "shift": 1, "precision": 4,
                        "po": (b[4] + f + 1) % 3,
                    })
        plans.append({"mode": mode, "subframes": sfs})
    return encode_flac(
        [L, R], (8000, 44100, 48000)[b[8] % 3], 16,
        blocksize=bs, frame_plans=plans,
        sr_in_frame=bool(b[9] % 2),
        corrupt_md5=(int(i) % 11 == 5),
    )


def flac_pictures(blob: bytes) -> list[dict]:
    """PICTURE metadata blocks (type 6) — the embedded cover art real
    FLAC files carry: per block the picture type (3 = front cover),
    MIME, UTF-8 description, declared width/height/depth/colors, and
    the raw image payload, all length-prefixed big-endian per the
    FLAC metadata layout. Truncated structures raise (r11)."""
    if blob[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    out = []
    while True:
        hdr = blob[pos : pos + 4]
        if len(hdr) < 4:
            raise ValueError("truncated metadata block")
        last = hdr[0] >> 7
        btype = hdr[0] & 0x7F
        blen = int.from_bytes(hdr[1:4], "big")
        body = blob[pos + 4 : pos + 4 + blen]
        if len(body) < blen:
            raise ValueError("truncated metadata body")
        if btype == 6:
            p = 0

            def u32() -> int:
                nonlocal p
                if p + 4 > len(body):
                    raise ValueError("truncated PICTURE block")
                v = int.from_bytes(body[p : p + 4], "big")
                p += 4
                return v

            pic_type = u32()
            ml = u32()
            mime = body[p : p + ml].decode("ascii")
            p += ml
            dl = u32()
            desc = body[p : p + dl].decode("utf-8")
            p += dl
            width, height, depth, colors, n = (
                u32(), u32(), u32(), u32(), u32()
            )
            data = body[p : p + n]
            if len(data) < n:
                raise ValueError("truncated picture data")
            out.append({
                "pic_type": pic_type, "mime": mime, "description": desc,
                "width": width, "height": height, "depth": depth,
                "colors": colors, "data": data,
            })
        pos += 4 + blen
        if last:
            break
    return out


def build_flac_picture_block(
    *, pic_type: int, mime: str, description: str, width: int,
    height: int, depth: int, data: bytes, last: bool = True,
) -> bytes:
    """One PICTURE metadata block (write partner of
    :func:`flac_pictures`)."""
    mb = mime.encode("ascii")
    db = description.encode("utf-8")
    body = (
        pic_type.to_bytes(4, "big")
        + len(mb).to_bytes(4, "big") + mb
        + len(db).to_bytes(4, "big") + db
        + width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + depth.to_bytes(4, "big") + (0).to_bytes(4, "big")
        + len(data).to_bytes(4, "big") + data
    )
    return bytes([(0x80 if last else 0) | 6]) + len(body).to_bytes(
        3, "big"
    ) + body
