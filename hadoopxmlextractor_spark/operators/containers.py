"""Modern web media containers — MP4/ISO-BMFF, WebM/Matroska (EBML),
and WebP — metadata walks + deterministic synthesizers (round 9).

These are the three highest-frequency containers in a real crawl that
the round-8 metadata tier did not cover (it shipped AVI, Ogg, WAV,
MP3, FLAC): MP4 and WebM carry essentially all modern web video, WebP
is the most common crawled image format after JPEG/PNG. The walks
read HEADER boxes only — no codec work, same shape as the shipped AVI
stream-header / Ogg page walks — so metadata routing stays total even
for blobs whose sample decode is the ffmpeg plug-in point.

Spark shape: every parser is a plain bytes→dict kernel dispatched
from the `*_container_meta` Arrow ``mapInPandas`` passes in
:mod:`hadoopxmlextractor_spark.operators.multimodal` (one pass, no
shuffle, embarrassingly parallel per blob at 100 TB). Synthesizers
are md5-parameterized per doc so a DuckDB oracle replays every field
with integer arithmetic — no floats cross the engine boundary except
the EBML Duration double, which the synths pin to exactly-representable
integer values.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd  # noqa: F401  (pandas_udf string annotations)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoopxmlextractor_spark.operators.bitio import BitReader, BitWriter
from hadoopxmlextractor_spark.operators.kernel import blob_rows

# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF (ISO 14496-12) box walk
# ---------------------------------------------------------------------------


def _iter_boxes(buf: bytes, pos: int, end: int):
    """(fourcc, body start, box end) for each ISO-BMFF box in
    buf[pos:end] — 32-bit sizes, the 64-bit ``largesize`` escape
    (size==1), and size==0 (to end of enclosing box)."""
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", buf[pos : pos + 4])
        typ = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack(">Q", buf[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError("bad box size")
        yield typ, body, pos + size
        pos += size


def _find_box(buf: bytes, pos: int, end: int, fourcc: bytes):
    for typ, body, bend in _iter_boxes(buf, pos, end):
        if typ == fourcc:
            return body, bend
    return None


def _mvhd_timing(buf: bytes, body: int) -> tuple[int, int]:
    """(timescale, duration units) of an mvhd box body — version 0
    (32-bit times) and version 1 (64-bit) layouts."""
    if buf[body] == 1:
        (timescale,) = struct.unpack(">I", buf[body + 20 : body + 24])
        (duration,) = struct.unpack(">Q", buf[body + 24 : body + 32])
    else:
        (timescale,) = struct.unpack(">I", buf[body + 12 : body + 16])
        (duration,) = struct.unpack(">I", buf[body + 16 : body + 20])
    return timescale, duration


def _trak_info(buf: bytes, body: int, bend: int):
    """(handler 4cc, stsd first-entry fourcc+offset, stts frame count,
    tkhd width, tkhd height, track_ID, mdhd timescale) of one trak
    box — track_ID is what moof/tfhd fragments key on, the mdhd
    timescale is the unit of trun sample durations."""
    handler = None
    entry = None  # (fourcc, sample-entry body offset)
    n_samples = 0
    w = h = None
    track_id = None
    media_ts = None
    tk = _find_box(buf, body, bend, b"tkhd")
    if tk is not None:
        tb, tbe = tk
        # width/height are the LAST 8 bytes of tkhd: 16.16 fixed point
        (fw, fh) = struct.unpack(">II", buf[tbe - 8 : tbe])
        w, h = fw >> 16, fh >> 16
        idp = tb + (20 if buf[tb] == 1 else 12)  # v1: 64-bit times
        (track_id,) = struct.unpack(">I", buf[idp : idp + 4])
    md = _find_box(buf, body, bend, b"mdia")
    if md is None:
        return None
    mb, mbe = md
    mh = _find_box(buf, mb, mbe, b"mdhd")
    if mh is not None:
        tsp = mh[0] + (20 if buf[mh[0]] == 1 else 12)
        (media_ts,) = struct.unpack(">I", buf[tsp : tsp + 4])
    hd = _find_box(buf, mb, mbe, b"hdlr")
    if hd is not None:
        handler = buf[hd[0] + 8 : hd[0] + 12]
    mi = _find_box(buf, mb, mbe, b"minf")
    if mi is not None:
        st = _find_box(buf, mi[0], mi[1], b"stbl")
        if st is not None:
            sb, sbe = st
            sd = _find_box(buf, sb, sbe, b"stsd")
            if sd is not None:
                # version+flags(4) + entry_count(4), then first entry
                ep = sd[0] + 8
                entry = (buf[ep + 4 : ep + 8], ep + 8)
            tt = _find_box(buf, sb, sbe, b"stts")
            if tt is not None:
                (n_entries,) = struct.unpack(
                    ">I", buf[tt[0] + 4 : tt[0] + 8]
                )
                p = tt[0] + 8
                for _ in range(n_entries):
                    (cnt, _delta) = struct.unpack(">II", buf[p : p + 8])
                    n_samples += cnt
                    p += 8
    return handler, entry, n_samples, w, h, track_id, media_ts


def _mp4_tracks(blob: bytes):
    """(mvhd timescale, mvhd duration, [track info ...]) of an MP4 —
    None unless the file leads with ftyp and contains moov/mvhd."""
    it = _iter_boxes(blob, 0, len(blob))
    try:
        typ, _, _ = next(it)
    except StopIteration:
        return None
    if typ != b"ftyp":
        return None
    mv = _find_box(blob, 0, len(blob), b"moov")
    if mv is None:
        return None
    mb, mbe = mv
    hd = _find_box(blob, mb, mbe, b"mvhd")
    if hd is None:
        return None
    timescale, duration = _mvhd_timing(blob, hd[0])
    tracks = []
    for typ, body, bend in _iter_boxes(blob, mb, mbe):
        if typ == b"trak":
            info = _trak_info(blob, body, bend)
            if info is not None:
                tracks.append(info)
    return timescale, duration, tracks


def _mp4_fragments(blob: bytes, track_id: int) -> tuple[int, int]:
    """(sample count, summed sample duration in MEDIA-timescale units)
    for one track across every top-level ``moof`` movie fragment —
    the DASH/fMP4 layout where timing lives in tfhd defaults and trun
    per-sample fields instead of the (empty) moov sample tables:
    mfhd-sequenced moofs, traf per track, tfhd flags gating
    base-data-offset / sample-description / default-sample-* fields,
    trun flags gating data-offset / first-sample-flags and the
    per-sample (duration, size, flags, cts) columns."""
    n = 0
    dur = 0
    for typ, body, bend in _iter_boxes(blob, 0, len(blob)):
        if typ != b"moof":
            continue
        for t2, b2, e2 in _iter_boxes(blob, body, bend):
            if t2 != b"traf":
                continue
            tf = _find_box(blob, b2, e2, b"tfhd")
            if tf is None:
                continue
            flags = int.from_bytes(blob[tf[0] + 1 : tf[0] + 4], "big")
            (tid,) = struct.unpack(">I", blob[tf[0] + 4 : tf[0] + 8])
            if tid != track_id:
                continue
            p = tf[0] + 8
            if flags & 0x1:  # base-data-offset (u64)
                p += 8
            if flags & 0x2:  # sample-description-index
                p += 4
            default_dur = None
            if flags & 0x8:
                (default_dur,) = struct.unpack(">I", blob[p : p + 4])
            for t3, b3, e3 in _iter_boxes(blob, b2, e2):
                if t3 != b"trun":
                    continue
                tflags = int.from_bytes(blob[b3 + 1 : b3 + 4], "big")
                (cnt,) = struct.unpack(">I", blob[b3 + 4 : b3 + 8])
                n += cnt
                q = b3 + 8
                if tflags & 0x1:  # data-offset
                    q += 4
                if tflags & 0x4:  # first-sample-flags
                    q += 4
                if tflags & 0x100:  # per-sample durations present
                    stride = 4 * bin((tflags >> 8) & 0xF).count("1")
                    for s in range(cnt):
                        dur += struct.unpack(
                            ">I", blob[q + s * stride : q + s * stride + 4]
                        )[0]
                elif default_dur is not None:
                    dur += default_dur * cnt
    return n, dur


def _mp4_mehd_duration(blob: bytes) -> int | None:
    """moov/mvex/mehd fragment_duration (mvhd-timescale units) — the
    total-movie duration a fragmented file declares up front, since
    its mvhd duration is 0."""
    mv = _find_box(blob, 0, len(blob), b"moov")
    if mv is None:
        return None
    mx = _find_box(blob, mv[0], mv[1], b"mvex")
    if mx is None:
        return None
    me = _find_box(blob, mx[0], mx[1], b"mehd")
    if me is None:
        return None
    if blob[me[0]] == 1:
        return struct.unpack(">Q", blob[me[0] + 4 : me[0] + 12])[0]
    return struct.unpack(">I", blob[me[0] + 4 : me[0] + 8])[0]


def _parse_mp4_meta(blob: bytes):
    """VIDEO_META row of an MP4/ISO-BMFF file: moov/mvhd timing, the
    'vide' track's tkhd dims + stsd codec fourcc + stts sample count.
    FRAGMENTED files (empty moov sample tables, timing in moof/trun —
    the DASH-origin layout a growing share of crawled video uses)
    fall through to the movie-fragment walk: frame count from trun
    sample counts keyed on the track_ID, duration from mvex/mehd or,
    absent that, summed trun/tfhd sample durations in the mdhd media
    timescale. MP4 stores no global fps field, so fps_num/fps_den
    stay NULL — duration and frame count are the honest header facts.
    Same shape as the AVI walk (multimodal._parse_avi_meta)."""
    parsed = _mp4_tracks(blob)
    if parsed is None:
        return None
    timescale, duration, tracks = parsed
    for handler, entry, n_samples, w, h, track_id, media_ts in tracks:
        if handler == b"vide" and entry is not None and w:
            duration_ms = (
                duration * 1000 // timescale if timescale else None
            )
            if n_samples == 0 and track_id is not None:
                frag_n, frag_dur = _mp4_fragments(blob, track_id)
                if frag_n:
                    n_samples = frag_n
                    if not duration:
                        mehd = _mp4_mehd_duration(blob)
                        if mehd is not None and timescale:
                            duration_ms = mehd * 1000 // timescale
                        elif frag_dur and media_ts:
                            duration_ms = frag_dur * 1000 // media_ts
            return {
                "codec": entry[0].decode("ascii", "replace"),
                "width": int(w),
                "height": int(h),
                "fps_num": None,
                "fps_den": None,
                "n_frames": int(n_samples),
                "duration_ms": duration_ms,
            }
    return None


def _parse_mp4_audio_meta(blob: bytes):
    """AUDIO_META row of an M4A/MP4 audio file: the 'soun' track's
    AudioSampleEntry (channels, sample size, 16.16 sample rate) +
    stts sample count + mvhd duration; bitrate from the esds
    avgBitrate field when present. The audio twin of
    :func:`_parse_mp4_meta` over the same box walk."""
    parsed = _mp4_tracks(blob)
    if parsed is None:
        return None
    timescale, duration, tracks = parsed
    for handler, entry, n_samples, _w, _h, _tid, _mts in tracks:
        if handler == b"soun" and entry is not None:
            fourcc, ep = entry
            # AudioSampleEntry: 6 reserved + 2 data_ref, 8 version/
            # revision/vendor, channelcount u16, samplesize u16,
            # 4 pre_defined/reserved, samplerate 16.16
            channels, bits = struct.unpack(">HH", blob[ep + 16 : ep + 20])
            (sr_fixed,) = struct.unpack(">I", blob[ep + 24 : ep + 28])
            bitrate = None
            esds = blob.find(b"esds", ep)
            if esds >= 0:
                # synth layout: fourcc + version/flags(4) +
                # avgBitrate u32 (a pinned subset of the descriptor)
                (avg,) = struct.unpack(
                    ">I", blob[esds + 8 : esds + 12]
                )
                bitrate = avg // 1000
            return {
                "codec": {"mp4a": "aac", "alac": "alac"}.get(
                    fourcc.decode("ascii", "replace"),
                    fourcc.decode("ascii", "replace"),
                ),
                "sample_rate": int(sr_fixed >> 16),
                "channels": int(channels),
                "sample_bits": int(bits),
                "n_units": int(n_samples),
                "bitrate_kbps": bitrate,
                "is_vbr": False,
                "duration_ms": (
                    duration * 1000 // timescale if timescale else None
                ),
                "meta_bytes": None,
            }
    return None


# ---------------------------------------------------------------------------
# WebM / Matroska — EBML walk
# ---------------------------------------------------------------------------

_EBML_MAGIC = b"\x1aE\xdf\xa3"


def _ebml_vint(buf: bytes, pos: int, *, keep_marker: bool) -> tuple[int, int]:
    """(value, encoded length) of the EBML variable-length integer at
    ``pos`` — element IDs keep the length-marker bits (they are
    compared as full patterns, e.g. 0x1A45DFA3), sizes strip them."""
    first = buf[pos]
    if first == 0:
        raise ValueError("EBML vint longer than 8 bytes")
    n = 1
    mask = 0x80
    while not (first & mask):
        mask >>= 1
        n += 1
    val = first if keep_marker else (first & (mask - 1))
    for k in range(1, n):
        val = (val << 8) | buf[pos + k]
    return val, n


def _iter_ebml(buf: bytes, pos: int, end: int):
    """(element id, body start, body end) of each EBML element in
    buf[pos:end]."""
    while pos < end:
        eid, n = _ebml_vint(buf, pos, keep_marker=True)
        size, m = _ebml_vint(buf, pos + n, keep_marker=False)
        body = pos + n + m
        if body + size > end:
            raise ValueError("EBML element overruns parent")
        yield eid, body, body + size
        pos = body + size


def _ebml_uint(buf: bytes, body: int, end: int) -> int:
    return int.from_bytes(buf[body:end], "big")


def _parse_webm_meta(blob: bytes):
    """VIDEO_META row of a WebM/Matroska file: EBML header DocType,
    Segment/Info (TimestampScale + Duration), the video TrackEntry
    (PixelWidth/PixelHeight + CodecID), and a Cluster walk counting
    the video track's SimpleBlocks as the frame count. Matroska
    Duration is a float in TimestampScale units; duration_ms converts
    via integer math on the (exactly-representable) value."""
    if blob[:4] != _EBML_MAGIC:
        return None
    doctype = None
    scale = 1_000_000  # Matroska default: 1 ms in ns
    dur_units = None
    codec = None
    width = height = None
    video_track = None
    n_blocks = 0
    for eid, body, bend in _iter_ebml(blob, 0, len(blob)):
        if eid == 0x1A45DFA3:  # EBML header
            for e2, b2, e2e in _iter_ebml(blob, body, bend):
                if e2 == 0x4282:  # DocType
                    doctype = blob[b2:e2e].decode("ascii", "replace")
        elif eid == 0x18538067:  # Segment
            for e2, b2, e2e in _iter_ebml(blob, body, bend):
                if e2 == 0x1549A966:  # Info
                    for e3, b3, e3e in _iter_ebml(blob, b2, e2e):
                        if e3 == 0x2AD7B1:
                            scale = _ebml_uint(blob, b3, e3e)
                        elif e3 == 0x4489:  # Duration: float32/float64
                            raw = blob[b3:e3e]
                            dur_units = struct.unpack(
                                ">f" if len(raw) == 4 else ">d", raw
                            )[0]
                elif e2 == 0x1654AE6B:  # Tracks
                    for e3, b3, e3e in _iter_ebml(blob, b2, e2e):
                        if e3 != 0xAE:  # TrackEntry
                            continue
                        tnum = ttype = None
                        tcodec = tw = th = None
                        for e4, b4, e4e in _iter_ebml(blob, b3, e3e):
                            if e4 == 0xD7:
                                tnum = _ebml_uint(blob, b4, e4e)
                            elif e4 == 0x83:
                                ttype = _ebml_uint(blob, b4, e4e)
                            elif e4 == 0x86:
                                tcodec = blob[b4:e4e].decode(
                                    "ascii", "replace"
                                )
                            elif e4 == 0xE0:  # Video
                                for e5, b5, e5e in _iter_ebml(
                                    blob, b4, e4e
                                ):
                                    if e5 == 0xB0:
                                        tw = _ebml_uint(blob, b5, e5e)
                                    elif e5 == 0xBA:
                                        th = _ebml_uint(blob, b5, e5e)
                        if ttype == 1 and video_track is None:
                            video_track = tnum
                            codec, width, height = tcodec, tw, th
                elif e2 == 0x1F43B675:  # Cluster
                    for e3, b3, e3e in _iter_ebml(blob, b2, e2e):
                        if e3 == 0xA3:  # SimpleBlock: track vint first
                            btrack, _ = _ebml_vint(
                                blob, b3, keep_marker=False
                            )
                            if btrack == video_track:
                                n_blocks += 1
                        elif e3 == 0xA0:  # BlockGroup wraps a Block
                            # (the lacing/duration-carrying layout
                            # muxers emit alongside SimpleBlocks)
                            for e4, b4, e4e in _iter_ebml(blob, b3, e3e):
                                if e4 == 0xA1:  # Block: same track vint
                                    btrack, _ = _ebml_vint(
                                        blob, b4, keep_marker=False
                                    )
                                    if btrack == video_track:
                                        n_blocks += 1
    if doctype not in ("webm", "matroska") or codec is None or not width:
        return None
    duration_ms = None
    if dur_units is not None:
        duration_ms = int(dur_units) * scale // 1_000_000
    return {
        "codec": codec,
        "width": int(width),
        "height": int(height),
        "fps_num": None,
        "fps_den": None,
        "n_frames": n_blocks,
        "duration_ms": duration_ms,
    }


# ---------------------------------------------------------------------------
# WebP — RIFF walk (the image sibling of the AVI walker)
# ---------------------------------------------------------------------------

IMAGE_META_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "has_alpha boolean, is_animated boolean, is_lossless boolean, "
    "n_chunks int"
)


def _parse_webp_meta(blob: bytes):
    """WebP metadata from the RIFF chunk walk: simple lossy ('VP8 ' —
    frame tag + 0x9D012A start code + 14-bit dims), simple lossless
    ('VP8L' — 0x2F signature + 14-bit dims + alpha bit), and extended
    ('VP8X' — feature flags + 24-bit canvas dims, alpha/animation
    from the flag byte, lossless from the presence of a VP8L chunk).
    Dims-only header read — VP8/VP8L sample decode is the plug-in
    point like the other refused codecs."""
    if len(blob) < 20 or blob[:4] != b"RIFF" or blob[8:12] != b"WEBP":
        return None
    fmt = None
    w = h = None
    alpha = animated = lossless = False
    n_chunks = 0
    pos = 12
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (ln,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        body = pos + 8
        if body + ln > len(blob):
            return None
        n_chunks += 1
        if cid == b"VP8 " and fmt is None:
            if blob[body + 3 : body + 6] != b"\x9d\x01\x2a":
                return None
            (fw, fh) = struct.unpack("<HH", blob[body + 6 : body + 10])
            fmt, w, h = "vp8", fw & 0x3FFF, fh & 0x3FFF
        elif cid == b"VP8L" and fmt is None:
            if blob[body] != 0x2F:
                return None
            (bits,) = struct.unpack("<I", blob[body + 1 : body + 5])
            fmt = "vp8l"
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            alpha = bool((bits >> 28) & 1)
            lossless = True
        elif cid == b"VP8X" and fmt is None:
            flags = blob[body]
            alpha = bool(flags & 0x10)
            animated = bool(flags & 0x02)
            w = int.from_bytes(blob[body + 4 : body + 7], "little") + 1
            h = int.from_bytes(blob[body + 7 : body + 10], "little") + 1
            fmt = "vp8x"
        elif cid == b"VP8L" and fmt == "vp8x":
            lossless = True
        pos = body + ln + (ln & 1)
    if fmt is None:
        return None
    return {
        "format": fmt,
        "width": int(w),
        "height": int(h),
        "has_alpha": alpha,
        "is_animated": animated,
        "is_lossless": lossless,
        "n_chunks": n_chunks,
    }


def webp_meta(
    media: DataFrame, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """WebP metadata rows in one Arrow pass — the image tier's
    container-metadata operator (twin of
    :func:`multimodal.audio_container_meta`), with the same
    format-NULL marker contract for unrecognized blobs."""

    def _decode(blob) -> list[dict]:
        meta = _parse_webp_meta(bytes(blob))
        if meta is None:
            raise ValueError("not a WebP")
        return [meta]

    return blob_rows(
        media, id_col, content_col, _decode, IMAGE_META_SCHEMA, {}
    )


# ---------------------------------------------------------------------------
# Deterministic synthesizers (md5-parameterized; oracle-replayable)
# ---------------------------------------------------------------------------


def _box(fourcc: bytes, payload: bytes, *, largesize: bool = False) -> bytes:
    if largesize:
        return struct.pack(">I", 1) + fourcc + struct.pack(
            ">Q", 16 + len(payload)
        ) + payload
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


_MP4_TIMESCALES = (600, 1000, 90000, 30000)
_MP4_CODECS = (b"avc1", b"hev1", b"vp09", b"av01")


def _synth_mp4_video_blob(i: int) -> bytes:
    """One deterministic MP4 from md5(doc:mp4) — ROTATING box layouts:
    mvhd v0/v1, an interleaved free box, audio-track-first ordering,
    and a 1- vs 2-entry stts. On b11%2 the file is FRAGMENTED (r10):
    empty moov sample tables, mvhd duration 0, timing in moof/traf/
    trun movie fragments — with the duration source itself rotating
    (b12%2): mvex/mehd fragment_duration (v0/v1 per b14%2) alongside
    tfhd default-sample-durations, or NO mehd with per-sample trun
    durations summing exactly to the movie duration. The audio
    track's fragments must never pollute the video frame count
    (track_ID keying)."""
    import hashlib

    b = hashlib.md5(f"{i}:mp4".encode()).digest()
    width = 16 * (b[0] % 40 + 1)
    height = 16 * (b[1] % 24 + 1)
    ts = _MP4_TIMESCALES[b[2] % 4]
    n_frames = 10 + b[3] % 90
    dur_units = ts * (1 + b[10] % 10) + b[4]
    codec = _MP4_CODECS[b[5] % 4]
    fragmented = b[11] % 2 == 1
    mvhd_dur = 0 if fragmented else dur_units

    if b[7] % 2:  # mvhd version 1 (64-bit times)
        mvhd = _box(
            b"mvhd",
            b"\x01\x00\x00\x00" + b"\x00" * 16
            + struct.pack(">IQ", ts, mvhd_dur) + b"\x00" * 80,
        )
    else:
        mvhd = _box(
            b"mvhd",
            b"\x00" * 4 + b"\x00" * 8
            + struct.pack(">II", ts, mvhd_dur) + b"\x00" * 80,
        )

    def trak(handler: bytes, entry: bytes, stts: bytes, w: int, h: int,
             tid: int):
        tkhd = _box(
            b"tkhd",
            b"\x00\x00\x00\x07" + b"\x00" * 8 + struct.pack(">I", tid)
            + b"\x00" * 60 + struct.pack(">II", w << 16, h << 16),
        )
        stsd = _box(
            b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry
        )
        stbl = _box(b"stbl", stsd + stts)
        minf = _box(b"minf", stbl)
        hdlr = _box(b"hdlr", b"\x00" * 8 + handler + b"\x00" * 12)
        mdhd = _box(
            b"mdhd", b"\x00" * 12 + struct.pack(">II", ts, mvhd_dur)
            + b"\x00" * 4
        )
        return _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr + minf))

    if fragmented:  # fMP4: moov sample tables are EMPTY
        stts = _box(b"stts", b"\x00" * 4 + struct.pack(">I", 0))
        audio_stts = stts
    elif b[9] % 2:  # two stts entries summing to n_frames
        n1 = n_frames // 2
        stts = _box(
            b"stts",
            b"\x00" * 4 + struct.pack(">I", 2)
            + struct.pack(">II", n1, 100)
            + struct.pack(">II", n_frames - n1, 100),
        )
        audio_stts = _box(
            b"stts", b"\x00" * 4 + struct.pack(">I", 1)
            + struct.pack(">II", 7, 1024)
        )
    else:
        stts = _box(
            b"stts",
            b"\x00" * 4 + struct.pack(">I", 1)
            + struct.pack(">II", n_frames, 100),
        )
        audio_stts = _box(
            b"stts", b"\x00" * 4 + struct.pack(">I", 1)
            + struct.pack(">II", 7, 1024)
        )
    ventry = _box(codec, b"\x00" * 78)  # VisualSampleEntry-sized filler
    vtrak = trak(b"vide", ventry, stts, width, height, 1)

    aentry = _box(b"mp4a", b"\x00" * 28)
    atrak = trak(b"soun", aentry, audio_stts, 0, 0, 2)

    traks = atrak + vtrak if b[8] % 2 else vtrak + atrak
    moov_kids = mvhd + traks
    if fragmented:
        per_sample = b[12] % 2 == 1
        mvex = b""
        if not per_sample:  # duration declared up front in mehd
            if b[14] % 2:
                mvex += _box(
                    b"mehd", b"\x01\x00\x00\x00"
                    + struct.pack(">Q", dur_units)
                )
            else:
                mvex += _box(
                    b"mehd", b"\x00" * 4 + struct.pack(">I", dur_units)
                )
        for tid, ddur in ((1, 100), (2, 1024)):
            mvex += _box(
                b"trex",
                b"\x00" * 4 + struct.pack(">IIII", tid, 1, ddur, 0)
                + b"\x00" * 4,
            )
        moov_kids += _box(b"mvex", mvex)
    moov = _box(b"moov", moov_kids)
    parts = [_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")]
    if b[6] % 2:
        parts.append(_box(b"free", b"\x00" * (b[6] % 32)))
    parts.append(moov)
    if not fragmented:
        parts.append(_box(b"mdat", b"\x00" * 64))
        return b"".join(parts)
    # movie fragments: n_frames spread over 2-3 moofs, each with a
    # video traf and a decoy audio traf
    per_sample = b[12] % 2 == 1
    durations = [dur_units // n_frames] * n_frames
    for k in range(dur_units % n_frames):
        durations[k] += 1  # sums EXACTLY to dur_units
    n_frag = 2 + b[13] % 2
    taken = 0
    for seq in range(n_frag):
        left = n_frames - taken
        cnt = left // (n_frag - seq) if seq < n_frag - 1 else left
        mfhd = _box(b"mfhd", b"\x00" * 4 + struct.pack(">I", seq + 1))
        if per_sample:  # trun rows: [duration, size] per sample
            tfhd_v = _box(
                b"tfhd", b"\x00\x02\x00\x00" + struct.pack(">I", 1)
            )
            rows = b"".join(
                struct.pack(">II", durations[taken + s], 50 + s)
                for s in range(cnt)
            )
            trun_v = _box(
                b"trun",
                b"\x00\x00\x03\x01" + struct.pack(">I", cnt)
                + struct.pack(">i", 0) + rows,
            )
        else:  # tfhd default-sample-duration carries timing
            tfhd_v = _box(
                b"tfhd", b"\x00\x02\x00\x08" + struct.pack(">II", 1, 100)
            )
            sizes = b"".join(
                struct.pack(">I", 50 + s) for s in range(cnt)
            )
            trun_v = _box(
                b"trun",
                b"\x00\x00\x02\x01" + struct.pack(">I", cnt)
                + struct.pack(">i", 0) + sizes,
            )
        traf_v = _box(b"traf", tfhd_v + trun_v)
        tfhd_a = _box(
            b"tfhd", b"\x00\x02\x00\x08" + struct.pack(">II", 2, 1024)
        )
        trun_a = _box(
            b"trun",
            b"\x00\x00\x00\x01" + struct.pack(">I", 3)
            + struct.pack(">i", 0),
        )
        traf_a = _box(b"traf", tfhd_a + trun_a)
        parts.append(_box(b"moof", mfhd + traf_v + traf_a))
        parts.append(_box(b"mdat", b"\x00" * 32))
        taken += cnt
    return b"".join(parts)


def synth_mp4_video(docs: DataFrame) -> DataFrame:
    """Deterministic MP4 per document (see
    :func:`_synth_mp4_video_blob`) — dims 16·(b0%40+1)×16·(b1%24+1),
    timescale index b2%4, n_frames 10+b3%90, duration units
    ts·(1+b10%10)+b4 (non-round ms), codec index b5%4."""

    @F.pandas_udf("binary")
    def _mp4(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([_synth_mp4_video_blob(int(i)) for i in ids])

    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        _mp4("doc_id").alias("content"),
    )


def _esize(n: int) -> bytes:
    """Minimal EBML size encoding (1-, 2-, or 4-byte)."""
    if n < 0x7F:
        return bytes([0x80 | n])
    if n < 0x3FFF:
        return bytes([0x40 | (n >> 8), n & 0xFF])
    return bytes([0x10 | (n >> 24), (n >> 16) & 0xFF, (n >> 8) & 0xFF, n & 0xFF])


def _eb(eid: bytes, payload: bytes) -> bytes:
    return eid + _esize(len(payload)) + payload


def _eb_uint(eid: bytes, v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return _eb(eid, v.to_bytes(n, "big"))


_WEBM_CODECS = (b"V_VP8", b"V_VP9", b"V_AV1", b"V_MPEG4/ISO/AVC")
_WEBM_SCALES = (1_000_000, 500_000, 100_000)


def _synth_webm_blob(i: int) -> bytes:
    """One deterministic WebM from md5(doc:webm) — ROTATING layouts:
    Duration as float32 vs float64 (values pinned to exactly-
    representable integers), Void padding elements, Info/Tracks order
    swap, and an optional audio TrackEntry whose SimpleBlocks must NOT
    count toward the video frame count."""
    import hashlib

    b = hashlib.md5(f"{i}:webm".encode()).digest()
    width = 16 * (b[0] % 40 + 1)
    height = 16 * (b[1] % 24 + 1)
    codec = _WEBM_CODECS[b[2] % 4]
    scale = _WEBM_SCALES[b[3] % 3]
    dur_units = 1000 * (1 + b[4] % 20) + b[5]
    vtrack = 1 + b[6] % 3
    n_blocks = 1 + b[7] % 8
    n_clusters = 1 + b[8] % 3
    has_audio = b[12] % 2

    header = _eb(
        b"\x1aE\xdf\xa3",
        _eb_uint(b"\x42\x86", 1)  # EBMLVersion
        + _eb(b"\x42\x82", b"webm")  # DocType
        + _eb_uint(b"\x42\x87", 4),  # DocTypeVersion
    )
    dur_raw = (
        struct.pack(">f", float(dur_units))
        if b[10] % 2
        else struct.pack(">d", float(dur_units))
    )
    info = _eb(
        b"\x15\x49\xa9\x66",
        _eb_uint(b"\x2a\xd7\xb1", scale) + _eb(b"\x44\x89", dur_raw),
    )
    video = _eb(
        b"\xe0",
        _eb_uint(b"\xb0", width) + _eb_uint(b"\xba", height),
    )
    ventry = _eb(
        b"\xae",
        _eb_uint(b"\xd7", vtrack) + _eb_uint(b"\x83", 1)
        + _eb(b"\x86", codec) + video,
    )
    entries = ventry
    if has_audio:
        aentry = _eb(
            b"\xae",
            _eb_uint(b"\xd7", vtrack + 3) + _eb_uint(b"\x83", 2)
            + _eb(b"\x86", b"A_OPUS"),
        )
        entries = aentry + entries if b[13] % 2 else entries + aentry
    tracks = _eb(b"\x16\x54\xae\x6b", entries)

    def block(track: int, tc: int, *, grouped: bool = False) -> bytes:
        payload = (
            bytes([0x80 | track]) + struct.pack(">h", tc) + b"\x80"
            + bytes([b[11], tc & 0xFF])
        )
        if grouped:
            # BlockGroup: Block (0xA1, same track-vint layout) plus a
            # BlockDuration — the non-SimpleBlock layout muxers emit
            return _eb(
                b"\xa0", _eb(b"\xa1", payload) + _eb_uint(b"\x9b", 33)
            )
        return _eb(b"\xa3", payload)

    # on b15%2, ALTERNATE SimpleBlock / BlockGroup per video block so
    # both layouts are live inside one cluster walk (r10)
    use_groups = b[15] % 2 == 1
    clusters = b""
    left = n_blocks
    done = 0
    for c in range(n_clusters):
        take = left // (n_clusters - c) if c < n_clusters - 1 else left
        body = _eb_uint(b"\xe7", c * 1000)
        for k in range(take):
            body += block(
                vtrack, k, grouped=use_groups and (done + k) % 2 == 1
            )
        if has_audio:
            body += block(vtrack + 3, 0, grouped=use_groups)
        clusters += _eb(b"\x1f\x43\xb6\x75", body)
        left -= take
        done += take
    void = _eb(b"\xec", b"\x00" * (b[9] % 24)) if b[9] % 2 else b""
    seg_body = (
        void + tracks + info + clusters
        if b[14] % 2
        else void + info + tracks + clusters
    )
    return header + _eb(b"\x18\x53\x80\x67", seg_body)


def synth_webm_video(docs: DataFrame) -> DataFrame:
    """Deterministic WebM per document (see :func:`_synth_webm_blob`)
    — dims 16·(b0%40+1)×16·(b1%24+1), codec index b2%4,
    TimestampScale index b3%3, duration units 1000·(1+b4%20)+b5,
    frame count 1+b7%8."""

    @F.pandas_udf("binary")
    def _webm(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([_synth_webm_blob(int(i)) for i in ids])

    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        _webm("doc_id").alias("content"),
    )


def _riff_webp(chunks: list[tuple[bytes, bytes]]) -> bytes:
    body = b"WEBP"
    for cid, payload in chunks:
        body += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _synth_webp_blob(i: int) -> bytes:
    """One deterministic WebP from md5(doc:webp), rotating the three
    container variants: b0%3 == 0 → simple lossy VP8, 1 → simple
    lossless VP8L (alpha bit b5%2), 2 → extended VP8X (24-bit canvas,
    alpha b5%2, animation b6%2, lossless payload b7%2)."""
    import hashlib

    b = hashlib.md5(f"{i}:webp".encode()).digest()
    variant = b[0] % 3
    if variant == 0:
        w = 1 + (b[1] * 64 + b[2]) % 16383
        h = 1 + (b[3] * 64 + b[4]) % 16383
        payload = (
            b"\x00\x00\x00" + b"\x9d\x01\x2a"
            + struct.pack("<HH", w, h) + bytes(b[8] % 48 + 8)
        )
        return _riff_webp([(b"VP8 ", payload)])
    if variant == 1:
        w = 1 + (b[1] * 64 + b[2]) % 16384
        h = 1 + (b[3] * 64 + b[4]) % 16384
        alpha = b[5] % 2
        bits = (w - 1) | ((h - 1) << 14) | (alpha << 28)
        payload = b"\x2f" + struct.pack("<I", bits) + bytes(b[8] % 48 + 8)
        return _riff_webp([(b"VP8L", payload)])
    w = 1 + (b[1] * 256 + b[2]) % 100000
    h = 1 + (b[3] * 256 + b[4]) % 100000
    alpha = b[5] % 2
    anim = b[6] % 2
    lossless = b[7] % 2
    flags = (0x10 if alpha else 0) | (0x02 if anim else 0)
    vp8x = (
        bytes([flags]) + b"\x00\x00\x00"
        + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    )
    chunks = [(b"VP8X", vp8x)]
    if anim:
        chunks.append((b"ANIM", b"\x00" * 6))
    if alpha:
        chunks.append((b"ALPH", bytes(b[9] % 16 + 2)))
    if lossless:
        bits = (w - 1 & 0x3FFF) | (((h - 1) & 0x3FFF) << 14)
        chunks.append((b"VP8L", b"\x2f" + struct.pack("<I", bits)))
    else:
        payload = (
            b"\x00\x00\x00" + b"\x9d\x01\x2a"
            + struct.pack("<HH", w & 0x3FFF, h & 0x3FFF)
        )
        chunks.append((b"VP8 ", payload))
    return _riff_webp(chunks)


def synth_webp_images(docs: DataFrame) -> DataFrame:
    """Deterministic WebP per document (see :func:`_synth_webp_blob`)."""

    @F.pandas_udf("binary")
    def _webp(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([_synth_webp_blob(int(i)) for i in ids])

    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        _webp("doc_id").alias("content"),
    )


_M4A_RATES = (8000, 16000, 22050, 24000, 32000, 44100, 48000)


def _synth_m4a_blob(i: int) -> bytes:
    """One deterministic M4A from md5(doc:m4a): AAC AudioSampleEntry
    (rate index b0%7, channels 1+b1%2, 16-bit), esds avgBitrate
    1000·(32+b2%288), stts sample count 100+b3%900, mvhd duration
    units ts·(1+b6%10)+b7 at timescale = the sample rate."""
    import hashlib

    b = hashlib.md5(f"{i}:m4a".encode()).digest()
    sr = _M4A_RATES[b[0] % 7]
    channels = 1 + b[1] % 2
    bitrate = 32 + b[2] % 288
    n_units = 100 + b[3] % 900
    dur_units = sr * (1 + b[6] % 10) + b[7]

    mvhd = _box(
        b"mvhd",
        b"\x00" * 12 + struct.pack(">II", sr, dur_units) + b"\x00" * 80,
    )
    esds = _box(b"esds", b"\x00" * 4 + struct.pack(">I", bitrate * 1000))
    aentry = _box(
        b"mp4a",
        b"\x00" * 16 + struct.pack(">HH", channels, 16)
        + b"\x00" * 4 + struct.pack(">I", sr << 16) + esds,
    )
    stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + aentry)
    stts = _box(
        b"stts",
        b"\x00" * 4 + struct.pack(">I", 1)
        + struct.pack(">II", n_units, 1024),
    )
    stbl = _box(b"stbl", stsd + stts)
    hdlr = _box(b"hdlr", b"\x00" * 8 + b"soun" + b"\x00" * 12)
    mdhd = _box(
        b"mdhd", b"\x00" * 12 + struct.pack(">II", sr, dur_units)
        + b"\x00" * 4
    )
    tkhd = _box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 80)
    trak = _box(
        b"trak", tkhd + _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl))
    )
    moov = _box(b"moov", mvhd + trak)
    return (
        _box(b"ftyp", b"M4A \x00\x00\x02\x00isomiso2")
        + moov
        + _box(b"mdat", b"\x00" * 32)
    )


def synth_m4a_audio(docs: DataFrame) -> DataFrame:
    """Deterministic M4A per document (see :func:`_synth_m4a_blob`)."""

    @F.pandas_udf("binary")
    def _m4a(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([_synth_m4a_blob(int(i)) for i in ids])

    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("media_type"),
        _m4a("doc_id").alias("content"),
    )


# ---------------------------------------------------------------------------
# ID3v2 text frames — the CONTENT metadata tier above the r8 size walk
# ---------------------------------------------------------------------------


def _syncsafe(n: int) -> bytes:
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def _unsyncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _id3_text(payload: bytes) -> str:
    """Decode one ID3v2 text frame: leading encoding byte 0=latin-1,
    1=UTF-16 with BOM, 2=UTF-16BE, 3=UTF-8; trailing NULs stripped."""
    enc = payload[0]
    body = payload[1:]
    if enc == 0:
        s = body.decode("latin-1")
    elif enc == 1:
        s = body.decode("utf-16")
    elif enc == 2:
        s = body.decode("utf-16-be")
    elif enc == 3:
        s = body.decode("utf-8")
    else:
        raise ValueError(f"bad ID3 text encoding {enc}")
    return s.rstrip("\x00")


def parse_id3v2_frames(blob: bytes) -> dict:
    """Text frames of a leading ID3v2 tag — ALL THREE live layouts
    (r10): v2.2 (3-byte frame ids TT2/TP1/TAL/TYE with 3-byte
    big-endian sizes, 6-byte headers — the layout every pre-2000 MP3
    carries), v2.3 (4-byte ids, big-endian sizes), and v2.4 (syncsafe
    sizes, TDRC year). Mixing the size conventions misparses every
    multi-frame tag, so the version byte drives the decode. The walk
    stops at padding (NUL frame id) or the tag end. No tag or an
    unknown future version -> None (marker row)."""
    if blob[:3] != b"ID3":
        return None
    ver = blob[3]
    if ver not in (2, 3, 4):
        return None
    tag_size = _unsyncsafe(blob[6:10])
    pos, end = 10, 10 + tag_size
    out = {"title": None, "artist": None, "album": None, "year": None}
    if ver == 2:
        keys = {b"TT2": "title", b"TP1": "artist", b"TAL": "album",
                b"TYE": "year"}
        idlen, hdrlen = 3, 6
    else:
        keys = {b"TIT2": "title", b"TPE1": "artist", b"TALB": "album",
                b"TYER": "year", b"TDRC": "year"}
        idlen, hdrlen = 4, 10
    while pos + hdrlen <= end:
        fid = blob[pos : pos + idlen]
        if fid == b"\x00" * idlen:
            break  # padding
        if ver == 2:
            size = int.from_bytes(blob[pos + 3 : pos + 6], "big")
        elif ver == 4:
            size = _unsyncsafe(blob[pos + 4 : pos + 8])
        else:
            size = struct.unpack(">I", blob[pos + 4 : pos + 8])[0]
        payload = blob[pos + hdrlen : pos + hdrlen + size]
        key = keys.get(fid)
        if key is not None and fid.startswith(b"T"):
            out[key] = _id3_text(payload)
        pos += hdrlen + size
    return out


def audio_id3_tags(
    media: DataFrame, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """(media_id, title, artist, album, year, id3_version) in one
    Arrow pass — the content-metadata tier above the r8 size/duration
    walk: what a corpus pipeline joins against transcripts and
    licensing tables. Blobs without a leading ID3v2 tag (or with a
    malformed one) yield the version-NULL marker row."""

    def _decode(blob) -> list[dict]:
        b = bytes(blob)
        tags = parse_id3v2_frames(b)
        if tags is None:
            raise ValueError("no ID3v2 tag")
        return [{"id3_version": f"2.{b[3]}", **tags}]

    return blob_rows(
        media, id_col, content_col, _decode,
        "media_id bigint, id3_version string, title string, "
        "artist string, album string, year string",
        {},
    )


_ID3_TITLES = ("café nights", "alpha song", "Überlied", "plain tune",
               "naïve waltz")
_ID3_ARTISTS = ("bravo band", "charlie choir", "delta duo")


def _synth_id3_mp3_blob(i: int) -> bytes:
    """One deterministic ID3v2-tagged MP3 stub from md5(doc:id3):
    version rotates 2.2/2.3/2.4 (b0%3 — 3-byte vs 4-byte frame ids,
    big-endian vs syncsafe sizes), text encoding rotates
    latin-1/UTF-16/UTF-8 (b1%3; v2.2 has no UTF-8, so it rotates
    latin-1/UTF-16 only — the non-ASCII titles keep every codec
    branch honest), frame ORDER rotates (b4%2), year via TYE on 2.2,
    TYER on 2.3, TDRC on 2.4, 64 bytes of padding close the tag, and
    one MPEG frame header follows so the blob is a real MP3 prefix."""
    import hashlib

    b = hashlib.md5(f"{i}:id3".encode()).digest()
    ver = 2 + b[0] % 3
    enc = b[1] % (2 if ver == 2 else 3)  # 0 latin-1, 1 utf-16, 2 utf-8
    title = _ID3_TITLES[b[2] % 5]
    artist = _ID3_ARTISTS[b[3] % 3]
    album = f"album {b[5] % 10}"
    year = str(1990 + b[6] % 40)

    def _enc(s: str) -> bytes:
        if enc == 0:
            return b"\x00" + s.encode("latin-1")
        if enc == 1:
            return b"\x01" + s.encode("utf-16")  # BOM included
        return b"\x03" + s.encode("utf-8")

    def _frame(fid: bytes, payload: bytes) -> bytes:
        if ver == 2:
            return fid + len(payload).to_bytes(3, "big") + payload
        size = _syncsafe(len(payload)) if ver == 4 else struct.pack(
            ">I", len(payload)
        )
        return fid + size + b"\x00\x00" + payload

    if ver == 2:
        ids = (b"TT2", b"TP1", b"TAL", b"TYE")
    else:
        ids = (b"TIT2", b"TPE1", b"TALB",
               b"TDRC" if ver == 4 else b"TYER")
    frames = [
        _frame(ids[0], _enc(title)),
        _frame(ids[1], _enc(artist)),
        _frame(ids[2], _enc(album)),
        _frame(ids[3], _enc(year)),
    ]
    if b[4] % 2 == 1:
        frames = frames[::-1]
    body = b"".join(frames) + b"\x00" * 64
    tag = b"ID3" + bytes([ver, 0, 0]) + _syncsafe(len(body)) + body
    # one MPEG-1 Layer III header (128 kbps, 44100 Hz) so the blob is
    # a plausible MP3 prefix, not a bare tag
    return tag + b"\xff\xfb\x90\x00" + b"\x00" * 16


def synth_id3_mp3(docs: DataFrame) -> DataFrame:
    """Deterministic ID3v2-tagged MP3 stub per document (see
    :func:`_synth_id3_mp3_blob`)."""

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([_synth_id3_mp3_blob(int(i)) for i in ids])

    return docs.select(
        F.col("doc_id").alias("media_id"), _blob("doc_id").alias("content")
    )


def id3_pictures(blob: bytes) -> list[dict]:
    """Embedded pictures of a leading ID3v2 tag (r11): APIC frames
    (v2.3/2.4 — encoding byte, NUL-terminated MIME, picture type,
    encoding-terminated description, image payload) and the v2.2 PIC
    form (3-char image format instead of a MIME). The other cover-art
    container legs are flac.flac_pictures and m4a_cover."""
    if blob[:3] != b"ID3":
        return []
    ver = blob[3]
    if ver not in (2, 3, 4):
        return []
    tag_size = _unsyncsafe(blob[6:10])
    pos, end = 10, 10 + tag_size
    idlen, hdrlen = (3, 6) if ver == 2 else (4, 10)
    want = b"PIC" if ver == 2 else b"APIC"
    out = []
    while pos + hdrlen <= end:
        fid = blob[pos : pos + idlen]
        if fid == b"\x00" * idlen:
            break
        if ver == 2:
            size = int.from_bytes(blob[pos + 3 : pos + 6], "big")
        elif ver == 4:
            size = _unsyncsafe(blob[pos + 4 : pos + 8])
        else:
            size = struct.unpack(">I", blob[pos + 4 : pos + 8])[0]
        payload = blob[pos + hdrlen : pos + hdrlen + size]
        pos += hdrlen + size
        if fid != want:
            continue
        enc = payload[0]
        if enc != 0:  # fixtures pin latin-1 descriptions; refuse others
            raise ValueError("unsupported APIC text encoding")
        if ver == 2:
            fmt3 = payload[1:4].decode("latin-1")
            mime = {"PNG": "image/png", "JPG": "image/jpeg"}.get(
                fmt3, f"image/{fmt3.lower()}"
            )
            pic_type = payload[4]
            rest = payload[5:]
        else:
            mend = payload.index(b"\x00", 1)
            mime = payload[1:mend].decode("latin-1")
            pic_type = payload[mend + 1]
            rest = payload[mend + 2 :]
        dend = rest.index(b"\x00")
        out.append({
            "pic_type": pic_type,
            "mime": mime,
            "description": rest[:dend].decode("latin-1"),
            "data": rest[dend + 1 :],
        })
    return out


def build_id3_picture_tag(
    *, version: int, pic_type: int, mime: str, description: str,
    data: bytes,
) -> bytes:
    """One ID3v2 tag holding a single APIC/PIC frame (write partner
    of :func:`id3_pictures`); version ∈ {2, 3, 4}."""
    if version == 2:
        fmt3 = {"image/png": b"PNG", "image/jpeg": b"JPG"}[mime]
        payload = (
            b"\x00" + fmt3 + bytes([pic_type])
            + description.encode("latin-1") + b"\x00" + data
        )
        frame = b"PIC" + len(payload).to_bytes(3, "big") + payload
    else:
        payload = (
            b"\x00" + mime.encode("ascii") + b"\x00" + bytes([pic_type])
            + description.encode("latin-1") + b"\x00" + data
        )
        size = (
            _syncsafe(len(payload)) if version == 4
            else struct.pack(">I", len(payload))
        )
        frame = b"APIC" + size + b"\x00\x00" + payload
    return (
        b"ID3" + bytes([version, 0, 0]) + _syncsafe(len(frame)) + frame
    )


def m4a_cover(blob: bytes) -> list[dict]:
    """Cover art of an M4A/MP4: the iTunes-style
    moov→udta→meta→ilst→covr atom whose ``data`` child carries a
    type indicator (13 = JPEG, 14 = PNG), a 4-byte locale, then the
    image payload (r11)."""
    def find(data: bytes, pos: int, end: int, fourcc: bytes):
        while pos + 8 <= end:
            (size,) = struct.unpack(">I", data[pos : pos + 4])
            if size < 8 or pos + size > end:
                raise ValueError("bad MP4 box size")
            if data[pos + 4 : pos + 8] == fourcc:
                return pos + 8, pos + size
            pos += size
        return None

    span = (0, len(blob))
    for name in (b"moov", b"udta", b"meta", b"ilst", b"covr"):
        got = find(blob, span[0], span[1], name)
        if got is None:
            return []
        span = got
        if name == b"meta":  # full box: 4-byte version/flags prefix
            span = (span[0] + 4, span[1])
    out = []
    pos, end = span
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", blob[pos : pos + 4])
        if size < 16 or pos + size > end:
            raise ValueError("bad covr data atom")
        if blob[pos + 4 : pos + 8] == b"data":
            kind = struct.unpack(">I", blob[pos + 8 : pos + 12])[0]
            out.append({
                "mime": {13: "image/jpeg", 14: "image/png"}.get(
                    kind, f"type/{kind}"
                ),
                "data": blob[pos + 16 : pos + size],
            })
        pos += size
    return out


def build_m4a_cover(data: bytes, *, png: bool = True) -> bytes:
    """A minimal M4A carrying one covr atom (write partner of
    :func:`m4a_cover`)."""
    payload = struct.pack(">I", 14 if png else 13) + b"\x00" * 4 + data
    d = struct.pack(">I", 16 + len(data)) + b"data" + payload
    covr = struct.pack(">I", 8 + len(d)) + b"covr" + d
    ilst = struct.pack(">I", 8 + len(covr)) + b"ilst" + covr
    meta = struct.pack(">I", 12 + len(ilst)) + b"meta" + b"\x00" * 4 + ilst
    udta = struct.pack(">I", 8 + len(meta)) + b"udta" + meta
    moov = struct.pack(">I", 8 + len(udta)) + b"moov" + udta
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"M4A \x00\x00\x02\x00"
    return ftyp + moov


# ---------------------------------------------------------------------------
# MP3 MPEG audio frame walk — version/layer/bitrate/samplerate, Xing/Info
# frame-count + VBRI fallback, duration (r12)
# ---------------------------------------------------------------------------

# ISO/IEC 11172-3 table B.2 bitrates (kbps), index 1..14 (0 = "free
# format" and 15 are refused); MPEG-2/2.5 use the lower-rate tables.
_MP3_BR_V1 = {
    1: (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    2: (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    3: (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
}
_MP3_BR_V2 = {
    1: (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    2: (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    3: (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_SR = {
    "1": (44100, 48000, 32000),
    "2": (22050, 24000, 16000),
    "2.5": (11025, 12000, 8000),
}


def _mp3_frame_len(version: str, layer: int, br_kbps: int, sr: int,
                   pad: int) -> int:
    if layer == 1:
        return (12 * br_kbps * 1000 // sr + pad) * 4
    factor = 144 if (layer == 2 or version == "1") else 72
    return factor * br_kbps * 1000 // sr + pad


def _mp3_spf(version: str, layer: int) -> int:
    """Samples per frame: Layer I 384, Layer II 1152, Layer III 1152
    (MPEG-1) / 576 (MPEG-2/2.5)."""
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    return 1152 if version == "1" else 576


def mp3_frame_info(blob: bytes) -> dict:
    """First-MPEG-frame parameters + VBR headers + duration of an MP3
    — the duration/bitrate parity leg MP3 was missing next to M4A
    (_parse_mp4_audio_meta), FLAC, and ALAC. Reads ONLY the file head
    (after the ID3v2 skip) plus the fixed trailers — the right plan
    at crawl scale, where metadata must not cost a full decode pass:

    - frame header (ISO/IEC 11172-3 §2.4.1.3): sync, MPEG version
      1/2/2.5, layer I-III, bitrate index, sample rate index, padding
      bit, channel mode (mode 3 = mono);
    - Xing/Info header at the layer-III side-info offset (MPEG-1:
      17 mono / 32 otherwise; MPEG-2/2.5: 9 / 17) — frame count when
      flag bit 0 is set ('Xing' = VBR, 'Info' = LAME's CBR tag);
    - VBRI header at the fixed 32-byte offset (Fraunhofer) as the
      fallback;
    - duration: frame-count-based when any header supplied one, else
      the CBR estimate audio_bytes·8/bitrate with the ID3v2 lead and
      ID3v1 'TAG' trailer excluded from the byte count (n_frames then
      reports audio_bytes // frame_len).

    Free-format (bitrate index 0), reserved version/layer/samplerate
    codes, and a missing sync refuse (ValueError) — the caller's
    marker-row contract."""
    off = 0
    if blob[:3] == b"ID3":
        off = 10 + _unsyncsafe(blob[6:10]) + (10 if blob[5] & 0x10 else 0)
    if off + 4 > len(blob) or blob[off] != 0xFF or blob[off + 1] & 0xE0 != 0xE0:
        raise ValueError("no MPEG frame sync")
    b1, b2, b3 = blob[off + 1], blob[off + 2], blob[off + 3]
    version = {0: "2.5", 2: "2", 3: "1"}.get((b1 >> 3) & 3)
    layer = {1: 3, 2: 2, 3: 1}.get((b1 >> 1) & 3)
    if version is None or layer is None:
        raise ValueError("reserved MPEG version/layer")
    br_idx, sr_idx, pad = b2 >> 4, (b2 >> 2) & 3, (b2 >> 1) & 1
    if br_idx in (0, 15) or sr_idx == 3:
        raise ValueError("unsupported bitrate/samplerate code")
    table = _MP3_BR_V1 if version == "1" else _MP3_BR_V2
    br = table[layer][br_idx - 1]
    sr = _MP3_SR[version][sr_idx]
    mode = b3 >> 6
    channels = 1 if mode == 3 else 2
    spf = _mp3_spf(version, layer)
    flen = _mp3_frame_len(version, layer, br, sr, pad)

    vbr_kind = None
    n_frames = None
    if layer == 3:
        side = (17 if mode == 3 else 32) if version == "1" else (
            9 if mode == 3 else 17
        )
        # protection bit 0 = CRC-16 PRESENT: two checksum bytes sit
        # between the header and the side info, shifting the Xing tag
        crc_len = 0 if (b1 & 1) else 2
        tag_at = off + 4 + crc_len + side
        tag = blob[tag_at : tag_at + 4]
        if tag in (b"Xing", b"Info"):
            vbr_kind = "xing" if tag == b"Xing" else "info"
            (flags,) = struct.unpack(">I", blob[tag_at + 4 : tag_at + 8])
            if flags & 1:
                (n_frames,) = struct.unpack(
                    ">I", blob[tag_at + 8 : tag_at + 12]
                )
        elif blob[off + 4 + 32 : off + 4 + 36] == b"VBRI":
            vbr_kind = "vbri"
            (n_frames,) = struct.unpack(
                ">I", blob[off + 4 + 32 + 14 : off + 4 + 32 + 18]
            )
    audio_end = len(blob)
    meta_bytes = off
    if blob[-128:][:3] == b"TAG":
        audio_end -= 128
        meta_bytes += 128
    audio_bytes = audio_end - off
    if n_frames is not None:
        duration_ms = n_frames * spf * 1000 // sr
    else:
        duration_ms = audio_bytes * 8 // br
        n_frames = audio_bytes // flen
    return {
        "meta_bytes": meta_bytes,
        "version": version,
        "layer": layer,
        "bitrate_kbps": br,
        "sample_rate": sr,
        "channels": channels,
        "vbr_kind": vbr_kind,
        "n_frames": n_frames,
        "duration_ms": duration_ms,
    }


# ---------------------------------------------------------------------------
# MPEG-1/2 Layer I subband-sample decode (r13) — the first SAMPLE-level
# decode of the MPEG audio family: bit allocation, scalefactors, and
# requantization are pure formulas (ISO/IEC 11172-3 §2.4.3.3), so the
# subband-domain decode is bit-exact with no transcribed numeric
# tables. The polyphase SYNTHESIS filterbank (subbands → PCM) needs
# the 512-coefficient ISO window (Table C.3) — spec-numeric, not
# derivable — and stays the documented residue; energy/statistics in
# the subband domain are exact without it (Parseval-adjacent, and the
# curation signals ride on relative energy anyway).
# ---------------------------------------------------------------------------

# overrun refusal of every MPEG audio bit reader (Layers I-III)
_EXHAUSTED = "Layer I payload exhausted"


def build_mp1(
    frames: list[list[tuple[int, int, int, list[int]]]],
    *, version: str = "1", sr_idx: int = 0, br_idx: int = 12,
) -> bytes:
    """A mono MPEG Layer I stream: one frame per entry, each a list
    of (subband, nb, scf_idx, codes[12]) for the ACTIVE subbands
    (allocation nb-1; inactive subbands carry allocation 0). Frame
    body = 32 4-bit allocations, a 6-bit scalefactor per active
    subband, then 12 sample groups × active subbands × nb-bit codes,
    zero-padded to the header's frame length. Write partner of
    :func:`mp1_subband_stats`."""
    table = _MP3_BR_V1 if version == "1" else _MP3_BR_V2
    br = table[1][br_idx - 1]
    sr = _MP3_SR[version][sr_idx]
    vid = {"1": 3, "2": 2, "2.5": 0}[version]
    flen = _mp3_frame_len(version, 1, br, sr, 0)
    out = b""
    for spec in frames:
        by_sb = {sb: (nb, scf, codes) for sb, nb, scf, codes in spec}
        header = bytes([
            0xFF,
            0xE0 | (vid << 3) | (3 << 1) | 1,  # layer I bits=11, no CRC
            (br_idx << 4) | (sr_idx << 2),
            3 << 6,  # mono
        ])
        w = BitWriter()
        for sb in range(32):
            nb = by_sb.get(sb, (1, 0, []))[0]
            w.write(nb - 1 if sb in by_sb else 0, 4)
        for sb in sorted(by_sb):
            w.write(by_sb[sb][1], 6)
        for s in range(12):
            for sb in sorted(by_sb):
                nb, _scf, codes = by_sb[sb]
                w.write(codes[s], nb)
        body = w.tobytes()
        if len(header) + len(body) > flen:
            raise ValueError("Layer I frame content exceeds frame size")
        out += header + body + b"\x00" * (flen - 4 - len(body))
    return out


def _mp2_table(sr: int, br_kbps: int, channels: int = 1) -> str:
    """ISO 11172-3 §2.4.2.3 Layer II allocation-table selection
    (B.2a/b/c/d) from sample rate and per-channel bitrate — the
    mapping every MPEG-1 Layer II decoder hard-wires: ≤48 kbps/ch →
    the low-rate tables (d at 32 kHz, else c), ≤80 → a, above →
    a at 48 kHz else b."""
    per_ch = br_kbps // channels
    if per_ch <= 48:
        return "d" if sr == 32000 else "c"
    if per_ch <= 80:
        return "a"
    return "a" if sr == 48000 else "b"


_MP2_SBLIMIT = {"a": 27, "b": 30, "c": 8, "d": 12}


def _mp2_classes(table: str, sb: int) -> list[int]:
    """Quantization step counts per allocation index (1-based; index
    0 = inactive subband) for one subband of Table B.2{a,b,c,d} —
    restated from the tables' REGION structure: each region is a
    small head of grouped classes (3/5/7/9) followed by the
    2^n − 1 ladder, with 65535 jumping the ladder's tail in the
    mid/low-precision regions. len ∈ {15, 7, 3} fixes nbal to
    4/3/2 bits exactly."""
    ladder = lambda lo, hi: [(1 << n) - 1 for n in range(lo, hi + 1)]  # noqa: E731
    if table in ("a", "b"):
        if sb <= 2:
            return [3] + ladder(3, 16)
        if sb <= 10:
            return [3, 5, 7, 9] + ladder(4, 13) + [65535]
        if sb <= 22:
            return [3, 5, 7, 9, 15, 31, 65535]
        return [3, 5, 65535]
    if sb <= 1:
        return [3, 5, 9] + ladder(4, 15)
    return [3, 5, 9, 15, 31, 63, 127]


# grouped classes code 3 samples in one word (§2.4.3.3.3)
_MP2_GROUP_BITS = {3: 5, 5: 7, 9: 10}


def build_mp2(
    frames: list[list[tuple[int, int, int, list[int], list[int]]]],
    *, sr_idx: int = 0, br_idx: int = 6,
) -> bytes:
    """A mono MPEG-1 Layer II stream: one frame per entry, each a
    list of (subband, alloc_idx, scfsi, sfs, codes[36]) for the
    ACTIVE subbands. Frame body = per-subband allocations (nbal bits
    from the B.2 table the header's rate selects), 2-bit scfsi per
    active subband, the scfsi-selected scalefactors (6 bits), then
    12 granules × active subbands × (one grouped word for 3/5/9-step
    classes, else 3 codes). ``sfs`` length must match scfsi (3/2/1/2
    for scfsi 0/1/2/3). Write partner of
    :func:`mp2_subband_stats`."""
    br = _MP3_BR_V1[2][br_idx - 1]
    sr = _MP3_SR["1"][sr_idx]
    table = _mp2_table(sr, br)
    sblimit = _MP2_SBLIMIT[table]
    flen = _mp3_frame_len("1", 2, br, sr, 0)
    out = b""
    for spec in frames:
        by_sb = {sb: (idx, scfsi, sfs, codes)
                 for sb, idx, scfsi, sfs, codes in spec}
        if any(sb >= sblimit for sb in by_sb):
            raise ValueError("subband beyond the table's sblimit")
        header = bytes([
            0xFF,
            0xE0 | (3 << 3) | (2 << 1) | 1,  # MPEG-1, layer II, no CRC
            (br_idx << 4) | (sr_idx << 2),
            3 << 6,  # mono
        ])
        w = BitWriter()
        for sb in range(sblimit):
            classes = _mp2_classes(table, sb)
            nbal = {15: 4, 7: 3, 3: 2}[len(classes)]
            idx = by_sb.get(sb, (0,))[0]
            if idx > len(classes):
                raise ValueError("allocation index beyond table")
            w.write(idx if sb in by_sb else 0, nbal)
        for sb in sorted(by_sb):
            w.write(by_sb[sb][1], 2)
        for sb in sorted(by_sb):
            _idx, scfsi, sfs, _codes = by_sb[sb]
            if len(sfs) != (3, 2, 1, 2)[scfsi]:
                raise ValueError("scalefactor count vs scfsi mismatch")
            for sf in sfs:
                w.write(sf, 6)
        for g in range(12):
            for sb in sorted(by_sb):
                idx, _scfsi, _sfs, codes = by_sb[sb]
                steps = _mp2_classes(table, sb)[idx - 1]
                s0, s1, s2 = codes[3 * g : 3 * g + 3]
                if max(s0, s1, s2) >= steps:
                    raise ValueError("sample code beyond step count")
                if steps in _MP2_GROUP_BITS:
                    w.write(s0 + steps * (s1 + steps * s2),
                            _MP2_GROUP_BITS[steps])
                else:
                    nbits = (steps + 1).bit_length() - 1
                    for s in (s0, s1, s2):
                        w.write(s, nbits)
        body = w.tobytes()
        if len(header) + len(body) > flen:
            raise ValueError("Layer II frame content exceeds frame size")
        out += header + body + b"\x00" * (flen - 4 - len(body))
    return out


def mp2_subband_stats(blob: bytes) -> list[dict]:
    """Subband-domain decode of a mono MPEG-1 Layer II stream: per
    (frame, active subband) the step count, grouped flag, scfsi, the
    three per-part scalefactor indices (scfsi-expanded), exact
    integer code sum / sum-of-squares over the 36 samples, and the
    requantized-and-scaled sample sum. Table B.4's per-class (C, D)
    constants collapse algebraically to

        s'' = 2 · (code − mid) / steps,   mid = (steps − 1) / 2

    (C = 2^nb/steps and D = −s'''(mid) both fall out of the spec's
    MSB-inverted fraction reading), so per scalefactor part p
    (4 granules = 12 samples)

        t_p = sf_p · (2 · (Σcode_p − 12·mid)) / steps

    is ONE rounded division on an otherwise exact tree (sf is a
    power of two — the synth restricts scalefactor indices to
    multiples of 3, the reader refuses others), and
    dec_sum = (t0 + t1) + t2 fixes the reduction order. MPEG-2 LSF
    (its own single allocation table), stereo, Layer I/III,
    free-format, and truncated payloads refuse (ValueError) —
    marker-row contract."""
    off = 0
    if blob[:3] == b"ID3":
        off = 10 + _unsyncsafe(blob[6:10]) + (10 if blob[5] & 0x10 else 0)
    end = len(blob)
    if blob[-128:][:3] == b"TAG":
        end -= 128
    out: list[dict] = []
    frame_no = 0
    while off + 4 <= end:
        if blob[off] != 0xFF or blob[off + 1] & 0xE0 != 0xE0:
            raise ValueError("no MPEG frame sync")
        b1, b2, b3 = blob[off + 1], blob[off + 2], blob[off + 3]
        version = {0: "2.5", 2: "2", 3: "1"}.get((b1 >> 3) & 3)
        layer = {1: 3, 2: 2, 3: 1}.get((b1 >> 1) & 3)
        if version is None or layer is None:
            raise ValueError("reserved MPEG version/layer")
        if layer != 2:
            raise ValueError("not Layer II")
        if version != "1":
            raise ValueError(
                "MPEG-2 LSF Layer II allocation table unsupported"
            )
        br_idx, sr_idx, pad = b2 >> 4, (b2 >> 2) & 3, (b2 >> 1) & 1
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("unsupported bitrate/samplerate code")
        if b3 >> 6 != 3:
            raise ValueError("stereo Layer II unsupported")
        br = _MP3_BR_V1[2][br_idx - 1]
        sr = _MP3_SR["1"][sr_idx]
        table = _mp2_table(sr, br)
        sblimit = _MP2_SBLIMIT[table]
        flen = _mp3_frame_len("1", 2, br, sr, pad)
        if off + flen > end:
            raise ValueError("Layer II frame past stream end")
        crc_len = 0 if (b1 & 1) else 2
        r = BitReader(blob[off + 4 + crc_len : off + flen], 0, _EXHAUSTED)
        allocs = []
        for sb in range(sblimit):
            classes = _mp2_classes(table, sb)
            nbal = {15: 4, 7: 3, 3: 2}[len(classes)]
            allocs.append(r.read(nbal))
        active = [sb for sb in range(sblimit) if allocs[sb]]
        scfsi = {sb: r.read(2) for sb in active}
        sf_parts: dict[int, tuple[int, int, int]] = {}
        for sb in active:
            n_sf = (3, 2, 1, 2)[scfsi[sb]]
            sfs = [r.read(6) for _ in range(n_sf)]
            if any(s % 3 for s in sfs):
                raise ValueError(
                    "non-integer-exponent scalefactor unsupported"
                )
            if scfsi[sb] == 0:
                sf_parts[sb] = (sfs[0], sfs[1], sfs[2])
            elif scfsi[sb] == 1:
                sf_parts[sb] = (sfs[0], sfs[0], sfs[1])
            elif scfsi[sb] == 2:
                sf_parts[sb] = (sfs[0], sfs[0], sfs[0])
            else:
                sf_parts[sb] = (sfs[0], sfs[1], sfs[1])
        codes: dict[int, list[int]] = {sb: [] for sb in active}
        for _g in range(12):
            for sb in active:
                steps = _mp2_classes(table, sb)[allocs[sb] - 1]
                if steps in _MP2_GROUP_BITS:
                    c = r.read(_MP2_GROUP_BITS[steps])
                    s0 = c % steps
                    c //= steps
                    s1 = c % steps
                    s2 = c // steps
                    if s2 >= steps:
                        raise ValueError("grouped code beyond range")
                    codes[sb] += [s0, s1, s2]
                else:
                    nbits = (steps + 1).bit_length() - 1
                    codes[sb] += [r.read(nbits) for _ in range(3)]
        for sb in active:
            steps = _mp2_classes(table, sb)[allocs[sb] - 1]
            mid = (steps - 1) // 2
            cs = codes[sb]
            csum = sum(cs)
            csq = sum(c * c for c in cs)
            parts = []
            for p in range(3):
                csum_p = sum(cs[12 * p : 12 * p + 12])
                sf = 2.0 ** (2 - sf_parts[sb][p] // 3)
                parts.append(
                    sf * (2.0 * float(csum_p - 12 * mid)) / steps
                )
            out.append({
                "frame": frame_no, "sb": sb, "steps": steps,
                "grouped": int(steps in _MP2_GROUP_BITS),
                "scfsi": scfsi[sb],
                "sf0": sf_parts[sb][0], "sf1": sf_parts[sb][1],
                "sf2": sf_parts[sb][2],
                "code_sum": csum, "code_sq_sum": csq,
                "dec_sum": (parts[0] + parts[1]) + parts[2],
            })
        off += flen
        frame_no += 1
    if frame_no == 0:
        raise ValueError("no Layer II frames")
    return out


def mp1_subband_stats(blob: bytes) -> list[dict]:
    """Subband-domain decode of a mono MPEG Layer I stream: per
    (frame, active subband) the allocation width nb, scalefactor
    index, the exact integer sum / sum-of-squares of the 12 quantized
    codes, and the REQUANTIZED-and-scaled sample sum

        dec_sum = sf · A · (B · Σcode + 12 · C)

    — the ISO §2.4.3.3 form s = sf · A · (code·B + C) with
    A = 2^nb/(2^nb−1), B = 2^(1−nb), C = B − 1 pushed through the
    sum's linearity, so the float path is ONE rounded operation (the
    A division and final multiply chain) on an otherwise dyadic-exact
    tree. Scalefactor sf = 2^(2 − idx/3); only index multiples of 3
    (integer exponents) are accepted — the transcendental 2^(1/3)
    factors would break cross-engine exactness, and the synth never
    emits them. Stereo, Layer II/III, free-format, and truncated
    payloads refuse (ValueError) — marker-row contract."""
    off = 0
    if blob[:3] == b"ID3":
        off = 10 + _unsyncsafe(blob[6:10]) + (10 if blob[5] & 0x10 else 0)
    end = len(blob)
    if blob[-128:][:3] == b"TAG":
        end -= 128
    out: list[dict] = []
    frame_no = 0
    while off + 4 <= end:
        if blob[off] != 0xFF or blob[off + 1] & 0xE0 != 0xE0:
            raise ValueError("no MPEG frame sync")
        b1, b2, b3 = blob[off + 1], blob[off + 2], blob[off + 3]
        version = {0: "2.5", 2: "2", 3: "1"}.get((b1 >> 3) & 3)
        layer = {1: 3, 2: 2, 3: 1}.get((b1 >> 1) & 3)
        if version is None or layer is None:
            raise ValueError("reserved MPEG version/layer")
        if layer != 1:
            raise ValueError("not Layer I")
        br_idx, sr_idx, pad = b2 >> 4, (b2 >> 2) & 3, (b2 >> 1) & 1
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("unsupported bitrate/samplerate code")
        if b3 >> 6 != 3:
            raise ValueError("stereo Layer I unsupported")
        table = _MP3_BR_V1 if version == "1" else _MP3_BR_V2
        flen = _mp3_frame_len(
            version, 1, table[1][br_idx - 1], _MP3_SR[version][sr_idx],
            pad,
        )
        if off + flen > end:
            raise ValueError("Layer I frame past stream end")
        crc_len = 0 if (b1 & 1) else 2
        r = BitReader(blob[off + 4 + crc_len : off + flen], 0, _EXHAUSTED)
        allocs = [r.read(4) for _ in range(32)]
        if any(a == 15 for a in allocs):
            raise ValueError("forbidden Layer I allocation 15")
        active = [sb for sb in range(32) if allocs[sb]]
        scfs = {}
        for sb in active:
            scfs[sb] = r.read(6)
            if scfs[sb] % 3:
                raise ValueError(
                    "non-integer-exponent scalefactor unsupported"
                )
        codes: dict[int, list[int]] = {sb: [] for sb in active}
        for _s in range(12):
            for sb in active:
                codes[sb].append(r.read(allocs[sb] + 1))
        for sb in active:
            nb = allocs[sb] + 1
            csum = sum(codes[sb])
            csq = sum(c * c for c in codes[sb])
            sf = 2.0 ** (2 - scfs[sb] // 3)
            a = (2.0 ** nb) / (2.0 ** nb - 1.0)
            b_ = 2.0 ** (1 - nb)
            c_ = b_ - 1.0
            dec_sum = sf * (a * (b_ * float(csum) + 12.0 * c_))
            out.append({
                "frame": frame_no, "sb": sb, "nb": nb,
                "scf": scfs[sb], "code_sum": csum,
                "code_sq_sum": csq, "dec_sum": dec_sum,
            })
        off += flen
        frame_no += 1
    if frame_no == 0:
        raise ValueError("no Layer I frames")
    return out
