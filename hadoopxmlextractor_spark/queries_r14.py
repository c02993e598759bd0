"""Round-14 queries — the r13 verdict's ranked worklist:

- 7z AES-256 member decryption (`archive_7z_encrypted`): coder
  06F10701 (SHA-256 iterated 2^NumCyclesPower key derivation,
  AES-256-CBC) chained before Copy/LZMA1/LZMA2, plus the BCJ x86
  branch-filter chain — the password-protected `.7z` form routine in
  public dumps, under the corpus convention password with
  wrong-password and tamper refusal arms;
- MPEG Layer II subband decode (`multimodal_audio_mp2_subbands`):
  the grouped-allocation arm beside r13's Layer I leg;
- MPEG Layer III spectral decode (`multimodal_audio_mp3_spectral`):
  side info, bit reservoir, scalefactors, Huffman, requantization —
  the sample-level path for the web's dominant audio format;
- BIFF5 Excel 5.0/95 (`source_xls_biff5`): the pre-97 LABEL-only
  workbook form the BIFF8 walk BOF-gated on.

Registered into the same QUERIES/ORACLE registry as the other query
modules; every entry carries an exact DuckDB oracle. Fresh module per
the regression discipline (new operators must not churn certified
modules)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoopxmlextractor_spark.operators.kernel import blob_rows
from hadoopxmlextractor_spark.queries import query
from hadoopxmlextractor_spark.queries_r12 import SEVENZIP_SCHEMA, _sevenzip_rows
from hadoopxmlextractor_spark.tables import load

_MD5B = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':{salt}'), "
    "{pos}, 2)) AS BIGINT)"
)


def _b(salt: str, k: int) -> str:
    """SQL for byte k of md5(doc_id:salt) — the synth parameter replay."""
    return _MD5B.format(salt=salt, pos=2 * k + 1)


# ---------------------------------------------------------------------------
# 7z AES-256 member decryption (+ BCJ x86 filter chain)
# ---------------------------------------------------------------------------


def _synth_7z_aes_blob(i: int) -> bytes:
    """One deterministic password-protected 7z from md5(doc:7zaes):
    member 0 plain LZMA, member 1 AES-256 chained before a rotating
    inner codec (copy/lzma/lzma2), member 2 (when present) a BCJ x86
    + LZMA chain over a payload with real E8/E9 call opcodes so the
    branch filter actually rewrites bytes. KDF cycles rotate 6..14.
    Every 7th doc protects with a DIFFERENT password (wrong-password
    arm); every 13th doc flips a byte inside member 1's ciphertext
    (tamper arm — decrypts to garbage under the right password)."""
    import hashlib
    import lzma

    from hadoopxmlextractor_spark.operators import aes as A
    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:7zaes".encode()).digest()
    x = hashlib.md5(f"{i}:7zaes".encode()).hexdigest()
    pw = "realpw" if i % 7 == 6 else "infected"
    cycles = 6 + b[5] % 9
    inner = ("copy", "lzma", "lzma2")[b[2] % 3]
    c0 = (f"p{x[0:8]} " * (1 + b[1] % 3)).encode()
    c1 = (f"s{x[8:16]}m1 " * (1 + b[3] % 3)).encode()
    members = [
        ("m0.txt", c0, "lzma"),
        ("m1.txt", c1, f"aes+{inner}"),
    ]
    if b[0] % 2:
        ascii_part = (f"b{x[16:24]} " * (2 + b[4] % 2)).encode()
        members.append(
            ("m2.bin", ascii_part + b"\xe8" + bytes(4), "bcj+lzma")
        )
    blob = D.build_7z(
        members, passwords={"m1.txt": pw}, aes_cycles=cycles,
        encoded_header=bool(b[6] % 2),
    )
    if i % 13 == 12:
        # replicate the writer's m1 pipeline to locate its ciphertext,
        # then flip a byte in the middle — the tamper arm
        if inner == "copy":
            comp1 = c1
        elif inner == "lzma":
            f = dict(D._7Z_LZMA1_FILTER, id=lzma.FILTER_LZMA1)
            c = lzma.LZMACompressor(format=lzma.FORMAT_RAW, filters=[f])
            comp1 = c.compress(c1) + c.flush()
        else:
            f = {"id": lzma.FILTER_LZMA2, "dict_size": 1 << 16}
            c = lzma.LZMACompressor(format=lzma.FORMAT_RAW, filters=[f])
            comp1 = c.compress(c1) + c.flush()
        salt = hashlib.sha256(b"7z-salt" + b"m1.txt" + c1).digest()[:8]
        iv = hashlib.sha256(b"7z-iv" + b"m1.txt" + c1).digest()[:16]
        key = D._sz_aes_key(pw, salt, cycles)
        ct = A.cbc_encrypt_nopad(
            key, iv, comp1 + bytes((-len(comp1)) % 16)
        )
        # flip inside the FIRST ciphertext block: CBC-garbles the
        # whole first plaintext block, which every inner codec needs
        # (a mid-stream flip can land in zero padding the raw LZMA
        # decoder never consumes once max_length is reached)
        at = blob.index(ct) + 1
        out = bytearray(blob)
        out[at] ^= 0x40
        blob = bytes(out)
    return blob


@query(
    "archive_7z_encrypted",
    f"""
    WITH p AS (
      SELECT doc_id,
             {_b('7zaes', 0)} % 2 AS has_bcj,
             {_b('7zaes', 1)} AS b1, {_b('7zaes', 2)} AS b2,
             {_b('7zaes', 3)} AS b3, {_b('7zaes', 4)} AS b4,
             md5(CAST(doc_id AS VARCHAR) || ':7zaes') AS x
      FROM documents
    ),
    c AS (
      SELECT doc_id, has_bcj, b2, b4,
             repeat('p' || substring(x, 1, 8) || ' ', 1 + b1 % 3) AS c0,
             repeat('s' || substring(x, 9, 8) || 'm1 ', 1 + b3 % 3) AS c1,
             repeat('b' || substring(x, 17, 8) || ' ', 2 + b4 % 2) AS ba,
             (doc_id % 7 = 6 OR doc_id % 13 = 12) AS m1_bad
      FROM p
    ),
    rows_ AS (
      SELECT doc_id, 0 AS member_idx, 'm0.txt' AS name,
             'lzma' AS method, CAST(length(c0) AS BIGINT) AS size,
             CAST(1 AS INT) AS crc_ok, substring(c0, 1, 16) AS head
      FROM c
      UNION ALL
      SELECT doc_id, 1, 'm1.txt',
             'aes256+' || (['copy', 'lzma', 'lzma2'])[1 + b2 % 3],
             CAST(length(c1) AS BIGINT),
             CASE WHEN m1_bad THEN 0 ELSE 1 END,
             CASE WHEN m1_bad THEN NULL ELSE substring(c1, 1, 16) END
      FROM c
      UNION ALL
      SELECT doc_id, 2, 'm2.bin', 'lzma+bcj',
             CAST(length(ba) + 5 AS BIGINT), CAST(1 AS INT),
             substring(ba, 1, 16)
      FROM c WHERE has_bcj = 1
    )
    SELECT * FROM rows_
    """,
)
def q_archive_7z_encrypted(spark: SparkSession, sf: str) -> DataFrame:
    # 7z AES-256 MEMBERS (r14, VERDICT r13 item 3) — password-
    # protected .7z is routine in public dumps; the folder is a
    # two-coder chain (AES-256 coder 06F10701 consuming the pack
    # stream, inner codec consuming the decrypted bytes) joined by a
    # bind pair. Key = SHA-256 iterated 2^NumCyclesPower over
    # salt || UTF-16LE password || counter; AES-256-CBC, zero pad
    # trimmed by the coder's declared out size. The BCJ x86 branch-
    # filter chain (the binary-heavy-archive form) decodes through
    # the stdlib FILTER_X86 raw chain. Wrong password / tampered
    # ciphertext yield a PER-MEMBER crc_ok=0 verdict (the 7z header
    # is never encrypted in this layout, so the member surface still
    # reports) and the kernel refuses to surface unverified
    # plaintext (head NULL). One Arrow pass, ids-only shuffle.
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    return blob_rows(
        docs, "doc_id", "doc_id",
        lambda i: _sevenzip_rows(
            _synth_7z_aes_blob(i), password="infected", verified_head=True
        ),
        SEVENZIP_SCHEMA, {"member_idx": -1},
    )


# ---------------------------------------------------------------------------
# BIFF5 (Excel 5.0/95) workbooks
# ---------------------------------------------------------------------------


def _synth_xls5_blob(i: int) -> bytes:
    """One deterministic BIFF5 .xls from md5(doc:xls5): a 'S95' sheet
    with cp1252 LABEL byte strings (é), RK ints, fX100 RK cents, and
    integral NUMBERs; a second 'Extra' sheet on even b0. Every 9th
    doc rewrites the leading BOF version to BIFF4 (0x0400) — the
    unknown-generation refusal arm."""
    import hashlib
    import struct as _s

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:xls5".encode()).digest()
    x = hashlib.md5(f"{i}:xls5".encode()).hexdigest()
    cells = []
    for r in range(2 + b[1] % 3):
        cells.append((r, 0, "label", f"é{x[4 * r : 4 * r + 4]} v95"))
        cells.append((r, 1, "rk", b[2] * 100 + r))
        cells.append((r, 2, "rk100", b[3] * 7 + r * 13))
        cells.append((r, 3, "number", float(b[4] + r)))
        fk = (b[5] + r) % 3
        if fk == 0:
            cells.append((r, 4, "formula_num", float(b[6] * 3 + r)))
        elif fk == 1:
            cells.append((r, 4, "formula_str",
                          f"F{x[4 * r + 2 : 4 * r + 4]}é"))
        else:
            cells.append((r, 4, "formula_bool", (b[6] + r) % 2 == 1))
    sheets = [("S95", cells)]
    if b[0] % 2 == 0:
        sheets.append(
            ("Extra", [(0, 0, "label", f"x{x[20:24]} tail")])
        )
    blob = D.build_xls5(sheets)
    if i % 9 == 8:
        bof = _s.pack("<HHHHHH", 0x0809, 8, 0x0500, 0x0005, 0, 0)
        at = blob.index(bof)
        out = bytearray(blob)
        _s.pack_into("<H", out, at + 4, 0x0400)
        blob = bytes(out)
    return blob


@query(
    "source_xls_biff5",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('xls5', 0)} % 2 AS b0,
             2 + {_b('xls5', 1)} % 3 AS n, {_b('xls5', 2)} AS b2,
             {_b('xls5', 3)} AS b3, {_b('xls5', 4)} AS b4,
             {_b('xls5', 5)} AS b5, {_b('xls5', 6)} AS b6,
             md5(CAST(doc_id AS VARCHAR) || ':xls5') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, g.g AS r, b2, b3, b4, b5, b6, x
      FROM p, (VALUES (0), (1), (2), (3)) g(g)
      WHERE g.g < n AND doc_id % 9 <> 8
    ),
    cells AS (
      SELECT doc_id, 0 AS sheet, 'S95' AS sheet_name, r, 0 AS col,
             'label' AS kind,
             'é' || substring(x, 4 * r + 1, 4) || ' v95' AS value
      FROM g
      UNION ALL
      SELECT doc_id, 0, 'S95', r, 1, 'rk',
             CAST(b2 * 100 + r AS VARCHAR)
      FROM g
      UNION ALL
      SELECT doc_id, 0, 'S95', r, 2, 'rk',
             CAST((b3 * 7 + r * 13) // 100 AS VARCHAR) || '.'
               || lpad(CAST((b3 * 7 + r * 13) % 100 AS VARCHAR),
                       2, '0')
      FROM g
      UNION ALL
      SELECT doc_id, 0, 'S95', r, 3, 'n', CAST(b4 + r AS VARCHAR)
      FROM g
      UNION ALL
      SELECT doc_id, 0, 'S95', r, 4,
             CASE (b5 + r) % 3 WHEN 0 THEN 'fn' WHEN 1 THEN 'fs'
                  ELSE 'fb' END,
             CASE (b5 + r) % 3
               WHEN 0 THEN CAST(b6 * 3 + r AS VARCHAR)
               WHEN 1 THEN 'F' || substring(x, 4 * r + 3, 2) || 'é'
               ELSE CAST((b6 + r) % 2 AS VARCHAR) END
      FROM g
      UNION ALL
      SELECT doc_id, 1, 'Extra', 0, 0, 'label',
             'x' || substring(x, 21, 4) || ' tail'
      FROM p WHERE b0 = 0 AND doc_id % 9 <> 8
    )
    SELECT doc_id, CAST(sheet AS INT) AS sheet, sheet_name,
           CAST(r AS INT) AS row, CAST(col AS INT) AS col, kind, value
    FROM cells
    UNION ALL
    SELECT doc_id, -1, NULL, NULL, NULL, NULL, NULL
    FROM p WHERE doc_id % 9 = 8
    """,
)
def q_source_xls_biff5(spark: SparkSession, sf: str) -> DataFrame:
    # BIFF5 EXCEL 5.0/95 (r14, VERDICT r13 item 5) — the pre-97
    # workbook generation the BIFF8 walk BOF-gated on: no SST, every
    # string an inline LABEL byte string in the CODEPAGE record's
    # encoding, BOUNDSHEET names 1-byte-length byte strings, the
    # stream under the legacy 'Book' CFB name. RK/NUMBER/MULRK parse
    # unchanged; FORMULA and SST records inside a BIFF5 stream refuse
    # (mis-parse is worse than refusal), as does any non-5/8 BOF
    # generation (the every-9th BIFF4 arm). One Arrow pass, ids-only
    # shuffle.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    return blob_rows(
        docs, "doc_id", "doc_id",
        lambda i: D.xls_cells(_synth_xls5_blob(i)),
        "doc_id bigint, sheet int, sheet_name string, "
        "row int, col int, kind string, value string",
        {"sheet": -1},
    )


# ---------------------------------------------------------------------------
# MPEG Layer II subband decode
# ---------------------------------------------------------------------------


def _synth_mp2_blob(i: int) -> bytes:
    """One deterministic mono MPEG-1 Layer II stream from
    md5(doc:mp2): 2-3 frames; three fixture arms rotate the B.2
    allocation-table selection (a via 56-80 kbps, a/b via 96-128,
    c/d via 32-48) with one active subband per table region
    (allocation indices capped so the worst-case sample bits fit the
    smallest frame the arm can draw), scfsi rotating all four forms,
    integer-exponent scalefactors, and 36 codes per (frame, subband)
    replayed from five md5 chains. Every 10th doc clears the mode
    bits to stereo — the refusal arm."""
    import hashlib

    from hadoopxmlextractor_spark.operators import containers as C

    b = hashlib.md5(f"{i}:mp2".encode()).digest()
    n_frames = 2 + b[0] % 2
    sr_idx = b[4] % 3
    arm = b[6] % 3
    if arm == 0:
        br_idx = 3 + b[5] % 3       # 56/64/80 -> table a
        table = "a"
    elif arm == 1:
        br_idx = 6 + b[5] % 3       # 96/112/128 -> a at 48k else b
        table = "a" if sr_idx == 1 else "b"
    else:
        br_idx = 1 + b[5] % 2       # 32/48 -> d at 32k else c
        table = "d" if sr_idx == 2 else "c"

    def _codes(f: int, sb: int, steps: int) -> list[int]:
        hx = "".join(
            hashlib.md5(
                f"{i}:mp2:{f}:{sb}:{t}".encode()
            ).hexdigest()
            for t in "abcde"
        )
        return [int(hx[4 * k : 4 * k + 4], 16) % steps
                for k in range(36)]

    frames = []
    for f in range(n_frames):
        if arm < 2:
            sbs = [
                (b[7] % 3, 1 + (b[11] + f) % (15 if arm == 1 else 5)),
                (3 + b[8] % 8,
                 1 + (b[12] + f) % (9 if arm == 1 else 5)),
                (11 + b[9] % 12,
                 1 + (b[13] + f) % (6 if arm == 1 else 4)),
                (23 + b[10] % (7 if table == "b" else 4),
                 1 + (b[14] + f) % 2),
            ]
        else:
            sblimit = 12 if table == "d" else 8
            sbs = [
                (b[7] % 2, 1 + (b[11] + f) % 5),
                (2 + b[8] % (sblimit - 2), 1 + (b[12] + f) % 5),
            ]
        spec = []
        for sb, idx in sbs:
            steps = C._mp2_classes(table, sb)[idx - 1]
            scfsi = (b[15] + sb + f) % 4
            sfs = [3 * ((b[3] + sb * 5 + t + f) % 21)
                   for t in range((3, 2, 1, 2)[scfsi])]
            spec.append((sb, idx, scfsi, sfs, _codes(f, sb, steps)))
        frames.append(spec)
    blob = C.build_mp2(frames, sr_idx=sr_idx, br_idx=br_idx)
    if i % 10 == 9:
        out = bytearray(blob)
        out[3] &= 0x3F  # stereo mode -> refusal
        blob = bytes(out)
    return blob


@query(
    "multimodal_audio_mp2_subbands",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('mp2', 0)} % 2 AS n, {_b('mp2', 3)} AS b3,
             {_b('mp2', 4)} % 3 AS sr_idx, {_b('mp2', 6)} % 3 AS arm,
             {_b('mp2', 7)} AS b7, {_b('mp2', 8)} AS b8,
             {_b('mp2', 9)} AS b9, {_b('mp2', 10)} AS b10,
             {_b('mp2', 11)} AS b11, {_b('mp2', 12)} AS b12,
             {_b('mp2', 13)} AS b13, {_b('mp2', 14)} AS b14,
             {_b('mp2', 15)} AS b15
      FROM documents
    ),
    t AS (
      SELECT *, CASE WHEN arm = 0 THEN 'a'
                     WHEN arm = 1 THEN
                       CASE WHEN sr_idx = 1 THEN 'a' ELSE 'b' END
                     ELSE CASE WHEN sr_idx = 2 THEN 'd' ELSE 'c' END
                END AS tab
      FROM p
    ),
    fr AS (
      SELECT t.*, f.f AS f FROM t, (VALUES (0), (1), (2)) f(f)
      WHERE f.f < n AND doc_id % 10 <> 9
    ),
    sb_raw AS (
      SELECT doc_id, f, b3, b15, 'A' AS region, b7 % 3 AS sb,
             1 + (b11 + f) % (CASE WHEN arm = 1 THEN 15 ELSE 5 END)
               AS idx
      FROM fr WHERE arm < 2
      UNION ALL
      SELECT doc_id, f, b3, b15, 'M', 3 + b8 % 8,
             1 + (b12 + f) % (CASE WHEN arm = 1 THEN 9 ELSE 5 END)
      FROM fr WHERE arm < 2
      UNION ALL
      SELECT doc_id, f, b3, b15, 'H', 11 + b9 % 12,
             1 + (b13 + f) % (CASE WHEN arm = 1 THEN 6 ELSE 4 END)
      FROM fr WHERE arm < 2
      UNION ALL
      SELECT doc_id, f, b3, b15, 'T',
             23 + b10 % (CASE WHEN tab = 'b' THEN 7 ELSE 4 END),
             1 + (b14 + f) % 2
      FROM fr WHERE arm < 2
      UNION ALL
      SELECT doc_id, f, b3, b15, 'C0', b7 % 2, 1 + (b11 + f) % 5
      FROM fr WHERE arm = 2
      UNION ALL
      SELECT doc_id, f, b3, b15, 'C1',
             2 + b8 % (CASE WHEN tab = 'd' THEN 10 ELSE 6 END),
             1 + (b12 + f) % 5
      FROM fr WHERE arm = 2
    ),
    sbs AS (
      SELECT doc_id, f, b3, b15, sb, idx,
        CASE region
          WHEN 'A' THEN CASE WHEN idx = 1 THEN 3
                 ELSE CAST(POWER(2, idx + 1) AS BIGINT) - 1 END
          WHEN 'M' THEN CASE WHEN idx <= 4 THEN ([3, 5, 7, 9])[idx]
                 ELSE CAST(POWER(2, idx - 1) AS BIGINT) - 1 END
          WHEN 'H' THEN CASE WHEN idx <= 4 THEN ([3, 5, 7, 9])[idx]
                 WHEN idx = 5 THEN 15 ELSE 31 END
          WHEN 'T' THEN ([3, 5])[idx]
          ELSE CASE WHEN idx <= 3 THEN ([3, 5, 9])[idx]
               ELSE CAST(POWER(2, idx) AS BIGINT) - 1 END
        END AS steps
      FROM sb_raw
    ),
    hx AS (
      SELECT *,
        md5(CAST(doc_id AS VARCHAR) || ':mp2:' || CAST(f AS VARCHAR)
            || ':' || CAST(sb AS VARCHAR) || ':a')
        || md5(CAST(doc_id AS VARCHAR) || ':mp2:' || CAST(f AS VARCHAR)
            || ':' || CAST(sb AS VARCHAR) || ':b')
        || md5(CAST(doc_id AS VARCHAR) || ':mp2:' || CAST(f AS VARCHAR)
            || ':' || CAST(sb AS VARCHAR) || ':c')
        || md5(CAST(doc_id AS VARCHAR) || ':mp2:' || CAST(f AS VARCHAR)
            || ':' || CAST(sb AS VARCHAR) || ':d')
        || md5(CAST(doc_id AS VARCHAR) || ':mp2:' || CAST(f AS VARCHAR)
            || ':' || CAST(sb AS VARCHAR) || ':e') AS h
      FROM sbs
    ),
    codes AS (
      SELECT doc_id, f, b3, b15, sb, steps, k.k,
        CAST(('0x' || substring(h, 4 * k.k + 1, 4)) AS BIGINT) % steps
          AS code
      FROM hx, (SELECT unnest(range(36)) AS k) k
    ),
    agg AS (
      SELECT doc_id, f, b3, b15, sb, steps,
        SUM(code) AS code_sum, SUM(code * code) AS code_sq_sum,
        SUM(CASE WHEN k < 12 THEN code ELSE 0 END) AS c0,
        SUM(CASE WHEN k >= 12 AND k < 24 THEN code ELSE 0 END) AS c1,
        SUM(CASE WHEN k >= 24 THEN code ELSE 0 END) AS c2
      FROM codes GROUP BY doc_id, f, b3, b15, sb, steps
    ),
    fin AS (
      SELECT doc_id, f, sb, steps,
        (b15 + sb + f) % 4 AS scfsi,
        3 * ((b3 + sb * 5 + 0 + f) % 21) AS sf0,
        CASE (b15 + sb + f) % 4
          WHEN 0 THEN 3 * ((b3 + sb * 5 + 1 + f) % 21)
          WHEN 3 THEN 3 * ((b3 + sb * 5 + 1 + f) % 21)
          ELSE 3 * ((b3 + sb * 5 + 0 + f) % 21) END AS sf1,
        CASE (b15 + sb + f) % 4
          WHEN 0 THEN 3 * ((b3 + sb * 5 + 2 + f) % 21)
          WHEN 1 THEN 3 * ((b3 + sb * 5 + 1 + f) % 21)
          WHEN 2 THEN 3 * ((b3 + sb * 5 + 0 + f) % 21)
          ELSE 3 * ((b3 + sb * 5 + 1 + f) % 21) END AS sf2,
        code_sum, code_sq_sum, c0, c1, c2,
        (steps - 1) // 2 AS mid
      FROM agg
    )
    SELECT doc_id, CAST(f AS INT) AS frame, CAST(sb AS INT) AS sb,
           CAST(steps AS INT) AS steps,
           CAST(CASE WHEN steps IN (3, 5, 9) THEN 1 ELSE 0 END AS INT)
             AS grouped,
           CAST(scfsi AS INT) AS scfsi,
           CAST(sf0 AS INT) AS sf0, CAST(sf1 AS INT) AS sf1,
           CAST(sf2 AS INT) AS sf2,
           CAST(code_sum AS BIGINT) AS code_sum,
           CAST(code_sq_sum AS BIGINT) AS code_sq_sum,
           (POWER(2.0, 2 - sf0 // 3)
              * (2.0 * CAST(c0 - 12 * mid AS DOUBLE)) / steps
            + POWER(2.0, 2 - sf1 // 3)
              * (2.0 * CAST(c1 - 12 * mid AS DOUBLE)) / steps)
           + POWER(2.0, 2 - sf2 // 3)
              * (2.0 * CAST(c2 - 12 * mid AS DOUBLE)) / steps
             AS dec_sum
    FROM fin
    UNION ALL
    SELECT doc_id, -1, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL
    FROM p WHERE doc_id % 10 = 9
    """,
)
def q_multimodal_audio_mp2_subbands(
    spark: SparkSession, sf: str
) -> DataFrame:
    # MPEG LAYER II SUBBAND DECODE (r14, VERDICT r13 item 4) — the
    # grouped-allocation arm beside the r13 Layer I leg: the B.2
    # table selection, region-structured allocation classes, scfsi
    # scalefactor sharing, and 3/5/9-step grouped sample words are
    # all spec-derivable (Table B.4's per-class C/D constants
    # collapse to s'' = 2(code - mid)/steps), so the subband-domain
    # decode is exact: integer code moments, and a dec_sum whose
    # float path is one rounded division per scalefactor part on a
    # dyadic-exact tree with a fixed reduction order — identical
    # IEEE trees on Spark and DuckDB. PCM synthesis (ISO Table C.3
    # window) stays the ledgered residue shared with Layer I.
    # Every 10th doc clears the mode bits to stereo — refusal
    # marker. One Arrow pass, ids-only shuffle.
    from hadoopxmlextractor_spark.operators import containers as C

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    return blob_rows(
        docs, "doc_id", "doc_id",
        lambda i: C.mp2_subband_stats(_synth_mp2_blob(i)),
        "doc_id bigint, frame int, sb int, steps int, "
        "grouped int, scfsi int, sf0 int, sf1 int, sf2 int, "
        "code_sum bigint, code_sq_sum bigint, dec_sum double",
        {"frame": -1},
    )


# ---------------------------------------------------------------------------
# MPEG Layer III spectral decode
# ---------------------------------------------------------------------------


def _synth_mp3_blob(i: int) -> bytes:
    """One deterministic mono MPEG-1 Layer III stream from
    md5(doc:mp3): 2 frames × 2 granules; granule g is a pure-short
    block when (b2+g) % 3 == 2 (subblock gains rotating, content in
    short sfbs 0-4 × 3 windows) and long otherwise (content in long
    sfbs 0-15 — sfbs ≥ 12 land in the count1 quad region beyond the
    big-values cut), scfsi band reuse live on all-long frames,
    global_gain ≡ 210 (mod 4) and scalefac_scale 1 (the dyadic
    contract), nonzero ±1 lines at each active band's head with
    md5-replayed counts/negatives/scalefactors, main data packed
    through the byte reservoir. Every 10th doc clears the mode bits
    to stereo — the refusal arm."""
    import hashlib

    from hadoopxmlextractor_spark.operators import mp3 as M

    b = hashlib.md5(f"{i}:mp3".encode()).digest()
    sr_idx = b[1] % 3
    sr = (44100, 48000, 32000)[sr_idx]
    L, S = M._SFB_LONG[sr], M._SFB_SHORT[sr]

    def chain(g: int, t: str) -> bytes:
        return hashlib.md5(f"{i}:mp3:{g}:{t}".encode()).digest()

    frame_specs = []
    prev_long_sf = None
    for f in range(2):
        gspecs = []
        shorts = [(b[2] + 2 * f + gg) % 3 == 2 for gg in range(2)]
        both_long = not (shorts[0] or shorts[1])
        scfsi = (
            [(b[6 + f] >> band) & 1 for band in range(4)]
            if both_long else [0, 0, 0, 0]
        )
        for gr in range(2):
            g = 2 * f + gr
            bA, bK = chain(g, "a"), chain(g, "k")
            bN, bS = chain(g, "n"), chain(g, "s")
            gg_exp = (b[3] + g) % 8 - 3
            sfc = (9, 10, 13)[(b[5] + g) % 3]
            spec = [0] * 576
            if shorts[gr]:
                sf_short = [[0] * 3 for _ in range(13)]
                for s in range(5):
                    width = S[s + 1] - S[s]
                    for w in range(3):
                        j = 3 * s + w
                        if bA[j] % 3 == 0:
                            continue
                        k = 1 + bK[j] % 4
                        nn = bN[j] % (k + 1)
                        for t in range(k):
                            spec[3 * S[s] + w * width + t] = (
                                -1 if t < nn else 1
                            )
                        sf_short[s][w] = bS[j] % 4
                gspecs.append({
                    "short": 1, "global_gain": 210 + 4 * gg_exp,
                    "scalefac_compress": sfc, "sf_short": sf_short,
                    "subblock_gain": [(b[8] + g + w) % 3
                                      for w in range(3)],
                    "spectrum": spec,
                })
            else:
                sf_long = [0] * 22
                for s in range(16):
                    sf_long[s] = bS[s] % 4
                if gr == 1 and both_long:
                    for band, (lo, hi) in enumerate(
                        [(0, 6), (6, 11), (11, 16)]
                    ):
                        if scfsi[band]:
                            sf_long[lo:hi] = prev_long_sf[lo:hi]
                for s in range(16):
                    if bA[s] % 3 == 0:
                        continue
                    k = 1 + bK[s] % (4 if s < 6 else 6)
                    nn = bN[s] % (k + 1)
                    for t in range(k):
                        spec[L[s] + t] = -1 if t < nn else 1
                gspecs.append({
                    "short": 0, "global_gain": 210 + 4 * gg_exp,
                    "scalefac_compress": sfc, "sf_long": sf_long,
                    "preflag": (b[4] + g) % 2, "spectrum": spec,
                })
                prev_long_sf = list(sf_long)
        frame_specs.append((scfsi, gspecs))
    blob = M.build_mp3l3(frame_specs, sr_idx=sr_idx, br_idx=9)
    if i % 10 == 9:
        out = bytearray(blob)
        out[3] &= 0x3F  # stereo -> refusal
        blob = bytes(out)
    return blob


_HB = "CAST(('0x' || substring({h}, 2 * ({j}) + 1, 2)) AS BIGINT)"


def _hb(h: str, j: str) -> str:
    """SQL for byte ``j`` of the hex digest column ``h``."""
    return _HB.format(h=h, j=j)


@query(
    "multimodal_audio_mp3_spectral",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('mp3', 1)} % 3 AS sr_idx, {_b('mp3', 2)} AS b2,
             {_b('mp3', 3)} AS b3, {_b('mp3', 4)} AS b4,
             {_b('mp3', 6)} AS b6, {_b('mp3', 7)} AS b7,
             {_b('mp3', 8)} AS b8
      FROM documents
    ),
    g AS (
      SELECT p.*, gg.g AS g, gg.g // 2 AS f, gg.g % 2 AS gr,
             ((b2 + gg.g) % 3 = 2) AS is_short,
             (b3 + gg.g) % 8 - 3 AS gg_exp,
             (b4 + gg.g) % 2 AS preflag,
             NOT (((b2 + 2 * (gg.g // 2)) % 3 = 2)
                  OR ((b2 + 2 * (gg.g // 2) + 1) % 3 = 2))
               AS both_long,
             md5(CAST(doc_id AS VARCHAR) || ':mp3:'
                 || CAST(gg.g AS VARCHAR) || ':a') AS ha,
             md5(CAST(doc_id AS VARCHAR) || ':mp3:'
                 || CAST(gg.g AS VARCHAR) || ':k') AS hk,
             md5(CAST(doc_id AS VARCHAR) || ':mp3:'
                 || CAST(gg.g AS VARCHAR) || ':n') AS hn,
             md5(CAST(doc_id AS VARCHAR) || ':mp3:'
                 || CAST(gg.g AS VARCHAR) || ':s') AS hs,
             md5(CAST(doc_id AS VARCHAR) || ':mp3:'
                 || CAST(gg.g - 1 AS VARCHAR) || ':s') AS hs_prev
      FROM p, (VALUES (0), (1), (2), (3)) gg(g)
      WHERE doc_id % 10 <> 9
    ),
    long_b AS (
      SELECT g.*, s.s AS s,
             1 + {_hb('hk', 's.s')}
                 % (CASE WHEN s.s < 6 THEN 4 ELSE 6 END) AS k,
             {_hb('hs', 's.s')} % 4 AS sf_own,
             {_hb('hs_prev', 's.s')} % 4 AS sf_prev,
             {_hb('hn', 's.s')} AS bn,
             CASE WHEN s.s < 6 THEN 0 WHEN s.s < 11 THEN 1 ELSE 2 END
               AS band
      FROM g, (SELECT unnest(range(16)) AS s) s
      WHERE NOT is_short AND {_hb('ha', 's.s')} % 3 <> 0
    ),
    long_rows AS (
      SELECT doc_id, f, gr, 0 AS short, s AS sfb, -1 AS win,
             CASE WHEN gr = 1 AND both_long
                   AND (CASE f WHEN 0 THEN b6 ELSE b7 END
                        // CAST(POWER(2, band) AS BIGINT)) % 2 = 1
                  THEN sf_prev ELSE sf_own END AS scalefac,
             k AS n_nonzero, k - 2 * (bn % (k + 1)) AS pmn,
             gg_exp, preflag
      FROM long_b
    ),
    long_fin AS (
      SELECT doc_id, f, gr, short, sfb, win, scalefac,
             gg_exp - scalefac - preflag
               * ([0,0,0,0,0,0,0,0,0,0,0,1,1,1,1,2])[sfb + 1]
               AS e,
             n_nonzero, pmn
      FROM long_rows
    ),
    short_rows AS (
      SELECT doc_id, f, gr, 1 AS short, sw.s AS sfb, sw.w AS win,
             {_hb('hs', '3 * sw.s + sw.w')} % 4 AS scalefac,
             gg_exp - 8 * ((b8 + g + sw.w) % 3)
               - {_hb('hs', '3 * sw.s + sw.w')} % 4 AS e,
             1 + {_hb('hk', '3 * sw.s + sw.w')} % 4 AS n_nonzero,
             (1 + {_hb('hk', '3 * sw.s + sw.w')} % 4)
               - 2 * ({_hb('hn', '3 * sw.s + sw.w')}
                      % (2 + {_hb('hk', '3 * sw.s + sw.w')} % 4))
               AS pmn
      FROM g, (SELECT s.s AS s, w.w AS w
               FROM (SELECT unnest(range(5)) AS s) s,
                    (SELECT unnest(range(3)) AS w) w) sw
      WHERE is_short AND {_hb('ha', '3 * sw.s + sw.w')} % 3 <> 0
    ),
    allr AS (
      SELECT * FROM long_fin
      UNION ALL
      SELECT doc_id, f, gr, short, sfb, win, scalefac, e,
             n_nonzero, pmn
      FROM short_rows
    )
    SELECT doc_id, CAST(f AS INT) AS frame, CAST(gr AS INT) AS gr,
           CAST(short AS INT) AS short, CAST(sfb AS INT) AS sfb,
           CAST(win AS INT) AS win, CAST(scalefac AS INT) AS scalefac,
           CAST(e AS INT) AS exp,
           CAST(n_nonzero AS INT) AS n_nonzero, CAST(pmn AS INT) AS pmn,
           CAST(pmn AS DOUBLE) * POWER(2.0, e) AS dec_sum,
           CAST(n_nonzero AS DOUBLE) * POWER(2.0, e) AS dec_abs
    FROM allr
    UNION ALL
    SELECT doc_id, -1, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL
    FROM documents WHERE doc_id % 10 = 9
    """,
)
def q_multimodal_audio_mp3_spectral(
    spark: SparkSession, sf: str
) -> DataFrame:
    # MPEG LAYER III SPECTRAL DECODE (r14, VERDICT r13 item 1 — the
    # headline): the full Layer III front half for the web's dominant
    # audio format — frame walk, mono side info, the BYTE RESERVOIR
    # (main_data_begin addressing into earlier frames' slots with
    # ancillary stuffing), scfsi scalefactor reuse, slen-table
    # scalefactors in long and 3-window short forms, table-driven
    # Huffman regions with sign bits and count1 quads, and dyadic
    # requantization (the synth pins global_gain ≡ 210 mod 4,
    # scalefac_scale 1, |is| ≤ 1, so every spectral line is exactly
    # ±2^E and the oracle replays bit-identical doubles). The
    # Huffman registry carries the spec-restated tables 0/1 and
    # count1 B; the remaining big-value code lists are registry DATA
    # (the region walk, linbits hooks, and quad handling are
    # table-agnostic) and streams selecting them refuse rather than
    # mis-decode — the documented residue, with IMDCT/synthesis
    # (transcendental) ledgered alongside as in the Layer I/II legs.
    # Every 10th doc clears the mode bits to stereo — refusal
    # marker. One Arrow pass, ids-only shuffle.
    from hadoopxmlextractor_spark.operators import mp3 as M

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    return blob_rows(
        docs, "doc_id", "doc_id",
        lambda i: M.mp3_spectral_stats(_synth_mp3_blob(i)),
        "doc_id bigint, frame int, gr int, short int, "
        "sfb int, win int, scalefac int, exp int, n_nonzero int, "
        "pmn int, dec_sum double, dec_abs double",
        {"frame": -1},
    )


# ---------------------------------------------------------------------------
# Solid 7z folders (SubStreamsInfo)
# ---------------------------------------------------------------------------


def _synth_7z_solid_blob(i: int) -> bytes:
    """One deterministic SOLID 7z from md5(doc:7zs): all members in
    one folder (method rotating lzma/lzma2/aes+lzma) with per-member
    sizes and CRCs in SubStreamsInfo — the layout the real CLI
    writes for small files, which the r13 reader REFUSED until a
    real libarchive-corpus archive exposed the gap this round.
    Optional empty member; every 7th doc's AES folder uses a
    different password (whole-folder wrong-password arm)."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:7zs".encode()).digest()
    x = hashlib.md5(f"{i}:7zs".encode()).hexdigest()
    solid = ("lzma", "lzma2", "aes+lzma")[b[2] % 3]
    pw = "realpw" if i % 7 == 6 else "infected"
    members = []
    for m in range(2 + b[0] % 2):
        content = (f"s{x[4 * m : 4 * m + 4]}m{m} "
                   * (1 + (b[1] + m) % 3)).encode()
        members.append((f"m{m}.txt", content, "ignored"))
    if b[3] % 2:
        members.append((f"d{i}/", b"", "ignored"))
    return D.build_7z(members, solid=solid, passwords={"*": pw},
                      aes_cycles=6, encoded_header=bool(b[4] % 2))


@query(
    "archive_7z_solid",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('7zs', 0)} % 2 AS n,
             {_b('7zs', 1)} AS b1,
             (['lzma', 'lzma2', 'aes256+lzma'])[1 + {_b('7zs', 2)} % 3]
               AS method,
             {_b('7zs', 2)} % 3 = 2 AS is_aes,
             {_b('7zs', 3)} % 2 AS has_empty,
             md5(CAST(doc_id AS VARCHAR) || ':7zs') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, g.g AS m, b1, method,
             (is_aes AND doc_id % 7 = 6) AS bad,
             repeat('s' || substring(x, 4 * g.g + 1, 4) || 'm'
                    || CAST(g.g AS VARCHAR) || ' ',
                    1 + (b1 + g.g) % 3) AS content
      FROM p, (VALUES (0), (1), (2)) g(g) WHERE g.g < n
    )
    SELECT doc_id, CAST(m AS INT) AS member_idx,
           'm' || CAST(m AS VARCHAR) || '.txt' AS name, method,
           CAST(length(content) AS BIGINT) AS size,
           CAST(CASE WHEN bad THEN 0 ELSE 1 END AS INT) AS crc_ok,
           CASE WHEN bad THEN NULL
                ELSE substring(content, 1, 16) END AS head
    FROM g
    UNION ALL
    SELECT doc_id, CAST(n AS INT),
           'd' || CAST(doc_id AS VARCHAR) || '/', NULL,
           CAST(0 AS BIGINT), CAST(NULL AS INT), ''
    FROM p WHERE has_empty = 1
    """,
)
def q_archive_7z_solid(spark: SparkSession, sf: str) -> DataFrame:
    # SOLID 7z FOLDERS (r14) — SubStreamsInfo: several files share
    # one compressed folder, their sizes and CRCs moving out of
    # UnpackInfo. This is the real CLI's DEFAULT for small files —
    # found refusing on a real libarchive-corpus archive this round
    # (the masked-by-own-writer bug class the CFB v4 fix came from;
    # the real archive is now a golden test). The reader decodes
    # each folder ONCE and slices members from it; an AES solid
    # folder under the wrong password fails all its members with a
    # per-folder crc_ok=0 verdict while the surface (names, sizes,
    # method) still reports from the never-encrypted header. One
    # Arrow pass, ids-only shuffle.
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    return blob_rows(
        docs, "doc_id", "doc_id",
        lambda i: _sevenzip_rows(
            _synth_7z_solid_blob(i), password="infected", verified_head=True
        ),
        SEVENZIP_SCHEMA, {"member_idx": -1},
    )


# ---------------------------------------------------------------------------
# MPEG-2 LSF Layer III spectral decode
# ---------------------------------------------------------------------------


def _synth_mp3_lsf_blob(i: int) -> bytes:
    """One deterministic mono MPEG-2 LSF Layer III stream from
    md5(doc:mp3lsf): 2 frames × 1 granule at 22.05/24/16 kHz, the
    9-bit scalefac_compress rotating through all three LSF branches
    (partitions [6,5,5,5]/[6,5,7,3]/[11,10,0,0], branch-c derived
    preflag), content in long sfbs 0-15 (12+ in the count1 region),
    dyadic contract as the MPEG-1 arm. Every 10th doc clears the
    mode bits to stereo — the refusal arm. The real-file twin of
    the gsutil-corpus golden (tests/test_mp3.py)."""
    import hashlib

    from hadoopxmlextractor_spark.operators import mp3 as M

    b = hashlib.md5(f"{i}:mp3lsf".encode()).digest()
    sr_idx = b[1] % 3
    sr = (22050, 24000, 16000)[sr_idx]
    L = M._SFB_LONG[sr]
    frame_specs = []
    for g in range(2):
        bA = hashlib.md5(f"{i}:mp3lsf:{g}:a".encode()).digest()
        bK = hashlib.md5(f"{i}:mp3lsf:{g}:k".encode()).digest()
        bN = hashlib.md5(f"{i}:mp3lsf:{g}:n".encode()).digest()
        bS = hashlib.md5(f"{i}:mp3lsf:{g}:s".encode()).digest()
        branch = (b[2] + g) % 3
        s1 = 2 + (b[5] + g) % 2
        s2 = 2 + (b[6] + g) % 2
        if branch == 0:
            sfc = (s1 * 5 + s2) * 16 + (2 << 2) + 2
        elif branch == 1:
            sfc = 400 + ((s1 * 5 + s2) << 2) + 2
        else:
            sfc = 500 + s1 * 3 + 2
        gg_exp = (b[3] + g) % 8 - 3
        spec = [0] * 576
        sf_long = [0] * 22
        for s in range(16):
            sf_long[s] = bS[s] % 4
            if bA[s] % 3 == 0:
                continue
            k = 1 + bK[s] % 6
            nn = bN[s] % (k + 1)
            for t in range(k):
                spec[L[s] + t] = -1 if t < nn else 1
        frame_specs.append(([0, 0, 0, 0], [{
            "short": 0, "global_gain": 210 + 4 * gg_exp,
            "scalefac_compress": sfc, "sf_long": sf_long,
            "preflag": 1 if branch == 2 else 0, "spectrum": spec,
        }]))
    blob = M.build_mp3l3(frame_specs, version="2", sr_idx=sr_idx,
                         br_idx=11)
    if i % 10 == 9:
        out = bytearray(blob)
        out[3] &= 0x3F
        blob = bytes(out)
    return blob


@query(
    "multimodal_audio_mp3_lsf",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('mp3lsf', 2)} AS b2, {_b('mp3lsf', 3)} AS b3
      FROM documents
    ),
    g AS (
      SELECT p.*, gg.g AS g, (b2 + gg.g) % 3 AS branch,
             (b3 + gg.g) % 8 - 3 AS gg_exp,
             md5(CAST(doc_id AS VARCHAR) || ':mp3lsf:'
                 || CAST(gg.g AS VARCHAR) || ':a') AS ha,
             md5(CAST(doc_id AS VARCHAR) || ':mp3lsf:'
                 || CAST(gg.g AS VARCHAR) || ':k') AS hk,
             md5(CAST(doc_id AS VARCHAR) || ':mp3lsf:'
                 || CAST(gg.g AS VARCHAR) || ':n') AS hn,
             md5(CAST(doc_id AS VARCHAR) || ':mp3lsf:'
                 || CAST(gg.g AS VARCHAR) || ':s') AS hs
      FROM p, (VALUES (0), (1)) gg(g)
      WHERE doc_id % 10 <> 9
    ),
    rows_ AS (
      SELECT doc_id, g AS frame, branch, s.s AS sfb,
             {_hb('hs', 's.s')} % 4 AS scalefac,
             gg_exp - ({_hb('hs', 's.s')} % 4
               + CASE WHEN branch = 2 THEN
                   ([0,0,0,0,0,0,0,0,0,0,0,1,1,1,1,2])[s.s + 1]
                 ELSE 0 END) AS e,
             1 + {_hb('hk', 's.s')} % 6 AS n_nonzero,
             (1 + {_hb('hk', 's.s')} % 6)
               - 2 * ({_hb('hn', 's.s')}
                      % (2 + {_hb('hk', 's.s')} % 6)) AS pmn
      FROM g, (SELECT unnest(range(16)) AS s) s
      WHERE {_hb('ha', 's.s')} % 3 <> 0
    )
    SELECT doc_id, CAST(frame AS INT) AS frame,
           CAST(branch AS INT) AS branch, CAST(sfb AS INT) AS sfb,
           CAST(scalefac AS INT) AS scalefac, CAST(e AS INT) AS exp,
           CAST(n_nonzero AS INT) AS n_nonzero, CAST(pmn AS INT) AS pmn,
           CAST(pmn AS DOUBLE) * POWER(2.0, e) AS dec_sum,
           CAST(n_nonzero AS DOUBLE) * POWER(2.0, e) AS dec_abs
    FROM rows_
    UNION ALL
    SELECT doc_id, -1, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM documents WHERE doc_id % 10 = 9
    """,
)
def q_multimodal_audio_mp3_lsf(
    spark: SparkSession, sf: str
) -> DataFrame:
    # MPEG-2 LSF LAYER III (r14) — the form the round's REAL-FILE
    # find actually is (a gsutil-corpus 22.05 kHz mono MP3, now a
    # golden test that decodes end-to-end): 9-byte one-granule side
    # info with an 8-bit reservoir pointer, the 9-bit
    # scalefac_compress branch algorithm (partitions and preflag
    # DERIVED, not transmitted), LSF sfb tables (16 kHz sharing
    # 22.05's per the spec), and the same registry Huffman +
    # dyadic-requantization path as the MPEG-1 arm — with the
    # half-step gate applied PER BAND, so real silent/sparse streams
    # with scalefac_scale 0 stay decodable. One Arrow pass,
    # ids-only shuffle.
    from hadoopxmlextractor_spark.operators import mp3 as M

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def decode(i):
        import hashlib

        b2 = hashlib.md5(f"{i}:mp3lsf".encode()).digest()[2]
        return [
            {**r, "branch": (b2 + r["frame"]) % 3}
            for r in M.mp3_spectral_stats(_synth_mp3_lsf_blob(i))
        ]

    return blob_rows(
        docs, "doc_id", "doc_id", decode,
        "doc_id bigint, frame int, branch int, sfb int, "
        "scalefac int, exp int, n_nonzero int, pmn int, "
        "dec_sum double, dec_abs double",
        {"frame": -1},
    )
