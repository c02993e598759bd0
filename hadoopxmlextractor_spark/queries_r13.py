"""Round-13 queries — the legacy-Office main body of value the r12
verdict ranked first, plus the encryption long tail:

- Word 97+ piece-table `.doc` text (`source_doc97_text`): the CLX/
  PlcPcd walk over the 0Table/1Table stream — the layout virtually
  every real-world `.doc` uses (the r12 leg covered only the
  Word 6/95 contiguous form);
- BIFF8 completeness (`source_xls_biff8_full`): CONTINUE-spilled
  SSTs (fHighByte re-read at each continuation boundary), FORMULA
  cached results + STRING follow-ons, LABEL, MULRK/MULBLANK,
  rich-text/phonetic SST flags;
- PDF AES-256 (`source_pdf_aesv3`): R5/R6 /AESV3 empty-user-password
  decryption (SHA-256 key check, R6 hardened hash loop, /UE file-key
  unwrap);
- encrypted legacy Office (`source_xls_encrypted`,
  `source_doc_encrypted`): FilePass XOR obfuscation + RC4-40 with
  the well-known default password, .doc table-stream RC4;
- robots-aware frontier politeness capstone
  (`pipeline_frontier_polite`): RFC 9309 admission × crawl-delay
  slot budgets × per-host top-K scheduling in one plan.

Registered into the same QUERIES/ORACLE registry as the other query
modules; every entry carries an exact DuckDB oracle. Fresh module per
the regression discipline (new operators must not churn certified
modules)."""

from __future__ import annotations

import struct  # noqa: F401
from typing import Iterator  # noqa: F401  (pandas_udf string annotations)

import pandas as pd  # noqa: F401  (pandas_udf string annotations)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401

from hadoopxmlextractor_spark.operators.kernel import REFUSED, blob_rows, map_rows
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
# Word 97+ piece-table .doc text
# ---------------------------------------------------------------------------


def _synth_doc97_blob(i: int) -> bytes:
    """One deterministic Word 97+ piece-table .doc from md5(doc:doc97):
    2-4 pieces alternating compressed-cp1252 / UTF-16LE (the CJK
    pieces force the unicode form), fWhichTblStm rotating 0Table/
    1Table (with a DECOY garbage table under the other name),
    out-of-order file placement, an optional leading Prc block, and a
    rotating Clx offset inside the table stream. Every 9th doc
    truncates lcbClx past the table stream — the refusal arm."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:doc97".encode()).digest()
    x = hashlib.md5(f"{i}:doc97".encode()).hexdigest()
    pieces = []
    for k in range(2 + b[0] % 3):
        if (b[1] + k) % 2 == 0:
            pieces.append(
                (f"w{x[4 * k : 4 * k + 2]} word w{x[4 * k + 2 : 4 * k + 4]}",
                 True)
            )
        else:
            pieces.append((f"中文{x[4 * k : 4 * k + 2]} p{k}", False))
    blob = D.build_doc97(
        pieces,
        table1=b[2] % 2 == 1,
        out_of_order=b[3] % 2 == 1,
        prc=b[4] % 2 == 1,
        clx_pad=b[5] % 8,
    )
    if i % 9 == 8:
        # blow lcbClx past the table stream: parse-and-patch at the
        # WordDocument stream's FIB offset 422
        ms = D.cfb_members(blob, with_data=True)
        wd = next(m for m in ms if m["name"] == "WordDocument")
        at = blob.index(wd["data"][:64])
        patched = bytearray(blob)
        struct.pack_into("<I", patched, at + 422, 1 << 20)
        blob = bytes(patched)
    return blob


@query(
    "source_doc97_text",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('doc97', 0)} % 3 AS n,
             {_b('doc97', 1)} AS b1,
             md5(CAST(doc_id AS VARCHAR) || ':doc97') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS g, b1, x
      FROM p, (VALUES (0), (1), (2), (3)) g(g)
      WHERE g.g < n AND doc_id % 9 <> 8
    ),
    txt AS (
      SELECT doc_id, n,
             string_agg(
               CASE (b1 + g) % 2
                 WHEN 0 THEN 'w' || substring(x, 4 * g + 1, 2)
                   || ' word w' || substring(x, 4 * g + 3, 2)
                 ELSE '中文' || substring(x, 4 * g + 1, 2)
                   || ' p' || CAST(g AS VARCHAR) END,
               chr(10) ORDER BY g) AS text
      FROM g GROUP BY doc_id, n
    )
    SELECT doc_id, 'doc' AS format, CAST(n AS INT) AS n_units, text
    FROM txt
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL FROM p WHERE doc_id % 9 = 8
    """,
)
def q_source_doc97_text(spark: SparkSession, sf: str) -> DataFrame:
    # WORD 97+ PIECE-TABLE .doc TEXT — closes the r12 verdict's #1
    # gap: the simple-subset leg covered only the Word 6/95-era
    # contiguous form; virtually every real .doc stores text through
    # the piece table (CLX in the 0Table/1Table stream, [MS-DOC]
    # 2.4.1). Arms rotate mixed cp1252/UTF-16LE pieces, both table
    # streams (decoy garbage under the unselected name), out-of-order
    # file placement, Prc prefixes, and Clx offsets. Every 9th doc
    # truncates lcbClx — the bounds-checked walk refuses to the
    # marker row. Routed by the D0CF magic through the same
    # document_text dispatch as the rest of the tier; one Arrow pass.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series(
                [_synth_doc97_blob(int(i)) for i in ids]
            )

    ex = D.document_text(
        docs.select("doc_id", _blob("doc_id").alias("content"))
    )
    return ex.select("doc_id", "format", "n_units", "text")


# ---------------------------------------------------------------------------
# BIFF8 real-world record surface
# ---------------------------------------------------------------------------


def _synth_xls8_blob(i: int) -> bytes:
    """One deterministic real-world-surface BIFF8 .xls from
    md5(doc:xls8): per row an SST string rotating plain-ascii / CJK /
    ascii-head-CJK-tail (spills across CONTINUE with a width switch
    at the boundary given the small rotating sst_chunk) / rich(+
    phonetic) forms, a LABEL inline string, a FORMULA cached
    number/string/bool, a MULRK pair, and a MULBLANK run. Every 11th
    doc over-declares the SST's unique-string count — the exhaustion
    refusal arm (r12 ADVICE)."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:xls8".encode()).digest()
    x = hashlib.md5(f"{i}:xls8".encode()).hexdigest()
    cells = []
    for r in range(2 + b[0] % 3):
        v = (b[1] + r) % 4
        if v == 0:
            s = (f"w{x[4 * r : 4 * r + 4]} cell", False, False)
        elif v == 1:
            s = (f"中文 {x[4 * r : 4 * r + 2]}", False, False)
        elif v == 2:
            s = ("a" * 36 + f"中{x[4 * r : 4 * r + 2]}", False, False)
        else:
            s = (f"rich {x[4 * r : 4 * r + 2]}", True, r % 2 == 1)
        cells.append((r, 0, "sst", s))
        cells.append((r, 1, "label", f"L{x[4 * r + 1 : 4 * r + 3]}"))
        if r % 3 == 0:
            cells.append((r, 2, "formula_num", float(1000 + b[2] + r)))
        elif r % 3 == 1:
            cells.append((r, 2, "formula_str",
                          f"F{x[4 * r : 4 * r + 2]}"))
        else:
            cells.append((r, 2, "formula_bool", (b[3] + r) % 2 == 1))
        cells.append((r, 3, "mulrk", [b[4] * 10 + r, b[4] * 10 + r + 1]))
        cells.append((r, 5, "mulblank", 2))
    blob = D.build_xls2(cells, sst_chunk=32 + b[5] % 32)
    if i % 11 == 10:
        # over-declare n_unique (SST payload offset 4) → the cursor
        # exhausts before the declared count → refusal
        ms = D.cfb_members(blob, with_data=True)
        wb = next(m for m in ms if m["name"] == "Workbook")
        data = bytearray(wb["data"])
        pos = 0
        while pos + 4 <= len(data):
            op, ln = struct.unpack_from("<HH", data, pos)
            if op == 0x00FC:
                (nu,) = struct.unpack_from("<I", data, pos + 8)
                struct.pack_into("<I", data, pos + 8, nu + 1)
                break
            pos += 4 + ln
        at = blob.index(bytes(wb["data"][:64]))
        patched = bytearray(blob)
        patched[at : at + len(data)] = data
        blob = bytes(patched)
    return blob


@query(
    "source_xls_biff8_full",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('xls8', 0)} % 3 AS n, {_b('xls8', 1)} AS b1,
             {_b('xls8', 2)} AS b2, {_b('xls8', 3)} AS b3,
             {_b('xls8', 4)} AS b4,
             md5(CAST(doc_id AS VARCHAR) || ':xls8') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS r, b1, b2, b3, b4, x
      FROM p, (VALUES (0), (1), (2), (3)) g(g)
      WHERE g.g < n AND doc_id % 11 <> 10
    ),
    cells AS (
      SELECT doc_id, r, 0 AS col, 's' AS kind,
        CASE (b1 + r) % 4
          WHEN 0 THEN 'w' || substring(x, 4 * r + 1, 4) || ' cell'
          WHEN 1 THEN '中文 ' || substring(x, 4 * r + 1, 2)
          WHEN 2 THEN repeat('a', 36) || '中' || substring(x, 4 * r + 1, 2)
          ELSE 'rich ' || substring(x, 4 * r + 1, 2) END AS value
      FROM g
      UNION ALL
      SELECT doc_id, r, 1, 'label', 'L' || substring(x, 4 * r + 2, 2)
      FROM g
      UNION ALL
      SELECT doc_id, r, 2,
        CASE r % 3 WHEN 0 THEN 'fn' WHEN 1 THEN 'fs' ELSE 'fb' END,
        CASE r % 3
          WHEN 0 THEN CAST(1000 + b2 + r AS VARCHAR)
          WHEN 1 THEN 'F' || substring(x, 4 * r + 1, 2)
          ELSE CAST((b3 + r) % 2 AS VARCHAR) END
      FROM g
      UNION ALL
      SELECT doc_id, r, 3, 'rk', CAST(b4 * 10 + r AS VARCHAR) FROM g
      UNION ALL
      SELECT doc_id, r, 4, 'rk', CAST(b4 * 10 + r + 1 AS VARCHAR) FROM g
    )
    SELECT doc_id, CAST(r AS INT) AS row, CAST(col AS INT) AS col,
           kind, value
    FROM cells
    UNION ALL
    SELECT doc_id, -1, NULL, NULL, NULL FROM p WHERE doc_id % 11 = 10
    """,
)
def q_source_xls_biff8_full(spark: SparkSession, sf: str) -> DataFrame:
    # BIFF8 REAL-WORLD RECORD SURFACE — closes the r12 verdict's #2
    # gap: real .xls files spill their SST across CONTINUE records
    # (any workbook with >~8 KB of strings), store values as FORMULA
    # cached results (+STRING follow-ons), LABEL inline strings, and
    # MULRK/MULBLANK runs; all of those previously refused (losing
    # the cells) or misparsed. Arms rotate CONTINUE-spilled strings
    # with fHighByte switching at the boundary, rich-text/phonetic
    # SST flags (runs skipped, text kept), every FORMULA cached kind,
    # and MULRK fans. Every 11th doc over-declares the SST count —
    # the exhaustion refusal arm. One Arrow pass, ids-only shuffle.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    return blob_rows(
        docs, "doc_id", "doc_id",
        lambda i: D.xls_cells(_synth_xls8_blob(i)),
        "doc_id bigint, row int, col int, kind string, value string",
        {"row": -1},
    )


# ---------------------------------------------------------------------------
# PDF AES-256 (R5/R6 /AESV3)
# ---------------------------------------------------------------------------


def _synth_pdf_aesv3_blob(i: int, *, user_pw: bytes = b"") -> bytes:
    """One deterministic AES-256-encrypted PDF from md5(doc:aesv3),
    rotating the two shipping sub-revisions by b[2] % 2 — R5 (plain
    SHA-256 derivation, Adobe ExtensionLevel 3) and R6 (the hardened
    Algorithm 2.B hash loop, PDF 2.0). The 32-byte file key is
    wrapped in /UE under the intermediate key; /Perms carries the
    AES-256-ECB integrity block ('adb' marker + /P echo). A non-empty
    ``user_pw`` makes the /U hash check unsatisfiable with the empty
    password — the refusal arm. Content streams rotate the Flate
    filter arm like the legacy generations."""
    import hashlib
    import zlib

    from hadoopxmlextractor_spark.operators import aes as A
    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:aesv3".encode()).digest()
    x = hashlib.md5(f"{i}:aesv3".encode()).hexdigest()
    rev = 5 + b[2] % 2
    n_pages = 1 + b[0] % 2
    vs = hashlib.md5(f"{i}:vs".encode()).digest()[:8]
    ks = hashlib.md5(f"{i}:ks".encode()).digest()[:8]
    fkey = hashlib.sha256(f"{i}:fkey".encode()).digest()
    pw = user_pw
    if rev == 5:
        h = hashlib.sha256(pw + vs).digest()
        ik = hashlib.sha256(pw + ks).digest()
    else:
        h = D._pdf_hash_2b(pw, vs)
        ik = D._pdf_hash_2b(pw, ks)
    u_entry = h + vs + ks
    ue = A.cbc_encrypt_nopad(ik, bytes(16), fkey)
    o_entry = (hashlib.sha256(f"{i}:o1".encode()).digest()
               + hashlib.md5(f"{i}:o2".encode()).digest())  # unused dummy
    oe = hashlib.sha256(f"{i}:oe".encode()).digest()
    # EncryptMetadata arm: the V5 /Perms block records it as 'T'/'F'
    # at byte 8 — both values must clear the integrity gate
    meta_byte = b"T" if b[3] % 2 == 0 else b"F"
    perms_plain = (
        struct.pack("<i", -44) + b"\xff\xff\xff\xff" + meta_byte
        + b"adb" + hashlib.md5(f"{i}:pr".encode()).digest()[:4]
    )
    perms = A.ecb_encrypt(fkey, perms_plain)  # one block; AES-NI path

    def _enc(obj_num: int, data: bytes) -> bytes:
        iv = hashlib.md5(f"{i}:{obj_num}:iv".encode()).digest()
        return iv + A.cbc_encrypt(fkey, iv, data)

    objs: dict[int, bytes] = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    kids = []
    for pg in range(n_pages):
        page_num, content_num = 3 + 2 * pg, 4 + 2 * pg
        kids.append(f"{page_num} 0 R")
        plain = (
            f"BT /F1 12 Tf 72 720 Td (w{x[4*pg:4*pg+2]} sealed "
            f"w{x[4*pg+2:4*pg+4]} {pg}) Tj ET"
        ).encode()
        if (b[1] + pg) % 2 == 0:
            data, filt = zlib.compress(plain), " /Filter /FlateDecode"
        else:
            data, filt = plain, ""
        data = _enc(content_num, data)
        objs[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {content_num} 0 R >>".encode()
        )
        objs[content_num] = (
            f"<< /Length {len(data)}{filt} >>".encode()
            + b"\nstream\n" + data + b"\nendstream"
        )
    objs[2] = (
        f"<< /Type /Pages /Kids [{' '.join(kids)}] /Count {n_pages} >>"
        .encode()
    )
    objs[9] = (
        b"<< /Filter /Standard /V 5 /R " + str(rev).encode()
        + b" /Length 256 /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
        b" /StmF /StdCF /StrF /StdCF /P -44 /O <"
        + o_entry.hex().encode() + b"> /U <" + u_entry.hex().encode()
        + b"> /OE <" + oe.hex().encode() + b"> /UE <"
        + ue.hex().encode() + b"> /Perms <" + perms.hex().encode()
        + b"> >>"
    )
    id0 = hashlib.md5(f"{i}:aesv3id".encode()).digest()
    out = bytearray(b"%PDF-2.0\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    n_obj = max(objs) + 1
    out += f"xref\n0 {n_obj}\n".encode() + b"0000000000 65535 f \n"
    for num in range(1, n_obj):
        out += (
            f"{offsets[num]:010d} 00000 n \n".encode()
            if num in offsets else b"0000000000 65535 f \n"
        )
    out += (
        f"trailer\n<< /Size {n_obj} /Root 1 0 R /Encrypt 9 0 R "
        f"/ID [<{id0.hex()}> <{id0.hex()}>] >>\nstartxref\n"
        f"{xref_off}\n%%EOF\n".encode()
    )
    return bytes(out)


@query(
    "source_pdf_aesv3",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('aesv3', 0)} AS b0,
             5 + {_b('aesv3', 2)} % 2 AS rev,
             md5(CAST(doc_id AS VARCHAR) || ':aesv3') AS x
      FROM documents
    ),
    pg AS (
      SELECT doc_id, 1 + b0 % 2 AS n, g.g AS g, x, rev
      FROM p, (VALUES (0), (1)) g(g)
      WHERE g.g < 1 + b0 % 2 AND doc_id % 5 <> 4
    ),
    txt AS (
      SELECT doc_id, n, rev,
             string_agg(
               'w' || substring(x, 4 * g + 1, 2) || ' sealed w'
                 || substring(x, 4 * g + 3, 2) || ' '
                 || CAST(g AS VARCHAR),
               chr(10) ORDER BY g) AS text
      FROM pg GROUP BY doc_id, n, rev
    )
    SELECT doc_id, TRUE AS decrypted, CAST(rev AS INT) AS enc_rev,
           'pdf' AS format, CAST(n AS INT) AS n_units, text
    FROM txt
    UNION ALL
    SELECT doc_id, FALSE, NULL, NULL, NULL, NULL
    FROM p WHERE doc_id % 5 = 4
    """,
)
def q_source_pdf_aesv3(spark: SparkSession, sf: str) -> DataFrame:
    # PDF AES-256 (r13) — the generation the r11/r12 legs explicitly
    # refused: Acrobat X+ and PDF 2.0 owner-restricted files are
    # /AESV3 (V5), R5 with plain SHA-256 key derivation or R6 with
    # the hardened Algorithm 2.B hash loop. The /U hash AUTHENTICATES
    # the empty user password, /UE unwraps the 32-byte file key under
    # the intermediate key (unpadded AES-256-CBC, zero IV), and the
    # /Perms AES-256-ECB block must reveal 'adb' and echo /P before
    # any payload byte is trusted; data decrypts under the ONE file
    # key (V5 dropped per-object derivation). Every 5th doc carries a
    # REAL user password — the /U check fails and the doc takes the
    # marker row. ``enc_rev`` is parsed back from the blob bytes, so
    # a text match per arm proves that revision's derivation actually
    # ran. One Arrow pass through the document_text dispatch.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([
                _synth_pdf_aesv3_blob(
                    int(i),
                    user_pw=b"secret" if int(i) % 5 == 4 else b"",
                )
                for i in ids
            ])

    raw = docs.select("doc_id", _blob("doc_id").alias("content"))
    blobs = raw.select(
        (
            F.col("doc_id") * 10
            + F.regexp_extract(
                F.decode("content", "ISO-8859-1"), r"/R (\d)", 1
            ).cast("bigint")
        ).alias("doc_id"),
        "content",
    )
    ex = D.document_text(blobs)
    return ex.select(
        F.expr("doc_id div 10").alias("doc_id"),
        F.col("format").isNotNull().alias("decrypted"),
        F.when(F.col("format").isNotNull(), F.col("doc_id") % 10)
        .cast("int").alias("enc_rev"),
        "format",
        F.col("n_units"),
        "text",
    )


# ---------------------------------------------------------------------------
# Encrypted legacy Office
# ---------------------------------------------------------------------------


def _synth_xls_encrypted_blob(i: int) -> bytes:
    """One FilePass-protected BIFF8 .xls from md5(doc:xlsenc) —
    encryption arm rotating binary RC4 (1024-byte block keys) and XOR
    obfuscation (Method 1) by b[6], both under Excel's silent default
    password; every 7th doc is protected with a REAL password — the
    verifier check fails and the doc takes the marker row."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:xlsenc".encode()).digest()
    x = hashlib.md5(f"{i}:xlsenc".encode()).hexdigest()
    cells = []
    for r in range(2 + b[0] % 3):
        sval = (
            f"w{x[4 * r : 4 * r + 4]} enc"
            if (b[1] + r) % 2 == 0 else f"中文 {x[4 * r : 4 * r + 2]}"
        )
        cells.append((r, 0, "sst", (sval, False, False)))
        cells.append((r, 1, "rk", b[2] * 100 + r))
        cells.append((r, 2, "formula_num", float(2000 + b[3] + r)))
    plain = D.build_xls2(cells, sst_chunk=48 + b[5] % 16)
    password = "realpw" if i % 7 == 6 else D._OFFICE_DEFAULT_PW
    mode = b[6] % 3  # 0 binary RC4, 1 XOR, 2 RC4 CryptoAPI
    return D.encrypt_xls(
        plain, password, xor=mode == 1, cryptoapi=mode == 2,
        key_bits=40 if b[8] % 2 else 128,
        salt_seed=f"{i}:xs".encode(),
    )


@query(
    "source_xls_encrypted",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('xlsenc', 0)} % 3 AS n,
             {_b('xlsenc', 1)} AS b1, {_b('xlsenc', 2)} AS b2,
             {_b('xlsenc', 3)} AS b3,
             CASE {_b('xlsenc', 6)} % 3 WHEN 1 THEN 'xor'
               WHEN 2 THEN 'capi' ELSE 'rc4' END AS mode,
             md5(CAST(doc_id AS VARCHAR) || ':xlsenc') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS r, b1, b2, b3, mode, x
      FROM p, (VALUES (0), (1), (2), (3)) g(g)
      WHERE g.g < n AND doc_id % 7 <> 6
    ),
    cells AS (
      SELECT doc_id, mode, r, 0 AS col, 's' AS kind,
        CASE (b1 + r) % 2
          WHEN 0 THEN 'w' || substring(x, 4 * r + 1, 4) || ' enc'
          ELSE '中文 ' || substring(x, 4 * r + 1, 2) END AS value
      FROM g
      UNION ALL
      SELECT doc_id, mode, r, 1, 'rk', CAST(b2 * 100 + r AS VARCHAR)
      FROM g
      UNION ALL
      SELECT doc_id, mode, r, 2, 'fn', CAST(2000 + b3 + r AS VARCHAR)
      FROM g
    )
    SELECT doc_id, mode AS enc_mode, CAST(r AS INT) AS row,
           CAST(col AS INT) AS col, kind, value
    FROM cells
    UNION ALL
    SELECT doc_id, NULL, -1, NULL, NULL, NULL
    FROM p WHERE doc_id % 7 = 6
    """,
)
def q_source_xls_encrypted(spark: SparkSession, sf: str) -> DataFrame:
    # ENCRYPTED LEGACY .xls (r13) — a routine fraction of old
    # corporate dumps is FilePass-protected with Excel's silent
    # default password: binary RC4 ([MS-OFFCRYPTO] 2.3.6 — verifier-
    # gated per-1024-byte-block MD5 keys, record headers and exempt
    # records advancing the keystream untransformed), XOR
    # obfuscation (2.3.7 Method 1 — the GF-doubling matrix, per-
    # record array rotation), and RC4 CryptoAPI (2.3.5 — the Office
    # XP/2003 form: SHA-1 block keys, the zero-padded 40-bit export
    # grade rotating with 128-bit). ``enc_mode`` is parsed back from the
    # BLOB's FilePass record (not replayed from doc_id), so a value
    # match per arm proves that cipher actually ran. Every 7th doc
    # uses a real password — the verifier fails and the doc takes
    # the marker row. One Arrow pass, ids-only shuffle.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def decode(i):
        blob = _synth_xls_encrypted_blob(i)
        # mode from the blob bytes: FilePass wtype
        wb = next(
            (m["data"] for m in D.cfb_members(blob, with_data=True)
             if m["name"] == "Workbook"),
            None,
        )
        if wb is None:
            raise ValueError("no Workbook stream")
        mode = None
        for off, op, ln in D._xls_stream_records(wb):
            if op == 0x002F:
                wt, vmaj = struct.unpack_from("<HH", wb, off + 4)
                mode = "xor" if wt == 0 else "rc4" if vmaj == 1 else "capi"
                break
        return [{**c, "enc_mode": mode} for c in D.xls_cells(blob)]

    return blob_rows(
        docs, "doc_id", "doc_id", decode,
        "doc_id bigint, enc_mode string, row int, col int, "
        "kind string, value string",
        {"row": -1},
    )


def _synth_doc_encrypted_blob(i: int) -> bytes:
    """One RC4-protected Word 97 piece-table .doc from
    md5(doc:docenc) — the table-stream EncryptionHeader form under
    the silent default password; every 7th doc uses a REAL password
    (verifier refusal arm)."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:docenc".encode()).digest()
    x = hashlib.md5(f"{i}:docenc".encode()).hexdigest()
    pieces = []
    for k in range(2 + b[0] % 3):
        if (b[1] + k) % 2 == 0:
            pieces.append((f"s{x[4 * k : 4 * k + 4]} sealed", True))
        else:
            pieces.append((f"中文{x[4 * k : 4 * k + 2]} s{k}", False))
    plain = D.build_doc97(
        pieces, table1=b[2] % 2 == 1, out_of_order=b[3] % 2 == 1,
        clx_pad=b[5] % 8,
    )
    password = "realpw" if i % 7 == 6 else D._OFFICE_DEFAULT_PW
    return D.encrypt_doc(
        plain, password, salt_seed=f"{i}:ds".encode()
    )


@query(
    "source_doc_encrypted",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('docenc', 0)} % 3 AS n,
             {_b('docenc', 1)} AS b1,
             md5(CAST(doc_id AS VARCHAR) || ':docenc') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS g, b1, x
      FROM p, (VALUES (0), (1), (2), (3)) g(g)
      WHERE g.g < n AND doc_id % 7 <> 6
    ),
    txt AS (
      SELECT doc_id, n,
             string_agg(
               CASE (b1 + g) % 2
                 WHEN 0 THEN 's' || substring(x, 4 * g + 1, 4)
                   || ' sealed'
                 ELSE '中文' || substring(x, 4 * g + 1, 2)
                   || ' s' || CAST(g AS VARCHAR) END,
               chr(10) ORDER BY g) AS text
      FROM g GROUP BY doc_id, n
    )
    SELECT doc_id, TRUE AS decrypted, 'doc' AS format,
           CAST(n AS INT) AS n_units, text
    FROM txt
    UNION ALL
    SELECT doc_id, FALSE, NULL, NULL, NULL
    FROM p WHERE doc_id % 7 = 6
    """,
)
def q_source_doc_encrypted(spark: SparkSession, sf: str) -> DataFrame:
    # ENCRYPTED LEGACY .doc (r13) — the table-stream RC4 form
    # ([MS-DOC] 2.2.6.2 / [MS-OFFCRYPTO] 2.3.6): fEncrypted + lKey in
    # the plaintext FIB base, the 52-byte EncryptionHeader leading
    # the 0Table/1Table stream, WordDocument encrypted from byte 68
    # and the table stream from byte 52 with independent 512-byte-
    # block ciphers. The verifier AUTHENTICATES the silent default
    # password before any byte is trusted; the piece-table walk then
    # runs on the DECRYPTED streams (both legs land in one pass).
    # Every 7th doc uses a real password — marker row. XOR-obfuscated
    # .doc (fObfuscation) refuses — the documented residue. One
    # Arrow pass through the document_text dispatch.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series(
                [_synth_doc_encrypted_blob(int(i)) for i in ids]
            )

    ex = D.document_text(
        docs.select("doc_id", _blob("doc_id").alias("content"))
    )
    return ex.select(
        "doc_id",
        F.col("format").isNotNull().alias("decrypted"),
        "format", F.col("n_units"), "text",
    )


# ---------------------------------------------------------------------------
# Robots-aware frontier politeness capstone
# ---------------------------------------------------------------------------

# Per-host robots.txt for the 7-host crawl universe: rule class
# rotates by k % 3 (each class bites REAL frontier paths — the
# vacuous-check rule), Crawl-delay by k % 4, and every file carries a
# decoy 'badbot' deny-all / delay-1 group that group selection must
# ignore (a broken selector would zero the frontier or break budgets)
_POLITE_RULES = (
    "Disallow: /dir/up/\nAllow: /dir/up/3\n",
    "Disallow: /root/\nDisallow: /*.html$\nAllow: /dir/sub/rel/4.html\n",
    "Disallow: /T\nAllow: /T7\nDisallow: /sr/2\n",
)
_POLITE_CYCLE_S = 60  # scheduling cycle the slot budgets divide


def _polite_robots(k: int) -> str:
    return (
        "User-agent: badbot\nDisallow: /\nCrawl-delay: 1\n\n"
        "User-agent: *\n" + _POLITE_RULES[k % 3]
        + f"Crawl-delay: {5 * (k % 4 + 1)}\n"
    )


@query(
    "pipeline_frontier_polite",
    """
    WITH p AS (
      SELECT doc_id, doc_id % 7 AS h FROM documents
    ),
    crawled AS (
      SELECT DISTINCT 'https://host' || CAST(h AS VARCHAR)
        || '.example.org/dir/sub/page' || CAST(doc_id AS VARCHAR)
        || '.html' AS url
      FROM p
      UNION
      SELECT DISTINCT 'https://host0.example.org/hub/'
        || CAST(doc_id % 50 AS VARCHAR) FROM p
    ),
    t AS (
      SELECT 'https://host0.example.org/hub/'
        || CAST(doc_id % 50 AS VARCHAR) AS target FROM p
      UNION ALL
      SELECT 'https://host' || CAST((h + 1) % 7 AS VARCHAR)
        || '.example.org/sr/' || CAST(doc_id % 30 AS VARCHAR)
      FROM p WHERE h % 2 = 1
      UNION ALL
      SELECT 'https://host' || CAST((h + 2) % 7 AS VARCHAR)
        || '.example.org/T' || CAST(doc_id % 9 AS VARCHAR)
        || '?keep=' || CAST(doc_id % 5 AS VARCHAR)
      FROM p WHERE doc_id % 3 = 0
      UNION ALL
      SELECT 'https://host' || CAST(h AS VARCHAR)
        || '.example.org/root/' || CAST(doc_id % 20 AS VARCHAR) FROM p
      UNION ALL
      SELECT 'https://host' || CAST(h AS VARCHAR)
        || '.example.org/dir/sub/rel/' || CAST(doc_id % 10 AS VARCHAR)
        || '.html'
      FROM p WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 'https://host' || CAST(h AS VARCHAR)
        || '.example.org/dir/up/' || CAST(doc_id % 10 AS VARCHAR)
      FROM p WHERE doc_id % 2 = 1
      UNION ALL
      SELECT 'https://host' || CAST(h AS VARCHAR)
        || '.example.org/dir/sub/here/' || CAST(doc_id % 6 AS VARCHAR)
      FROM p WHERE doc_id % 5 = 0
    ),
    cand AS (
      SELECT target, CAST(COUNT(*) AS BIGINT) AS n_refs
      FROM t GROUP BY target
    ),
    frontier AS (
      SELECT c.target, c.n_refs,
             regexp_extract(c.target, '://([^/]+)', 1) AS host
      FROM cand c ANTI JOIN crawled w ON c.target = w.url
    ),
    fk AS (
      SELECT target, n_refs, host,
             CAST(regexp_extract(host, 'host(\\d+)', 1) AS INT) AS k,
             regexp_extract(target, '://[^/]+(/.*)', 1) AS path
      FROM frontier
    ),
    rules(km, allow, rx, ln) AS (VALUES
      (0, FALSE, '^/dir/up/', 9),
      (0, TRUE,  '^/dir/up/3', 10),
      (1, FALSE, '^/root/', 6),
      (1, FALSE, '^/.*\\.html$', 8),
      (1, TRUE,  '^/dir/sub/rel/4\\.html', 19),
      (2, FALSE, '^/T', 2),
      (2, TRUE,  '^/T7', 3),
      (2, FALSE, '^/sr/2', 5)
    ),
    m AS (
      SELECT f.host, f.target, r.allow, r.ln
      FROM fk f JOIN rules r
        ON r.km = f.k % 3 AND regexp_matches(f.path, r.rx)
    ),
    best AS (
      SELECT host, target, MAX(ln) AS ml
      FROM m GROUP BY host, target
    ),
    dec AS (
      SELECT m.host, m.target, bool_or(m.allow) AS allowed
      FROM m JOIN best
        ON m.host = best.host AND m.target = best.target
        AND m.ln = best.ml
      GROUP BY m.host, m.target
    ),
    admitted AS (
      SELECT f.host, f.target, f.n_refs, f.k
      FROM fk f LEFT JOIN dec d
        ON f.host = d.host AND f.target = d.target
      WHERE COALESCE(d.allowed, TRUE)
    ),
    ranked AS (
      SELECT host, target, n_refs, k,
             ROW_NUMBER() OVER (
               PARTITION BY host ORDER BY n_refs DESC, target
             ) AS slot
      FROM admitted
    )
    SELECT host, CAST(slot AS INT) AS slot, target, n_refs,
           CAST(([12, 6, 4, 3])[k % 4 + 1] AS INT) AS budget
    FROM ranked
    WHERE slot <= ([12, 6, 4, 3])[k % 4 + 1]
    """,
)
def q_pipeline_frontier_polite(
    spark: SparkSession, sf: str
) -> DataFrame:
    # ROBOTS-AWARE FRONTIER POLITENESS (r13 capstone) — composes the
    # certified crawl pieces into the loop a real crawler runs every
    # cycle: frontier expansion (outlinks minus crawled, the r12
    # anti-join), RFC 9309 admission under PER-HOST robots.txt
    # (rule classes rotate so Disallows bite real frontier paths;
    # every file carries a decoy badbot deny-all group), and per-host
    # slot budgets derived from each host's Crawl-delay THROUGH the
    # parser (budget = cycle / delay — never replayed constants; the
    # badbot group's delay-1 is a live decoy there too). The
    # scheduling window filters on the LITERAL max budget first —
    # that bound compiles to WindowGroupLimit, so each host partition
    # materializes at most 12 rows in-shuffle — and applies the
    # per-host budget as a residual filter on that tiny remainder:
    # variable budgets without giving up the scale shape. Admission
    # itself is a map-side pandas UDF over (host, path) with the
    # compiled per-host rules riding the closure (broadcast-sized at
    # 100 TB; no join).
    from pyspark.sql import Window

    from hadoopxmlextractor_spark.operators import text as T
    from hadoopxmlextractor_spark.queries_r12 import (
        q_pipeline_frontier_expand,
    )

    robots = {k: _polite_robots(k) for k in range(7)}
    budgets = [
        max(1, int(_POLITE_CYCLE_S
                   // T.robots_crawl_delay(robots[k], "mybot")))
        for k in range(7)
    ]
    max_budget = max(budgets)

    frontier = q_pipeline_frontier_expand(spark, sf)
    fk = frontier.select(
        "target", "n_refs", "host",
        F.regexp_extract("host", r"host(\d+)", 1).cast("int").alias("k"),
        F.regexp_extract("target", r"://[^/]+(/.*)", 1).alias("path"),
    )
    admit = T.robots_admit_multi_udf(robots, agent="mybot")
    admitted = fk.filter(admit("k", "path"))
    w = Window.partitionBy("host").orderBy(
        F.col("n_refs").desc(), F.col("target")
    )
    budget_col = F.element_at(
        F.array(*[F.lit(b) for b in budgets]), F.col("k") + 1
    )
    return (
        admitted.withColumn("slot", F.row_number().over(w))
        .filter(F.col("slot") <= F.lit(max_budget))  # WindowGroupLimit
        .withColumn("budget", budget_col.cast("int"))
        .filter(F.col("slot") <= F.col("budget"))  # residual per-host
        .select("host", F.col("slot").cast("int").alias("slot"),
                "target", "n_refs", "budget")
    )


# ---------------------------------------------------------------------------
# MPEG Layer I subband-sample decode
# ---------------------------------------------------------------------------


def _synth_mp1_blob(i: int) -> bytes:
    """One deterministic mono Layer I stream from md5(doc:mp1):
    MPEG-1/2 rotating (different bitrate tables), 2-3 frames, three
    active subbands per frame with rotating allocation widths
    (2..15 bits) and integer-exponent scalefactors; the 12 codes per
    (frame, subband) replay from two md5 chains. Every 10th doc
    flips the first frame's bitrate index to 0 (free format) — the
    refusal arm."""
    import hashlib

    from hadoopxmlextractor_spark.operators import containers as C

    b = hashlib.md5(f"{i}:mp1".encode()).digest()
    n_frames = 2 + b[0] % 2
    frames = []
    for f in range(n_frames):
        spec = []
        for j in range(3):
            sb = (b[1] + 7 * j) % 32
            nb = 2 + (b[2] + f + j) % 14
            scf = 3 * ((b[3] + f + j) % 21)
            hx = (
                hashlib.md5(f"{i}:mp1:{f}:{j}:a".encode()).hexdigest()
                + hashlib.md5(f"{i}:mp1:{f}:{j}:b".encode()).hexdigest()
            )
            codes = [
                int(hx[4 * k : 4 * k + 4], 16) % (1 << nb)
                for k in range(12)
            ]
            spec.append((sb, nb, scf, codes))
        frames.append(spec)
    blob = C.build_mp1(
        frames, version=("1", "2")[b[7] % 2], sr_idx=b[4] % 3,
        br_idx=12,
    )
    if i % 10 == 9:
        out = bytearray(blob)
        out[2] = (0 << 4) | (out[2] & 0x0F)  # free-format bitrate
        blob = bytes(out)
    return blob


@query(
    "multimodal_audio_mp1_subbands",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('mp1', 0)} % 2 AS n,
             {_b('mp1', 1)} AS b1, {_b('mp1', 2)} AS b2,
             {_b('mp1', 3)} AS b3
      FROM documents
    ),
    fs AS (
      SELECT doc_id, f.f AS f, j.j AS j, b1, b2, b3
      FROM p, (VALUES (0), (1), (2)) f(f), (VALUES (0), (1), (2)) j(j)
      WHERE f.f < n AND doc_id % 10 <> 9
    ),
    sbp AS (
      SELECT doc_id, f, j,
             (b1 + 7 * j) % 32 AS sb,
             2 + (b2 + f + j) % 14 AS nb,
             3 * ((b3 + f + j) % 21) AS scf,
             md5(CAST(doc_id AS VARCHAR) || ':mp1:' || CAST(f AS VARCHAR)
                 || ':' || CAST(j AS VARCHAR) || ':a')
             || md5(CAST(doc_id AS VARCHAR) || ':mp1:'
                 || CAST(f AS VARCHAR) || ':' || CAST(j AS VARCHAR)
                 || ':b') AS hx
      FROM fs
    ),
    codes AS (
      SELECT doc_id, f, sb, nb, scf,
             CAST(('0x' || substring(hx, 4 * k.k + 1, 4)) AS BIGINT)
               % CAST(POWER(2, nb) AS BIGINT) AS code
      FROM sbp, (SELECT unnest(range(12)) AS k) k
    ),
    agg AS (
      SELECT doc_id, f, sb, nb, scf,
             SUM(code) AS code_sum,
             SUM(code * code) AS code_sq_sum
      FROM codes GROUP BY doc_id, f, sb, nb, scf
    )
    SELECT doc_id, CAST(f AS INT) AS frame, CAST(sb AS INT) AS sb,
           CAST(nb AS INT) AS nb, CAST(scf AS INT) AS scf,
           CAST(code_sum AS BIGINT) AS code_sum,
           CAST(code_sq_sum AS BIGINT) AS code_sq_sum,
           POWER(2.0, 2 - scf // 3)
             * ((POWER(2.0, nb) / (POWER(2.0, nb) - 1.0))
                * (POWER(2.0, 1 - nb) * CAST(code_sum AS DOUBLE)
                   + 12.0 * (POWER(2.0, 1 - nb) - 1.0))) AS dec_sum
    FROM agg
    UNION ALL
    SELECT doc_id, -1, NULL, NULL, NULL, NULL, NULL, NULL
    FROM p WHERE doc_id % 10 = 9
    """,
)
def q_multimodal_audio_mp1_subbands(
    spark: SparkSession, sf: str
) -> DataFrame:
    # MPEG LAYER I SUBBAND DECODE (r13) — the first SAMPLE-level
    # decode of the MPEG audio family, the honest sub-step toward
    # the r12 verdict's Layer III stretch goal: bit allocation,
    # scalefactors, and requantization in Layer I are pure formulas
    # (no transcribed ISO numeric tables), so the subband-domain
    # decode is bit-exact — code sums as exact integers, the
    # requantized sum through the ISO §2.4.3.3 form pushed through
    # linearity so the float path carries ONE rounded op on a
    # dyadic-exact tree (identical IEEE trees on Spark/DuckDB; the
    # synth restricts scalefactors to integer-exponent indices, the
    # reader refuses others). The polyphase synthesis window (ISO
    # Table C.3) is spec-numeric, not derivable — PCM-domain parity
    # stays the documented residue; curation-grade energy signals
    # live in the subband domain anyway. MPEG-1/2 arms rotate the
    # bitrate tables; every 10th doc flips to free-format — refusal
    # marker. One Arrow pass, ids-only shuffle.
    from hadoopxmlextractor_spark.operators import containers as C

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    return blob_rows(
        docs, "doc_id", "doc_id",
        lambda i: C.mp1_subband_stats(_synth_mp1_blob(i)),
        "doc_id bigint, frame int, sb int, nb int, scf int, "
        "code_sum bigint, code_sq_sum bigint, dec_sum double",
        {"frame": -1},
    )


# ---------------------------------------------------------------------------
# Lossy-JPEG orientation dedup — the DC-identity extension
# ---------------------------------------------------------------------------


def _synth_oriented_lossy_jpeg(i: int) -> tuple[int, bytes]:
    """(group_id, blob): a BASELINE (lossy) 64x64 gray JPEG whose 8x8
    DCT blocks are flat at the group's displayed-plane values
    (md5(gid:olossy)), stored under the inverse EXIF orientation
    transform with the matching APP1 tag — the r12 watch item: the
    lossless arm proved the normalization, this arm proves it through
    a REAL lossy decode (quantization + IDCT + rounding), exact by
    the DC-quantizer identity (flat blocks keep only the DC
    coefficient; Q=3 at quality 90 never lands on a rounding
    half-boundary)."""
    import hashlib

    import numpy as np

    from hadoopxmlextractor_spark.operators import multimodal as M
    from hadoopxmlextractor_spark.operators.jpeg import encode_jpeg

    gid, o = i % 53, 1 + (i // 53) % 8
    plane = np.frombuffer(
        b"".join(
            hashlib.md5(f"{gid}:olossy{k}".encode()).digest()
            for k in range(4)
        ),
        dtype=np.uint8,
    ).reshape(8, 8).astype(np.int64)
    stored8 = M.exif_orient_store(plane, o)
    img64 = np.kron(stored8, np.ones((8, 8), dtype=np.int64)).astype(
        np.uint8
    )
    enc = encode_jpeg(np.ascontiguousarray(img64), quality=90)
    app1 = M._encode_exif_app1(
        big_endian=(i % 2 == 1), orientation=o, make="synthcam",
        model=f"l{gid}", dt_original="2022:03:01 08:00:00",
        pixel_w=64, pixel_h=64, xres=(72, 1),
    )
    return gid, enc[:2] + app1 + enc[2:]


def _orient_perm_values_lossy() -> str:
    import numpy as np

    from hadoopxmlextractor_spark.operators import multimodal as M

    base_idx = np.arange(64).reshape(8, 8)
    rows = []
    for o in range(1, 9):
        stored = M.exif_orient_store(base_idx, o)
        for p, q in enumerate(stored.flatten()):
            rows.append(f"({o},{p},{int(q)})")
    return ", ".join(rows)


_LANES13 = ", ".join(
    f"({p}, " + (str(1 << p) if p < 63 else "(-9223372036854775807 - 1)")
    + ")"
    for p in range(64)
)


@query(
    "multimodal_image_orientation_lossy",
    f"""
    WITH d AS (
      SELECT doc_id, doc_id % 53 AS gid,
             1 + (doc_id // 53) % 8 AS o
      FROM documents
    ),
    lum AS (
      SELECT gid, (k * 16 + j) AS q,
             CAST(LEAST(255, GREATEST(0,
               ROUND(3 * ROUND(8.0 * (CAST(('0x' || substring(
                 md5(CAST(gid AS VARCHAR) || ':olossy' || CAST(k AS VARCHAR)),
                 j * 2 + 1, 2)) AS BIGINT) - 128) / 3) / 8.0 + 128)))
               AS BIGINT) AS g
      FROM (SELECT DISTINCT gid FROM d),
           (SELECT unnest(range(4)) AS k),
           (SELECT unnest(range(16)) AS j)
    ),
    mean AS (SELECT gid, SUM(g) // 64 AS m FROM lum GROUP BY gid),
    lanes(p, wt) AS (VALUES {_LANES13}),
    perm(o, p, q) AS (VALUES {{PERM}}),
    norm AS (
      SELECT lum.gid,
             CAST(SUM(CASE WHEN g > m THEN wt ELSE 0 END) AS BIGINT)
               AS ahash_norm
      FROM lum JOIN mean USING (gid) JOIN lanes ON lanes.p = lum.q
      GROUP BY lum.gid
    ),
    raw AS (
      SELECT d.doc_id, d.gid, d.o,
             CAST(SUM(CASE WHEN lum.g > mean.m THEN lanes.wt ELSE 0 END)
               AS BIGINT) AS ahash_raw
      FROM d
      JOIN perm ON perm.o = d.o
      JOIN lanes ON lanes.p = perm.p
      JOIN lum ON lum.gid = d.gid AND lum.q = perm.q
      JOIN mean ON mean.gid = d.gid
      GROUP BY d.doc_id, d.gid, d.o
    ),
    per_doc AS (
      SELECT raw.doc_id, raw.gid, raw.o, raw.ahash_raw, norm.ahash_norm
      FROM raw JOIN norm USING (gid)
    ),
    gstats AS (
      SELECT gid, COUNT(DISTINCT ahash_raw) AS n_raw,
             COUNT(DISTINCT ahash_norm) AS n_norm
      FROM per_doc GROUP BY gid
    )
    SELECT p.doc_id, CAST(p.gid AS BIGINT) AS group_id,
           CAST(p.o AS INT) AS orientation,
           p.ahash_raw, p.ahash_norm,
           CAST(g.n_raw AS BIGINT) AS n_raw_distinct,
           CAST(g.n_norm AS BIGINT) AS n_norm_distinct
    FROM per_doc p JOIN gstats g USING (gid)
    """.replace("{{PERM}}", "{PERM}").format(
        PERM=_orient_perm_values_lossy()
    ),
)
def q_multimodal_image_orientation_lossy(
    spark: SparkSession, sf: str
) -> DataFrame:
    # LOSSY-JPEG ORIENTATION DEDUP (r13) — closes the r12 watch item:
    # the certified orientation-normalized aHash was proven only on
    # LOSSLESS synthetics; rotated re-encodes in the wild are lossy
    # baseline files, where IDCT rounding could in principle break
    # hash collapse. Each of 53 planted groups stores one displayed
    # 64x64 image (8x8 flat DCT blocks) under all 8 EXIF orientations
    # as BASELINE quality-90 JPEGs; the DC-quantizer identity makes
    # the decode exact (clip(round(3*round(8(v-128)/3)/8 + 128))), so
    # the oracle pushes every luminance through that formula and
    # recomputes both hashes + per-group distinct counts. The kernel
    # additionally VERIFIES block flatness after decode (a lossy-
    # decoder drift would show as a non-flat block → marker row,
    # never a silently-wrong hash). One Arrow pass, group-stats
    # exchange + broadcast join-back — the r12 plan shape.
    import numpy as np

    from hadoopxmlextractor_spark.operators import multimodal as M
    from hadoopxmlextractor_spark.operators.jpeg import decode_jpeg

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def _rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "group_id", "orientation", "ahash_raw",
                "ahash_norm"]
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                gid, blob = _synth_oriented_lossy_jpeg(i)
                img = decode_jpeg(blob)
                o = M.jpeg_exif(blob)["orientation"]
                flat = all(
                    np.all(img[8 * r : 8 * r + 8, 8 * c : 8 * c + 8, 0]
                           == img[8 * r, 8 * c, 0])
                    for r in range(8) for c in range(8)
                )
                if not flat:
                    rows.append({
                        "doc_id": i, "group_id": gid, "orientation": -1,
                        "ahash_raw": None, "ahash_norm": None,
                    })
                    continue
                norm = M.exif_orient_normalize(img, o)
                rows.append({
                    "doc_id": i, "group_id": gid, "orientation": o,
                    "ahash_raw": M._ahash64(
                        np.ascontiguousarray(img[::8, ::8, :])
                    ),
                    "ahash_norm": M._ahash64(
                        np.ascontiguousarray(norm[::8, ::8, :])
                    ),
                })
            yield pd.DataFrame(rows, columns=cols)

    per_doc = docs.select("doc_id").mapInPandas(
        _rows,
        schema="doc_id bigint, group_id bigint, orientation int, "
        "ahash_raw bigint, ahash_norm bigint",
    )
    gstats = per_doc.groupBy("group_id").agg(
        F.countDistinct("ahash_raw").alias("n_raw_distinct"),
        F.countDistinct("ahash_norm").alias("n_norm_distinct"),
    )
    return per_doc.join(F.broadcast(gstats), "group_id").select(
        "doc_id", "group_id", "orientation", "ahash_raw", "ahash_norm",
        "n_raw_distinct", "n_norm_distinct",
    )


# ---------------------------------------------------------------------------
# OOXML (ECMA-376) encrypted documents — the modern protected form
# ---------------------------------------------------------------------------


def _synth_ooxml_encrypted_blob(i: int) -> bytes:
    """A real .docx (the certified source_docx_text synth) wrapped in
    the ECMA-376 encryption container: the AGILE form (Office 2010+
    default) with field-driven spinCount and a SHA256/SHA512 hash
    rotation, or the STANDARD form (AES-128-ECB, spec-fixed
    50000-round SHA-1 spin) on every 17th doc. Every 6th doc uses a
    REAL password — the verifier refusal arm."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:ooxe".encode()).digest()
    pkg = D._synth_docx_blob(i)
    password = "realpw" if i % 6 == 5 else D._OFFICE_DEFAULT_PW
    if i % 17 == 0:
        return D.build_ooxml_encrypted(
            pkg, password, agile=False, salt_seed=f"{i}:oo".encode()
        )
    return D.build_ooxml_encrypted(
        pkg, password, agile=True,
        spin=500 + (b[6] % 4) * 250,
        hash_name="sha256" if b[5] % 3 == 0 else "sha512",
        salt_seed=f"{i}:oo".encode(),
    )


@query(
    "source_ooxml_encrypted",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('docx', 0)} AS b0, {_b('docx', 1)} AS b1,
             {_b('docx', 2)} AS b2,
             CASE WHEN doc_id % 17 = 0 THEN 'standard'
                  ELSE 'agile' END AS form
      FROM documents
    ),
    e AS (
      SELECT doc_id, form, 1 + b0 % 3 AS n,
             (['alpha','bravo','charlie','delta','echo'])[b1 % 5 + 1]
               || ' 0'
               || CASE WHEN b2 % 2 = 1 THEN chr(9) || 'tabbed'
                  ELSE '' END AS p0,
             (['alpha','bravo','charlie','delta','echo'])
               [(b1 + 1) % 5 + 1] || ' 1' AS p1,
             (['alpha','bravo','charlie','delta','echo'])
               [(b1 + 2) % 5 + 1] || ' 2' AS p2
      FROM p
    )
    SELECT doc_id, TRUE AS decrypted, form, 'docx' AS format,
           CAST(n AS INT) AS n_units,
           p0 || CASE WHEN n >= 2 THEN chr(10) || p1 ELSE '' END
              || CASE WHEN n >= 3 THEN chr(10) || p2 ELSE '' END AS text
    FROM e WHERE doc_id % 6 <> 5
    UNION ALL
    SELECT doc_id, FALSE, form, NULL, NULL, NULL
    FROM e WHERE doc_id % 6 = 5
    """,
)
def q_source_ooxml_encrypted(spark: SparkSession, sf: str) -> DataFrame:
    # OOXML ENCRYPTION (r13) — the MODERN password-protected Office
    # form every .docx/.xlsx "password to open" produces: a CFB
    # container with EncryptionInfo + EncryptedPackage around the
    # ordinary zip. Both shipping generations: AGILE (XML descriptor
    # parsed for real — hash family, spinCount, salts all
    # field-driven; SHA512/SHA256 rotation; HMAC dataIntegrity
    # VERIFIED over the package before any byte is trusted; 4096-byte
    # segmented AES-256-CBC) and STANDARD (AES-128-ECB, the
    # spec-fixed 50000-round SHA-1 spin — kept to every 17th doc
    # because the spin is not field-tunable). The silent default
    # password authenticates via the verifier pair; every 6th doc
    # carries a real password — marker row. ``form`` is parsed back
    # from the BLOB's EncryptionInfo version (not replayed), and the
    # decrypted zip routes through the SAME document_text dispatch as
    # a plain .docx — text parity with source_docx_text proves the
    # whole decrypt→route→extract chain. One Arrow pass.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series(
                [_synth_ooxml_encrypted_blob(int(i)) for i in ids]
            )

    @F.pandas_udf("int")
    def _vminor(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for blobs in it:
            out = []
            for blob in blobs:
                info = next(
                    m["data"]
                    for m in D.cfb_members(bytes(blob), with_data=True)
                    if m["name"] == "EncryptionInfo"
                )
                out.append(struct.unpack_from("<H", info, 2)[0])
            yield pd.Series(out)

    # r14-opt (guide §4.4): without the marker the optimizer inlined
    # the synthesis into the _vminor argument and planned it in TWO
    # ArrowEvalPython nodes — every AES-encrypted container was built
    # twice. Marked nondeterministic, _vminor reads the projected
    # content attribute and the synthesis runs once.
    raw = docs.select(
        "doc_id", _blob.asNondeterministic()("doc_id").alias("content")
    )
    blobs = raw.select(
        (F.col("doc_id") * 10 + _vminor("content")).alias("doc_id"),
        "content",
    )
    ex = D.document_text(blobs)
    return ex.select(
        F.expr("doc_id div 10").alias("doc_id"),
        F.col("format").isNotNull().alias("decrypted"),
        F.when(F.col("doc_id") % 10 == 4, F.lit("agile"))
        .otherwise(F.lit("standard")).alias("form"),
        "format", F.col("n_units"), "text",
    )


# ---------------------------------------------------------------------------
# Multi-sheet BIFF8 workbooks
# ---------------------------------------------------------------------------


def _synth_xls_multisheet_blob(i: int) -> bytes:
    """One deterministic MULTI-SHEET BIFF8 workbook from
    md5(doc:xlsms): 1-3 worksheet substreams behind a BoundSheet8
    directory (ascii + CJK sheet names), the GLOBAL SST shared
    across sheets (a string referenced from two sheets proves the
    workbook-level table), small CONTINUE chunks. Every 9th doc gets
    a bogus lbPlyPos — the substream-integrity refusal arm."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:xlsms".encode()).digest()
    x = hashlib.md5(f"{i}:xlsms".encode()).hexdigest()
    sheets = []
    for s in range(1 + b[0] % 3):
        name = (f"Data{x[0:2]}", f"中文{x[2:4]}", "S3")[s]
        cells = []
        for r in range(1 + (b[1] + s) % 2):
            sval = (
                f"shared {x[0:4]}" if (b[2] + s) % 2 == 0
                else f"s{s} w{x[4 * s : 4 * s + 4]}"
            )
            cells.append((r, 0, "sst", (sval, False, False)))
            cells.append((r, 1, "rk", b[3] * 10 + 3 * s + r))
        sheets.append((name, cells))
    blob = D.build_xls3(sheets, sst_chunk=32 + b[5] % 32)
    if i % 9 == 8:
        ms = D.cfb_members(blob, with_data=True)
        wb = next(m for m in ms if m["name"] == "Workbook")
        data = bytearray(wb["data"])
        for off, op, ln in D._xls_stream_records(bytes(data)):
            if op == 0x0085:
                (ply,) = struct.unpack_from("<I", data, off + 4)
                struct.pack_into("<I", data, off + 4, ply + 2)
                break
        at = blob.index(bytes(wb["data"][:64]))
        patched = bytearray(blob)
        patched[at : at + len(data)] = data
        blob = bytes(patched)
    return blob


@query(
    "source_xls_multisheet",
    f"""
    WITH p AS (
      SELECT doc_id, 1 + {_b('xlsms', 0)} % 3 AS ns,
             {_b('xlsms', 1)} AS b1, {_b('xlsms', 2)} AS b2,
             {_b('xlsms', 3)} AS b3,
             md5(CAST(doc_id AS VARCHAR) || ':xlsms') AS x
      FROM documents
    ),
    sh AS (
      SELECT doc_id, ns, s.s AS s, b1, b2, b3, x,
             CASE s.s WHEN 0 THEN 'Data' || substring(x, 1, 2)
                      WHEN 1 THEN '中文' || substring(x, 3, 2)
                      ELSE 'S3' END AS sheet_name
      FROM p, (VALUES (0), (1), (2)) s(s)
      WHERE s.s < ns AND doc_id % 9 <> 8
    ),
    rw AS (
      SELECT doc_id, s, sheet_name, r.r AS r, b2, b3, x
      FROM sh, (VALUES (0), (1)) r(r)
      WHERE r.r < 1 + (b1 + s) % 2
    ),
    cells AS (
      SELECT doc_id, s, sheet_name, r, 0 AS col, 's' AS kind,
             CASE (b2 + s) % 2
               WHEN 0 THEN 'shared ' || substring(x, 1, 4)
               ELSE 's' || CAST(s AS VARCHAR) || ' w'
                 || substring(x, 4 * s + 1, 4) END AS value
      FROM rw
      UNION ALL
      SELECT doc_id, s, sheet_name, r, 1, 'rk',
             CAST(b3 * 10 + 3 * s + r AS VARCHAR)
      FROM rw
    )
    SELECT doc_id, CAST(s AS INT) AS sheet, sheet_name,
           CAST(r AS INT) AS row, CAST(col AS INT) AS col, kind, value
    FROM cells
    UNION ALL
    SELECT doc_id, -1, NULL, NULL, NULL, NULL, NULL
    FROM p WHERE doc_id % 9 = 8
    """,
)
def q_source_xls_multisheet(spark: SparkSession, sf: str) -> DataFrame:
    # MULTI-SHEET BIFF8 (r13) — every real workbook stores one
    # worksheet SUBSTREAM per sheet behind a BoundSheet8 directory;
    # the single-substream walk would silently stop at the globals
    # EOF and lose every cell. The r13 walk continues across
    # substreams (EOF followed by BOF), resolves each worksheet's
    # index and name through the lbPlyPos directory (a bogus
    # position refuses — substream integrity), and keeps the SST
    # GLOBAL (a string referenced from two sheets resolves through
    # the one workbook-level table). One Arrow pass, ids-only
    # shuffle.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    return blob_rows(
        docs, "doc_id", "doc_id",
        lambda i: D.xls_cells(_synth_xls_multisheet_blob(i)),
        "doc_id bigint, sheet int, sheet_name string, row int, "
        "col int, kind string, value string",
        {"sheet": -1},
    )


# ---------------------------------------------------------------------------
# Word field codes — instruction text must never leak
# ---------------------------------------------------------------------------


def _synth_doc_fields_blob(i: int) -> bytes:
    """A piece-table .doc whose text carries the field machinery every
    real Word file has: a HYPERLINK field (instruction + display
    result), a NESTED field (IF wrapping PAGE — the whole inner field
    sits in the outer instruction region), soft line breaks (0x0B),
    and cell marks (0x07). Every 9th doc truncates the Clx — the
    refusal arm."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:docfld".encode()).digest()
    x = hashlib.md5(f"{i}:docfld".encode()).hexdigest()
    pieces = []
    # piece 0: hyperlink field — only the display text survives
    pieces.append((
        f"pre{x[0:2]} \x13HYPERLINK \"http://h{x[2:6]}.example\"\x14"
        f"link {x[6:8]}\x15 post",
        True,
    ))
    # piece 1: nested field — the inner PAGE lives inside the outer
    # IF's INSTRUCTION region, so only the outer RESULT shows
    if b[1] % 2 == 0:
        pieces.append((
            f"\x13IF 1 = 1 \x13PAGE\x15 \x14res {x[8:10]}\x15 tail",
            True,
        ))
    # piece 2: soft line break + cell marks, UTF-16 arm
    pieces.append((f"中{x[10:12]}\x0bnext\x07c2\x07", False))
    blob = D.build_doc97(
        pieces, table1=b[2] % 2 == 1, out_of_order=b[3] % 2 == 1,
        clx_pad=b[5] % 8,
    )
    if i % 9 == 8:
        ms = D.cfb_members(blob, with_data=True)
        wd = next(m for m in ms if m["name"] == "WordDocument")
        at = blob.index(wd["data"][:64])
        patched = bytearray(blob)
        struct.pack_into("<I", patched, at + 422, 1 << 20)
        blob = bytes(patched)
    return blob


@query(
    "source_doc_fields",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('docfld', 1)} AS b1,
             md5(CAST(doc_id AS VARCHAR) || ':docfld') AS x
      FROM documents
    ),
    e AS (
      SELECT doc_id,
             'pre' || substring(x, 1, 2) || ' link '
               || substring(x, 7, 2) || ' post' AS p0,
             CASE WHEN b1 % 2 = 0
               THEN 'res ' || substring(x, 9, 2) || ' tail'
               ELSE NULL END AS p1,
             '中' || substring(x, 11, 2) || chr(10) || 'next'
               || chr(9) || 'c2' || chr(9) AS p2
      FROM p
    )
    SELECT doc_id, 'doc' AS format,
           CAST(CASE WHEN p1 IS NULL THEN 2 ELSE 3 END AS INT)
             AS n_units,
           p0 || chr(10) || COALESCE(p1 || chr(10), '') || p2 AS text
    FROM e WHERE doc_id % 9 <> 8
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL FROM p WHERE doc_id % 9 = 8
    """,
)
def q_source_doc_fields(spark: SparkSession, sf: str) -> DataFrame:
    # WORD FIELD CODES (r13) — real .doc text interleaves field
    # BEGIN/SEPARATOR/END marks with instruction text (HYPERLINK
    # targets, IF conditions, PAGE): a naive extractor leaks
    # instructions into the corpus (URLs and macro-ish text poisoning
    # dedup and LM training alike). The filter keeps only field
    # RESULTS with correct NESTING (an inner field inside an outer
    # instruction region stays hidden), maps soft line breaks (0x0B)
    # to newlines and cell marks (0x07) to tabs, and drops object
    # anchors. Runs on BOTH .doc text paths (simple + piece-table).
    # One Arrow pass through document_text.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series(
                [_synth_doc_fields_blob(int(i)) for i in ids]
            )

    ex = D.document_text(
        docs.select("doc_id", _blob("doc_id").alias("content"))
    )
    return ex.select("doc_id", "format", "n_units", "text")


# ---------------------------------------------------------------------------
# Incremental frontier maintenance
# ---------------------------------------------------------------------------


@query(
    "pipeline_frontier_incremental",
    """
    WITH p AS (
      SELECT doc_id, doc_id % 7 AS h FROM documents
    ),
    crawled AS (
      SELECT DISTINCT 'https://host' || CAST(h AS VARCHAR)
        || '.example.org/dir/sub/page' || CAST(doc_id AS VARCHAR)
        || '.html' AS url
      FROM p
      UNION
      SELECT DISTINCT 'https://host0.example.org/hub/'
        || CAST(doc_id % 50 AS VARCHAR) FROM p
    ),
    t AS (
      SELECT 'https://host0.example.org/hub/'
        || CAST(doc_id % 50 AS VARCHAR) AS target FROM p
      UNION ALL
      SELECT 'https://host' || CAST((h + 1) % 7 AS VARCHAR)
        || '.example.org/sr/' || CAST(doc_id % 30 AS VARCHAR)
      FROM p WHERE h % 2 = 1
      UNION ALL
      SELECT 'https://host' || CAST((h + 2) % 7 AS VARCHAR)
        || '.example.org/T' || CAST(doc_id % 9 AS VARCHAR)
        || '?keep=' || CAST(doc_id % 5 AS VARCHAR)
      FROM p WHERE doc_id % 3 = 0
      UNION ALL
      SELECT 'https://host' || CAST(h AS VARCHAR)
        || '.example.org/root/' || CAST(doc_id % 20 AS VARCHAR) FROM p
      UNION ALL
      SELECT 'https://host' || CAST(h AS VARCHAR)
        || '.example.org/dir/sub/rel/' || CAST(doc_id % 10 AS VARCHAR)
        || '.html'
      FROM p WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 'https://host' || CAST(h AS VARCHAR)
        || '.example.org/dir/up/' || CAST(doc_id % 10 AS VARCHAR)
      FROM p WHERE doc_id % 2 = 1
      UNION ALL
      SELECT 'https://host' || CAST(h AS VARCHAR)
        || '.example.org/dir/sub/here/' || CAST(doc_id % 6 AS VARCHAR)
      FROM p WHERE doc_id % 5 = 0
    ),
    cand AS (
      SELECT target, CAST(COUNT(*) AS BIGINT) AS n_refs
      FROM t GROUP BY target
    )
    SELECT c.target, c.n_refs,
           regexp_extract(c.target, '://([^/]+)', 1) AS host
    FROM cand c ANTI JOIN crawled w ON c.target = w.url
    """,
)
def q_pipeline_frontier_incremental(
    spark: SparkSession, sf: str
) -> DataFrame:
    # INCREMENTAL FRONTIER MAINTENANCE (r13) — the crawl loop's
    # continuous-ingest form: the standing frontier (built from two
    # of three doc generations) absorbs the third generation's
    # candidate counts and newly-crawled URLs WITHOUT re-reading old
    # pages — the split modulus is chosen COPRIME to every planted
    # target family's modulus, so merged-count, new-vs-old-crawled,
    # and standing-vs-new-crawled regimes all genuinely occur (the
    # vacuous-check rule; a mod-5 split was degenerate — every
    # family modulus is a multiple of 5) —
    # reference counts are additive so the merge is one uniform-key
    # groupBy over standing ∪ batch, and the anti-join re-applies the
    # full crawled INDEX (a new candidate can collide with an OLD
    # crawled URL; re-filtering standing rows is idempotent). The
    # oracle is deliberately the FROM-SCRATCH expansion over ALL
    # generations: the incremental merge must land on it exactly —
    # the sessionize_incremental contract, applied to the crawl loop.
    from hadoopxmlextractor_spark.operators import text as T
    from hadoopxmlextractor_spark.queries_r12 import (
        _anchor_rows,
        _outlink_page,
    )

    rows = _anchor_rows(spark, sf)  # (doc_id, target, anchor)
    docs = load(spark, sf, "documents")
    base, _html = _outlink_page(True)
    urls = docs.select(
        "doc_id", base.alias("url")
    ).union(
        docs.select(
            "doc_id",
            F.concat(
                F.lit("https://host0.example.org/hub/"),
                (F.col("doc_id") % 50).cast("string"),
            ).alias("url"),
        )
    )
    is_new = F.col("doc_id") % 3 == 2

    cand_old = rows.filter(~is_new).groupBy("target").agg(
        F.count(F.lit(1)).cast("long").alias("n_refs")
    )
    crawled_old = urls.filter(~is_new).select("url").distinct()
    frontier_old = cand_old.join(
        crawled_old, cand_old.target == crawled_old.url, "left_anti"
    ).select(
        "target", "n_refs",
        F.regexp_extract("target", "://([^/]+)", 1).alias("host"),
    )

    cand_new = rows.filter(is_new).groupBy("target").agg(
        F.count(F.lit(1)).cast("long").alias("n_refs")
    )
    crawled_new = urls.filter(is_new).select("url").distinct()
    return T.frontier_increment(
        frontier_old, crawled_old, cand_new, crawled_new
    )


# ---------------------------------------------------------------------------
# 7z encoded (compressed) headers — the real CLI's default layout
# ---------------------------------------------------------------------------


def _synth_7z_encoded_blob(i: int) -> bytes:
    """One deterministic ENCODED-HEADER 7z from md5(doc:7ze): same
    member surface family as the r12 archive (2-4 members, methods
    rotating, unicode name, optional EmptyStream member) but the
    header itself is an appended LZMA pack stream behind
    kEncodedHeader — what the real 7z CLI writes by default. Every
    13th doc flips a byte inside the PACKED header — the
    decode/CRC refusal arm."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:7ze".encode()).digest()
    x = hashlib.md5(f"{i}:7ze".encode()).hexdigest()
    n = 2 + b[0] % 3
    members = []
    for m in range(n):
        method = "copy" if m == 0 else ("copy", "lzma", "lzma2")[
            (b[2] + m) % 3
        ]
        reps = 1 + (b[3] + m) % 3
        content = (f"w{x[0:8]}m{m} " * reps).encode()
        name = f"ü{m}.txt" if m == 1 else f"m{m}/doc{i}.txt"
        members.append((name, content, method))
    if b[1] % 2:
        members.append((f"empty{i}.txt", b"", "copy"))
    blob = bytearray(D.build_7z(members, encoded_header=True))
    if i % 13 == 12:
        next_off = int.from_bytes(blob[12:20], "little")
        blob[32 + next_off - 3] ^= 0x40  # inside the packed header
    return bytes(blob)


@query(
    "archive_7z_encoded",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('7ze', 0)} % 3 AS n,
             {_b('7ze', 1)} % 2 AS has_empty,
             {_b('7ze', 2)} AS b2, {_b('7ze', 3)} AS b3,
             md5(CAST(doc_id AS VARCHAR) || ':7ze') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS m, b2, b3, x, has_empty
      FROM p, (VALUES (0), (1), (2), (3)) g(g)
      WHERE g.g < n AND doc_id % 13 <> 12
    ),
    f AS (
      SELECT doc_id, m,
        CASE WHEN m = 1 THEN 'ü' || CAST(m AS VARCHAR) || '.txt'
             ELSE 'm' || CAST(m AS VARCHAR) || '/doc'
                  || CAST(doc_id AS VARCHAR) || '.txt' END AS name,
        CASE WHEN m = 0 THEN 'copy'
             ELSE (['copy', 'lzma', 'lzma2'])[1 + (b2 + m) % 3]
             END AS method,
        repeat('w' || substring(x, 1, 8) || 'm' || CAST(m AS VARCHAR)
               || ' ', 1 + (b3 + m) % 3) AS content
      FROM g
    ),
    rows_ AS (
      SELECT doc_id, CAST(m AS INT) AS member_idx, name, method,
             CAST(length(content) AS BIGINT) AS size,
             CAST(1 AS INT) AS crc_ok,
             substring(content, 1, 16) AS head
      FROM f
      UNION ALL
      SELECT doc_id, CAST(n AS INT), 'empty' || CAST(doc_id AS VARCHAR)
               || '.txt', NULL, CAST(0 AS BIGINT), CAST(NULL AS INT), ''
      FROM p WHERE has_empty = 1 AND doc_id % 13 <> 12
      UNION ALL
      SELECT doc_id, -1, NULL, NULL, NULL, CAST(NULL AS INT), NULL
      FROM p WHERE doc_id % 13 = 12
    )
    SELECT * FROM rows_
    """,
)
def q_archive_7z_encoded(spark: SparkSession, sf: str) -> DataFrame:
    # 7z ENCODED HEADERS (r13) — the real CLI writes its header as an
    # appended LZMA pack stream behind kEncodedHeader by DEFAULT, so
    # the r12 plain-header leg refused most real archives. The walk
    # now parses the encoded form's StreamsInfo, bounds the packed
    # header against the blob, decodes via stdlib lzma, verifies the
    # decoded header's CRC, and continues with the plain parse — the
    # member surface (methods, unicode names, EmptyStream, per-member
    # payload CRC) is byte-identical to the plain-header twin. Every
    # 13th doc flips a byte INSIDE the packed header — the decode/CRC
    # refusal arm (corrupt LZMA refuses as ValueError, never a
    # garbage directory). One Arrow pass, ids-only shuffle.
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    return blob_rows(
        docs, "doc_id", "doc_id",
        lambda i: _sevenzip_rows(_synth_7z_encoded_blob(i)),
        SEVENZIP_SCHEMA, {"member_idx": -1},
    )


# ---------------------------------------------------------------------------
# ZipCrypto-protected archives
# ---------------------------------------------------------------------------


def _synth_zip_encrypted_blob(i: int) -> bytes:
    """One deterministic partially-encrypted ZIP from md5(doc:zenc):
    member 0 plain, member 1 ZipCrypto-protected (stored and
    deflate arms both rotate under encryption), member 2 (when
    present) WinZip AE-2 (PBKDF2-SHA1 keys, AES-CTR, HMAC
    authentication, strength rotating 128/192/256) — all under the
    corpus convention password. Every 7th doc protects with a DIFFERENT
    password (check-byte refusal arm); every 11th doc relabels
    member 1's method to 99 — the WinZip-AES refusal arm."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:zenc".encode()).digest()
    x = hashlib.md5(f"{i}:zenc".encode()).hexdigest()
    pw = "realpw" if i % 7 == 6 else "infected"
    members = []
    passwords = {}
    aes_passwords = {}
    for m in range(2 + b[0] % 2):
        content = (f"w{x[0:6]} m{m} " * (1 + (b[1] + m) % 3)).encode()
        members.append((f"m{m}.txt", content, (b[2] + m) % 2 * 8,
                        False))
        if m == 2:
            # third member (when present) is WinZip AE-2 — the
            # modern AES form, strength rotating 128/192/256
            aes_passwords[f"m{m}.txt"] = (pw, 1 + b[3] % 3)
        elif m != 0:
            passwords[f"m{m}.txt"] = pw
    blob = D.build_zip(members, passwords=passwords,
                       aes_passwords=aes_passwords)
    if i % 11 == 10:
        # relabel member 1's method to 99 (AE-x) in BOTH headers
        ms = D.zip_member_list(blob)
        e = next(e for e in ms if e["name"] == "m1.txt")
        out = bytearray(blob)
        struct.pack_into("<H", out, e["offset"] + 8, 99)
        # walk central entries to m1.txt
        pos = blob.index(b"PK\x01\x02")
        while pos < len(blob):
            if blob[pos : pos + 4] != b"PK\x01\x02":
                break
            nlen, elen, clen = struct.unpack_from("<HHH", blob, pos + 28)
            nm = blob[pos + 46 : pos + 46 + nlen]
            if nm == b"m1.txt":
                struct.pack_into("<H", out, pos + 10, 99)
                break
            pos += 46 + nlen + elen + clen
        blob = bytes(out)
    return blob


@query(
    "archive_zip_encrypted",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('zenc', 0)} % 2 AS n,
             {_b('zenc', 1)} AS b1, {_b('zenc', 2)} AS b2,
             md5(CAST(doc_id AS VARCHAR) || ':zenc') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS m, b1, b2, x
      FROM p, (VALUES (0), (1), (2)) g(g) WHERE g.g < n
    ),
    f AS (
      SELECT doc_id, m,
             'm' || CAST(m AS VARCHAR) || '.txt' AS name,
             CAST(m <> 0 AS INT) AS enc,
             repeat('w' || substring(x, 1, 6) || ' m'
                    || CAST(m AS VARCHAR) || ' ', 1 + (b1 + m) % 3)
               AS content,
             CASE WHEN m = 1 AND doc_id % 11 = 10 THEN 'aes'
                  WHEN m <> 0 AND doc_id % 7 = 6 THEN 'badpw'
                  ELSE 'ok' END AS state
      FROM g
    )
    SELECT doc_id, CAST(m AS INT) AS member_idx, name, enc,
           CAST(state = 'ok' AS INT) AS ok,
           CASE WHEN state = 'ok'
                THEN CAST(length(content) AS BIGINT) END AS size,
           CASE WHEN state = 'ok' THEN substring(content, 1, 16) END
             AS head
    FROM f
    """,
)
def q_archive_zip_encrypted(spark: SparkSession, sf: str) -> DataFrame:
    # ZIPCRYPTO ARCHIVES (r13) — the majority of password-protected
    # zips in public dumps use the traditional PKWARE stream cipher
    # (the 'infected' distribution convention for security corpora is
    # the canonical case). The reader gates on the 12-byte header's
    # check byte BEFORE any inflate — a wrong password refuses that
    # MEMBER (the archive's plain members still extract), WinZip-AES
    # members (method 99) refuse explicitly, and the cipher is
    # cross-validated externally (stdlib zipfile decrypts this
    # writer's output — tests/test_documents.py). Per-member salvage,
    # one Arrow pass, ids-only shuffle.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def member_rows(i):
        # per-member salvage: a member that refuses is a data row
        # (ok 0); the archive itself is never refused
        blob = _synth_zip_encrypted_blob(i)
        rows = []
        for k, e in enumerate(D.zip_member_list(blob)):
            enc = int(bool(e["flags"] & 1))
            try:
                data = D.zip_read_member(blob, e, "infected" if enc else None)
            except ValueError:
                rows.append((i, k, e["name"], enc, 0, None, None))
                continue
            rows.append((
                i, k, e["name"], enc, 1, len(data),
                data[:16].decode("utf-8", "replace"),
            ))
        return rows

    return map_rows(
        docs, ["doc_id"], member_rows,
        "doc_id bigint, member_idx int, name string, enc int, "
        "ok int, size bigint, head string",
    )


# ---------------------------------------------------------------------------
# OLE property sets, full fidelity + CFB v4 sectors
# ---------------------------------------------------------------------------


def _synth_cfb_props_blob(i: int) -> bytes:
    """A compound file exercising the metadata-fidelity surface:
    sector size rotating 512/4096 (version 3/4 — v4 offsets sectors
    from 4096, the r13 reader fix), SummaryInformation AND
    DocumentSummaryInformation property sets with the CodePage
    property driving VT_LPSTR decoding (cp1252 / cp932 / cp1251
    arms — naive latin-1 readers mojibake two of three) and an
    LPWSTR (UTF-16) arm. Every 13th doc truncates the
    DocumentSummaryInformation stream — the refusal arm."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:cfbp".encode()).digest()
    x = hashlib.md5(f"{i}:cfbp".encode()).hexdigest()
    arm = b[0] % 3
    cp = (1252, 932, 1251)[arm]
    wide = b[1] % 4 == 0
    title = f"T {x[0:4]}"
    author = ("Aut", "著者", "Автор")[arm] + x[4:6]
    company = ("Co", "会社", "Фирма")[arm] + x[6:8]
    manager = f"mgr {x[8:10]}"
    category = f"Cat {x[10:12]}"
    created = 1_400_000_000 + b[2] * 86400
    vt = 31 if wide else 30
    ps = D.build_property_set(
        D._FMTID_SUMMARY,
        [(0x02, vt, title), (0x04, vt, author),
         (0x0C, 64, created)],
        codepage=cp,
    )
    ds = D.build_doc_summary_information(
        category, manager, company, codepage=cp, wide=wide
    )
    if i % 13 == 12:
        ds = ds[:40]  # truncated section → refusal
    body = (f"w{x[0:8]} body ".encode()) * 400
    return D.build_cfb(
        [("Body", body), ("\x05SummaryInformation", ps),
         ("\x05DocumentSummaryInformation", ds)],
        sector_size=4096 if b[6] % 2 else 512,
    )


@query(
    "archive_cfb_properties",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('cfbp', 0)} % 3 AS arm,
             {_b('cfbp', 2)} AS b2,
             CASE {_b('cfbp', 6)} % 2 WHEN 1 THEN 4096 ELSE 512 END
               AS sector,
             md5(CAST(doc_id AS VARCHAR) || ':cfbp') AS x
      FROM documents
    )
    SELECT doc_id, CAST(sector AS INT) AS sector,
           CAST(([1252, 932, 1251])[arm + 1] AS INT) AS codepage,
           'T ' || substring(x, 1, 4) AS title,
           (['Aut', '著者', 'Автор'])[arm + 1] || substring(x, 5, 2)
             AS author,
           CAST(1400000000 + b2 * 86400 AS BIGINT) AS created_s,
           'Cat ' || substring(x, 11, 2) AS category,
           'mgr ' || substring(x, 9, 2) AS manager,
           (['Co', '会社', 'Фирма'])[arm + 1] || substring(x, 7, 2)
             AS company
    FROM p WHERE doc_id % 13 <> 12
    UNION ALL
    SELECT doc_id, CAST(sector AS INT), NULL, NULL, NULL, NULL, NULL,
           NULL, NULL
    FROM p WHERE doc_id % 13 = 12
    """,
)
def q_archive_cfb_properties(spark: SparkSession, sf: str) -> DataFrame:
    # OLE PROPERTY-SET FIDELITY + CFB v4 (r13) — two real-world
    # metadata traps: (a) the CodePage property (PID 1) drives every
    # VT_LPSTR's encoding — readers that skip it mojibake cp932/
    # cp1251 metadata corpus-wide (the two-pass read resolves it
    # FIRST); LPWSTR (UTF-16) rotates too; (b) version-4 compound
    # files (4096-byte sectors — MSI and large modern Office) offset
    # sectors from 4096, not 512 — the old hardcoded base silently
    # misread every v4 file, so the ``sector`` column is parsed back
    # from the BLOB's sector-shift header as proof both layouts
    # genuinely occur. The DocumentSummaryInformation stream
    # (category/manager/company, GKPIDDSI) joins the metadata
    # surface; a truncated property section refuses to the marker
    # row. One Arrow pass, ids-only shuffle.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def props_rows(i):
        # the marker row keeps the sector size read from the header
        # before the property walk refuses, so it cannot be a
        # blob_rows constant marker
        blob = _synth_cfb_props_blob(i)
        (shift,) = struct.unpack_from("<H", blob, 30)
        sector = 1 << shift
        try:
            ms = {
                m["name"]: m["data"]
                for m in D.cfb_members(blob, with_data=True)
            }
            cp, props = D.parse_property_set(ms["\x05SummaryInformation"])
            dsi = D.parse_doc_summary_information(
                ms["\x05DocumentSummaryInformation"]
            )
        except REFUSED:
            return [(i, sector, *[None] * 7)]
        return [(
            i, sector, cp, props.get(0x02), props.get(0x04),
            props.get(0x0C), dsi["category"], dsi["manager"],
            dsi["company"],
        )]

    return map_rows(
        docs, ["doc_id"], props_rows,
        "doc_id bigint, sector int, codepage int, "
        "title string, author string, created_s bigint, "
        "category string, manager string, company string",
    )


# ---------------------------------------------------------------------------
# .ppt speaker notes
# ---------------------------------------------------------------------------


@query(
    "source_ppt_notes",
    f"""
    WITH p AS (
      SELECT doc_id, 1 + {_b('pptn', 0)} % 2 AS ns,
             1 + {_b('pptn', 1)} % 2 AS nn,
             {_b('pptn', 2)} AS b2,
             md5(CAST(doc_id AS VARCHAR) || ':pptn') AS x
      FROM documents
    ),
    sl AS (
      SELECT doc_id, ns, nn, g.g AS g, b2, x,
             CASE (b2 + g.g) % 2
               WHEN 0 THEN 's' || substring(x, 4 * g.g + 1, 4)
               ELSE '幻灯片 ' || substring(x, 4 * g.g + 1, 2) END AS t
      FROM p, (VALUES (0), (1)) g(g)
      WHERE g.g < ns AND doc_id % 9 <> 8
    ),
    nt AS (
      SELECT doc_id, ns, nn, g.g AS g, b2, x,
             CASE (b2 + g.g) % 2
               WHEN 0 THEN 'note 音' || substring(x, 4 * g.g + 9, 2)
               ELSE 'nb ' || substring(x, 4 * g.g + 9, 2) END AS t
      FROM p, (VALUES (0), (1)) g(g)
      WHERE g.g < nn AND doc_id % 9 <> 8
    ),
    stext AS (
      SELECT doc_id, string_agg(t, chr(10) ORDER BY g) AS st
      FROM sl GROUP BY doc_id
    ),
    ntext AS (
      SELECT doc_id, string_agg(t, chr(10) ORDER BY g) AS nt
      FROM nt GROUP BY doc_id
    )
    SELECT s.doc_id, 'ppt' AS format,
           CAST(p.ns AS INT) AS n_units,
           s.st || chr(10) || n.nt AS text
    FROM stext s JOIN ntext n ON s.doc_id = n.doc_id
    JOIN p ON p.doc_id = s.doc_id
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL FROM p WHERE doc_id % 9 = 8
    """,
)
def q_source_ppt_notes(spark: SparkSession, sf: str) -> DataFrame:
    # .ppt SPEAKER NOTES (r13) — real decks carry presenter text in
    # Notes containers (0x03F0) the r12 walk skipped entirely (only
    # Slide containers collected); curators want it — notes often
    # hold more prose than the slides. The walk now collects text
    # from BOTH container kinds in record order while n_units still
    # counts slides only. Arms rotate latin-1/UTF-16 atoms in both
    # kinds; every 9th doc corrupts the outer container length —
    # bounds refusal. One Arrow pass through document_text.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib

        for ids in it:
            out = []
            for i in ids:
                i = int(i)
                b = hashlib.md5(f"{i}:pptn".encode()).digest()
                x = hashlib.md5(f"{i}:pptn".encode()).hexdigest()
                slides = [
                    [(f"s{x[4 * g : 4 * g + 4]}"
                      if (b[2] + g) % 2 == 0
                      else f"幻灯片 {x[4 * g : 4 * g + 2]}")]
                    for g in range(1 + b[0] % 2)
                ]
                notes = [
                    [(f"note 音{x[4 * g + 8 : 4 * g + 10]}"
                      if (b[2] + g) % 2 == 0
                      else f"nb {x[4 * g + 8 : 4 * g + 10]}")]
                    for g in range(1 + b[1] % 2)
                ]
                blob = bytearray(D.build_ppt(slides, notes=notes))
                if i % 9 == 8:
                    ms = D.cfb_members(bytes(blob), with_data=True)
                    ps = next(
                        m for m in ms
                        if m["name"] == "PowerPoint Document"
                    )
                    at = bytes(blob).index(ps["data"][:64])
                    blob[at + 4 : at + 8] = struct.pack("<I", 1 << 30)
                out.append(bytes(blob))
            yield pd.Series(out)

    ex = D.document_text(
        docs.select("doc_id", _blob("doc_id").alias("content"))
    )
    return ex.select("doc_id", "format", "n_units", "text")


# ---------------------------------------------------------------------------
# Protected-documents capstone
# ---------------------------------------------------------------------------


@query(
    "pipeline_protected_documents",
    f"""
    WITH base AS (
      SELECT doc_id, doc_id % 5 AS arm FROM documents
    ),
    dx AS (  -- docx text replay (arms 0 and 3)
      SELECT doc_id, 1 + {_b('docx', 0)} % 3 AS n,
             (['alpha','bravo','charlie','delta','echo'])
               [{_b('docx', 1)} % 5 + 1] || ' 0'
               || CASE WHEN {_b('docx', 2)} % 2 = 1
                  THEN chr(9) || 'tabbed' ELSE '' END AS p0,
             (['alpha','bravo','charlie','delta','echo'])
               [({_b('docx', 1)} + 1) % 5 + 1] || ' 1' AS p1,
             (['alpha','bravo','charlie','delta','echo'])
               [({_b('docx', 1)} + 2) % 5 + 1] || ' 2' AS p2
      FROM documents
    ),
    dxt AS (
      SELECT doc_id, n,
             p0 || CASE WHEN n >= 2 THEN chr(10) || p1 ELSE '' END
                || CASE WHEN n >= 3 THEN chr(10) || p2 ELSE '' END
               AS text
      FROM dx
    ),
    pdf AS (  -- aesv3 replay (arm 1)
      SELECT d.doc_id, 1 + {_b('aesv3', 0)} % 2 AS n,
             string_agg(
               'w' || substring(x, 4 * g.g + 1, 2) || ' sealed w'
                 || substring(x, 4 * g.g + 3, 2) || ' '
                 || CAST(g.g AS VARCHAR), chr(10) ORDER BY g.g) AS text
      FROM (SELECT doc_id,
                   md5(CAST(doc_id AS VARCHAR) || ':aesv3') AS x
            FROM documents) d, (VALUES (0), (1)) g(g)
      WHERE g.g < 1 + {_b('aesv3', 0)} % 2
      GROUP BY d.doc_id, 2
    ),
    dce AS (  -- encrypted legacy .doc replay (arm 2)
      SELECT p.doc_id, n,
             string_agg(
               CASE (b1 + g.g) % 2
                 WHEN 0 THEN 's' || substring(x, 4 * g.g + 1, 4)
                   || ' sealed'
                 ELSE '中文' || substring(x, 4 * g.g + 1, 2)
                   || ' s' || CAST(g.g AS VARCHAR) END,
               chr(10) ORDER BY g.g) AS text
      FROM (SELECT doc_id, 2 + {_b('docenc', 0)} % 3 AS n,
                   {_b('docenc', 1)} AS b1,
                   md5(CAST(doc_id AS VARCHAR) || ':docenc') AS x
            FROM documents) p,
           (VALUES (0), (1), (2), (3)) g(g)
      WHERE g.g < n
      GROUP BY p.doc_id, n
    )
    SELECT b.doc_id,
           (['ooxml', 'pdf', 'doc', 'zip', '7z'])[b.arm + 1] AS container,
           TRUE AS decrypted,
           CASE b.arm WHEN 1 THEN 'pdf' WHEN 2 THEN 'doc'
                ELSE 'docx' END AS format,
           CAST(CASE b.arm
             WHEN 0 THEN dxt.n WHEN 3 THEN dxt.n WHEN 4 THEN dxt.n
             WHEN 1 THEN pdf.n ELSE dce.n END AS INT) AS n_units,
           CASE b.arm
             WHEN 0 THEN dxt.text WHEN 3 THEN dxt.text
             WHEN 4 THEN dxt.text
             WHEN 1 THEN pdf.text ELSE dce.text END AS text
    FROM base b
    JOIN dxt ON dxt.doc_id = b.doc_id
    JOIN pdf ON pdf.doc_id = b.doc_id
    JOIN dce ON dce.doc_id = b.doc_id
    WHERE NOT (b.arm IN (0, 1, 3, 4) AND b.doc_id % 9 = 8)
      AND NOT (b.arm = 2 AND b.doc_id % 7 = 6)
    UNION ALL
    SELECT doc_id, (['ooxml', 'pdf', 'doc', 'zip', '7z'])[arm + 1], FALSE,
           NULL, NULL, NULL
    FROM base
    WHERE (arm IN (0, 1, 3, 4) AND doc_id % 9 = 8)
       OR (arm = 2 AND doc_id % 7 = 6)
    """,
)
def q_pipeline_protected_documents(
    spark: SparkSession, sf: str
) -> DataFrame:
    # PROTECTED-DOCUMENTS CAPSTONE (r13) — one pass proving the whole
    # password-protected surface routes end-to-end into corpus text:
    # agile-OOXML .docx, AES-256 (R5/R6) PDFs, RC4 legacy .doc, and
    # ZipCrypto archives WRAPPING a .docx (the kernel opens the zip
    # with the convention password, then the inner document rides the
    # same document_text dispatch as everything else). ``container``
    # is parsed from the OUTER blob bytes (CFB split by the
    # EncryptedPackage member, %PDF, PK) — never replayed from
    # doc_id. Wrong-password arms per container land marker rows;
    # every decrypt gate (verifier, /U + /Perms, check byte) runs on
    # the hash path. One Arrow pass.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def prep_rows(i):
        arm = i % 5
        bad = i % 9 == 8
        if arm == 0:
            outer = D.build_ooxml_encrypted(
                D._synth_docx_blob(i),
                "realpw" if bad else D._OFFICE_DEFAULT_PW,
                agile=True, spin=400,
                salt_seed=f"{i}:prot".encode(),
            )
        elif arm == 1:
            outer = _synth_pdf_aesv3_blob(
                i, user_pw=b"secret" if bad else b""
            )
        elif arm == 2:
            outer = _synth_doc_encrypted_blob(i)
        elif arm == 3:
            outer = D.build_zip(
                [("inner.docx", D._synth_docx_blob(i), 8, False)],
                passwords={"inner.docx": "realpw" if bad else "infected"},
            )
        else:
            # a 7z AES-256 member wrapping a .docx — the
            # archive_7z_encrypted machinery routed into the same
            # document_text dispatch
            outer = D.build_7z(
                [("inner.docx", D._synth_docx_blob(i), "aes+lzma")],
                passwords={"inner.docx": "realpw" if bad else "infected"},
                aes_cycles=6,
            )
        # container parsed from the OUTER bytes; an archive member that
        # refuses routes b"" on, which document_text marks
        if outer.startswith(b"%PDF-"):
            code, routable = 1, outer
        elif outer.startswith(b"7z\xbc\xaf\x27\x1c"):
            code = 4
            try:
                (m,) = D.sevenzip_members(
                    outer, with_data=True, password="infected"
                )
                routable = (m["data"] if m["crc_ok"] else b"") or b""
            except ValueError:
                routable = b""
        elif outer.startswith(b"PK\x03\x04"):
            code = 3
            try:
                (e,) = D.zip_member_list(outer)
                routable = D.zip_read_member(outer, e, "infected")
            except ValueError:
                routable = b""
        else:
            names = [m["name"] for m in D.cfb_members(outer)]
            code = 0 if "EncryptedPackage" in names else 2
            routable = outer
        return [(i * 10 + code, routable)]

    prepped = map_rows(
        docs, ["doc_id"], prep_rows, "doc_id bigint, content binary"
    )
    ex = D.document_text(prepped)
    names = F.array(F.lit("ooxml"), F.lit("pdf"), F.lit("doc"),
                    F.lit("zip"), F.lit("7z"))
    return ex.select(
        F.expr("doc_id div 10").alias("doc_id"),
        F.element_at(names, (F.col("doc_id") % 10 + 1).cast("int"))
        .alias("container"),
        F.col("format").isNotNull().alias("decrypted"),
        "format", F.col("n_units"), "text",
    )
