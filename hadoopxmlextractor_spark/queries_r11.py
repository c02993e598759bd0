"""Round-11 queries — charset fidelity, the office/archive long
tail, and native ALAC:

- DECLARED-CHARSET decoding for captured HTML (`source_warc_charset`,
  10 arms): BOM → Content-Type ``charset=`` → meta prescan → utf-8
  fallback, WHATWG label aliasing (latin-1→cp1252, shift_jis→cp932,
  gb2312→gbk, euc-jp), per-row encoding attribution — the
  deterministic decode WET generation performs before any mojibake
  heuristic (r10 verdict item 1);
- ZIP64 archives (`archive_zip64_meta` — EOCD64 + 0x0001 extras,
  stdlib-cross-validated);
- OpenDocument: ODT/ODP text via document_text routing
  (`source_odf_text`), the ODS cell table with repeat expansion
  (`source_ods_cells`), meta.xml metadata (`source_odf_metadata`);
- JPEG EXIF incl. the GPS IFD (`multimodal_image_exif`);
- native ALAC FULL SAMPLE decode — 16-bit
  (`multimodal_audio_alac_decode`) and 24-bit bytesShifted
  (`multimodal_audio_alac_hires`), exact moment oracles;
- email-borne documents: MIME attachment extraction routed through
  document_text (`pipeline_mbox_attachments`);
- ASS/SSA subtitles (`source_subtitle_ass`);
- embedded cover art: FLAC PICTURE → PNG decode → aHash
  (`pipeline_audio_cover_art`).

Registered into the same QUERIES/ORACLE registry as the other query
modules; every entry carries an exact DuckDB oracle. Fresh module per
the regression discipline (new operators must not churn certified
modules).
"""

from __future__ import annotations

from typing import Iterator  # noqa: F401  (pandas_udf string annotations)

import pandas as pd  # noqa: F401  (pandas_udf string annotations)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoopxmlextractor_spark.operators.kernel import blob_rows
from hadoopxmlextractor_spark.queries import query
from hadoopxmlextractor_spark.tables import load

_MD5B = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':{salt}'), "
    "{pos}, 2)) AS BIGINT)"
)


def _b(salt: str, k: int) -> str:
    """SQL for byte k of md5(doc_id:salt) — the synth parameter replay."""
    return _MD5B.format(salt=salt, pos=2 * k + 1)

# Planted vocabulary per charset family (the mojibake plant words plus
# CJK/BMP arms) — every phrase is a single token encodable in its
# arm's codec, so the oracle replays it as a UTF-8 SQL literal.
_CP1252_PHRASES = ["café", "naïve", "über", "don’t"]
_SJIS_PHRASES = ["カフェ", "東京", "日本語", "テスト"]
_GBK_PHRASES = ["中文", "汉字", "北京", "数据"]
_ANY_PHRASES = ["déjà", "Σigma", "中文", "żółw"]

# arm → (python codec reported, enc_source reported)
_CHARSET_ARMS = [
    ("utf-8", "default"),    # 0: undeclared utf-8
    ("cp1252", "header"),    # 1: Content-Type charset=windows-1252
    ("cp932", "meta"),       # 2: <meta charset="shift_jis">
    ("cp1252", "header"),    # 3: declared iso-8859-1 → cp1252 (WHATWG)
    ("utf-8-sig", "bom"),    # 4: UTF-8 BOM
    ("utf-16", "bom"),       # 5: UTF-16LE BOM
    ("utf-8", "header"),     # 6: header utf-8 BEATS conflicting meta
    ("utf-8", "default"),    # 7: bogus header label → fallback
    ("euc-jp", "header"),    # 8: Content-Type charset=euc-jp
    ("gbk", "meta"),         # 9: <meta charset="gb2312"> → gbk
]


def _charset_page(i: int) -> tuple[bytes, bytes]:
    """(Content-Type header value, encoded HTML body) for doc ``i`` —
    the arm rotation the oracle of ``source_warc_charset`` replays."""
    import hashlib

    x = hashlib.md5(f"{i}:chs".encode()).hexdigest()
    b0 = hashlib.md5(f"{i}:chsp".encode()).digest()[0]
    arm = i % 10
    if arm in (2, 8):
        phrase = _SJIS_PHRASES[b0 % 4]
    elif arm in (1, 3):
        phrase = _CP1252_PHRASES[b0 % 4]
    elif arm == 9:
        phrase = _GBK_PHRASES[b0 % 4]
    else:
        phrase = _ANY_PHRASES[b0 % 4]
    meta = ""
    if arm == 2:
        meta = '<meta charset="shift_jis">'
    elif arm == 6:
        meta = '<meta charset="shift_jis">'  # loses to the header
    elif arm == 9:
        meta = '<meta charset="gb2312">'  # WHATWG: gb2312 → gbk
    html = (
        f"<html><head><title>skip</title>{meta}</head>"
        f"<body><h1>{phrase} w{x[0:2]}</h1>"
        f"<p>w{x[2:4]} &amp; w{x[4:6]}</p></body></html>"
    )
    ctype = {
        1: b"text/html; charset=windows-1252",
        3: b"text/html; charset=iso-8859-1",
        6: b"text/html; charset=utf-8",
        7: b"text/html; charset=bogus-enc",
        8: b"text/html; charset=euc-jp",
    }.get(arm, b"text/html")
    codec = {
        1: "cp1252", 2: "cp932", 3: "cp1252", 8: "euc-jp", 9: "gbk",
    }.get(arm, "utf-8")
    body = html.encode(codec)
    if arm == 4:
        body = b"\xef\xbb\xbf" + body
    elif arm == 5:
        body = b"\xff\xfe" + html.encode("utf-16-le")
    return ctype, body


@query(
    "source_warc_charset",
    """
    WITH h AS (
      SELECT doc_id, doc_id % 10 AS arm,
             md5(CAST(doc_id AS VARCHAR) || ':chs') AS x,
             CAST(('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || ':chsp'), 1, 2)) AS BIGINT)
               AS b0
      FROM documents
    ),
    p AS (
      SELECT doc_id, arm, x,
             CASE WHEN arm IN (2, 8)
                    THEN (['カフェ', '東京', '日本語', 'テスト'])[b0 % 4 + 1]
                  WHEN arm IN (1, 3)
                    THEN (['café', 'naïve', 'über', 'don’t'])[b0 % 4 + 1]
                  WHEN arm = 9
                    THEN (['中文', '汉字', '北京', '数据'])[b0 % 4 + 1]
                  ELSE (['déjà', 'Σigma', '中文', 'żółw'])[b0 % 4 + 1]
             END AS phrase
      FROM h
    ),
    e AS (
      SELECT doc_id, arm,
             phrase || ' w' || substring(x, 1, 2)
                    || ' w' || substring(x, 3, 2)
                    || ' & w' || substring(x, 5, 2) AS extracted
      FROM p
    )
    SELECT doc_id,
           CAST(200 AS INT) AS http_status,
           CASE arm WHEN 1 THEN 'cp1252' WHEN 2 THEN 'cp932'
                    WHEN 3 THEN 'cp1252' WHEN 4 THEN 'utf-8-sig'
                    WHEN 5 THEN 'utf-16' WHEN 8 THEN 'euc-jp'
                    WHEN 9 THEN 'gbk' ELSE 'utf-8' END AS encoding,
           CASE arm WHEN 1 THEN 'header' WHEN 2 THEN 'meta'
                    WHEN 3 THEN 'header' WHEN 4 THEN 'bom'
                    WHEN 5 THEN 'bom' WHEN 6 THEN 'header'
                    WHEN 8 THEN 'header' WHEN 9 THEN 'meta'
                    ELSE 'default' END AS enc_source,
           extracted,
           CAST(length(extracted) AS INT) AS n_chars
    FROM e
    """,
)
def q_source_warc_charset(spark: SparkSession, sf: str) -> DataFrame:
    # DECLARED-CHARSET fidelity for captured pages (r10 verdict item
    # 1): real crawls are 5-15% non-UTF-8 with a DECLARED charset, and
    # WET generation resolves it deterministically before any
    # heuristic. Ten rotating arms cover every resolution mechanism:
    # undeclared utf-8 fallback / Content-Type charset= header (a true
    # windows-1252 label, the iso-8859-1 label that must decode as
    # cp1252 per the WHATWG mapping, and euc-jp) / <meta charset>
    # prescan (shift_jis→cp932, gb2312→gbk) / UTF-8 and UTF-16LE BOMs
    # (BOM wins) / a header-vs-meta CONFLICT (header wins) / a bogus
    # header label (falls through, never errors). Bodies carry
    # planted non-ASCII
    # vocabulary only the correct decode preserves; gzip content-
    # coding rotates on top, so the coding-undo and charset stages are
    # proven composed. encoding/enc_source are the per-row attribution
    # columns a curator filters on. One Arrow chain, zero shuffles.
    import gzip

    from hadoopxmlextractor_spark.operators import text as T
    from hadoopxmlextractor_spark.sources import warc as W

    # r14-opt NOTE: measured both ways at sf0.1 — a 32-way repartition
    # before the Arrow chain LOSES (min 2.33 s vs 1.08 s single-task):
    # the whole synthesize→parse→decode chain is ~0.9 s of Python total,
    # below the per-task fan-out overhead. Wide production inputs are
    # already parallel at the scan. Left as-is deliberately.
    #
    # r14-opt: synth → member walk → charset decode FUSED into one
    # mapInPandas over the same library helpers (write_warc /
    # iter_warc_records / decode_http_html), removing two per-blob
    # JVM↔Python round trips — the pipeline_crawl_to_markdown fusion
    # pattern (rows proven identical there; here the oracle pins it).
    # r15: VERDICT item 4 resolved by measurement — at 10× corpus
    # bytes (50k docs, scripts/rehearse_warc_charset.py, interleaved
    # min-of-3) fused wins 1.28 s vs 1.74 s and in EVERY round
    # (4.94<7.86, 5.73<9.57, 1.28<1.74): the removed round trips pay
    # exactly as predicted once the chain carries real byte volume.
    # Fusion kept.
    docs = load(spark, sf, "documents").select("doc_id")

    def _kernel(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "http_status", "encoding", "enc_source", "text"]
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                ctype, body = _charset_page(i)
                hdr = b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n"
                if (i // 8) % 2 == 0:
                    hdr += b"Content-Encoding: gzip\r\n"
                    body = gzip.compress(body, 6)
                blob = W.write_warc(
                    [
                        {
                            "warc_type": "response",
                            "record_id": f"<urn:chs:{i}>",
                            "target_uri": f"https://example.com/{i}",
                            "content_type": (
                                "application/http; msgtype=response"
                            ),
                            "payload": hdr + b"\r\n" + body,
                        }
                    ],
                    gzip_members=(i % 2 == 0),
                )
                for rec in W.iter_warc_records(blob):
                    if rec.get("warc_type") != "response":
                        continue
                    s, enc, how, text = W.decode_http_html(
                        bytes(rec["payload"])
                    )
                    rows.append(
                        {"doc_id": i, "http_status": s, "encoding": enc,
                         "enc_source": how, "text": text}
                    )
            yield pd.DataFrame(rows, columns=cols)

    recs = docs.mapInPandas(
        _kernel,
        schema="doc_id bigint, http_status int, encoding string, "
        "enc_source string, text string",
    )
    return (
        recs.select(
            "doc_id",
            "http_status",
            "encoding",
            "enc_source",
            T.html_text(F.col("text")).alias("extracted"),
        )
        .withColumn("n_chars", F.length("extracted").cast("int"))
    )


# ---------------------------------------------------------------------------
# ZIP64 archives (r10 verdict item 3)
# ---------------------------------------------------------------------------


@query(
    "archive_zip64_meta",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('z64', 0)} AS b0, {_b('z64', 1)} AS b1,
             {_b('z64', 2)} AS b2, {_b('z64', 3)} AS b3
      FROM documents
    ),
    m AS (
      SELECT doc_id, unnest(generate_series(0, b0 % 3)) AS k,
             b1, b2, b3
      FROM p
    ),
    e AS (
      SELECT doc_id, k,
             (['payload','chunk','blob','part'])[(b1 + k) % 4 + 1]
               || '_' || CAST(k AS VARCHAR) || '.dat' AS name,
             'member ' || CAST(k AS VARCHAR) || ' '
               || repeat('z' || CAST((b2 + k) % 10 AS VARCHAR) || ' ',
                         4 + (b3 + k) % 6) AS payload
      FROM m
    )
    SELECT doc_id AS archive_id, CAST(k AS INT) AS member_idx, name,
           CASE WHEN k % 2 = 1 THEN 'deflate' ELSE 'stored' END AS method,
           CAST(LENGTH(payload) AS BIGINT) AS uncomp_bytes,
           TRUE AS crc_ok,
           substring(payload, 1, 16) AS head,
           doc_id % 2 = 1 AS is_zip64
    FROM e
    """,
)
def q_archive_zip64_meta(spark: SparkSession, sf: str) -> DataFrame:
    # ZIP64 (r10 verdict item 3) — any archive >4 GiB or >65,535
    # members is ZIP64, routine at crawl scale: odd docs write the
    # full forced-64-bit layout (sentineled central entries + 0x0001
    # extended-information extras, EOCD64 record + locator, a
    # sentineled classic EOCD so readers MUST take the 64-bit path),
    # even docs stay classic — is_zip64 comes from the PARSE
    # (locator detection), so the rotation provably exercises both
    # walks (vacuous-check rule). Members still inflate + CRC-verify;
    # `head` replay proves the local-header offsets promoted from the
    # extras really point at the data. Cross-validated against stdlib
    # zipfile both directions in tests/test_documents.py. One Arrow
    # pass, zero shuffles.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents")

    def _rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        cols = ["archive_id", "member_idx", "name", "method",
                "uncomp_bytes", "crc_ok", "head", "is_zip64"]
        stems = ("payload", "chunk", "blob", "part")
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                b = hashlib.md5(f"{i}:z64".encode()).digest()
                members = []
                for k in range(1 + b[0] % 3):
                    name = f"{stems[(b[1] + k) % 4]}_{k}.dat"
                    payload = (
                        f"member {k} "
                        + f"z{(b[2] + k) % 10} " * (4 + (b[3] + k) % 6)
                    ).encode()
                    members.append((name, payload, 8 if k % 2 else 0, False))
                blob = D.build_zip(members, zip64=(i % 2 == 1))
                is64 = D.zip_has_eocd64(blob)
                for k, e in enumerate(D.zip_member_list(blob)):
                    data = D.zip_read_member(blob, e)
                    rows.append({
                        "archive_id": i, "member_idx": k,
                        "name": e["name"],
                        "method": "deflate" if e["method"] == 8
                        else "stored",
                        "uncomp_bytes": e["usize"], "crc_ok": True,
                        "head": data[:16].decode("utf-8"),
                        "is_zip64": is64,
                    })
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("doc_id").mapInPandas(
        _rows,
        schema="archive_id bigint, member_idx int, name string, "
        "method string, uncomp_bytes bigint, crc_ok boolean, "
        "head string, is_zip64 boolean",
    )


# ---------------------------------------------------------------------------
# OpenDocument text/presentation/spreadsheet (r10 verdict item 4)
# ---------------------------------------------------------------------------

_ODF_NS = (
    ' xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
    ' xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"'
    ' xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"'
    ' xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"'
)


def _odf_zip(kind: str, content_xml: str, deflate_content: bool) -> bytes:
    """Minimal ODF package: the required ``mimetype`` member (stored,
    first — the spec layout) + content.xml."""
    from hadoopxmlextractor_spark.operators.documents import build_zip

    mime = f"application/vnd.oasis.opendocument.{kind}".encode()
    return build_zip([
        ("mimetype", mime, 0, False),
        ("content.xml", content_xml.encode(), 8 if deflate_content else 0,
         False),
    ])


def _synth_odt_blob(i: int) -> bytes:
    """Deterministic ODT from md5(doc:odt): a heading + 2+b0%3 body
    paragraphs rotating the run arms — plain / transparent
    <text:span> / <text:tab/> / <text:line-break/> + <text:s c=2>."""
    import hashlib

    x = hashlib.md5(f"{i}:odt".encode()).hexdigest()
    b = hashlib.md5(f"{i}:odt".encode()).digest()

    def hp(j: int) -> str:
        return x[2 * j - 2 : 2 * j]

    paras = [f'<text:h text:outline-level="1">Head w{hp(1)}</text:h>']
    for k in range(2 + b[0] % 3):
        arm = (b[1] + k) % 4
        h = hp(k + 2)
        if arm == 0:
            paras.append(f"<text:p>para {k} w{h}</text:p>")
        elif arm == 1:
            paras.append(
                f'<text:p>pre <text:span text:style-name="T1">w{h} '
                f"mid{k}</text:span> post</text:p>"
            )
        elif arm == 2:
            paras.append(f"<text:p>a{k}<text:tab/>b{h}</text:p>")
        else:
            paras.append(
                f'<text:p>x{k}<text:line-break/>y{h}'
                f'<text:s text:c="2"/>z</text:p>'
            )
    xml = (
        f"<office:document-content{_ODF_NS}><office:body><office:text>"
        + "".join(paras)
        + "</office:text></office:body></office:document-content>"
    )
    return _odf_zip("text", xml, b[2] % 2 == 0)


def _synth_odp_blob(i: int) -> bytes:
    """Deterministic ODP from md5(doc:odp): 1+b0%3 draw:pages, one
    text-box paragraph each."""
    import hashlib

    x = hashlib.md5(f"{i}:odp".encode()).hexdigest()
    b = hashlib.md5(f"{i}:odp".encode()).digest()
    pages = []
    for s in range(1 + b[0] % 3):
        h = x[2 * s : 2 * s + 2]
        pages.append(
            f'<draw:page draw:name="page{s}"><draw:frame>'
            f"<draw:text-box><text:p>slide {s} w{h}</text:p>"
            f"</draw:text-box></draw:frame></draw:page>"
        )
    xml = (
        f"<office:document-content{_ODF_NS}><office:body>"
        "<office:presentation>" + "".join(pages)
        + "</office:presentation></office:body></office:document-content>"
    )
    return _odf_zip("presentation", xml, b[2] % 2 == 0)


def _synth_ods_blob(i: int) -> bytes:
    """Deterministic ODS from md5(doc:ods): a Data sheet with 1+b1%3
    value rows (string + float + an EMPTY 2-wide repeated gap + a
    string cell that widens to a 2-wide repeat when (b3+r)%2), a
    2-row rows-repeated tail, and a second date-cell sheet when
    b0%2 — the repeat-expansion semantics a real reader needs."""
    import hashlib

    x = hashlib.md5(f"{i}:ods".encode()).hexdigest()
    b = hashlib.md5(f"{i}:ods".encode()).digest()

    def hp(j: int) -> str:
        return x[2 * j - 2 : 2 * j]

    rows = []
    for r in range(1, 2 + b[1] % 3):
        rep = ' table:number-columns-repeated="2"' if (b[3] + r) % 2 else ""
        rows.append(
            "<table:table-row>"
            f'<table:table-cell office:value-type="string">'
            f"<text:p>w{hp(r)} r{r}</text:p></table:table-cell>"
            f'<table:table-cell office:value-type="float" '
            f'office:value="{(b[2] + r) % 10}.25">'
            f"<text:p>{(b[2] + r) % 10}.25</text:p></table:table-cell>"
            '<table:table-cell table:number-columns-repeated="2"/>'
            f'<table:table-cell office:value-type="string"{rep}>'
            f"<text:p>dup r{r}</text:p></table:table-cell>"
            "</table:table-row>"
        )
    rows.append(
        '<table:table-row table:number-rows-repeated="2">'
        '<table:table-cell office:value-type="string">'
        f"<text:p>tail w{hp(9)}</text:p></table:table-cell>"
        "</table:table-row>"
    )
    tables = [
        '<table:table table:name="Data">' + "".join(rows) + "</table:table>"
    ]
    if b[0] % 2 == 1:
        tables.append(
            '<table:table table:name="Extra"><table:table-row>'
            '<table:table-cell office:value-type="date" '
            f'office:date-value="2021-0{1 + b[4] % 9}-15">'
            f"<text:p>d</text:p></table:table-cell>"
            "</table:table-row></table:table>"
        )
    xml = (
        f"<office:document-content{_ODF_NS}><office:body>"
        "<office:spreadsheet>" + "".join(tables)
        + "</office:spreadsheet></office:body></office:document-content>"
    )
    return _odf_zip("spreadsheet", xml, b[5] % 2 == 0)


@query(
    "source_odf_text",
    f"""
    WITH p AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':odt') AS xt,
             md5(CAST(doc_id AS VARCHAR) || ':odp') AS xp,
             {_b('odt', 0)} AS t0, {_b('odt', 1)} AS t1,
             {_b('odp', 0)} AS p0
      FROM documents
    ),
    odt_k AS (
      SELECT doc_id, xt, k.k AS k, t1
      FROM p, (SELECT unnest(range(4)) AS k) k
      WHERE doc_id % 2 = 0 AND k.k < 2 + t0 % 3
    ),
    odt_paras AS (
      SELECT doc_id, k,
             CASE (t1 + k) % 4
               WHEN 0 THEN 'para ' || CAST(k AS VARCHAR) || ' w'
                           || substring(xt, 2 * k + 3, 2)
               WHEN 1 THEN 'pre w' || substring(xt, 2 * k + 3, 2)
                           || ' mid' || CAST(k AS VARCHAR) || ' post'
               WHEN 2 THEN 'a' || CAST(k AS VARCHAR) || chr(9) || 'b'
                           || substring(xt, 2 * k + 3, 2)
               ELSE 'x' || CAST(k AS VARCHAR) || chr(10) || 'y'
                    || substring(xt, 2 * k + 3, 2) || '  z'
             END AS para
      FROM odt_k
    ),
    odt AS (
      SELECT doc_id,
             'odt' AS format,
             CAST(1 + COUNT(*) AS INT) AS n_units,
             'Head w' || min(substring(xt, 1, 2)) || chr(10)
               || string_agg(para, chr(10) ORDER BY k) AS text
      FROM odt_paras JOIN p USING (doc_id)
      GROUP BY doc_id
    ),
    odp_s AS (
      SELECT doc_id, xp, s.s AS s
      FROM p, (SELECT unnest(range(3)) AS s) s
      WHERE doc_id % 2 = 1 AND s.s < 1 + p0 % 3
    ),
    odp AS (
      SELECT doc_id,
             'odp' AS format,
             CAST(COUNT(*) AS INT) AS n_units,
             string_agg('slide ' || CAST(s AS VARCHAR) || ' w'
                        || substring(xp, 2 * s + 1, 2),
                        chr(10) ORDER BY s) AS text
      FROM odp_s
      GROUP BY doc_id
    )
    SELECT doc_id, format, n_units, text FROM odt
    UNION ALL
    SELECT doc_id, format, n_units, text FROM odp
    """,
)
def q_source_odf_text(spark: SparkSession, sf: str) -> DataFrame:
    # OpenDocument (r10 verdict item 4) — the other major office
    # family in public corpora, on the same ZIP + member-XML machinery
    # as DOCX/EPUB/PPTX: even docs synthesize ODT (heading + rotating
    # run arms — transparent <text:span>, <text:tab/>,
    # <text:line-break/>, <text:s c=2> — the ODF whitespace elements
    # literal XML collapsing eats), odd docs ODP (draw:page walk).
    # Both route through document_text's magic dispatch (the mimetype
    # member), so MIXED batches prove the routing, not just the
    # extractors. Oracle replays the closed-form text with chr(9)/
    # chr(10) arithmetic. One Arrow pass, zero shuffles.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents")

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([
                _synth_odt_blob(int(i)) if int(i) % 2 == 0
                else _synth_odp_blob(int(i))
                for i in ids
            ])

    return D.document_text(
        docs.select("doc_id", _blob("doc_id").alias("content"))
    )


@query(
    "source_ods_cells",
    f"""
    WITH p AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':ods') AS x,
             {_b('ods', 0)} AS b0, {_b('ods', 1)} AS b1,
             {_b('ods', 2)} AS b2, {_b('ods', 3)} AS b3,
             {_b('ods', 4)} AS b4
      FROM documents
    ),
    r AS (
      SELECT doc_id, x, b2, b3, r.r AS r
      FROM p, (SELECT unnest(range(1, 4)) AS r) r
      WHERE r.r < 2 + b1 % 3
    ),
    value_rows AS (
      SELECT doc_id, 'Data' AS sheet, r AS row, 'A' AS col,
             'string' AS kind,
             'w' || substring(x, 2 * r - 1, 2) || ' r'
               || CAST(r AS VARCHAR) AS value
      FROM r
      UNION ALL
      SELECT doc_id, 'Data', r, 'B', 'float',
             CAST((b2 + r) % 10 AS VARCHAR) || '.25'
      FROM r
      UNION ALL
      SELECT doc_id, 'Data', r, 'E', 'string',
             'dup r' || CAST(r AS VARCHAR)
      FROM r
      UNION ALL
      SELECT doc_id, 'Data', r, 'F', 'string',
             'dup r' || CAST(r AS VARCHAR)
      FROM r WHERE (b3 + r) % 2 = 1
    ),
    tail_rows AS (
      SELECT doc_id, 'Data' AS sheet,
             (2 + b1 % 3) + t.t AS row, 'A' AS col, 'string' AS kind,
             'tail w' || substring(x, 17, 2) AS value
      FROM p, (SELECT unnest(range(2)) AS t) t
    ),
    extra AS (
      SELECT doc_id, 'Extra' AS sheet, 1 AS row, 'A' AS col,
             'date' AS kind,
             '2021-0' || CAST(1 + b4 % 9 AS VARCHAR) || '-15' AS value
      FROM p WHERE b0 % 2 = 1
    )
    SELECT doc_id, sheet, CAST(row AS INT) AS row, col, kind, value
    FROM (
      SELECT * FROM value_rows
      UNION ALL SELECT * FROM tail_rows
      UNION ALL SELECT * FROM extra
    )
    """,
)
def q_source_ods_cells(spark: SparkSession, sf: str) -> DataFrame:
    # The ODS cell table beside xlsx_cells (r10 verdict item 4), same
    # output contract: office:value-type as the kind, string cells
    # from their <text:p> runs, valued kinds from office:*value
    # attributes VERBATIM (no float parse), and — the part real
    # sheets live on — number-columns-repeated / number-rows-repeated
    # expansion: empty repeats only advance the column cursor (real
    # producers pad with million-wide empties), non-empty repeats
    # clone cells ('F' duplicates 'E' when the rotation fires), and a
    # rows-repeated tail clones whole rows. One Arrow pass.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents")

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([_synth_ods_blob(int(i)) for i in ids])

    return D.ods_cells(
        docs.select("doc_id", _blob("doc_id").alias("content"))
    )


# ---------------------------------------------------------------------------
# JPEG EXIF metadata (r10 verdict item 5)
# ---------------------------------------------------------------------------


@query(
    "multimodal_image_exif",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('exif', 0)} AS b0, {_b('exif', 1)} AS b1,
             {_b('exif', 2)} AS b2, {_b('exif', 3)} AS b3,
             {_b('exif', 4)} AS b4, {_b('exif', 5)} AS b5,
             {_b('exif', 6)} AS b6, {_b('exif', 7)} AS b7,
             {_b('exif', 8)} AS b8, {_b('exif', 9)} AS b9,
             {_b('exif', 10)} AS b10, {_b('exif', 11)} AS b11,
             {_b('exif', 12)} AS b12, {_b('exif', 13)} AS b13,
             {_b('exif', 14)} AS b14, {_b('exif', 15)} AS b15
      FROM documents
    )
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 7 = 3 THEN NULL
                WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS endian,
           CASE WHEN doc_id % 7 = 3 THEN NULL
                ELSE CAST(1 + b0 % 8 AS INT) END AS orientation,
           CASE WHEN doc_id % 7 = 3 THEN NULL
                ELSE (['Canon','Nikon','SONY','Apple'])[b1 % 4 + 1]
                END AS make,
           CASE WHEN doc_id % 7 = 3 THEN NULL
                ELSE 'Model-' || CAST(b2 % 100 AS VARCHAR) END AS model,
           CASE WHEN doc_id % 7 = 3 THEN NULL
                ELSE CAST(2000 + b3 % 25 AS VARCHAR) || ':'
                  || lpad(CAST(1 + b4 % 12 AS VARCHAR), 2, '0') || ':'
                  || lpad(CAST(1 + b5 % 28 AS VARCHAR), 2, '0') || ' '
                  || lpad(CAST(b6 % 24 AS VARCHAR), 2, '0') || ':'
                  || lpad(CAST(b7 % 60 AS VARCHAR), 2, '0') || ':'
                  || lpad(CAST(b8 % 60 AS VARCHAR), 2, '0')
                END AS dt_original,
           CASE WHEN doc_id % 7 = 3 THEN NULL
                ELSE CAST(16 * (1 + b9 % 64) AS INT) END AS pixel_w,
           CASE WHEN doc_id % 7 = 3 THEN NULL
                ELSE CAST(16 * (1 + b10 % 64) AS INT) END AS pixel_h,
           CASE WHEN doc_id % 7 = 3 THEN NULL
                ELSE CAST((1 + b11 % 4) * 72 AS VARCHAR) || '/'
                  || CAST(1 + b11 % 2 AS VARCHAR) END AS x_resolution,
           CASE WHEN doc_id % 7 = 3 OR doc_id % 3 <> 0 THEN NULL
                WHEN b12 % 2 = 0 THEN 'N' ELSE 'S' END AS gps_lat_ref,
           CASE WHEN doc_id % 7 = 3 OR doc_id % 3 <> 0 THEN NULL
                ELSE CAST(b12 % 90 AS VARCHAR) || '/1 '
                  || CAST(b13 % 60 AS VARCHAR) || '/1 '
                  || CAST((b14 * 37) % 6000 AS VARCHAR) || '/100'
                END AS gps_lat,
           CASE WHEN doc_id % 7 = 3 OR doc_id % 3 <> 0 THEN NULL
                WHEN b13 % 2 = 0 THEN 'E' ELSE 'W' END AS gps_lon_ref,
           CASE WHEN doc_id % 7 = 3 OR doc_id % 3 <> 0 THEN NULL
                ELSE CAST(b15 % 180 AS VARCHAR) || '/1 '
                  || CAST(b14 % 60 AS VARCHAR) || '/1 '
                  || CAST((b15 * 53) % 6000 AS VARCHAR) || '/100'
                END AS gps_lon
    FROM p
    """,
)
def q_multimodal_image_exif(spark: SparkSession, sf: str) -> DataFrame:
    # JPEG EXIF (r10 verdict item 5) — the image-pipeline metadata a
    # curator filters on (orientation-aware dedup, capture time, true
    # pixel dims): an APP1 Exif TIFF block spliced after the SOI of a
    # REAL baseline JPEG (the walker must skip interleaved segments
    # and stop at SOS), BOTH byte orders rotating by doc, ASCII /
    # SHORT / LONG / RATIONAL types live (rationals kept as 'num/den'
    # raw tokens), long values through TIFF-RELATIVE offsets — the
    # thing that breaks file-offset walkers. Every 7th doc ships NO
    # EXIF and must take the endian-NULL marker row (the refusal arm
    # keeps the check non-vacuous both ways). One Arrow pass.
    import hashlib

    import numpy as np

    from hadoopxmlextractor_spark.operators import jpeg as J
    from hadoopxmlextractor_spark.operators import multimodal as M

    docs = load(spark, sf, "documents")
    makes = ["Canon", "Nikon", "SONY", "Apple"]

    @F.pandas_udf("binary")
    def _jpeg(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        base = J.encode_jpeg(np.full((8, 8, 3), 128, np.uint8))
        for ids in it:
            out = []
            for i in ids:
                i = int(i)
                if i % 7 == 3:
                    out.append(base)  # no EXIF: marker-row arm
                    continue
                b = hashlib.md5(f"{i}:exif".encode()).digest()
                dt = (
                    f"{2000 + b[3] % 25}:{1 + b[4] % 12:02d}:"
                    f"{1 + b[5] % 28:02d} {b[6] % 24:02d}:"
                    f"{b[7] % 60:02d}:{b[8] % 60:02d}"
                )
                gps = None
                if i % 3 == 0:  # a third of the images are geotagged
                    gps = (
                        "N" if b[12] % 2 == 0 else "S",
                        (b[12] % 90, b[13] % 60, (b[14] * 37) % 6000),
                        "E" if b[13] % 2 == 0 else "W",
                        (b[15] % 180, b[14] % 60, (b[15] * 53) % 6000),
                    )
                app1 = M._encode_exif_app1(
                    big_endian=(i % 2 == 1),
                    orientation=1 + b[0] % 8,
                    make=makes[b[1] % 4],
                    model=f"Model-{b[2] % 100}",
                    dt_original=dt,
                    pixel_w=16 * (1 + b[9] % 64),
                    pixel_h=16 * (1 + b[10] % 64),
                    xres=((1 + b[11] % 4) * 72, 1 + b[11] % 2),
                    gps=gps,
                )
                out.append(base[:2] + app1 + base[2:])
            yield pd.Series(out)

    return M.jpeg_exif_meta(
        docs.select(
            F.col("doc_id").alias("media_id"),
            _jpeg("doc_id").alias("content"),
        )
    )


# ---------------------------------------------------------------------------
# ALAC full sample decode (r10 verdict item 6)
# ---------------------------------------------------------------------------


def _alac_summary(blob) -> list[dict]:
    """Stream fields and integer sample moments of one ALAC file — the
    decode kernel both ALAC registry queries share."""
    from hadoopxmlextractor_spark.operators import alac as AL

    d = AL.decode_alac(bytes(blob))
    chans = d["samples"]
    left = chans[0]
    right = chans[1] if len(chans) > 1 else []
    return [{
        "sample_rate": d["sample_rate"], "bit_depth": d["bit_depth"],
        "channels": d["channels"], "n_packets": d["n_packets"],
        "n_samples": len(left),
        "sum_l": sum(left), "sumsq_l": sum(s * s for s in left),
        "sum_r": sum(right), "sumsq_r": sum(s * s for s in right),
    }]


@query(
    "multimodal_audio_alac_decode",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('alac', 0)} AS b0, {_b('alac', 2)} AS b2,
             {_b('alac', 5)} AS b5, {_b('alac', 6)} AS b6,
             {_b('alac', 7)} AS b7, {_b('alac', 8)} AS b8
      FROM documents
    ),
    fr AS (
      SELECT doc_id, b2, b6, b7, f.f AS f,
             CASE WHEN f.f < 2 + b0 % 2 THEN 64
                  ELSE 24 + b5 % 16 END AS n
      FROM p, (SELECT unnest(range(4)) AS f) f
      WHERE f.f < 2 + b0 % 2 + b5 % 2
    ),
    arm AS (
      SELECT doc_id, f, n, ch.ch AS ch, b6, b7,
             (b2 + f + ch.ch) % 4 AS t
      FROM fr, (VALUES (0), (1)) ch(ch)
      WHERE ch.ch = 0 OR doc_id % 5 <> 4
    ),
    samp AS (
      SELECT a.doc_id, a.ch, a.t, a.b6, a.b7, k.k AS k,
             md5(CAST(a.doc_id AS VARCHAR)
                 || CASE a.ch WHEN 0 THEN ':aL:' ELSE ':aR:' END
                 || CAST(a.f AS VARCHAR) || ':'
                 || CAST(k.k // 8 AS VARCHAR)) AS hx,
             md5(CAST(a.doc_id AS VARCHAR) || ':ac:'
                 || CAST(a.f AS VARCHAR) || ':'
                 || CAST(a.ch AS VARCHAR)) AS cx
      FROM arm a, (SELECT unnest(range(64)) AS k) k
      WHERE k.k < a.n
    ),
    v AS (
      SELECT doc_id, ch,
        CASE t
          WHEN 0 THEN
            CASE WHEN CAST(('0x' || substring(hx, (k % 8) * 4 + 1, 4))
                       AS BIGINT) >= 32768
                 THEN CAST(('0x' || substring(hx, (k % 8) * 4 + 1, 4))
                      AS BIGINT) - 65536
                 ELSE CAST(('0x' || substring(hx, (k % 8) * 4 + 1, 4))
                      AS BIGINT) END
          WHEN 1 THEN (b6 - 128) * 4 + 3 * k
          WHEN 2 THEN CASE WHEN k < 8
                 THEN CAST(('0x' || substring(cx, 2 * k + 1, 2))
                      AS BIGINT) - 128 ELSE 0 END
          ELSE (b7 - 128) * 7
        END AS s
      FROM samp
    )
    SELECT p.doc_id AS media_id,
           CAST(([8000, 44100, 48000])[p.b8 % 3 + 1] AS INT)
             AS sample_rate,
           CAST(CASE WHEN p.doc_id % 5 = 4 THEN 1 ELSE 2 END AS INT)
             AS channels,
           CAST(2 + p.b0 % 2 + p.b5 % 2 AS INT) AS n_packets,
           CAST(64 * (2 + p.b0 % 2)
                + (p.b5 % 2) * (24 + p.b5 % 16) AS BIGINT) AS n_samples,
           CAST(SUM(CASE WHEN ch = 0 THEN s ELSE 0 END) AS BIGINT)
             AS sum_l,
           CAST(SUM(CASE WHEN ch = 0 THEN s * s ELSE 0 END) AS BIGINT)
             AS sumsq_l,
           CAST(SUM(CASE WHEN ch = 1 THEN s ELSE 0 END) AS BIGINT)
             AS sum_r,
           CAST(SUM(CASE WHEN ch = 1 THEN s * s ELSE 0 END) AS BIGINT)
             AS sumsq_r
    FROM v JOIN p USING (doc_id)
    GROUP BY p.doc_id, p.b0, p.b5, p.b8
    """,
)
def q_multimodal_audio_alac_decode(spark: SparkSession, sf: str) -> DataFrame:
    # FULL ALAC SAMPLE DECODE (r10 verdict item 6) — the second
    # integer-exact lossless codec after FLAC, same exact-oracle
    # moments contract: the M4A walk surfaces the alac magic cookie +
    # stsz packet framing (operators/containers.py box discipline),
    # operators/alac.py decodes every packet — adaptive-Golomb
    # entropy coding (9-ones escapes live on the md5-random arm, the
    # LOW-MEAN ZERO-RUN coder live on the silence-tail and constant
    # arms), sign-adaptive LPC with the order-31 prepass rotation,
    # stereo matrixing (mixRes arms) at bitDepth+1 plane width, mono
    # SCE docs, and PARTIAL tail packets. The oracle replays the
    # synth's closed-form samples (md5 int16 chains / ramp / silence
    # / constant) as pure integer sums — a single wrong residual,
    # run-length, matrix term, or adaptation step shifts a moment.
    # One Arrow pass; id-only repartition before the codec kernel.
    from hadoopxmlextractor_spark.operators import alac as AL

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _synth(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([AL._synth_alac_doc(int(i)) for i in ids])

    files = docs.select(
        F.col("doc_id").alias("media_id"), _synth("doc_id").alias("content")
    )

    return blob_rows(
        files, "media_id", "content", _alac_summary,
        "media_id bigint, sample_rate int, channels int, "
        "n_packets int, n_samples bigint, sum_l bigint, sumsq_l bigint, "
        "sum_r bigint, sumsq_r bigint",
        {},
    )


@query(
    "multimodal_audio_alac_hires",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('a24', 0)} AS b0, {_b('a24', 2)} AS b2,
             {_b('a24', 4)} AS b4, {_b('a24', 6)} AS b6,
             {_b('a24', 7)} AS b7, {_b('a24', 8)} AS b8
      FROM documents
    ),
    fr AS (
      SELECT doc_id, b2, b4, b6, b7, f.f AS f
      FROM p, (VALUES (0), (1), (2)) f(f)
      WHERE f.f < 2 + b0 % 2
    ),
    arm AS (
      SELECT doc_id, f, ch.ch AS ch, b4, b6, b7,
             (b2 + f + ch.ch) % 3 AS t
      FROM fr, (VALUES (0), (1)) ch(ch)
      WHERE ch.ch = 0 OR doc_id % 4 <> 3
    ),
    samp AS (
      SELECT a.doc_id, a.ch, a.t, a.b4, a.b6, a.b7, k.k AS k,
             md5(CAST(a.doc_id AS VARCHAR)
                 || CASE a.ch WHEN 0 THEN ':hL:' ELSE ':hR:' END
                 || CAST(a.f AS VARCHAR) || ':'
                 || CAST(k.k // 8 AS VARCHAR)) AS hx,
             md5(CAST(a.doc_id AS VARCHAR) || ':hlo:'
                 || CAST(a.ch AS VARCHAR) || ':'
                 || CAST(a.f AS VARCHAR) || ':'
                 || CAST(k.k // 16 AS VARCHAR)) AS lx
      FROM arm a, (SELECT unnest(range(64)) AS k) k
    ),
    v AS (
      SELECT doc_id, ch,
        CASE t
          WHEN 0 THEN
            (CASE WHEN CAST(('0x' || substring(hx, (k % 8) * 4 + 1, 4))
                       AS BIGINT) >= 32768
                  THEN CAST(('0x' || substring(hx, (k % 8) * 4 + 1, 4))
                       AS BIGINT) - 65536
                  ELSE CAST(('0x' || substring(hx, (k % 8) * 4 + 1, 4))
                       AS BIGINT) END) * 256
            + CAST(('0x' || substring(lx, (k % 16) * 2 + 1, 2))
                   AS BIGINT)
          WHEN 1 THEN ((b6 - 128) * 4 + 3 * k) * 256
                      + (k * 37 + b4) % 256
          ELSE (b7 - 128) * 7 * 256
        END AS s
      FROM samp
    )
    SELECT p.doc_id AS media_id,
           CAST(([44100, 96000, 192000])[p.b8 % 3 + 1] AS INT)
             AS sample_rate,
           CAST(24 AS INT) AS bit_depth,
           CAST(CASE WHEN p.doc_id % 4 = 3 THEN 1 ELSE 2 END AS INT)
             AS channels,
           CAST(2 + p.b0 % 2 AS INT) AS n_packets,
           CAST(64 * (2 + p.b0 % 2) AS BIGINT) AS n_samples,
           CAST(SUM(CASE WHEN ch = 0 THEN s ELSE 0 END) AS BIGINT)
             AS sum_l,
           CAST(SUM(CASE WHEN ch = 0 THEN s * s ELSE 0 END) AS BIGINT)
             AS sumsq_l,
           CAST(SUM(CASE WHEN ch = 1 THEN s ELSE 0 END) AS BIGINT)
             AS sum_r,
           CAST(SUM(CASE WHEN ch = 1 THEN s * s ELSE 0 END) AS BIGINT)
             AS sumsq_r
    FROM v JOIN p USING (doc_id)
    GROUP BY p.doc_id, p.b0, p.b8
    """,
)
def q_multimodal_audio_alac_hires(spark: SparkSession, sf: str) -> DataFrame:
    # 24-BIT ALAC with bytesShifted=1 — the layout every real >16-bit
    # ALAC file uses: prediction and matrixing run on the HIGH 16
    # bits while the low bytes ride verbatim in the shift buffer
    # between the parameter blocks and the residuals (interleaved per
    # sample across channels). The md5-random arm gives the shift
    # buffer real entropy (low bytes are their own md5 chain, so a
    # misplaced or misordered shift read flips a moment); the ramp
    # arm cycles lows under predictive highs; the constant arm zeros
    # them under residual runs. Escape packets rotate in at full
    # 24-bit width; 192 kHz exercises the cookie-authoritative rate
    # (the 16.16 sample-entry field saturates, like real muxers).
    # Same moments oracle contract as the 16-bit query.
    from hadoopxmlextractor_spark.operators import alac as AL

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _synth(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series(
                [AL._synth_alac_hires_doc(int(i)) for i in ids]
            )

    files = docs.select(
        F.col("doc_id").alias("media_id"), _synth("doc_id").alias("content")
    )

    return blob_rows(
        files, "media_id", "content", _alac_summary,
        "media_id bigint, sample_rate int, bit_depth int, "
        "channels int, n_packets int, n_samples bigint, sum_l bigint, "
        "sumsq_l bigint, sum_r bigint, sumsq_r bigint",
        {},
    )


@query(
    "source_odf_metadata",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('odfm', 0)} AS b0, {_b('odfm', 1)} AS b1,
             {_b('odfm', 2)} AS b2, {_b('odfm', 3)} AS b3,
             {_b('odfm', 4)} AS b4, {_b('odfm', 5)} AS b5
      FROM documents
    )
    SELECT doc_id,
           (['text', 'presentation', 'spreadsheet'])[b0 % 3 + 1] AS kind,
           CASE WHEN b1 % 4 = 0 THEN NULL
                ELSE (['Quarterly Report', 'Field Notes', 'Slides',
                       'Budget'])[b2 % 4 + 1] || ' '
                     || CAST(doc_id AS VARCHAR) END AS title,
           CASE WHEN b1 % 4 = 0 THEN NULL
                ELSE (['ana', 'bo', 'chen', 'dee'])[b3 % 4 + 1]
                END AS creator,
           CASE WHEN b1 % 4 = 0 THEN NULL
                ELSE CAST(2010 + b4 % 15 AS VARCHAR) || '-0'
                  || CAST(1 + b4 % 9 AS VARCHAR) || '-'
                  || lpad(CAST(1 + b5 % 28 AS VARCHAR), 2, '0')
                  || 'T0' || CAST(b5 % 10 AS VARCHAR) || ':30:00'
                END AS date,
           CASE WHEN b1 % 4 = 0 THEN NULL
                ELSE CAST(10 + b2 * 7 % 990 AS INT) END AS word_count,
           CASE WHEN b1 % 4 = 0 THEN NULL
                ELSE CAST(1 + b3 % 40 AS INT) END AS page_count
    FROM p
    """,
)
def q_source_odf_metadata(spark: SparkSession, sf: str) -> DataFrame:
    # ODF meta.xml — the office twin of pdf_metadata/epub_metadata,
    # the fields a curator dedups and filters on (title/creator/date,
    # document-statistic counts): kind rotates across all three ODF
    # families, a quarter of packages ship NO meta.xml and must
    # report NULL fields with the kind still resolved (the partial-
    # metadata arm real corpora are full of). One Arrow pass.
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents")
    kinds = ["text", "presentation", "spreadsheet"]
    titles = ["Quarterly Report", "Field Notes", "Slides", "Budget"]
    names = ["ana", "bo", "chen", "dee"]

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from hadoopxmlextractor_spark.operators.documents import build_zip

        for ids in it:
            out = []
            for i in ids:
                i = int(i)
                b = hashlib.md5(f"{i}:odfm".encode()).digest()
                kind = kinds[b[0] % 3]
                mime = (
                    f"application/vnd.oasis.opendocument.{kind}".encode()
                )
                content = (
                    f"<office:document-content{_ODF_NS}>"
                    "<office:body/></office:document-content>"
                )
                members = [
                    ("mimetype", mime, 0, False),
                    ("content.xml", content.encode(), 8, False),
                ]
                if b[1] % 4 != 0:  # a quarter ship no meta.xml
                    date = (
                        f"{2010 + b[4] % 15}-0{1 + b[4] % 9}-"
                        f"{1 + b[5] % 28:02d}T0{b[5] % 10}:30:00"
                    )
                    meta = (
                        "<office:document-meta"
                        ' xmlns:office="urn:oasis:names:tc:'
                        'opendocument:xmlns:office:1.0"'
                        ' xmlns:meta="urn:oasis:names:tc:'
                        'opendocument:xmlns:meta:1.0"'
                        ' xmlns:dc="http://purl.org/dc/elements/1.1/">'
                        "<office:meta>"
                        f"<dc:title>{titles[b[2] % 4]} {i}</dc:title>"
                        f"<dc:creator>{names[b[3] % 4]}</dc:creator>"
                        f"<dc:date>{date}</dc:date>"
                        '<meta:document-statistic '
                        f'meta:word-count="{10 + b[2] * 7 % 990}" '
                        f'meta:page-count="{1 + b[3] % 40}"/>'
                        "</office:meta></office:document-meta>"
                    )
                    members.append(("meta.xml", meta.encode(), 8, False))
                out.append(build_zip(members))
            yield pd.Series(out)

    return D.odf_metadata(
        docs.select("doc_id", _blob("doc_id").alias("content"))
    )


# ---------------------------------------------------------------------------
# Email-borne documents: mbox attachments routed through the document
# tier (the extraction step real corpus pipelines run on mail archives)
# ---------------------------------------------------------------------------


@query(
    "pipeline_mbox_attachments",
    """
    WITH p AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
               || ':mattp'), 1, 2)) AS BIGINT) AS b0,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
               || ':mattp'), 3, 2)) AS BIGINT) AS b1,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
               || ':mattp'), 5, 2)) AS BIGINT) AS b2
      FROM documents
    ),
    msg AS (
      SELECT doc_id, b1, b2, m.m AS m
      FROM p, (VALUES (0), (1)) m(m)
      WHERE m.m < 1 + b0 % 2
    ),
    att AS (
      SELECT doc_id, m, b2, a.a AS a
      FROM msg, (VALUES (0), (1)) a(a)
      WHERE a.a < 1 + (b1 + m) % 2
    ),
    x AS (
      SELECT doc_id, m, a,
             (['pdf', 'docx', 'epub'])[(b2 + m + a) % 3 + 1] AS fmt,
             md5(CAST(doc_id AS VARCHAR) || ':matt:'
                 || CAST(m AS VARCHAR) || ':'
                 || CAST(a AS VARCHAR)) AS h
      FROM att
    )
    SELECT doc_id, CAST(m AS INT) AS msg_idx, CAST(a AS INT) AS att_idx,
           'doc_' || CAST(m AS VARCHAR) || '_' || CAST(a AS VARCHAR)
             || '.' || fmt AS filename,
           fmt AS format,
           CAST(2 AS INT) AS n_units,
           'w' || substring(h, 1, 2) || ' w' || substring(h, 3, 2)
             || ' w' || substring(h, 5, 2) || ' w' || substring(h, 7, 2)
             || chr(10)
             || 'w' || substring(h, 9, 2) || ' w' || substring(h, 11, 2)
             || ' w' || substring(h, 13, 2) || ' w' || substring(h, 15, 2)
             AS text
    FROM x
    """,
)
def q_pipeline_mbox_attachments(spark: SparkSession, sf: str) -> DataFrame:
    # EMAIL-BORNE DOCUMENTS (r11) — mail archives are a first-class
    # corpus source and their documents ride as MIME attachments: each
    # doc synthesizes an mbox of 1+b0%2 multipart/mixed messages whose
    # attachments are REAL PDF/DOCX/EPUB containers (synth_text_
    # document — the cross-format builder pipeline_documents_to_corpus
    # certified), base64-wrapped at rotating 60/76-char lines, with
    # the Content-Disposition filename= vs Content-Type name=
    # declaration forms both live (mailers disagree). The chain is
    # mbox walk → attachment part decode → document_text magic-byte
    # routing — one wrong byte in the base64 unwrap, the boundary
    # split, or any container extractor flips the text hash. The
    # msg/att identity rides an arithmetic key through document_text
    # (aid = doc·100 + msg·10 + att), so the certified extractor is
    # used VERBATIM, not a fork. Zero shuffle beyond the designed
    # id-only repartition.
    import base64
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("string")
    def _mbox(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            out = []
            for i in ids:
                i = int(i)
                bp = hashlib.md5(f"{i}:mattp".encode()).digest()
                msgs = []
                for m in range(1 + bp[0] % 2):
                    parts = [
                        "Content-Type: text/plain\n\n"
                        f"cover note {m}\n"
                    ]
                    for a in range(1 + (bp[1] + m) % 2):
                        fmt = ("pdf", "docx", "epub")[(bp[2] + m + a) % 3]
                        x = hashlib.md5(
                            f"{i}:matt:{m}:{a}".encode()
                        ).hexdigest()
                        units = [
                            f"w{x[8*j]}{x[8*j+1]} w{x[8*j+2:8*j+4]} "
                            f"w{x[8*j+4:8*j+6]} w{x[8*j+6:8*j+8]}"
                            for j in range(2)
                        ]
                        blob = D.synth_text_document(
                            fmt, units, flate=(bp[1] + m + a) % 2 == 0
                        )
                        b64 = base64.b64encode(blob).decode()
                        width = 60 if (i + m + a) % 2 == 0 else 76
                        wrapped = "\n".join(
                            b64[k : k + width]
                            for k in range(0, len(b64), width)
                        )
                        fname = f"doc_{m}_{a}.{fmt}"
                        mime = {
                            "pdf": "application/pdf",
                            "docx": "application/vnd.openxmlformats-"
                                    "officedocument.wordprocessingml."
                                    "document",
                            "epub": "application/epub+zip",
                        }[fmt]
                        if (bp[3] + m + a) % 2 == 0:
                            hdr = (
                                f"Content-Type: {mime}\n"
                                "Content-Transfer-Encoding: base64\n"
                                "Content-Disposition: attachment; "
                                f'filename="{fname}"\n'
                            )
                        else:  # the name= declaration form
                            hdr = (
                                f'Content-Type: {mime}; name="{fname}"\n'
                                "Content-Transfer-Encoding: base64\n"
                            )
                        parts.append(hdr + "\n" + wrapped + "\n")
                    body = (
                        f"--B{m}\n" + f"\n--B{m}\n".join(parts)
                        + f"\n--B{m}--\n"
                    )
                    msgs.append(
                        f"From sender@example.com\n"
                        f"From: a{m}@example.com\n"
                        f"Message-ID: <{i}.{m}@example.com>\n"
                        "Content-Type: multipart/mixed; "
                        f'boundary="B{m}"\n\n' + body
                    )
                out.append("".join(msgs))
            yield pd.Series(out)

    files = docs.select("doc_id", _mbox("doc_id").alias("mbox"))

    def _atts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["aid", "content"]
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["mbox"]):
                for r in D.mbox_attachments(str(text)):
                    rows.append({
                        "aid": int(did) * 100 + r["msg_idx"] * 10
                        + r["att_idx"],
                        "content": r["payload"],
                    })
            yield pd.DataFrame(rows, columns=cols)

    atts = files.mapInPandas(
        _atts, schema="aid bigint, content binary"
    )
    extracted = D.document_text(atts, id_col="aid")
    return extracted.select(
        F.expr("doc_id div 100").alias("doc_id"),
        F.expr("(doc_id div 10) % 10").cast("int").alias("msg_idx"),
        F.expr("doc_id % 10").cast("int").alias("att_idx"),
        F.concat(
            F.lit("doc_"), F.expr("(doc_id div 10) % 10"),
            F.lit("_"), F.expr("doc_id % 10"), F.lit("."), F.col("format"),
        ).alias("filename"),
        "format",
        "n_units",
        "text",
    )


@query(
    "source_subtitle_ass",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('ass', 0)} AS b0, {_b('ass', 1)} AS b1,
             {_b('ass', 2)} AS b2, {_b('ass', 3)} AS b3,
             {_b('ass', 4)} AS b4, {_b('ass', 5)} AS b5
      FROM documents
    ),
    c AS (
      SELECT doc_id, cc.cc AS cc,
             (3000 + 500 * (b1 % 10)) AS gap, (b2 % 100) * 10 AS tail,
             b3, b4, b5
      FROM p, (SELECT unnest(range(4)) AS cc) cc
      WHERE cc.cc < 1 + b0 % 4
    )
    SELECT doc_id AS media_id, CAST(cc AS INT) AS cue_idx,
           'ass' AS kind,
           CAST(gap * cc + tail AS BIGINT) AS start_ms,
           CAST(gap * cc + tail + 800 + 250 * ((b3 + cc) % 12) AS BIGINT)
             AS end_ms,
           (['alpha','bravo','charlie','delta','echo'])[(b4 + cc) % 5 + 1]
             || ' line ' || CAST(cc AS VARCHAR)
             || CASE WHEN (b5 + cc) % 2 = 1
                THEN chr(10) || 'wrapped, with comma ' || CAST(cc AS VARCHAR)
                ELSE '' END AS text
    FROM c
    """,
)
def q_source_subtitle_ass(spark: SparkSession, sf: str) -> DataFrame:
    # ASS/SSA — the third real subtitle family (anime/fansub corpora
    # ship it almost exclusively): [Events] Format-driven field order
    # (a rotating extra field keeps the mapping live), H:MM:SS.cc
    # CENTISECOND timestamps (the synth grid is 10 ms-aligned so the
    # oracle stays integer-exact), {\\i1}-style override blocks
    # stripped, \\N line breaks, the Text field keeping embedded
    # commas past the Format-bounded split, and Comment: events
    # skipped. Same cue-table contract as source_subtitle_cues. One
    # Arrow pass, zero shuffles.
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents")
    words = ["alpha", "bravo", "charlie", "delta", "echo"]

    @F.pandas_udf("string")
    def _ass(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            out = []
            for i in ids:
                i = int(i)
                b = hashlib.md5(f"{i}:ass".encode()).digest()
                gap = 3000 + 500 * (b[1] % 10)
                tail = (b[2] % 100) * 10  # centisecond-aligned
                extra = i % 2 == 1  # rotate a wider Format mapping

                def ts(ms: int) -> str:
                    cs = ms // 10
                    return (
                        f"{cs // 360000}:{cs // 6000 % 60:02d}:"
                        f"{cs // 100 % 60:02d}.{cs % 100:02d}"
                    )

                fmt = (
                    "Format: Layer, Start, End, Style, Name, MarginL, "
                    "MarginR, MarginV, Effect, Text"
                    if extra else
                    "Format: Start, End, Style, Text"
                )
                lines = [
                    "[Script Info]", "Title: synthetic", "",
                    "[V4+ Styles]",
                    "Format: Name, Fontname", "Style: Default,Arial", "",
                    "[Events]", fmt,
                ]
                for cc in range(1 + b[0] % 4):
                    start = gap * cc + tail
                    end = start + 800 + 250 * ((b[3] + cc) % 12)
                    body = f"{words[(b[4] + cc) % 5]} line {cc}"
                    if (b[5] + cc) % 2 == 1:
                        body += f"\\N{{\\i1}}wrapped,{{\\i0}} with comma {cc}"
                    if extra:
                        lines.append(
                            f"Dialogue: 0,{ts(start)},{ts(end)},Default,"
                            f",0,0,0,,{body}"
                        )
                    else:
                        lines.append(
                            f"Dialogue: {ts(start)},{ts(end)},Default,"
                            f"{body}"
                        )
                    if cc == 0:
                        lines.append(
                            f"Comment: 0,{ts(start)},{ts(end)},Default,"
                            ",0,0,0,,never emitted"
                            if extra else
                            f"Comment: {ts(start)},{ts(end)},Default,"
                            "never emitted"
                        )
                out.append("\n".join(lines) + "\n")
            yield pd.Series(out)

    return D.subtitle_cues(
        docs.select(
            F.col("doc_id").alias("media_id"), _ass("doc_id").alias("content")
        )
    )


@query(
    "pipeline_audio_cover_art",
    f"""
    WITH meta AS (
      SELECT doc_id, {_b('cartp', 0)} AS b0, {_b('cartp', 1)} AS b1
      FROM documents
    ),
    lum AS (
      SELECT doc_id, (k.k * 16 + j.j) AS p,
             CAST(('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || ':cart:'
                   || CAST(k.k AS VARCHAR)),
               j.j * 2 + 1, 2)) AS BIGINT) AS g
      FROM documents,
           (SELECT unnest(range(4)) AS k) k,
           (SELECT unnest(range(16)) AS j) j
    ),
    mean AS (SELECT doc_id, SUM(g) // 64 AS m FROM lum GROUP BY doc_id),
    lanes(l, wt) AS (VALUES {", ".join(
        f"({l}, " + (str(1 << l) if l < 63
                     else "(-9223372036854775807 - 1)") + ")"
        for l in range(64)
    )}),
    hashes AS (
      SELECT lum.doc_id,
             CAST(SUM(CASE WHEN g > m THEN wt ELSE 0 END) AS BIGINT)
               AS ahash
      FROM lum JOIN mean USING (doc_id) JOIN lanes ON lanes.l = lum.p
      GROUP BY lum.doc_id
    )
    SELECT m.doc_id AS media_id,
           (['flac', 'mp3', 'm4a'])[CAST(m.doc_id % 3 AS INT) + 1]
             AS container,
           CASE WHEN m.doc_id % 3 = 2 THEN NULL
                ELSE CAST(3 + m.b0 % 2 AS INT) END AS pic_type,
           'image/png' AS mime,
           CASE WHEN m.doc_id % 3 = 2 THEN NULL
                ELSE 'cover ' || CAST(m.doc_id AS VARCHAR)
                END AS description,
           CASE WHEN m.doc_id % 3 = 0 THEN CAST(8 AS INT) END AS width,
           CASE WHEN m.doc_id % 3 = 0 THEN CAST(8 AS INT) END AS height,
           h.ahash
    FROM meta m JOIN hashes h ON h.doc_id = m.doc_id
    """,
)
def q_pipeline_audio_cover_art(spark: SparkSession, sf: str) -> DataFrame:
    # EMBEDDED COVER ART across ALL THREE audio container families
    # (r11) — the composition real music corpora need: FLAC PICTURE
    # blocks (type 6, length-prefixed BE), ID3v2 APIC frames (v2.3/
    # 2.4) and the v2.2 PIC form rotating on MP3s, and the iTunes
    # moov→udta→meta→ilst→covr atom on M4A — routed by MAGIC BYTES,
    # then the native PNG decoder (interlace rotating Adam7 on/off)
    # and the certified aHash kernel fingerprint the pixels: audio
    # container → image decode → perceptual hash in ONE Arrow pass,
    # the chain a cover-art near-dup pipeline runs before any audio
    # decode. The gray plane is the md5 identity, so the oracle
    # replays the hash as pure integer arithmetic (the lossless-codec
    # contract: the oracle never models the codec). Zero shuffles.
    import hashlib

    import numpy as np

    from hadoopxmlextractor_spark.operators import containers as CN
    from hadoopxmlextractor_spark.operators import flac as FL
    from hadoopxmlextractor_spark.operators import multimodal as M

    docs = load(spark, sf, "documents")

    @F.pandas_udf("binary")
    def _audio(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            out = []
            for i in ids:
                i = int(i)
                b = hashlib.md5(f"{i}:cartp".encode()).digest()
                plane = []
                for k in range(4):
                    plane.extend(
                        hashlib.md5(f"{i}:cart:{k}".encode()).digest()
                    )
                img = np.repeat(
                    np.array(plane, np.uint8).reshape(8, 8, 1), 3, axis=2
                )
                png = M._encode_png(img, interlace=(b[1] % 2 == 1))
                arm = i % 3
                if arm == 0:  # FLAC PICTURE
                    si = bytes([0]) + (34).to_bytes(3, "big") + b"\x00" * 34
                    pic = FL.build_flac_picture_block(
                        pic_type=3 + b[0] % 2, mime="image/png",
                        description=f"cover {i}", width=8, height=8,
                        depth=24, data=png,
                    )
                    out.append(b"fLaC" + si + pic)
                elif arm == 1:  # MP3: ID3v2 APIC / v2.2 PIC
                    tag = CN.build_id3_picture_tag(
                        version=(2, 3, 4)[b[2] % 3],
                        pic_type=3 + b[0] % 2, mime="image/png",
                        description=f"cover {i}", data=png,
                    )
                    out.append(tag + b"\xff\xfb" + b"\x00" * 16)
                else:  # M4A covr atom
                    out.append(CN.build_m4a_cover(png))
            yield pd.Series(out)

    files = docs.select(
        F.col("doc_id").alias("media_id"), _audio("doc_id").alias("content")
    )

    def _art(blob) -> list[dict]:
        raw = bytes(blob)
        if raw[:4] == b"fLaC":
            pics = [dict(p, container="flac") for p in FL.flac_pictures(raw)]
        elif raw[:3] == b"ID3":
            pics = [
                dict(p, container="mp3", width=None, height=None)
                for p in CN.id3_pictures(raw)
            ]
        else:
            pics = [
                dict(p, container="m4a", pic_type=None, description=None,
                     width=None, height=None)
                for p in CN.m4a_cover(raw)
            ]
        rows = []
        for pic in pics:
            img = M._decode_png(pic["data"])
            ah = (
                M._ahash64(img)
                if img is not None and img.shape[0] * img.shape[1] == 64
                else None
            )
            rows.append({
                "container": pic["container"], "pic_type": pic["pic_type"],
                "mime": pic["mime"], "description": pic["description"],
                "width": pic["width"], "height": pic["height"], "ahash": ah,
            })
        return rows

    return blob_rows(
        files, "media_id", "content", _art,
        "media_id bigint, container string, pic_type int, "
        "mime string, description string, width int, height int, "
        "ahash bigint",
        {},
    )


@query(
    "pipeline_crawl_robots_meta",
    f"""
    WITH p AS (
      SELECT doc_id, doc_id % 6 AS arm,
             md5(CAST(doc_id AS VARCHAR) || ':rbm') AS x
      FROM documents
    )
    SELECT doc_id,
           arm IN (1, 2, 3) AS noindex,
           arm IN (2, 3, 4) AS nofollow,
           CASE WHEN arm IN (1, 4) THEN 'header'
                WHEN arm IN (2, 3) THEN 'meta' END AS directive_source,
           CASE WHEN arm IN (1, 2, 3) THEN NULL
                ELSE 'w' || substring(x, 1, 2) || ' w' || substring(x, 3, 2)
                  || ' w' || substring(x, 5, 2) END AS extracted,
           arm NOT IN (1, 2, 3) AS kept
    FROM p
    """,
)
def q_pipeline_crawl_robots_meta(spark: SparkSession, sf: str) -> DataFrame:
    # PAGE-LEVEL crawl admission (r11) — the half robots.txt can't
    # cover: publishers opt pages out of corpora via the X-Robots-Tag
    # RESPONSE HEADER and the <meta name="robots"> tag, and a WET
    # pipeline that ignores them ships text it was told not to. Six
    # rotating arms: clean page / header noindex / meta
    # "noindex, nofollow" / meta "none" (= both) / header nofollow
    # (followable-not-indexable split) / header nosnippet (must NOT
    # suppress anything). noindex pages keep their attribution row but
    # NULL text — auditable, never silently dropped. Composed through
    # the WARC walk + HTTP split + declared-charset decode, one Arrow
    # chain, zero shuffles.
    import hashlib

    from hadoopxmlextractor_spark.operators import text as T
    from hadoopxmlextractor_spark.sources import warc as W

    docs = load(spark, sf, "documents")

    @F.pandas_udf("binary")
    def _warc(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            out = []
            for i in ids:
                i = int(i)
                x = hashlib.md5(f"{i}:rbm".encode()).hexdigest()
                arm = i % 6
                meta = {
                    2: '<meta name="robots" '
                       'content="noindex, nofollow">',
                    3: '<meta content="none" name=robots>',
                }.get(arm, "")
                html = (
                    f"<html><head><title>skip</title>{meta}</head>"
                    f"<body><p>w{x[0:2]} w{x[2:4]} w{x[4:6]}</p>"
                    "</body></html>"
                )
                hdr = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                xtag = {1: b"noindex", 4: b"nofollow",
                        5: b"nosnippet"}.get(arm)
                if xtag:
                    hdr += b"X-Robots-Tag: " + xtag + b"\r\n"
                out.append(W.write_warc([{
                    "warc_type": "response",
                    "record_id": f"<urn:rbm:{i}>",
                    "target_uri": f"https://example.com/{i}",
                    "content_type": "application/http; msgtype=response",
                    "payload": hdr + b"\r\n" + html.encode(),
                }], gzip_members=(i % 2 == 0)))
            yield pd.Series(out)

    files = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        _warc("doc_id").alias("content"),
    )
    recs = W.warc_records(files).filter(F.col("warc_type") == "response")

    @F.pandas_udf(
        "struct<noindex:boolean, nofollow:boolean, src:string, "
        "body:string>"
    )
    def _admit(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for payloads in it:
            rows = []
            for p in payloads:
                status, headers, body = W.split_http_response(bytes(p))
                codec, _how = W.resolve_charset(
                    (headers or {}).get(b"content-type"), body
                )
                text = body.decode(codec, "replace")
                ni, nf, src = W.robots_directives(headers, text)
                rows.append({
                    "noindex": ni, "nofollow": nf, "src": src,
                    "body": None if ni else text,
                })
            yield pd.DataFrame(rows)

    return (
        recs.withColumn("a", _admit("payload"))
        .select(
            F.col("path").cast("bigint").alias("doc_id"),
            F.col("a.noindex").alias("noindex"),
            F.col("a.nofollow").alias("nofollow"),
            F.col("a.src").alias("directive_source"),
            T.html_text(F.col("a.body")).alias("extracted"),
            (~F.col("a.noindex")).alias("kept"),
        )
    )


@query(
    "pipeline_wet_writer",
    f"""
    WITH p AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':wetw') AS x
      FROM documents
    )
    SELECT doc_id,
           'conversion' AS warc_type,
           'https://example.com/doc/' || CAST(doc_id AS VARCHAR)
             AS target_uri,
           '<urn:resp:' || CAST(doc_id AS VARCHAR) || '>' AS refers_to,
           'text/plain' AS content_type,
           'w' || substring(x, 1, 2) || ' w' || substring(x, 3, 2)
             || ' & w' || substring(x, 5, 2) AS text,
           CAST(13 AS BIGINT) AS n_bytes
    FROM p
    """,
)
def q_pipeline_wet_writer(spark: SparkSession, sf: str) -> DataFrame:
    # The OUTPUT side of WET generation (r11): a pipeline that reads
    # Common Crawl must also EMIT the standard — conversion records
    # whose payload is the extracted UTF-8 text, WARC-Refers-To naming
    # the source response record. Chain: synth crawl WARC → HTTP split
    # + declared-charset decode + html_text → WRITE a WET file with
    # write_warc (each conversion its own gzip member) → RE-PARSE the
    # written bytes through the same reader and emit what came back —
    # a full writer/reader roundtrip on the conversion shape,
    # including the Refers-To linkage the reader now surfaces. One
    # Arrow chain, zero shuffles.
    import hashlib

    from hadoopxmlextractor_spark.operators import text as T
    from hadoopxmlextractor_spark.sources import warc as W

    docs = load(spark, sf, "documents")

    def _rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "warc_type", "target_uri", "refers_to",
                "content_type", "text", "n_bytes"]
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                x = hashlib.md5(f"{i}:wetw".encode()).hexdigest()
                html = (
                    "<html><head><title>skip</title></head><body>"
                    f"<h1>w{x[0:2]}</h1><p>w{x[2:4]} &amp; w{x[4:6]}</p>"
                    "</body></html>"
                )
                crawl = W.write_warc([{
                    "warc_type": "response",
                    "record_id": f"<urn:resp:{i}>",
                    "target_uri": f"https://example.com/doc/{i}",
                    "content_type": "application/http; msgtype=response",
                    "payload": (
                        b"HTTP/1.1 200 OK\r\nContent-Type: text/html"
                        b"\r\n\r\n" + html.encode()
                    ),
                }], gzip_members=(i % 2 == 0))
                # read the crawl back, extract, and WRITE the WET file
                wet_records = []
                for r in W.parse_warc(crawl):
                    if r["warc_type"] != "response":
                        continue
                    _s, _e, _h, page = W.decode_http_html(r["payload"])
                    text = T.html_visible_text(page)
                    wet_records.append({
                        "warc_type": "conversion",
                        "record_id": f"<urn:wet:{i}>",
                        "target_uri": r["target_uri"],
                        "refers_to": r["record_id"],
                        "content_type": "text/plain",
                        "payload": text.encode("utf-8"),
                    })
                wet = W.write_warc(wet_records, gzip_members=(i % 2 == 1))
                for r in W.parse_warc(wet):  # the roundtrip proof
                    rows.append({
                        "doc_id": i,
                        "warc_type": r["warc_type"],
                        "target_uri": r["target_uri"],
                        "refers_to": r["refers_to"],
                        "content_type": r["content_type"],
                        "text": r["payload"].decode("utf-8"),
                        "n_bytes": r["content_length"],
                    })
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("doc_id").mapInPandas(
        _rows,
        schema="doc_id bigint, warc_type string, target_uri string, "
        "refers_to string, content_type string, text string, "
        "n_bytes bigint",
    )


# ---------------------------------------------------------------------------
# Owner-restricted (empty-user-password) encrypted PDFs
# ---------------------------------------------------------------------------


def _synth_encrypted_pdf_blob(
    i: int, *, user_pw: bytes = b"",
    info: tuple[str, str] | None = None,
) -> bytes:
    """One deterministic standard-handler encrypted classic PDF from
    md5(doc:epdf), ROTATING the three shipping generations by
    b[2] % 3 — V1/R2 RC4-40, V2/R3 RC4-128 (iterated-MD5 keys,
    19-round /O and /U), V4/R4 /AESV2 AES-128-CBC crypt filters
    (r12): every content stream stored as Enc(okey,
    maybe-Flate(plain)) — the real owner-restricted shape; a
    non-empty ``user_pw`` makes the /U check unsatisfiable with the
    empty password (the refusal arm, whichever generation the doc's
    arm selects). ``info`` = (title, author) adds an /Info dict whose
    STRINGS are encrypted with the object key (hex form; non-latin-1
    titles as BOM-led UTF-16BE) — the metadata leg of §7.6.2 string
    encryption (r12)."""
    import hashlib

    from hadoopxmlextractor_spark.operators import aes as A
    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:epdf".encode()).digest()
    x = hashlib.md5(f"{i}:epdf".encode()).hexdigest()
    n_pages = 1 + b[0] % 2
    rev = (2, 3, 4)[b[2] % 3]
    keylen = 5 if rev == 2 else 16
    # V4 crypt-filter sub-arms (r12): /CFM /V2 (RC4-128) instead of
    # /AESV2 on b[6], /EncryptMetadata false (folds FFFFFFFF into the
    # key hash) on b[5]
    v4_aes = rev != 4 or b[6] % 2 == 0
    nometa = rev == 4 and b[5] % 2 == 1
    id0 = hashlib.md5(f"{i}:epdfid".encode()).digest()
    p_flags = -44
    pad = D._PDF_PAD
    padded_user = (user_pw + pad)[:32]
    padded_owner = ((b"own%d" % i) + pad)[:32]
    oh = hashlib.md5(padded_owner).digest()
    if rev >= 3:
        for _ in range(50):
            oh = hashlib.md5(oh).digest()
    okey_owner = oh[:keylen]
    o_entry = padded_user
    for rnd in range(20 if rev >= 3 else 1):
        o_entry = D._rc4(
            bytes(bb ^ rnd for bb in okey_owner), o_entry
        )
    h = hashlib.md5(
        pad + o_entry + (p_flags & 0xFFFFFFFF).to_bytes(4, "little") + id0
        + (b"\xff\xff\xff\xff" if nometa else b"")
    ).digest()
    if rev >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:keylen]).digest()
    fkey = h[:keylen]
    if rev == 2:
        u_entry = D._rc4(fkey, padded_user)
    else:
        u = D._rc4(fkey, hashlib.md5(padded_user + id0).digest())
        for rnd in range(1, 20):
            u = D._rc4(bytes(bb ^ rnd for bb in fkey), u)
        u_entry = u + bytes(16)

    def _enc(obj_num: int, data: bytes) -> bytes:
        okey = hashlib.md5(
            fkey + obj_num.to_bytes(3, "little") + b"\x00\x00"
            + (b"sAlT" if rev == 4 and v4_aes else b"")
        ).digest()[: min(keylen + 5, 16)]
        if rev == 4 and v4_aes:
            iv = hashlib.md5(f"{i}:{obj_num}:iv".encode()).digest()
            return iv + A.cbc_encrypt(okey, iv, data)
        return D._rc4(okey, data)

    objs: dict[int, bytes] = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    kids = []
    for pg in range(n_pages):
        page_num, content_num = 3 + 2 * pg, 4 + 2 * pg
        kids.append(f"{page_num} 0 R")
        plain = (
            f"BT /F1 12 Tf 72 720 Td (w{x[4*pg:4*pg+2]} locked "
            f"w{x[4*pg+2:4*pg+4]} {pg}) Tj ET"
        ).encode()
        if (b[1] + pg) % 2 == 0:
            import zlib

            data = zlib.compress(plain)
            filt = " /Filter /FlateDecode"
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
    if info is not None:
        title, author = info

        def _estr(txt: str) -> bytes:
            try:
                raw = txt.encode("latin-1")
            except UnicodeEncodeError:
                raw = b"\xfe\xff" + txt.encode("utf-16-be")
            return b"<" + _enc(8, raw).hex().encode() + b">"

        objs[8] = (
            b"<< /Title " + _estr(title)
            + b" /Author " + _estr(author) + b" >>"
        )
    cfm = b"/CFM /AESV2" if v4_aes else b"/CFM /V2"
    enc_head = {
        2: b"/V 1 /R 2 /Length 40",
        3: b"/V 2 /R 3 /Length 128",
        4: (
            b"/V 4 /R 4 /Length 128 /CF << /StdCF << " + cfm
            + b" /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
            + (b" /EncryptMetadata false" if nometa else b"")
        ),
    }[rev]
    objs[9] = (
        b"<< /Filter /Standard " + enc_head + b" /P -44 /O <"
        + o_entry.hex().encode() + b"> /U <" + u_entry.hex().encode()
        + b"> >>"
    )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
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
    info_ref = "/Info 8 0 R " if info is not None else ""
    out += (
        f"trailer\n<< /Size {n_obj} /Root 1 0 R /Encrypt 9 0 R "
        f"{info_ref}/ID [<{id0.hex()}> <{id0.hex()}>] >>\nstartxref\n"
        f"{xref_off}\n%%EOF\n".encode()
    )
    return bytes(out)


@query(
    "source_pdf_encrypted",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('epdf', 0)} AS b0,
             CASE {_b('epdf', 2)} % 3
               WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 4 END AS rev,
             md5(CAST(doc_id AS VARCHAR) || ':epdf') AS x
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
               'w' || substring(x, 4 * g + 1, 2) || ' locked w'
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
def q_source_pdf_encrypted(spark: SparkSession, sf: str) -> DataFrame:
    # OWNER-RESTRICTED PDFs (r11, widened r12) — most real 'encrypted'
    # PDFs carry an EMPTY user password (the owner password only
    # restricts printing/editing), and a pipeline that refuses them
    # all leaves that text on the table. The standard security
    # handler (ISO 32000 §7.6.3), ALL THREE shipping generations
    # rotating by doc: V1/R2 RC4-40, V2/R3 RC4-128 (iterated-MD5 key
    # derivation, 19-round /O and /U — the wild's default), V4/R4
    # /AESV2 AES-128-CBC crypt filters (pure-Python FIPS-197 core,
    # operators/aes.py). The matching /U check AUTHENTICATES the
    # empty password before any byte is trusted; per-object keys over
    # every stream (cipher applied outside FlateDecode — both filter
    # arms rotate). Every 5th doc carries a REAL user password: /U
    # verification fails (in whichever generation that doc's arm
    # selects) and the doc takes the marker row — extraction never
    # emits ciphertext. ``enc_rev`` is parsed back from the BLOB
    # BYTES (not replayed from doc_id), so a text match per arm
    # proves that generation's decrypt actually ran. One Arrow pass
    # through the same document_text dispatch.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([
                _synth_encrypted_pdf_blob(
                    int(i),
                    user_pw=b"secret" if int(i) % 5 == 4 else b"",
                )
                for i in ids
            ])

    # the blob-parsed revision rides INSIDE the id through the
    # document_text dispatch (the mbox-attachments id-encoding
    # pattern) — one Arrow pass, no self-join, no double synth
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
