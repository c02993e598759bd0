"""Round-12 queries — the crawl/corpus long tail the r11 verdict
ranked by real-world hit rate, plus the WAT-side completion tier:

- MP3 MPEG audio frame walk (`multimodal_audio_mp3_frames`): first
  frame header, Xing/Info frame count, VBRI fallback, CBR duration
  estimate — duration/bitrate parity with M4A/FLAC/ALAC (also the
  audio router's fallback arm);
- the WAT-side crawl tier: HTML outlink extraction
  (`pipeline_crawl_outlinks`), the host link-graph PageRank capstone
  (`pipeline_crawl_link_graph`), anchor text per link
  (`pipeline_crawl_anchor_text`) and per target
  (`pipeline_anchor_text_index`), the WAT writer roundtrip
  (`pipeline_wat_writer`), and frontier expansion
  (`pipeline_frontier_expand`);
- RTF text extraction (`source_rtf_text`) through document_text;
- EXIF-orientation-normalized perceptual hashing
  (`multimodal_image_orientation_dedup`) with planted
  rotated/mirrored duplicates;
- 7z container metadata (`archive_7z_meta`) and the 7z→documents
  capstone (`pipeline_7z_documents`);
- encrypted-PDF /Info metadata — the §7.6.2 STRING-decryption leg
  (`source_pdf_encrypted_metadata`);
- corpus text tier: readability-lite main-content extraction
  (`text_main_content`), script detection (`text_script_detect`),
  Unicode-normalized dedup keys (`text_nfc_dedup`).

Registered into the same QUERIES/ORACLE registry as the other query
modules; every entry carries an exact DuckDB oracle. Fresh module per
the regression discipline (new operators must not churn certified
modules)."""

from __future__ import annotations

import struct  # noqa: F401
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


# ---------------------------------------------------------------------------
# MP3 MPEG frame walk
# ---------------------------------------------------------------------------


def _synth_mp3_blob(i: int) -> bytes:
    """One deterministic MP3 from md5(doc:mp3f): MPEG version rotates
    1/2/2.5 (b0), layer III/II/I (b1), VBR arm Xing/VBRI/plain-CBR on
    layer III (b2; plain-CBR docs may instead carry LAME's 'Info' CBR
    tag, b9), bitrate index 6..11 (b3), sample-rate index (b4),
    channel mode incl. mono (b5), 3-6 frames (b6), optional leading
    ID3v2 tag (b7) and trailing ID3v1 'TAG' block (b8) that the
    duration math must exclude; b10 rotates the protection bit (CRC-16
    shifts the Xing offset by two — the real-file trap). The Xing arm
    varies the per-frame
    bitrate (the thing that MAKES it VBR); every other frame repeats
    the first header."""
    import hashlib

    b = hashlib.md5(f"{i}:mp3f".encode()).digest()
    ver = ("1", "2", "2.5")[b[0] % 3]
    layer = (3, 2, 1)[b[1] % 3]
    vbr_arm = (b[2] % 3) if layer == 3 else 0  # 0 plain, 1 xing, 2 vbri
    has_info = layer == 3 and vbr_arm == 0 and b[9] % 2 == 1
    br_idx = 6 + b[3] % 6
    sr_idx = b[4] % 3
    mode = b[5] % 4
    n = 3 + b[6] % 4
    prot = b[10] % 2  # 0 → CRC-16 protected (two bytes before side info)

    from hadoopxmlextractor_spark.operators import containers as C

    table = C._MP3_BR_V1 if ver == "1" else C._MP3_BR_V2
    sr = C._MP3_SR[ver][sr_idx]
    vid = {"1": 3, "2": 2, "2.5": 0}[ver]
    lid = {3: 1, 2: 2, 1: 3}[layer]

    def header(idx: int) -> bytes:
        return bytes([
            0xFF,
            0xE0 | (vid << 3) | (lid << 1) | prot,
            (idx << 4) | (sr_idx << 2),
            mode << 6,
        ])

    def flen(idx: int) -> int:
        return C._mp3_frame_len(ver, layer, table[layer][idx - 1], sr, 0)

    frames = []
    total = sum(
        flen(6 + (b[3] + j) % 6 if vbr_arm == 1 and j else br_idx)
        for j in range(n)
    )
    for j in range(n):
        idx = 6 + (b[3] + j) % 6 if vbr_arm == 1 and j else br_idx
        body = bytearray(header(idx))
        body += b"\xaa" * (flen(idx) - 4)
        crc_len = 0 if prot else 2
        if crc_len:
            body[4:6] = b"\xbe\xef"  # dummy CRC-16 (not validated)
        if j == 0:
            side = (
                (17 if mode == 3 else 32) if ver == "1"
                else (9 if mode == 3 else 17)
            )
            if vbr_arm == 1 or has_info:
                tag = b"Xing" if vbr_arm == 1 else b"Info"
                at = 4 + crc_len + side
                body[at : at + 16] = (
                    tag + struct.pack(">II", 3, n)
                    + struct.pack(">I", total)
                )
            elif vbr_arm == 2:
                at = 4 + 32
                body[at : at + 26] = (
                    b"VBRI" + struct.pack(">HHH", 1, 0, 80)
                    + struct.pack(">II", total, n) + b"\x00" * 8
                )
        frames.append(bytes(body))
    out = b""
    if b[7] % 2:
        tag_body = b"\x00" * 32
        out += b"ID3\x03\x00\x00" + C._syncsafe(len(tag_body)) + tag_body
    out += b"".join(frames)
    if b[8] % 2:
        out += b"TAG" + b"\x00" * 125
    return out


_MP3_SQL_ARMS = f"""
    WITH p AS (
      SELECT doc_id,
             (['1', '2', '2.5'])[1 + {_b('mp3f', 0)} % 3] AS ver,
             ([3, 2, 1])[1 + {_b('mp3f', 1)} % 3] AS layer,
             {_b('mp3f', 2)} % 3 AS vbr_raw,
             6 + {_b('mp3f', 3)} % 6 AS br_idx,
             {_b('mp3f', 4)} % 3 AS sr_idx,
             {_b('mp3f', 5)} % 4 AS mode,
             3 + {_b('mp3f', 6)} % 4 AS n,
             {_b('mp3f', 9)} % 2 AS info_raw
      FROM documents
    ),
    q AS (
      SELECT doc_id, ver, layer, br_idx, sr_idx, mode, n,
        CASE WHEN layer = 3 THEN vbr_raw ELSE 0 END AS vbr_arm,
        CASE WHEN layer = 3 AND vbr_raw = 0 AND info_raw = 1
             THEN 1 ELSE 0 END AS has_info,
        CASE WHEN ver = '1' THEN
          CASE layer
            WHEN 1 THEN ([32,64,96,128,160,192,224,256,288,320,352,
                          384,416,448])[br_idx]
            WHEN 2 THEN ([32,48,56,64,80,96,112,128,160,192,224,256,
                          320,384])[br_idx]
            ELSE ([32,40,48,56,64,80,96,112,128,160,192,224,256,
                   320])[br_idx] END
        ELSE
          CASE layer
            WHEN 1 THEN ([32,48,56,64,80,96,112,128,144,160,176,192,
                          224,256])[br_idx]
            ELSE ([8,16,24,32,40,48,56,64,80,96,112,128,144,
                   160])[br_idx] END
        END AS br,
        CASE ver WHEN '1' THEN ([44100, 48000, 32000])[1 + sr_idx]
                 WHEN '2' THEN ([22050, 24000, 16000])[1 + sr_idx]
                 ELSE ([11025, 12000, 8000])[1 + sr_idx] END AS sr
      FROM p
    ),
    r AS (
      SELECT *,
        CASE WHEN layer = 1 THEN 384 WHEN layer = 2 THEN 1152
             WHEN ver = '1' THEN 1152 ELSE 576 END AS spf,
        CASE WHEN layer = 1 THEN (12 * br * 1000 // sr) * 4
             WHEN layer = 2 OR ver = '1' THEN 144 * br * 1000 // sr
             ELSE 72 * br * 1000 // sr END AS flen
      FROM q
    )
"""


@query(
    "multimodal_audio_mp3_frames",
    _MP3_SQL_ARMS
    + """
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 12 THEN NULL ELSE ver END
             AS mpeg_version,
           CASE WHEN doc_id % 13 = 12 THEN NULL
                ELSE CAST(layer AS INT) END AS layer,
           CASE WHEN doc_id % 13 = 12 THEN NULL
                ELSE CAST(br AS INT) END AS bitrate_kbps,
           CASE WHEN doc_id % 13 = 12 THEN NULL
                ELSE CAST(sr AS INT) END AS sample_rate,
           CASE WHEN doc_id % 13 = 12 THEN NULL
                ELSE CAST(CASE WHEN mode = 3 THEN 1 ELSE 2 END AS INT)
                END AS channels,
           CASE WHEN doc_id % 13 = 12 THEN NULL
                WHEN vbr_arm = 1 THEN 'xing'
                WHEN vbr_arm = 2 THEN 'vbri'
                WHEN has_info = 1 THEN 'info' ELSE NULL END AS vbr_kind,
           CASE WHEN doc_id % 13 = 12 THEN NULL
                ELSE CAST(n AS BIGINT) END AS n_frames,
           CASE WHEN doc_id % 13 = 12 THEN NULL
                WHEN vbr_arm <> 0 OR has_info = 1
                  THEN CAST(n * spf * 1000 // sr AS BIGINT)
                ELSE CAST(n * flen * 8 // br AS BIGINT) END AS duration_ms
    FROM r
    """,
)
def q_multimodal_audio_mp3_frames(
    spark: SparkSession, sf: str
) -> DataFrame:
    # MP3 — the most common audio format in public corpora — was the
    # one container that could not report duration/bitrate (r11
    # verdict item 2). The frame walk reads the file HEAD only (ID3v2
    # skip → first MPEG frame header → Xing/Info/VBRI), plus the
    # fixed ID3v1 trailer for the CBR byte count: at 100 TB the
    # metadata pass must never decode audio. Arms rotate MPEG
    # 1/2/2.5 × layer I/II/III × {plain CBR, LAME Info, Xing VBR
    # (with genuinely varying per-frame bitrates), VBRI} × mono/
    # stereo × lead/trail tags; every 13th doc gets a broken sync →
    # the marker row. One Arrow pass, zero shuffles beyond the
    # id-only repartition.
    from hadoopxmlextractor_spark.operators import containers as C

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def decode(i):
        blob = _synth_mp3_blob(i)
        if i % 13 == 12:  # corrupt arm: sync byte broken
            at = 10 + C._unsyncsafe(blob[6:10]) if blob[:3] == b"ID3" else 0
            blob = blob[:at] + b"\x00" + blob[at + 1 :]
        info = C.mp3_frame_info(blob)
        return [{**info, "mpeg_version": info["version"]}]

    return blob_rows(
        docs, "doc_id", "doc_id", decode,
        "doc_id bigint, mpeg_version string, layer int, "
        "bitrate_kbps int, sample_rate int, channels int, "
        "vbr_kind string, n_frames bigint, duration_ms bigint",
        {},
    )


# ---------------------------------------------------------------------------
# HTML outlink extraction + host link graph (the WAT-side workload)
# ---------------------------------------------------------------------------


def _outlink_page(spark_side: bool):
    """(base_url Column, html Column) for the planted outlink page of
    each doc — every resolution class live: absolute, scheme-relative
    (uppercase tag, single quotes), absolute-with-tracking-junk
    (uppercase host, :443, trailing slash, utm, fragment),
    root-relative, relative, ``../`` parent, ``./`` same-dir,
    fragment-only + mailto: + javascript: (all dropped)."""
    did = F.col("doc_id")
    h = did % 7
    host = F.concat(F.lit("host"), h.cast("string"),
                    F.lit(".example.org"))
    base = F.concat(
        F.lit("https://"), host, F.lit("/dir/sub/page"),
        did.cast("string"), F.lit(".html"),
    )
    s = did.cast("string")

    def seg(m: int):
        return (did % m).cast("string")

    html = F.concat(
        F.lit("<html><body><p>page "), s, F.lit("</p>"),
        # A: absolute link to the hub host (always)
        F.lit('<a href="https://host0.example.org/hub/'), seg(50),
        F.lit('">hub '), seg(50), F.lit("</a>"),
        # B: scheme-relative, uppercase tag, single quotes (h odd)
        F.when(
            h % 2 == 1,
            F.concat(
                F.lit("<A HREF='//host"), ((h + 1) % 7).cast("string"),
                F.lit(".example.org/sr/"), seg(30), F.lit("'>x</A>"),
            ),
        ).otherwise(F.lit("")),
        # C: tracking-junk absolute (doc_id % 3 == 0)
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit('<a class="c" href="https://HOST'),
                ((h + 2) % 7).cast("string"),
                F.lit(".EXAMPLE.ORG:443/T"), seg(9),
                F.lit("/?utm_source=s&keep="), seg(5),
                F.lit('#frag">t</a>'),
            ),
        ).otherwise(F.lit("")),
        # D: root-relative (always)
        F.lit('<a href="/root/'), seg(20),
        F.lit('"> <b>root</b>  page '), seg(20), F.lit("</a>"),
        # E/F: relative vs parent-relative (by parity)
        F.when(
            did % 2 == 0,
            F.concat(F.lit('<a href="rel/'), seg(10),
                     F.lit('.html">rel</a>')),
        ).otherwise(
            F.concat(F.lit('<a href="../up/'), seg(10),
                     F.lit('">up</a>')),
        ),
        # J: ./ same-dir (doc_id % 5 == 0)
        F.when(
            did % 5 == 0,
            F.concat(F.lit('<a href="./here/'), seg(6),
                     F.lit('">dot</a>')),
        ).otherwise(F.lit("")),
        # dropped classes
        F.lit('<a href="#sec">self</a>'),
        F.when(did % 4 == 0, F.lit('<a href="mailto:a@b.c">m</a>'))
        .otherwise(F.lit("")),
        F.when(did % 4 == 1, F.lit('<a href="javascript:void(0)">j</a>'))
        .otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return base, html


_OUTLINK_ORACLE = """
    WITH p AS (
      SELECT doc_id, doc_id % 7 AS h FROM documents
    ),
    t AS (
      SELECT doc_id,
             'https://host0.example.org/hub/' || CAST(doc_id % 50 AS VARCHAR)
               AS target
      FROM p
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST((h + 1) % 7 AS VARCHAR)
               || '.example.org/sr/' || CAST(doc_id % 30 AS VARCHAR)
      FROM p WHERE h % 2 = 1
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST((h + 2) % 7 AS VARCHAR)
               || '.example.org/T' || CAST(doc_id % 9 AS VARCHAR)
               || '?keep=' || CAST(doc_id % 5 AS VARCHAR)
      FROM p WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST(h AS VARCHAR)
               || '.example.org/root/' || CAST(doc_id % 20 AS VARCHAR)
      FROM p
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST(h AS VARCHAR)
               || '.example.org/dir/sub/rel/'
               || CAST(doc_id % 10 AS VARCHAR) || '.html'
      FROM p WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST(h AS VARCHAR)
               || '.example.org/dir/up/' || CAST(doc_id % 10 AS VARCHAR)
      FROM p WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST(h AS VARCHAR)
               || '.example.org/dir/sub/here/'
               || CAST(doc_id % 6 AS VARCHAR)
      FROM p WHERE doc_id % 5 = 0
    )
    SELECT doc_id, target FROM t
"""


@query("pipeline_crawl_outlinks", _OUTLINK_ORACLE)
def q_pipeline_crawl_outlinks(spark: SparkSession, sf: str) -> DataFrame:
    # HTML OUTLINK EXTRACTION (r11 verdict item 4) — the WAT-side walk
    # the crawl tier was missing: <a href> values via one JVM
    # regexp_extract_all, RFC 3986-style resolution against the
    # capture URL (absolute / scheme-relative / root-relative /
    # relative / ../ / ./), then the existing canonical_url
    # normalization; fragment-only, mailto: and javascript:
    # references drop. The ENTIRE plan is JVM codegen — zero Python,
    # zero shuffles: at 100 TB this runs at WARC scan bandwidth.
    # Non-vacuity: every resolution class is live in the fixture and
    # the oracle replays each arm's expected canonical form — a
    # resolution bug in any class hash-mismatches.
    from hadoopxmlextractor_spark.operators import text as T

    docs = load(spark, sf, "documents")
    base, html = _outlink_page(True)
    pages = docs.select(
        "doc_id", base.alias("base_url"), html.alias("html")
    )
    links = pages.select(
        "doc_id", "base_url",
        F.explode(T.html_hrefs("html")).alias("href"),
    ).filter(
        # admission decided on the RAW href (cheap, pushdown-safe):
        # a predicate on the RESOLVED column would be pushed below
        # the projections with the whole expression chain textually
        # inlined into it (the Catalyst filter-duplication trap) —
        # one of the two r12 causes of the 64 KB codegen fallback
        (F.regexp_replace("href", r"#.*", "") != "")
        & (
            ~F.col("href").rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
            | F.col("href").rlike(r"^https?://")
        )
    )
    # staged projections: the single-Column resolve_url form blows
    # janino's 64 KB method limit and silently degrades to
    # interpreted evaluation (r12 find — see with_resolved_url)
    resolved = T.with_resolved_url(links, "base_url", "href", "target")
    return resolved.select("doc_id", "target")


def _linkgraph_pagerank_ctes(iterations: int = 5,
                             scale: int = 10**12) -> str:
    """Unrolled fixed-point PageRank replay over the PLANTED host
    graph (same integer arithmetic as operators.dedup.pagerank —
    floor division, fixed rounds — the dedup_graph_pagerank oracle
    pattern with host-string node ids)."""
    base = (15 * scale) // 100
    ctes = [
        """hosts AS (
      SELECT doc_id, doc_id % 7 AS h FROM documents
    ), e_raw AS (
      SELECT 'host' || CAST(h AS VARCHAR) || '.example.org' AS src,
             'host0.example.org' AS dst
      FROM hosts
      UNION ALL
      SELECT 'host' || CAST(h AS VARCHAR) || '.example.org',
             'host' || CAST((h + 1) % 7 AS VARCHAR) || '.example.org'
      FROM hosts WHERE h % 2 = 1
      UNION ALL
      SELECT 'host' || CAST(h AS VARCHAR) || '.example.org',
             'host' || CAST((h + 2) % 7 AS VARCHAR) || '.example.org'
      FROM hosts WHERE doc_id % 3 = 0
    ), pairs AS (
      SELECT DISTINCT src AS x, dst AS y FROM e_raw WHERE src <> dst
    ), edges AS (
      SELECT x, y FROM pairs UNION SELECT y, x FROM pairs
    ), deg AS (
      SELECT x, COUNT(*) AS d FROM edges GROUP BY x
    )""",
        f"r0 AS (SELECT x, d, CAST({scale} AS BIGINT) AS r FROM deg)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""r{k} AS (
      SELECT dg.x, dg.d,
             CAST({base} + (85 * s.s) // 100 AS BIGINT) AS r
      FROM deg dg
      JOIN (SELECT e.y AS x, SUM(p.r // p.d) AS s
            FROM edges e JOIN r{k - 1} p ON e.x = p.x
            GROUP BY e.y) s ON dg.x = s.x
    )"""
        )
    joined = ",\n    ".join(ctes)
    return (
        f"WITH {joined}\n"
        f"SELECT x AS host, CAST(d AS BIGINT) AS degree, r AS rank_fp\n"
        f"FROM r{iterations}"
    )


@query("pipeline_crawl_link_graph", _linkgraph_pagerank_ctes())
def q_pipeline_crawl_link_graph(spark: SparkSession, sf: str) -> DataFrame:
    # LINK-GRAPH CAPSTONE (outlinks -> host graph -> PageRank): the
    # canonical Common Crawl WAT workload, connecting the new outlink
    # walk to the existing fixed-point PageRank. The planted link
    # structure is deliberately SKEWED (every page links to the
    # host0 hub; odd hosts ring-link; every 3rd doc cross-links), so
    # ranks genuinely discriminate — a uniform circulant graph would
    # verify nothing (vacuous-check rule). Cross-host edges dedupe to
    # DISTINCT host pairs BEFORE the iterative stage, so PageRank
    # runs on the tiny host graph, never per-page rows — the 100 TB
    # plan: extraction at scan bandwidth, graph state O(hosts).
    from hadoopxmlextractor_spark.operators import dedup as D
    from hadoopxmlextractor_spark.operators import text as T

    docs = load(spark, sf, "documents")
    base, html = _outlink_page(True)
    pages = docs.select(base.alias("base_url"), html.alias("html"))
    links = pages.select(
        "base_url", F.explode(T.html_hrefs("html")).alias("href")
    ).filter(
        # cross-host candidates admitted on the RAW href (see
        # pipeline_crawl_outlinks: a predicate on a computed column
        # would re-inline the whole chain below the projections)
        F.col("href").rlike(r"^(https?:)?//")
    )
    resolved = T.with_resolved_url(
        links, "base_url", "href", "target"
    ).select(
        F.regexp_extract("base_url", "://([^/]+)", 1).alias("src"),
        F.regexp_extract(
            F.col("target"), "^https?://([^/]+)", 1
        ).alias("dst"),
    )
    # persist FIRST, then drop self-edges: the cache is a pushdown
    # barrier, so the src<>dst predicate runs over materialized
    # columns instead of being substituted down the staged chain
    all_pairs = resolved.distinct().persist()
    all_pairs.count()  # eager: pagerank's symmetrizing union reads twice
    pairs = all_pairs.filter(F.col("src") != F.col("dst"))
    ranks = D.pagerank(pairs, "src", "dst")
    all_pairs.unpersist()
    return ranks.select(
        F.col("doc_id").alias("host"), "degree", "rank_fp"
    )


# ---------------------------------------------------------------------------
# RTF text extraction
# ---------------------------------------------------------------------------


def _synth_rtf_blob(i: int) -> bytes:
    """One deterministic RTF from md5(doc:rtf) with EVERY kernel rule
    live: skipped metadata destinations carrying would-leak text
    (fonttbl/colortbl/{\\*\\generator}/{\\info\\title}), formatting
    words ignored, a bold group unwrapped, \\'e9 hex / \\uc1\\u252
    fallback-skip / \\uc0\\u8212 unicode arms (b1), \\line vs \\tab
    separators (b2), escaped braces, \\endash with its consumed
    space delimiter, 2-3 \\par paragraphs (b0). The %7==6 docs drop
    the closing brace — unbalanced groups must refuse."""
    import hashlib

    b = hashlib.md5(f"{i}:rtf".encode()).digest()
    x = hashlib.md5(f"{i}:rtf".encode()).hexdigest()
    n_par = 2 + b[0] % 2
    special = ("\\'e9", "\\uc1\\u252?", "\\uc0\\u8212 ")[b[1] % 3]
    sepcw = ("\\line ", "\\tab ")[b[2] % 2]
    out = [
        "{\\rtf1\\ansi\\ansicpg1252",
        "{\\fonttbl{\\f0 Times New Roman;}}",
        "{\\colortbl;\\red255\\green0\\blue0;}",
        f"{{\\*\\generator synth {i};}}",
        f"{{\\info{{\\title secret {x}}}}}",
        "\n",
    ]
    for p in range(n_par):
        a, c = x[4 * p : 4 * p + 2], x[4 * p + 2 : 4 * p + 4]
        if p == 0:
            out.append(
                f"{{\\b w{a}}} rtf {special}{sepcw}w{c}\\par\n"
            )
        else:
            out.append(f"w{a} \\{{mid\\}}\\endash w{c}\\par\n")
    out.append("}")
    blob = "".join(out).encode("latin-1")
    if i % 7 == 6:
        blob = blob[:-1]  # unbalanced → refusal arm
    return blob


@query(
    "source_rtf_text",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('rtf', 0)} % 2 AS n,
             {_b('rtf', 1)} % 3 AS ua, {_b('rtf', 2)} % 2 AS sp,
             md5(CAST(doc_id AS VARCHAR) || ':rtf') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS g, ua, sp, x
      FROM p, (VALUES (0), (1), (2)) g(g)
      WHERE g.g < n AND doc_id % 7 <> 6
    ),
    t AS (
      SELECT doc_id, n, g,
        CASE WHEN g = 0 THEN
          'w' || substring(x, 1, 2) || ' rtf ' ||
          CASE ua WHEN 0 THEN 'é' WHEN 1 THEN 'ü' ELSE '—' END ||
          CASE sp WHEN 0 THEN chr(10) ELSE chr(9) END ||
          'w' || substring(x, 3, 2)
        ELSE
          'w' || substring(x, 4 * g + 1, 2) || ' {{mid}}–w'
          || substring(x, 4 * g + 3, 2)
        END AS para
      FROM g
    ),
    txt AS (
      SELECT doc_id, n, string_agg(para, chr(10) ORDER BY g) AS text
      FROM t GROUP BY doc_id, n
    )
    SELECT doc_id, 'rtf' AS format, CAST(n AS INT) AS n_units, text
    FROM txt
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL FROM p WHERE doc_id % 7 = 6
    """,
)
def q_source_rtf_text(spark: SparkSession, sf: str) -> DataFrame:
    # RTF (r11 verdict item 3) — a real share of public document
    # dumps, now a thin leg on the document_text routing (the blob
    # self-identifies by its {\\rtf magic like every other format in
    # the dispatch). The extractor's group-stack tokenizer handles
    # \\uN+\\ucN unicode, \\'xx hex through the declared codepage,
    # ignorable {\\* and named metadata destinations (whose planted
    # would-leak text must NOT surface — the oracle hash catches any
    # leak), escaped braces, symbol words, and \\par paragraphs;
    # every 7th doc is group-unbalanced and takes the marker row.
    # One Arrow pass, same shape as source_odf_text.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _blob(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([_synth_rtf_blob(int(i)) for i in ids])

    ex = D.document_text(
        docs.select("doc_id", _blob("doc_id").alias("content"))
    )
    return ex.select("doc_id", "format", "n_units", "text")


# ---------------------------------------------------------------------------
# EXIF-orientation-normalized perceptual hashing
# ---------------------------------------------------------------------------


def _orient_group(i: int) -> tuple[int, int]:
    """(group_id, orientation 1-8) for doc i — 59 planted duplicate
    groups, each member storing the SAME displayed image under a
    different EXIF orientation."""
    return i % 59, 1 + (i // 59) % 8


def _synth_oriented_jpeg(i: int) -> bytes:
    """Lossless 8-bit gray JPEG whose stored pixels are the INVERSE
    orientation transform of the group's displayed base plane
    (md5(gid:orient)), carrying an APP1 EXIF tag with the matching
    orientation — the planted rotated/mirrored duplicate."""
    import hashlib

    import numpy as np

    from hadoopxmlextractor_spark.operators import multimodal as M
    from hadoopxmlextractor_spark.operators.jpeg import (
        encode_jpeg_lossless,
    )

    gid, o = _orient_group(i)
    plane = np.frombuffer(
        b"".join(
            hashlib.md5(f"{gid}:orient{k}".encode()).digest()
            for k in range(4)
        ),
        dtype=np.uint8,
    ).reshape(8, 8).astype(np.int64)
    stored = M.exif_orient_store(plane, o)
    enc = encode_jpeg_lossless(
        np.ascontiguousarray(stored), predictor=1 + i % 7, precision=8
    )
    app1 = M._encode_exif_app1(
        big_endian=(i % 2 == 1), orientation=o, make="synthcam",
        model=f"m{gid}", dt_original="2021:06:01 12:00:00",
        pixel_w=8, pixel_h=8, xres=(72, 1),
    )
    return enc[:2] + app1 + enc[2:]


def _orient_perm_values() -> str:
    """VALUES rows (o, p, q): stored row-major position p holds base
    (displayed) pixel q under orientation o — generated from the same
    deterministic transforms the synth uses (seeded-constants-as-
    literals oracle pattern); the transforms themselves are pinned to
    the EXIF spec by hand-written expected matrices in
    test_text_multimodal.py."""
    import numpy as np

    from hadoopxmlextractor_spark.operators import multimodal as M

    base_idx = np.arange(64).reshape(8, 8)
    rows = []
    for o in range(1, 9):
        stored = M.exif_orient_store(base_idx, o)
        for p, q in enumerate(stored.flatten()):
            rows.append(f"({o},{p},{int(q)})")
    return ", ".join(rows)


_ORIENT_LANES = ", ".join(
    f"({p}, " + (str(1 << p) if p < 63 else "(-9223372036854775807 - 1)")
    + ")"
    for p in range(64)
)


@query(
    "multimodal_image_orientation_dedup",
    f"""
    WITH d AS (
      SELECT doc_id, doc_id % 59 AS gid,
             1 + (doc_id // 59) % 8 AS o
      FROM documents
    ),
    lum AS (
      SELECT gid, (k * 16 + j) AS q,
             CAST(('0x' || substring(
               md5(CAST(gid AS VARCHAR) || ':orient' || CAST(k AS VARCHAR)),
               j * 2 + 1, 2)) AS BIGINT) AS g
      FROM (SELECT DISTINCT gid FROM d),
           (SELECT unnest(range(4)) AS k),
           (SELECT unnest(range(16)) AS j)
    ),
    mean AS (SELECT gid, SUM(g) // 64 AS m FROM lum GROUP BY gid),
    lanes(p, wt) AS (VALUES {_ORIENT_LANES}),
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
    """.replace("{{PERM}}", "{PERM}").format(PERM=_orient_perm_values()),
)
def q_multimodal_image_orientation_dedup(
    spark: SparkSession, sf: str
) -> DataFrame:
    # ORIENTATION-NORMALIZED PERCEPTUAL HASH (r11 verdict item 5):
    # jpeg_exif already extracted the orientation tag, but aHash
    # hashed raw stored pixels — rotated/mirrored re-encodes of one
    # photo hashed apart, silently defeating image dedup. Each of 59
    # planted groups stores ONE displayed image under all 8 EXIF
    # orientations (real decodable lossless JPEGs, APP1 inserted,
    # both TIFF byte orders); the kernel decodes, reads the tag,
    # applies the spec transform, and hashes both ways. The oracle
    # recomputes BOTH hashes (stored-position permutation replayed as
    # a VALUES table) and the per-group distinct counts: raw hashes
    # MUST differ across orientations (vacuous-check) while the
    # normalized hash collapses to one per group. Dedup then rides
    # the existing banded-hamming join like any other ahash column.
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
                gid, _ = _orient_group(i)
                blob = _synth_oriented_jpeg(i)
                img = decode_jpeg(blob)
                o = M.jpeg_exif(blob)["orientation"]
                rows.append({
                    "doc_id": i, "group_id": gid, "orientation": o,
                    "ahash_raw": M._ahash64(img),
                    "ahash_norm": M._ahash64(
                        M.exif_orient_normalize(img, o)
                    ),
                })
            yield pd.DataFrame(rows, columns=cols)

    per_doc = docs.select("doc_id").mapInPandas(
        _rows,
        schema="doc_id bigint, group_id bigint, orientation int, "
        "ahash_raw bigint, ahash_norm bigint",
    ).persist()
    # r14-opt (guide §5): per_doc feeds the group-stats aggregate AND
    # the final join — unpersisted, the JPEG synth→decode→hash kernel
    # ran TWICE (baseline plan: two MapInPandas over two scans). The
    # cache is 5 numeric columns per doc, dimension-sized at any
    # scale. Eager count per the AQE race rule.
    per_doc.count()
    gstats = per_doc.groupBy("group_id").agg(
        F.countDistinct("ahash_raw").alias("n_raw_distinct"),
        F.countDistinct("ahash_norm").alias("n_norm_distinct"),
    )
    return per_doc.join(F.broadcast(gstats), "group_id").select(
        "doc_id", "group_id", "orientation", "ahash_raw", "ahash_norm",
        "n_raw_distinct", "n_norm_distinct",
    )


# ---------------------------------------------------------------------------
# 7z container metadata
# ---------------------------------------------------------------------------


SEVENZIP_SCHEMA = (
    "doc_id bigint, member_idx int, name string, method string, "
    "size bigint, crc_ok int, head string"
)


def _sevenzip_rows(
    blob: bytes, *, password: str | None = None, verified_head: bool = False
) -> list[dict]:
    """``SEVENZIP_SCHEMA`` rows (without doc_id) of a 7z archive's
    members; ``verified_head`` hides the head of a member whose CRC
    fails (unverified plaintext is never surfaced)."""
    from hadoopxmlextractor_spark.operators import documents as D

    return [
        {
            "member_idx": k, "name": m["name"], "method": m["method"],
            "size": m["size"], "crc_ok": m["crc_ok"],
            "head": None if verified_head and m["crc_ok"] is False else m["head"],
        }
        for k, m in enumerate(D.sevenzip_members(blob, password=password))
    ]


def _synth_7z_blob(i: int) -> bytes:
    """One deterministic 7z from md5(doc:7z): 2-4 members (b0),
    member 0 always Copy (the corruption arm flips its first payload
    byte to 'X' — CRC must fail while decode still runs), methods
    rotating copy/LZMA1/LZMA2 for the rest (b2), repeat counts (b3),
    a unicode name on member 1 (UTF-16LE kName proof), an optional
    EmptyStream member (b1). Every 13th doc truncates the header —
    the CRC-validated walk must refuse."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:7z".encode()).digest()
    x = hashlib.md5(f"{i}:7z".encode()).hexdigest()
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
    blob = bytearray(D.build_7z(members))
    if i % 11 == 10:
        blob[32] = ord("X")  # corrupt member 0's Copy payload
    if i % 13 == 12:
        blob = blob[:-5]  # truncated header → refusal arm
    return bytes(blob)


@query(
    "archive_7z_meta",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('7z', 0)} % 3 AS n,
             {_b('7z', 1)} % 2 AS has_empty,
             {_b('7z', 2)} AS b2, {_b('7z', 3)} AS b3,
             md5(CAST(doc_id AS VARCHAR) || ':7z') AS x
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
             CAST(CASE WHEN m = 0 AND doc_id % 11 = 10 THEN 0
                  ELSE 1 END AS INT) AS crc_ok,
             CASE WHEN m = 0 AND doc_id % 11 = 10
                  THEN 'X' || substring(content, 2, 15)
                  ELSE substring(content, 1, 16) END AS head
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
def q_archive_7z_meta(spark: SparkSession, sf: str) -> DataFrame:
    # 7z (r11 verdict item 6) — a routine wrapper for public dumps
    # the archive tier couldn't open beside ZIP/ZIP64/TAR/gz/bz2/xz.
    # sevenzip_members verifies BOTH header CRC32s before trusting a
    # field, walks PackInfo/UnpackInfo/FilesInfo (7z variable-length
    # numbers, UTF-16LE names, EmptyStream bit vector), and decodes
    # payloads through stdlib lzma raw streams (an INDEPENDENT
    # decoder — the container writer never touches the codec), with
    # per-member CRC over the actually-decoded bytes: the corruption
    # arm must report crc_ok FALSE with the corrupted head bytes, and
    # truncated headers refuse to the marker row. One Arrow pass;
    # per-blob work only, ids-only shuffle — the same 100 TB shape as
    # the rest of the document tier.
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    return blob_rows(
        docs, "doc_id", "doc_id",
        lambda i: _sevenzip_rows(_synth_7z_blob(i)),
        SEVENZIP_SCHEMA, {"member_idx": -1},
    )


# ---------------------------------------------------------------------------
# Encrypted-PDF metadata (the §7.6.2 STRING-decryption leg, end-to-end)
# ---------------------------------------------------------------------------


@query(
    "source_pdf_encrypted_metadata",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('epdf', 4)} % 2 AS ta,
             md5(CAST(doc_id AS VARCHAR) || ':epdf') AS x
      FROM documents
    )
    SELECT doc_id, TRUE AS decrypted,
           CASE ta WHEN 0 THEN 'Résumé ' || substring(x, 1, 6)
                   ELSE 'Étude 中文 ' || substring(x, 1, 4) END AS title,
           'auteur ' || substring(x, 7, 4) AS author
    FROM p WHERE doc_id % 5 <> 4
    UNION ALL
    SELECT doc_id, FALSE, NULL, NULL FROM p WHERE doc_id % 5 = 4
    """,
)
def q_source_pdf_encrypted_metadata(
    spark: SparkSession, sf: str
) -> DataFrame:
    # §7.6.2 names STRINGS and STREAMS as the two encrypted payload
    # classes; r12 made _pdf_decrypt_objects decrypt both. This query
    # drives the STRING leg end-to-end through the driver oracle: the
    # /Info walk over owner-restricted PDFs (R2/R3/R4 rotating, same
    # arms as source_pdf_encrypted) must surface the DECRYPTED
    # /Title and /Author — including the BOM-led UTF-16BE title arm,
    # whose ciphertext is binary garbage if any byte of the per-
    # object key path is wrong. Real-password docs refuse to the
    # all-NULL row (decrypted FALSE — derived, never a nullable
    # boolean).
    from hadoopxmlextractor_spark.operators import documents as D
    from hadoopxmlextractor_spark.queries_r11 import (
        _synth_encrypted_pdf_blob,
    )

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
                b = hashlib.md5(f"{i}:epdf".encode()).digest()
                x = hashlib.md5(f"{i}:epdf".encode()).hexdigest()
                title = (
                    f"Résumé {x[:6]}" if b[4] % 2 == 0
                    else f"Étude 中文 {x[:4]}"
                )
                out.append(_synth_encrypted_pdf_blob(
                    i,
                    user_pw=b"secret" if i % 5 == 4 else b"",
                    info=(title, f"auteur {x[6:10]}"),
                ))
            yield pd.Series(out)

    meta = D.pdf_metadata(
        docs.select("doc_id", _blob("doc_id").alias("content"))
    )
    return meta.select(
        "doc_id",
        F.col("has_info").isNotNull().alias("decrypted"),
        "title",
        "author",
    )


# ---------------------------------------------------------------------------
# Anchor text (the WAT retrieval signal) + the per-target anchor index
# ---------------------------------------------------------------------------

_ANCHOR_ARMS_SQL = """
    WITH p AS (
      SELECT doc_id, doc_id % 7 AS h FROM documents
    ),
    t AS (
      SELECT doc_id,
             'https://host0.example.org/hub/' || CAST(doc_id % 50 AS VARCHAR)
               AS target,
             'hub ' || CAST(doc_id % 50 AS VARCHAR) AS anchor
      FROM p
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST((h + 1) % 7 AS VARCHAR)
               || '.example.org/sr/' || CAST(doc_id % 30 AS VARCHAR), 'x'
      FROM p WHERE h % 2 = 1
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST((h + 2) % 7 AS VARCHAR)
               || '.example.org/T' || CAST(doc_id % 9 AS VARCHAR)
               || '?keep=' || CAST(doc_id % 5 AS VARCHAR), 't'
      FROM p WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST(h AS VARCHAR)
               || '.example.org/root/' || CAST(doc_id % 20 AS VARCHAR),
             'root page ' || CAST(doc_id % 20 AS VARCHAR)
      FROM p
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST(h AS VARCHAR)
               || '.example.org/dir/sub/rel/'
               || CAST(doc_id % 10 AS VARCHAR) || '.html', 'rel'
      FROM p WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST(h AS VARCHAR)
               || '.example.org/dir/up/' || CAST(doc_id % 10 AS VARCHAR),
             'up'
      FROM p WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id,
             'https://host' || CAST(h AS VARCHAR)
               || '.example.org/dir/sub/here/'
               || CAST(doc_id % 6 AS VARCHAR), 'dot'
      FROM p WHERE doc_id % 5 = 0
    )
"""


def _anchor_rows(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, target, anchor) over the planted outlink pages —
    shared by the per-link query and the per-target index."""
    from hadoopxmlextractor_spark.operators import text as T

    docs = load(spark, sf, "documents")
    base, html = _outlink_page(True)
    pages = docs.select(
        "doc_id", base.alias("base_url"), html.alias("html")
    )
    hrefs, texts = T.html_anchors("html")
    links = pages.select(
        "doc_id", "base_url",
        F.explode(F.arrays_zip(hrefs.alias("href"), texts.alias("raw")))
        .alias("lnk"),
    ).select(
        "doc_id", "base_url",
        F.col("lnk.href").alias("href"),
        F.col("lnk.raw").alias("raw"),
    ).filter(
        # admission on the RAW href (pushdown-safe — the r12 64 KB rule)
        (F.regexp_replace("href", r"#.*", "") != "")
        & (
            ~F.col("href").rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
            | F.col("href").rlike(r"^https?://")
        )
    )
    return T.with_resolved_url(links, "base_url", "href", "target").select(
        "doc_id", "target", T.anchor_text("raw").alias("anchor")
    )


@query(
    "pipeline_crawl_anchor_text",
    _ANCHOR_ARMS_SQL + "SELECT doc_id, target, anchor FROM t",
)
def q_pipeline_crawl_anchor_text(
    spark: SparkSession, sf: str
) -> DataFrame:
    # ANCHOR TEXT — the WAT tier's retrieval signal (how the web
    # describes a page). hrefs and anchor markups come from ONE
    # regexp (index-aligned arrays_zip, so they cannot skew); the
    # tag-strip/whitespace cleanup runs as a POST-explode scalar
    # projection (a higher-order transform lambda would drop the
    # whole span out of codegen — CLAUDE.md rule). Same admission
    # and staged resolution as pipeline_crawl_outlinks; the nested
    # <b> markup and double spaces in the planted root anchors keep
    # the cleanup honest.
    return _anchor_rows(spark, sf)


@query(
    "pipeline_anchor_text_index",
    _ANCHOR_ARMS_SQL + """
    SELECT target, CAST(COUNT(*) AS BIGINT) AS n_refs,
           CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_anchors,
           string_agg(DISTINCT anchor, '|' ORDER BY anchor) AS anchors
    FROM t GROUP BY target
    """,
)
def q_pipeline_anchor_text_index(
    spark: SparkSession, sf: str
) -> DataFrame:
    # The per-TARGET anchor index: every anchor text the crawl uses
    # for one canonical URL, aggregated — the join side a retrieval
    # pipeline feeds into BM25/embedding indexing next to the page's
    # own text. One uniform-key groupBy on the canonical target
    # (the dedup_exact shape); anchors dedup inside the group via
    # collect_set, sorted for a deterministic hash.
    rows = _anchor_rows(spark, sf)
    return rows.groupBy("target").agg(
        F.count(F.lit(1)).cast("long").alias("n_refs"),
        F.size(F.collect_set("anchor")).cast("long").alias("n_anchors"),
        F.array_join(F.sort_array(F.collect_set("anchor")), "|")
        .alias("anchors"),
    )


# ---------------------------------------------------------------------------
# WAT writer — the metadata side of the WARC/WET/WAT triple
# ---------------------------------------------------------------------------


@query(
    "pipeline_wat_writer",
    """
    WITH p AS (
      SELECT doc_id, doc_id % 7 AS h,
             md5(CAST(doc_id AS VARCHAR) || ':wat') AS x
      FROM documents
    )
    SELECT doc_id, 'metadata' AS warc_type,
           '<urn:resp:' || CAST(doc_id AS VARCHAR) || '>' AS refers_to,
           'https://host' || CAST(h AS VARCHAR) || '.example.org/p/'
             || CAST(doc_id AS VARCHAR) AS target_uri,
           'Page ' || CAST(doc_id AS VARCHAR) || ' '
             || substring(x, 1, 4) AS title,
           CAST(2 + doc_id % 2 AS BIGINT) AS n_links,
           'https://host' || CAST((h + 1) % 7 AS VARCHAR)
             || '.example.org/a/' || CAST(doc_id % 9 AS VARCHAR)
             AS first_link_url,
           'first ' || CAST(doc_id % 9 AS VARCHAR) AS first_link_text,
           'https://host' || CAST(h AS VARCHAR) || '.example.org/rel/'
             || CAST(doc_id % 5 AS VARCHAR) AS second_link_url
    FROM p
    """,
)
def q_pipeline_wat_writer(spark: SparkSession, sf: str) -> DataFrame:
    # WAT GENERATION (write side) — the metadata sibling of
    # pipeline_wet_writer, completing the WARC/WET/WAT triple a
    # Common Crawl-style pipeline ships: per response record, a
    # 'metadata' record whose payload is canonical JSON (sorted keys,
    # compact separators — deterministic bytes) carrying the
    # WARC-Header-Metadata envelope plus HTML-Metadata (head title +
    # the resolved outlink list with anchor texts, extracted with the
    # same public regexes as the JVM operators). The query WRITES the
    # WAT file, re-parses it, json-decodes each payload, and reports
    # fields FROM THE ROUNDTRIP — a writer bug anywhere in the chain
    # hash-mismatches. Per-file work only; ids-only repartition.
    import hashlib
    import json
    import re as _re
    from urllib.parse import urljoin

    from hadoopxmlextractor_spark.operators import text as T
    from hadoopxmlextractor_spark.sources import warc as W

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    href_re = _re.compile(T._ANCHOR_RE, _re.I | _re.S)

    def _rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "warc_type", "refers_to", "target_uri",
                "title", "n_links", "first_link_url", "first_link_text",
                "second_link_url"]
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                h = i % 7
                x = hashlib.md5(f"{i}:wat".encode()).hexdigest()
                uri = f"https://host{h}.example.org/p/{i}"
                title = f"Page {i} {x[:4]}"
                anchors = [
                    (
                        f"https://host{(h + 1) % 7}.example.org/a/{i % 9}",
                        f"first {i % 9}",
                    ),
                    (f"/rel/{i % 5}", "second"),
                ]
                if i % 2:
                    anchors.append((f"//host{(h + 2) % 7}.example.org"
                                    f"/s/{i % 4}", "third"))
                body = "".join(
                    f'<a href="{u}">{t}</a>' for u, t in anchors
                )
                html = (
                    f"<html><head><title>{title}</title></head>"
                    f"<body>{body}</body></html>"
                )
                # build the crawl response, then its WAT record
                resp = {
                    "warc_type": "response",
                    "record_id": f"<urn:resp:{i}>",
                    "target_uri": uri,
                    "content_type": "application/http; msgtype=response",
                    "payload": (
                        b"HTTP/1.1 200 OK\r\nContent-Type: text/html"
                        b"\r\n\r\n" + html.encode()
                    ),
                }
                crawl = W.write_warc([resp], gzip_members=(i % 2 == 0))
                wat_records = []
                for r in W.parse_warc(crawl):
                    if r["warc_type"] != "response":
                        continue
                    _s, _e, _hd, page = W.decode_http_html(r["payload"])
                    links = [
                        {
                            "path": "A@/href",
                            "url": urljoin(r["target_uri"], m.group(1)),
                            "text": _re.sub(
                                r"\s+", " ",
                                _re.sub(r"<[^>]*>", " ", m.group(2)),
                            ).strip(),
                        }
                        for m in href_re.finditer(page)
                    ]
                    tm = _re.search(
                        r"<title>(.*?)</title>", page, _re.I | _re.S
                    )
                    env = {
                        "Envelope": {
                            "WARC-Header-Metadata": {
                                "WARC-Target-URI": r["target_uri"],
                                "WARC-Type": r["warc_type"],
                            },
                            "Payload-Metadata": {
                                "HTTP-Response-Metadata": {
                                    "HTML-Metadata": {
                                        "Head": {
                                            "Title": tm.group(1)
                                            if tm else None,
                                        },
                                        "Links": links,
                                    },
                                },
                            },
                        },
                    }
                    wat_records.append({
                        "warc_type": "metadata",
                        "record_id": f"<urn:wat:{i}>",
                        "target_uri": r["target_uri"],
                        "refers_to": r["record_id"],
                        "content_type": "application/json",
                        "payload": json.dumps(
                            env, sort_keys=True, separators=(",", ":")
                        ).encode(),
                    })
                wat = W.write_warc(wat_records, gzip_members=(i % 2 == 1))
                for r in W.parse_warc(wat):  # the roundtrip proof
                    meta = json.loads(r["payload"].decode())
                    hm = meta["Envelope"]["Payload-Metadata"][
                        "HTTP-Response-Metadata"]["HTML-Metadata"]
                    rows.append({
                        "doc_id": i,
                        "warc_type": r["warc_type"],
                        "refers_to": r["refers_to"],
                        "target_uri": r["target_uri"],
                        "title": hm["Head"]["Title"],
                        "n_links": len(hm["Links"]),
                        "first_link_url": hm["Links"][0]["url"],
                        "first_link_text": hm["Links"][0]["text"],
                        "second_link_url": hm["Links"][1]["url"],
                    })
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("doc_id").mapInPandas(
        _rows,
        schema="doc_id bigint, warc_type string, refers_to string, "
        "target_uri string, title string, n_links bigint, "
        "first_link_url string, first_link_text string, "
        "second_link_url string",
    )


# ---------------------------------------------------------------------------
# Script detection + Unicode-normalized dedup keys
# ---------------------------------------------------------------------------

_SCRIPT_PHRASES = [
    ("latin", "quick brown fox"),
    ("cjk", "中文数据处理"),
    ("cyrillic", "русский текст"),
    ("greek", "ελληνικά κείμενα"),
    ("arabic", "العربية نص"),
]


@query(
    "text_script_detect",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('scrp', 0)} % 5 AS s, 1 + {_b('scrp', 1)} % 3 AS r,
             md5(CAST(doc_id AS VARCHAR) || ':scrp') AS x
      FROM documents
    ),
    t AS (
      SELECT doc_id,
        'w' || substring(x, 1, 4) || ' ' || repeat(
          CASE s WHEN 0 THEN 'quick brown fox '
                 WHEN 1 THEN '中文数据处理 '
                 WHEN 2 THEN 'русский текст '
                 WHEN 3 THEN 'ελληνικά κείμενα '
                 ELSE 'العربية نص ' END, r) || 'tail' AS txt
      FROM p
    )
    SELECT doc_id,
      CAST(length(txt) - length(regexp_replace(txt, '[A-Za-z]', '', 'g'))
        AS BIGINT) AS n_latin,
      CAST(length(txt) - length(regexp_replace(txt, '[一-鿿]', '', 'g'))
        AS BIGINT) AS n_cjk,
      CAST(length(txt) - length(regexp_replace(txt, '[Ѐ-ӿ]', '', 'g'))
        AS BIGINT) AS n_cyrillic,
      CAST(length(txt) - length(regexp_replace(txt, '[Ͱ-Ͽ]', '', 'g'))
        AS BIGINT) AS n_greek,
      CAST(length(txt) - length(regexp_replace(txt, '[؀-ۿ]', '', 'g'))
        AS BIGINT) AS n_arabic,
      CASE
        WHEN length(txt) - length(regexp_replace(txt, '[一-鿿]', '', 'g'))
             > length(txt) - length(regexp_replace(txt, '[A-Za-z]', '', 'g'))
             THEN 'cjk'
        WHEN length(txt) - length(regexp_replace(txt, '[Ѐ-ӿ]', '', 'g'))
             > length(txt) - length(regexp_replace(txt, '[A-Za-z]', '', 'g'))
             THEN 'cyrillic'
        WHEN length(txt) - length(regexp_replace(txt, '[Ͱ-Ͽ]', '', 'g'))
             > length(txt) - length(regexp_replace(txt, '[A-Za-z]', '', 'g'))
             THEN 'greek'
        WHEN length(txt) - length(regexp_replace(txt, '[؀-ۿ]', '', 'g'))
             > length(txt) - length(regexp_replace(txt, '[A-Za-z]', '', 'g'))
             THEN 'arabic'
        ELSE 'latin' END AS dominant_script
    FROM t
    """,
)
def q_text_script_detect(spark: SparkSession, sf: str) -> DataFrame:
    # SCRIPT DETECTION — exact per-script character counts (literal
    # character ranges, portable between Java regex and RE2) and the
    # argmax script: the signal a multilingual router applies BEFORE
    # any model-based language ID, and the one that catches
    # mixed-script homoglyph spam. Pure JVM length-difference
    # arithmetic at scan bandwidth; the planted text mixes a Latin
    # salt + repeated primary-script phrases so every class and the
    # tie-break are live. NOTE the oracle computes dominance with the
    # same comparisons — non-Latin scripts win exactly when their
    # count exceeds the ever-present Latin salt.
    from hadoopxmlextractor_spark.operators import text as T

    docs = load(spark, sf, "documents")

    @F.pandas_udf("string")
    def _txt(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib

        for ids in it:
            out = []
            for i in ids:
                i = int(i)
                b = hashlib.md5(f"{i}:scrp".encode()).digest()
                x = hashlib.md5(f"{i}:scrp".encode()).hexdigest()
                phrase = _SCRIPT_PHRASES[b[0] % 5][1]
                out.append(
                    f"w{x[:4]} " + (phrase + " ") * (1 + b[1] % 3)
                    + "tail"
                )
            yield pd.Series(out)

    t = docs.select("doc_id", _txt("doc_id").alias("txt"))
    counts = T.script_counts("txt")
    return t.select(
        "doc_id",
        counts["latin"].alias("n_latin"),
        counts["cjk"].alias("n_cjk"),
        counts["cyrillic"].alias("n_cyrillic"),
        counts["greek"].alias("n_greek"),
        counts["arabic"].alias("n_arabic"),
        T.dominant_script("txt").alias("dominant_script"),
    )


@query(
    "text_nfc_dedup",
    """
    WITH d AS (
      SELECT doc_id, doc_id % 97 AS g, (doc_id // 97) % 3 AS v,
             md5(CAST(doc_id % 97 AS VARCHAR) || ':nfc') AS x
      FROM documents
    ),
    t AS (
      SELECT g,
        'caf' || CASE WHEN v = 0 THEN 'é' ELSE 'e' || chr(769) END
        || ' na' || CASE WHEN v = 2 THEN 'i' || chr(776) ELSE 'ï' END
        || 've ' || substring(x, 1, 4) AS raw,
        'café naïve ' || substring(x, 1, 4) AS norm
      FROM d
    )
    SELECT g AS group_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_raw_distinct,
           CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_norm_distinct,
           MIN(norm) AS norm_text
    FROM t GROUP BY g
    """,
)
def q_text_nfc_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # UNICODE-NORMALIZED DEDUP KEYS — composed 'é' (U+00E9) and
    # decomposed 'e'+U+0301 are different byte strings for the same
    # text: un-normalized exact dedup keeps both and un-normalized
    # groupBy keys split. 97 planted groups each carry the same text
    # under three composition states (all-composed / one decomposed /
    # both decomposed); the kernel NFC-normalizes (unicodedata via an
    # Arrow pandas UDF) and the group stats prove it: raw strings
    # stay distinct (vacuous-check — the variants really differ)
    # while normalized strings collapse to ONE per group, whose
    # composed form the oracle replays as a literal.
    from hadoopxmlextractor_spark.operators import text as T

    docs = load(spark, sf, "documents")

    @F.pandas_udf("string")
    def _raw(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib

        for ids in it:
            out = []
            for i in ids:
                i = int(i)
                g, v = i % 97, (i // 97) % 3
                x = hashlib.md5(f"{g}:nfc".encode()).hexdigest()
                e = "\u00e9" if v == 0 else "e\u0301"
                ii = "i\u0308" if v == 2 else "\u00ef"
                out.append(f"caf{e} na{ii}ve {x[:4]}")
            yield pd.Series(out)

    t = docs.select(
        (F.col("doc_id") % 97).alias("group_id"),
        _raw("doc_id").alias("raw"),
    ).withColumn("norm", T.unicode_normalize("raw", "NFC"))
    return t.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("raw").cast("long").alias("n_raw_distinct"),
        F.countDistinct("norm").cast("long").alias("n_norm_distinct"),
        F.min("norm").alias("norm_text"),
    )


# ---------------------------------------------------------------------------
# Main-content extraction (readability-lite boilerplate removal)
# ---------------------------------------------------------------------------


def _synth_main_content_page(i: int) -> str:
    """Planted page: head title (every 9th doc h1-only), header/nav/
    aside/footer boilerplate with would-leak text, a script block, an
    <article> (or bare-body fallback, b0) holding 1-2 content
    paragraphs (b1), one link-dominated paragraph, and one empty
    paragraph — every rule live."""
    import hashlib

    b = hashlib.md5(f"{i}:mainc".encode()).digest()
    x = hashlib.md5(f"{i}:mainc".encode()).hexdigest()
    n_keep = 1 + b[1] % 2
    ps = "".join(
        f"<p>w{x[4 * k : 4 * k + 2]} body text "
        f"w{x[4 * k + 2 : 4 * k + 4]} sentence</p>"
        for k in range(n_keep)
    )
    ps += '<p><a href="#">click here to subscribe</a> w</p><p>  </p>'
    head = (
        f"<h1>Heading {x[:4]}</h1>" if i % 9 == 8
        else f"<title>Doc {i} {x[:4]}</title>"
    )
    body = f"<article>{ps}</article>" if b[0] % 2 else ps
    return (
        f"<html><head>{head}<script>leak()</script></head><body>"
        f"<header><p>SiteName Menu leak</p></header>"
        f"<nav><p>home about leak</p></nav>"
        f"{body}"
        f"<aside><p>ads leak {x}</p></aside>"
        f"<footer><p>copyright leak</p></footer>"
        f"<!-- comment leak --></body></html>"
    )


@query(
    "text_main_content",
    f"""
    WITH p AS (
      SELECT doc_id, 1 + {_b('mainc', 1)} % 2 AS n,
             md5(CAST(doc_id AS VARCHAR) || ':mainc') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS g, x
      FROM p, (VALUES (0), (1)) g(g) WHERE g.g < n
    ),
    txt AS (
      SELECT doc_id, n,
             string_agg(
               'w' || substring(x, 4 * g + 1, 2) || ' body text w'
                 || substring(x, 4 * g + 3, 2) || ' sentence',
               chr(10) ORDER BY g) AS text
      FROM g GROUP BY doc_id, n
    )
    SELECT t.doc_id,
           CASE WHEN t.doc_id % 9 = 8
                THEN 'Heading ' || substring(p.x, 1, 4)
                ELSE 'Doc ' || CAST(t.doc_id AS VARCHAR) || ' '
                     || substring(p.x, 1, 4) END AS title,
           CAST(t.n AS INT) AS n_paragraphs, t.text
    FROM txt t JOIN p ON p.doc_id = t.doc_id
    """,
)
def q_text_main_content(spark: SparkSession, sf: str) -> DataFrame:
    # MAIN-CONTENT EXTRACTION (readability-lite) — the boilerplate
    # removal every crawled-HTML corpus runs before quality scoring
    # and dedup: scripts/comments stripped, nav/header/footer/aside
    # dropped whole (their planted would-leak text hash-mismatches if
    # any survives), <article> scoping with the bare-body fallback
    # rotating, link-dominated paragraphs dropped by INTEGER
    # link-density arithmetic, empty paragraphs dropped, title from
    # <title> or the h1 fallback (every 9th doc). One Arrow pass.
    from hadoopxmlextractor_spark.operators import text as T

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def _rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "title", "n_paragraphs", "text"]
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                title, n, text = T.main_content(
                    _synth_main_content_page(i)
                )
                rows.append({
                    "doc_id": i, "title": title,
                    "n_paragraphs": n, "text": text,
                })
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("doc_id").mapInPandas(
        _rows,
        schema="doc_id bigint, title string, n_paragraphs int, "
        "text string",
    )


# ---------------------------------------------------------------------------
# 7z → document-tier capstone
# ---------------------------------------------------------------------------


@query(
    "pipeline_7z_documents",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('7zd', 0)} AS b0, {_b('7zd', 1)} AS b1,
             {_b('7zd', 2)} % 2 AS has_rtf,
             md5(CAST(doc_id AS VARCHAR) || ':7zd') AS x
      FROM documents
    ),
    m AS (
      SELECT doc_id, g.g AS k, b0, b1, x,
             CASE g.g WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
                      ELSE 'rtf' END AS fmt
      FROM p, (VALUES (0), (1), (2)) g(g)
      WHERE g.g < 2 + has_rtf
    ),
    u AS (
      SELECT doc_id, k, fmt, 1 + (b0 + k) % 2 AS n, g.g AS un, x
      FROM m, (VALUES (0), (1)) g(g)
      WHERE g.g < 1 + (b0 + k) % 2
    ),
    txt AS (
      SELECT doc_id, k, fmt, n,
             string_agg(
               'w' || substring(x, 8 * k + 4 * un + 1, 2) || ' seven w'
                 || substring(x, 8 * k + 4 * un + 3, 2),
               chr(10) ORDER BY un) AS text
      FROM u GROUP BY doc_id, k, fmt, n
    )
    SELECT doc_id, CAST(k AS INT) AS member_idx, fmt AS format,
           CAST(n AS INT) AS n_units, text
    FROM txt
    """,
)
def q_pipeline_7z_documents(spark: SparkSession, sf: str) -> DataFrame:
    # 7z → DOCUMENT-TIER CAPSTONE: archives carrying PDFs, DOCX, and
    # RTF members (methods rotating copy/LZMA1/LZMA2 per member) are
    # opened by the CRC-validated 7z walk, each decoded member rides
    # the mbox-attachments id-encoding through the document_text
    # magic dispatch, and the extracted text must equal the planted
    # units — composing two r12 features (7z decode, RTF routing)
    # with the certified document tier, exactly how email- and
    # dump-borne documents reach a corpus. One Arrow pass per stage,
    # ids-only shuffle.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def _archives(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import hashlib

        cols = ["aid", "content"]
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                b = hashlib.md5(f"{i}:7zd".encode()).digest()
                x = hashlib.md5(f"{i}:7zd".encode()).hexdigest()
                members = []
                n_members = 2 + b[2] % 2
                for k in range(n_members):
                    units = [
                        f"w{x[8 * k + 4 * u : 8 * k + 4 * u + 2]} seven "
                        f"w{x[8 * k + 4 * u + 2 : 8 * k + 4 * u + 4]}"
                        for u in range(1 + (b[0] + k) % 2)
                    ]
                    if k == 0:
                        blob = D.synth_text_document(
                            "pdf", units, flate=bool(b[1] % 2)
                        )
                        name = f"doc{i}.pdf"
                    elif k == 1:
                        blob = D.synth_text_document(
                            "docx", units, flate=True
                        )
                        name = f"doc{i}.docx"
                    else:
                        blob = (
                            "{\\rtf1\\ansi "
                            + "\\par\n".join(units) + "\\par}"
                        ).encode("latin-1")
                        name = f"doc{i}.rtf"
                    method = ("copy", "lzma", "lzma2")[(b[3] + k) % 3]
                    members.append((name, blob, method))
                archive = D.build_7z(members)
                walked = D.sevenzip_members(archive, with_data=True)
                for k, mrow in enumerate(walked):
                    rows.append({
                        "aid": i * 10 + k, "content": mrow["data"],
                    })
            yield pd.DataFrame(rows, columns=cols)

    atts = docs.select("doc_id").mapInPandas(
        _archives, schema="aid bigint, content binary"
    )
    extracted = D.document_text(atts, id_col="aid")
    return extracted.select(
        F.expr("doc_id div 10").alias("doc_id"),
        F.expr("doc_id % 10").cast("int").alias("member_idx"),
        "format",
        "n_units",
        "text",
    )


# ---------------------------------------------------------------------------
# Crawl frontier expansion (outlinks minus already-crawled)
# ---------------------------------------------------------------------------


@query(
    "pipeline_frontier_expand",
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
      -- hub pages 0..49 are already crawled too (the anti-join must
      -- actually REMOVE live targets, not filter a disjoint set)
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
    )
    SELECT target, n_refs, host FROM frontier
    """,
)
def q_pipeline_frontier_expand(spark: SparkSession, sf: str) -> DataFrame:
    # FRONTIER EXPANSION — the crawl-loop step after extraction: the
    # canonical outlink targets, reference-counted, MINUS everything
    # already crawled (this crawl's own page URLs plus the hub pages,
    # planted so the anti-join genuinely removes live targets rather
    # than filtering a disjoint set — vacuous-check rule). The
    # anti-join is a uniform-key LEFT ANTI on the canonical URL (the
    # exact frontier-dedup shape of pipeline_feeds_to_frontier); at
    # 100 TB the crawled side is a bucketed URL index and this joins
    # co-located. n_refs carries the in-degree a scheduler
    # prioritizes by.
    rows = _anchor_rows(spark, sf)  # (doc_id, target, anchor)
    docs = load(spark, sf, "documents")
    base, _html = _outlink_page(True)
    crawled = docs.select(base.alias("url")).union(
        docs.select(
            F.concat(
                F.lit("https://host0.example.org/hub/"),
                (F.col("doc_id") % 50).cast("string"),
            ).alias("url")
        )
    ).distinct()
    cand = rows.groupBy("target").agg(
        F.count(F.lit(1)).cast("long").alias("n_refs")
    )
    return (
        cand.join(crawled, cand.target == crawled.url, "left_anti")
        .select(
            "target", "n_refs",
            F.regexp_extract("target", "://([^/]+)", 1).alias("host"),
        )
    )


# ---------------------------------------------------------------------------
# CFB / OLE2 compound files — legacy Office containers
# ---------------------------------------------------------------------------


def _synth_cfb_blob(i: int) -> bytes:
    """One deterministic compound file from md5(doc:cfb): family
    rotates doc/xls/ppt (b0 — the main stream ≥4096 bytes exercises
    the FAT path), a \\x05SummaryInformation property set (title/
    author/created from the hash — the MINI-stream path), and 0-2
    small extra streams (b1). Every 13th doc truncates mid-FAT —
    the bounds-checked walk must refuse."""
    import hashlib

    from hadoopxmlextractor_spark.operators import documents as D

    b = hashlib.md5(f"{i}:cfb".encode()).digest()
    x = hashlib.md5(f"{i}:cfb".encode()).hexdigest()
    fam = ("WordDocument", "Workbook", "PowerPoint Document")[b[0] % 3]
    main = (f"w{x[:6]} legacy ".encode()) * (300 + b[2])  # >4096
    si = D.build_summary_information(
        f"Title {x[:4]}", f"author {x[4:8]}",
        1_500_000_000 + (b[3] % 100) * 86400,
    )
    streams = [(fam, main), ("\x05SummaryInformation", si)]
    for k in range(b[1] % 3):
        streams.append((f"Extra{k}", f"x{x[8:12]}s{k} data".encode()))
    blob = D.build_cfb(streams)
    if i % 13 == 12:
        blob = blob[: 512 + 200]  # truncated mid-FAT → refusal arm
    return blob


@query(
    "archive_cfb_meta",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('cfb', 0)} % 3 AS fam, {_b('cfb', 1)} % 3 AS nx,
             {_b('cfb', 2)} AS b2, {_b('cfb', 3)} % 100 AS days,
             md5(CAST(doc_id AS VARCHAR) || ':cfb') AS x
      FROM documents
    )
    SELECT doc_id,
           (['doc', 'xls', 'ppt'])[1 + fam] AS kind,
           CAST(2 + nx AS INT) AS n_streams,
           CAST(15 * (300 + b2) AS BIGINT) AS main_bytes,
           'w' || substring(x, 1, 6) || ' legacy w' AS main_head,
           'Title ' || substring(x, 1, 4) AS title,
           'author ' || substring(x, 5, 4) AS author,
           CAST(1500000000 + days * 86400 AS BIGINT) AS created_s
    FROM p WHERE doc_id % 13 <> 12
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM p WHERE doc_id % 13 = 12
    """,
)
def q_archive_cfb_meta(spark: SparkSession, sf: str) -> DataFrame:
    # CFB/OLE2 ([MS-CFB]) — the container under legacy .doc/.xls/.ppt
    # (and MSI), a real share of older public dumps the archive tier
    # couldn't identify. The walk reads the header DIFAT, the FAT and
    # directory chains (bounds- and cycle-checked), streams through
    # BOTH storage paths — the ≥4096-byte main stream via the FAT,
    # the SummaryInformation property set via the root's mini stream
    # + miniFAT — and parses [MS-OLEPS] VT_LPSTR/VT_FILETIME
    # properties for title/author/created. Family routing from stream
    # names; truncated files refuse to the marker row. One Arrow
    # pass, ids-only shuffle.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def decode(i):
        ms = D.cfb_members(_synth_cfb_blob(i), with_data=True)
        names = [m["name"] for m in ms]
        main = max(
            (m for m in ms if m["size"] is not None), key=lambda m: m["size"]
        )
        si = next(
            (m for m in ms if m["name"] == "\x05SummaryInformation"), None
        )
        if si is None:
            raise ValueError("no SummaryInformation stream")
        info = D.parse_summary_information(si["data"])
        return [{
            "kind": D.cfb_kind(names), "n_streams": len(ms),
            "main_bytes": main["size"], "main_head": main["head"],
            "title": info["title"], "author": info["author"],
            "created_s": info["created_s"],
        }]

    return blob_rows(
        docs, "doc_id", "doc_id", decode,
        "doc_id bigint, kind string, n_streams int, "
        "main_bytes bigint, main_head string, title string, "
        "author string, created_s bigint",
        {},
    )


@query(
    "source_doc_text",
    f"""
    WITH p AS (
      SELECT doc_id, 1 + {_b('ldoc', 0)} % 3 AS n,
             md5(CAST(doc_id AS VARCHAR) || ':ldoc') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS g, x
      FROM p, (VALUES (0), (1), (2)) g(g)
      WHERE g.g < n AND doc_id % 9 <> 8
    ),
    txt AS (
      SELECT doc_id, n,
             string_agg(
               'w' || substring(x, 4 * g + 1, 2) || ' word w'
                 || substring(x, 4 * g + 3, 2),
               chr(10) ORDER BY g) AS text
      FROM g GROUP BY doc_id, n
    )
    SELECT doc_id, 'doc' AS format, CAST(n AS INT) AS n_units, text
    FROM txt
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL FROM p WHERE doc_id % 9 = 8
    """,
)
def q_source_doc_text(spark: SparkSession, sf: str) -> DataFrame:
    # LEGACY .doc TEXT — the simple (non-complex) Word binary subset:
    # CFB directory → WordDocument stream → FIB → contiguous cp1252
    # text at [fcMin, fcMac), 0x0D paragraph marks. Routed by the
    # D0CF compound-file magic in document_text like every other
    # format. Every 9th doc sets the fComplex flag (incremental-save
    # piece table) — those REFUSE to the marker row rather than
    # emitting scrambled pieces; Word 97+ unicode piece tables are
    # the documented residue. One Arrow pass.
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
                b = hashlib.md5(f"{i}:ldoc".encode()).digest()
                x = hashlib.md5(f"{i}:ldoc".encode()).hexdigest()
                paras = [
                    f"w{x[4 * g : 4 * g + 2]} word "
                    f"w{x[4 * g + 2 : 4 * g + 4]}"
                    for g in range(1 + b[0] % 3)
                ]
                blob = bytearray(D.build_doc(paras))
                if i % 9 == 8:
                    # set fComplex in the FIB inside the WordDocument
                    # stream (first big stream sits right after the
                    # CFB metadata sectors; flip via parse-and-patch)
                    ms = D.cfb_members(bytes(blob), with_data=True)
                    wd = next(
                        m for m in ms if m["name"] == "WordDocument"
                    )
                    at = bytes(blob).index(wd["data"][:64])
                    blob[at + 10] |= 0x04
                out.append(bytes(blob))
            yield pd.Series(out)

    ex = D.document_text(
        docs.select("doc_id", _blob("doc_id").alias("content"))
    )
    return ex.select("doc_id", "format", "n_units", "text")


@query(
    "source_xls_cells",
    f"""
    WITH p AS (
      SELECT doc_id, 2 + {_b('xls', 0)} % 3 AS n, {_b('xls', 1)} AS b1,
             {_b('xls', 2)} AS b2, {_b('xls', 3)} AS b3,
             {_b('xls', 4)} AS b4,
             md5(CAST(doc_id AS VARCHAR) || ':xls') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS r, b1, b2, b3, b4, x
      FROM p, (VALUES (0), (1), (2), (3)) g(g)
      WHERE g.g < n AND doc_id % 11 <> 10
    ),
    cells AS (
      SELECT doc_id, r, 0 AS col, 's' AS kind,
        CASE (b1 + r) % 3
          WHEN 0 THEN 'w' || substring(x, 4 * r + 1, 4) || ' cell'
          WHEN 1 THEN '中文 ' || substring(x, 4 * r + 1, 2)
          ELSE 'plain ' || CAST(r AS VARCHAR) END AS value
      FROM g
      UNION ALL
      SELECT doc_id, r, 1, 'rk',
             CAST(b2 * 100 + r AS VARCHAR)
      FROM g
      UNION ALL
      SELECT doc_id, r, 2,
             CASE WHEN r % 2 = 1 THEN 'rk' ELSE 'n' END,
             CASE WHEN r % 2 = 1 THEN CAST(-(b3 * 10 + r) AS VARCHAR)
                  ELSE CAST(1000000000000 + b4 * 1000 + r AS VARCHAR)
                  END
      FROM g
    )
    SELECT doc_id, CAST(r AS INT) AS row, CAST(col AS INT) AS col,
           kind, value
    FROM cells
    UNION ALL
    SELECT doc_id, -1, NULL, NULL, NULL FROM p WHERE doc_id % 11 = 10
    """,
)
def q_source_xls_cells(spark: SparkSession, sf: str) -> DataFrame:
    # LEGACY .xls (BIFF8) CELLS — parity with source_xlsx_cells for
    # the binary-era workbooks in public dumps: CFB → Workbook stream
    # → record walk with the SHARED-string table (compressed AND
    # UTF-16LE arms rotating — the CJK strings force fHighByte),
    # LABELSST index resolution, RK small ints (negative values
    # exercise the 30-bit sign-extend), NUMBER doubles for 2^29+
    # values. Every 11th doc loses its EOF record — the walk refuses
    # to the marker row. One Arrow pass, ids-only shuffle.
    from hadoopxmlextractor_spark.operators import documents as D

    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def decode(i):
        import hashlib

        b = hashlib.md5(f"{i}:xls".encode()).digest()
        x = hashlib.md5(f"{i}:xls".encode()).hexdigest()
        cells = []
        for r in range(2 + b[0] % 3):
            sval = (
                f"w{x[4 * r : 4 * r + 4]} cell",
                f"中文 {x[4 * r : 4 * r + 2]}",
                f"plain {r}",
            )[(b[1] + r) % 3]
            cells.append((r, 0, sval))
            cells.append((r, 1, b[2] * 100 + r))
            cells.append((
                r, 2,
                -(b[3] * 10 + r) if r % 2
                else 1000000000000 + b[4] * 1000 + r,
            ))
        blob = D.build_xls(cells)
        if i % 11 == 10:
            # strip the EOF record (last 4 bytes of the BIFF stream
            # before the cutoff padding): corrupt the opcode in place
            # via parse-and-patch
            ms = D.cfb_members(blob, with_data=True)
            wb = next(m for m in ms if m["name"] == "Workbook")
            eof_at = blob.index(wb["data"][:64]) + wb["data"].rindex(
                b"\x0a\x00\x00\x00"
            )
            blob = blob[:eof_at] + b"\xee\x00\x00\x00" + blob[eof_at + 4 :]
        return D.xls_cells(blob)

    return blob_rows(
        docs, "doc_id", "doc_id", decode,
        "doc_id bigint, row int, col int, kind string, value string",
        {"row": -1},
    )


@query(
    "source_ppt_text",
    f"""
    WITH p AS (
      SELECT doc_id, 1 + {_b('lppt', 0)} % 3 AS n,
             {_b('lppt', 1)} AS b1,
             md5(CAST(doc_id AS VARCHAR) || ':lppt') AS x
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, g.g AS g, b1, x
      FROM p, (VALUES (0), (1), (2)) g(g)
      WHERE g.g < n AND doc_id % 9 <> 8
    ),
    txt AS (
      SELECT doc_id, n,
             string_agg(
               CASE (b1 + g) % 2
                 WHEN 0 THEN 'w' || substring(x, 4 * g + 1, 4)
                             || ' slide'
                 ELSE '中文 ' || substring(x, 4 * g + 1, 2) END
               || chr(10) || 'note w' || substring(x, 4 * g + 3, 2),
               chr(10) ORDER BY g) AS text
      FROM g GROUP BY doc_id, n
    )
    SELECT doc_id, 'ppt' AS format, CAST(n AS INT) AS n_units, text
    FROM txt
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL FROM p WHERE doc_id % 9 = 8
    """,
)
def q_source_ppt_text(spark: SparkSession, sf: str) -> DataFrame:
    # LEGACY .ppt TEXT — the third leg of the binary Office trio:
    # CFB → 'PowerPoint Document' stream → recursive [MS-PPT] record
    # walk (Slide containers counted, TextBytesAtom latin-1 AND
    # TextCharsAtom UTF-16LE arms rotating — the CJK titles force the
    # chars form), routed by family through the same document_text
    # dispatch as .doc. Every 9th doc corrupts the outer container
    # length — the bounds-checked walk refuses to the marker row.
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
                b = hashlib.md5(f"{i}:lppt".encode()).digest()
                x = hashlib.md5(f"{i}:lppt".encode()).hexdigest()
                slides = []
                for g in range(1 + b[0] % 3):
                    title = (
                        f"w{x[4 * g : 4 * g + 4]} slide"
                        if (b[1] + g) % 2 == 0
                        else f"中文 {x[4 * g : 4 * g + 2]}"
                    )
                    slides.append(
                        [title, f"note w{x[4 * g + 2 : 4 * g + 4]}"]
                    )
                blob = bytearray(D.build_ppt(slides))
                if i % 9 == 8:
                    # corrupt the outer Document container length
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


@query(
    "pipeline_frontier_schedule",
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
    ranked AS (
      SELECT host, target, n_refs,
             ROW_NUMBER() OVER (
               PARTITION BY host ORDER BY n_refs DESC, target
             ) AS slot
      FROM frontier
    )
    SELECT host, CAST(slot AS INT) AS slot, target, n_refs
    FROM ranked WHERE slot <= 10
    """,
)
def q_pipeline_frontier_schedule(
    spark: SparkSession, sf: str
) -> DataFrame:
    # POLITENESS SCHEDULING — the step after frontier expansion: a
    # crawler fetches at most K URLs per host per cycle, highest
    # in-degree first (deterministic target tiebreak). ROW_NUMBER
    # over the host partition compiles to WindowGroupLimit — the
    # rank filter is pushed INTO the shuffle so each host partition
    # materializes only its top K, never the full frontier (the
    # window_topk_per_group shape). At 100 TB the frontier is
    # host-partitioned anyway for fetch locality, so this window
    # rides the existing partitioning.
    from pyspark.sql import Window

    frontier = q_pipeline_frontier_expand(spark, sf)
    w = Window.partitionBy("host").orderBy(
        F.col("n_refs").desc(), F.col("target")
    )
    return (
        frontier.withColumn("slot", F.row_number().over(w))
        .filter(F.col("slot") <= 10)
        .select("host", F.col("slot").cast("int"), "target", "n_refs")
    )
