"""Round-10 queries — real-capture crawl/document realism:

- Wikipedia `.bz2` MULTISTREAM dumps: index-driven record-aligned
  intra-file splits + ranged bz2 decompression (the shape that makes
  the single 20+ GB dump file splittable, mirroring the r8 WARC
  split architecture);
- HTML → MARKDOWN structure-preserving extraction (`text_html_
  markdown`) and the crawl→markdown capstone composing WARC, the
  as-captured HTTP coding arms, and the converter in one chain;
- CDX(J) capture indexes: SURT urlkeys, index parse, and the
  Common Crawl ACCESS PATH capstone (ranged per-capture member reads
  with sha1 digest verification incl. a planted corrupt arm);
- native FLAC FULL SAMPLE decode (`multimodal_audio_flac_decode`) —
  the first full-fidelity audio codec, exact integer oracle.

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


_W = "(['alpha','bravo','charlie','delta','echo'])"


@query(
    "source_wikipedia_multistream",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('wiki', 0)} AS b0, {_b('wiki', 1)} AS b1,
             {_b('wiki', 2)} AS b2, {_b('wiki', 3)} AS b3,
             {_b('wiki', 4)} AS b4
      FROM documents
    ),
    art AS (
      SELECT doc_id,
             CAST(10 + doc_id % 1000 AS INT) AS page_id,
             'Article ' || CAST(doc_id AS VARCHAR) AS title,
             CAST(CASE WHEN b1 % 2 = 0 THEN 0 ELSE 4 END AS INT) AS ns,
             CAST(NULL AS VARCHAR) AS redirect_to,
             {_W}[b0 % 5 + 1] || ' history The ' || {_W}[(b1 + 1) % 5 + 1]
               || ' is really a ' || {_W}[(b2 + 2) % 5 + 1]
               || ' idea and a plain ' || {_W}[(b3 + 3) % 5 + 1]
               || '. See the ' || {_W}[(b4 + 4) % 5 + 1]
               || ' site for more.' AS text_clean
      FROM p
    ),
    red AS (
      SELECT doc_id,
             CAST(5000 + doc_id % 1000 AS INT) AS page_id,
             'Alias ' || CAST(doc_id AS VARCHAR) AS title,
             CAST(0 AS INT) AS ns,
             'Article ' || CAST(doc_id AS VARCHAR) AS redirect_to,
             '#REDIRECT Article ' || CAST(doc_id AS VARCHAR) AS text_clean
      FROM p WHERE b0 % 3 = 0
    ),
    u AS (SELECT * FROM art UNION ALL SELECT * FROM red)
    SELECT doc_id, page_id, title, ns, redirect_to, text_clean,
           CAST(LENGTH(text_clean)
                - LENGTH(replace(text_clean, ' ', '')) + 1 AS INT)
             AS n_tokens,
           TRUE AS multi_split
    FROM u
    """,
)
def q_source_wikipedia_multistream(spark: SparkSession, sf: str) -> DataFrame:
    # The REAL Wikipedia dump shape (r10): pages-articles-multistream
    # .xml.bz2 is a concatenation of bz2 streams (header stream with
    # <mediawiki><siteinfo>, pages in their own streams, a closing-tag
    # stream) plus the companion offset:page_id:title index — the
    # offsets are what make the single 20+ GB file SPLITTABLE. Each
    # doc synthesizes a dump (one page per stream) + bz2 index;
    # wikipedia_split_index converts the index into record-aligned
    # (offset, length) splits (target 1 byte → one split per stream,
    # so header-only and footer-carrying ranges are both live), and
    # wikipedia_pages_ranged decompresses each range INDEPENDENTLY —
    # the union over splits must be row-identical to the whole-dump
    # parse, which is exactly the source_wikipedia_pages oracle;
    # multi_split pins that every dump really was cut (vacuous-check
    # rule). Same architecture as the r8 WARC intra-file splits.
    from hadoopxmlextractor_spark.operators import documents as D

    # id-only repartition before the per-doc bz2 work (the one-file
    # test table yields a single scan partition; see the flac query)
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # r14-opt (guide §5): files feeds the index scan AND the ranged
    # read; idx feeds the ranged join AND the n_splits aggregate —
    # unpersisted, the bz2 synthesis ran once per consumer (the
    # source_warc_split pattern; the files cache is this query's
    # stand-in for the on-disk dump).
    # r15 opt (guide §5, VERDICT r14 item 2): blob-bearing cache goes
    # DISK_ONLY — see source_warc_split for the rationale.
    from pyspark import StorageLevel

    files = D.synth_wikipedia_multistream(docs).persist(
        StorageLevel.DISK_ONLY
    )
    files.count()
    idx = D.wikipedia_split_index(files, target_bytes=1).filter(
        F.col("split_idx") >= 0
    ).persist()
    idx.count()
    pages = D.wikipedia_pages_ranged(
        idx.join(files, "doc_id").select(
            "doc_id", "content", "offset", "length"
        )
    )
    n_splits = idx.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_splits")
    )
    return pages.join(F.broadcast(n_splits), "doc_id").select(
        "doc_id", "page_id", "title", "ns", "redirect_to", "text_clean",
        "n_tokens", (F.col("n_splits") > 1).alias("multi_split"),
    )


@query(
    "text_html_markdown",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('md', 0)} AS b0, {_b('md', 1)} AS b1,
             {_b('md', 2)} AS b2, {_b('md', 3)} AS b3,
             {_b('md', 4)} AS b4, {_b('md', 5)} AS b5,
             {_b('md', 6)} AS b6, {_b('md', 7)} AS b7
      FROM documents
    )
    SELECT doc_id,
           '# ' || {_W}[b0 % 5 + 1] || ' report' || chr(10) || chr(10)
           || 'intro ' || {_W}[(b1 + 1) % 5 + 1] || ' & **'
           || {_W}[(b2 + 2) % 5 + 1] || '** see [the '
           || {_W}[(b3 + 3) % 5 + 1] || ' page](https://ex.org/'
           || CAST(doc_id AS VARCHAR) || ')' || chr(10) || chr(10)
           || '- item ' || {_W}[b1 % 5 + 1] || ' 0' || chr(10)
           || '- item ' || {_W}[(b1 + 1) % 5 + 1] || ' 1'
           || CASE WHEN b0 % 3 >= 1 THEN chr(10) || '- item '
                || {_W}[(b1 + 2) % 5 + 1] || ' 2' ELSE '' END
           || CASE WHEN b0 % 3 >= 2 THEN chr(10) || '- item '
                || {_W}[(b1 + 3) % 5 + 1] || ' 3' ELSE '' END
           || chr(10) || chr(10)
           || '1. do ' || {_W}[(b4 + 4) % 5 + 1] || chr(10)
           || '2. then ' || {_W}[(b5 + 5) % 5 + 1] || chr(10) || chr(10)
           || '## ' || {_W}[(b6 + 6) % 5 + 1] || ' details'
           || chr(10) || chr(10)
           || 'uses `fn_' || CAST(doc_id AS VARCHAR) || '` and *'
           || {_W}[(b7 + 7) % 5 + 1] || '*' || chr(10) || chr(10)
           || repeat(chr(96), 3) || chr(10) || 'raw '
           || CAST(doc_id AS VARCHAR) || chr(10) || '  indent kept'
           || chr(10) || repeat(chr(96), 3) AS markdown,
           CAST(7 AS INT) AS n_blocks
    FROM p
    """,
)
def q_text_html_markdown(spark: SparkSession, sf: str) -> DataFrame:
    # HTML -> MARKDOWN (r10): the structure-preserving extraction an
    # LLM corpus actually wants - html_text's flattening throws away
    # headings, lists, links, and code blocks that carry meaning for
    # a model. Every converter rule is live in the fixture: h1/h2
    # headings, a paragraph with &amp; entity + <b> + <a href>, a
    # VARIABLE-length <ul> (2-4 items), an <ol> with ordinal markers,
    # inline <code> and <i>, a <pre> whose RAW inner whitespace must
    # survive into the fenced block, and a dropped <head>/<style>
    # subtree. The oracle is the closed-form expected markdown string
    # (backticks via repeat(chr(96),3)). One Arrow pass, zero shuffle.
    import hashlib

    from hadoopxmlextractor_spark.operators import text as T

    docs = load(spark, sf, "documents")
    _WORDS = ["alpha", "bravo", "charlie", "delta", "echo"]

    @F.pandas_udf("string")
    def _html(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            out = []
            for i in ids:
                b = hashlib.md5(f"{i}:md".encode()).digest()
                n_items = 2 + b[0] % 3
                items = "".join(
                    f"<li>item {_WORDS[(b[1] + k) % 5]} {k}</li>"
                    for k in range(n_items)
                )
                out.append(
                    "<html><head><title>skip me</title><style>p{}"
                    "</style></head><body>"
                    f"<h1>{_WORDS[b[0] % 5]} report</h1>"
                    f"<p>intro {_WORDS[(b[1] + 1) % 5]} &amp; "
                    f"<b>{_WORDS[(b[2] + 2) % 5]}</b> see "
                    f"<a href=\"https://ex.org/{i}\">the "
                    f"{_WORDS[(b[3] + 3) % 5]} page</a></p>"
                    f"<ul>{items}</ul>"
                    f"<ol><li>do {_WORDS[(b[4] + 4) % 5]}</li>"
                    f"<li>then {_WORDS[(b[5] + 5) % 5]}</li></ol>"
                    f"<h2>{_WORDS[(b[6] + 6) % 5]} details</h2>"
                    f"<p>uses <code>fn_{i}</code> and "
                    f"<i>{_WORDS[(b[7] + 7) % 5]}</i></p>"
                    f"<pre>raw {i}\n  indent kept</pre>"
                    "</body></html>"
                )
            yield pd.Series(out)

    return docs.select(
        "doc_id", T.html_markdown(_html("doc_id")).alias("markdown")
    ).withColumn(
        "n_blocks", F.size(F.split(F.col("markdown"), "\n\n")).cast("int")
    )


@query(
    "source_cdx_index",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('cdx', 0)} AS b0, {_b('cdx', 1)} AS b1,
             {_b('cdx', 2)} AS b2, {_b('cdx', 3)} AS b3,
             {_b('cdx', 5)} AS b5, {_b('cdx', 6)} AS b6,
             {_b('cdx', 7)} AS b7, {_b('cdx', 8)} AS b8,
             substring(md5(CAST(doc_id AS VARCHAR) || ':cdx'), 1, 8) AS dg
      FROM documents
    ),
    e AS (
      SELECT doc_id, b1, b2, b3, b5, b6, b7, b8, dg,
             unnest(generate_series(0, 1 + b0 % 3)) AS k
      FROM p
    )
    SELECT doc_id, CAST(k AS INT) AS entry_idx,
           'org,example,' || {_W}[(b1 + k) % 5 + 1] || ')/p/'
             || CAST(doc_id AS VARCHAR) || '?a=' || CAST(k AS VARCHAR)
             || '&b=2' AS urlkey,
           CAST((1600000000 + 86400 * b2 + 60 * b3 + k) * 1000
                AS BIGINT) AS ts_ms,
           'https://www.' || {_W}[(b1 + k) % 5 + 1]
             || '.EXAMPLE.org/P/' || CAST(doc_id AS VARCHAR)
             || '?b=2&a=' || CAST(k AS VARCHAR) AS url,
           CASE (b5 + k) % 2 WHEN 0 THEN 'text/html'
                ELSE 'application/pdf' END AS mime,
           CAST(([200, 301, 404])[(b6 + k) % 3 + 1] AS INT) AS status,
           'sha1:' || dg AS digest,
           CAST(1000 * k + b7 AS BIGINT) AS off_bytes,
           CAST(500 + b8 AS BIGINT) AS len_bytes,
           TRUE AS key_match
    FROM e
    """,
)
def q_source_cdx_index(spark: SparkSession, sf: str) -> DataFrame:
    # CDX(J) capture indexes (r10) - how Common Crawl is actually
    # QUERIED: one line per capture with the SURT urlkey, a 14-digit
    # timestamp, and a JSON block locating the capture's own gzip
    # member (offset/length/filename). Each doc synthesizes a 2-4
    # entry CDXJ (gzip-compressed on doc parity); the parser converts
    # timestamps through the shared civil-date clock and the query
    # RE-DERIVES the urlkey with surt() from the raw URL - key_match
    # pins that the independent hand-written urlkey in the file
    # (www-strip, host reversal, path lowercasing, default-port drop,
    # query-param sort all live in the URL shape) equals the computed
    # one, breaking the synth/parse mirror. One Arrow pass, zero
    # shuffle.
    import hashlib

    from hadoopxmlextractor_spark.sources import cdx as X

    docs = load(spark, sf, "documents")
    _WORDS = ["alpha", "bravo", "charlie", "delta", "echo"]

    @F.pandas_udf("binary")
    def _cdx(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            out = []
            for i in ids:
                b = hashlib.md5(f"{i}:cdx".encode()).digest()
                dg = hashlib.md5(f"{i}:cdx".encode()).hexdigest()[:8]
                rows = []
                for k in range(2 + b[0] % 3):
                    w = _WORDS[(b[1] + k) % 5]
                    epoch = 1600000000 + 86400 * b[2] + 60 * b[3] + k
                    rows.append({
                        "urlkey": (
                            f"org,example,{w})/p/{i}?a={k}&b=2"
                        ),
                        "ts_ms": epoch * 1000,
                        "url": (
                            f"https://www.{w}.EXAMPLE.org/P/{i}"
                            f"?b=2&a={k}"
                        ),
                        "mime": ("text/html", "application/pdf")[
                            (b[5] + k) % 2
                        ],
                        "status": (200, 301, 404)[(b[6] + k) % 3],
                        "digest": f"sha1:{dg}",
                        "offset": 1000 * k + b[7],
                        "length": 500 + b[8],
                        "filename": f"seg-{int(i) % 10}.warc.gz",
                    })
                out.append(X.write_cdxj(rows, gzipped=int(i) % 2 == 0))
            yield pd.Series(out)

    files = docs.select("doc_id", _cdx("doc_id").alias("content"))

    def _decode(blob) -> list[dict]:
        return [
            {
                "entry_idx": k, "urlkey": r["urlkey"], "ts_ms": r["ts_ms"],
                "url": r["url"], "mime": r["mime"], "status": r["status"],
                "digest": r["digest"], "off_bytes": r["offset"],
                "len_bytes": r["length"],
                "key_match": X.surt(r["url"]) == r["urlkey"],
            }
            for k, r in enumerate(X.parse_cdxj(bytes(blob)))
        ]

    return blob_rows(
        files, "doc_id", "content", _decode,
        "doc_id bigint, entry_idx int, urlkey string, "
        "ts_ms bigint, url string, mime string, status int, "
        "digest string, off_bytes bigint, len_bytes bigint, "
        "key_match boolean",
        {"entry_idx": -1},
    )


@query(
    "pipeline_cdx_ranged_fetch",
    f"""
    WITH p AS (
      SELECT doc_id FROM documents
    ),
    e AS (
      SELECT doc_id, unnest(generate_series(0, 2)) AS k FROM p
    ),
    bodysum AS (
      SELECT doc_id, e.k AS k,
             CAST(SUM(CAST(('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || ':cdxf:'
                   || CAST(e.k AS VARCHAR) || ':' || CAST(h.h AS VARCHAR)),
               j.j * 2 + 1, 2)) AS BIGINT)) AS BIGINT) AS bsum
      FROM p, (SELECT unnest(generate_series(0, 2)) AS k) e,
           (VALUES (0), (1)) h(h),
           (SELECT unnest(range(16)) AS j) j
      GROUP BY doc_id, e.k
    )
    SELECT e.doc_id,
           'org,example)/doc/' || CAST(e.doc_id AS VARCHAR) || '/'
             || CAST(e.k AS VARCHAR) AS urlkey,
           CAST(200 AS INT) AS http_status,
           CAST(77 AS BIGINT) AS n_payload,
           b.bsum AS body_sum,
           NOT (e.doc_id % 7 = 3 AND e.k = 1) AS digest_match
    FROM e JOIN bodysum b ON e.doc_id = b.doc_id AND e.k = b.k
    """,
)
def q_pipeline_cdx_ranged_fetch(spark: SparkSession, sf: str) -> DataFrame:
    # The Common Crawl ACCESS PATH end to end (r10): a consumer never
    # scans a segment - it reads the CDX index and issues one ranged
    # read per capture, decompressing just that record's own gzip
    # member. Each doc synthesizes a 3-response .warc.gz (32-byte md5
    # bodies behind identity HTTP) plus a CDXJ whose offset/length
    # locate each member; the fetch stage slices EXACTLY
    # [offset, offset+length) out of the blob, parses the single
    # record, splits HTTP, and verifies the body against the index's
    # sha1 digest - with a PLANTED corrupt digest on doc_id%7==3,
    # entry 1 (vacuous-check rule: digest verification must be seen
    # to fail). The oracle replays urlkey, payload length (45-byte
    # head + 32-byte body), md5-arithmetic body sums, and the planted
    # mismatch. One Arrow pass per stage, zero shuffle.
    import hashlib

    from hadoopxmlextractor_spark.sources import cdx as X
    from hadoopxmlextractor_spark.sources import warc as W

    # id-only repartition before the per-doc gzip/sha1 work (the
    # one-file test table yields a single scan partition)
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("struct<warc:binary, cdx:binary>")
    def _files(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for ids in it:
            warcs, cdxs = [], []
            for i in ids:
                members = []
                rows = []
                pos = 0
                for k in range(3):
                    body = (
                        hashlib.md5(f"{i}:cdxf:{k}:0".encode()).digest()
                        + hashlib.md5(f"{i}:cdxf:{k}:1".encode()).digest()
                    )
                    http = (
                        b"HTTP/1.1 200 OK\r\n"
                        b"Content-Type: text/plain\r\n\r\n" + body
                    )
                    member = W.write_warc(
                        [{
                            "warc_type": "response",
                            "record_id": f"<urn:cdxf:{i}-{k}>",
                            "target_uri": (
                                f"https://example.org/doc/{i}/{k}"
                            ),
                            "content_type": (
                                "application/http; msgtype=response"
                            ),
                            "payload": http,
                        }],
                        gzip_members=True,
                    )
                    digest = hashlib.sha1(body).hexdigest()
                    if int(i) % 7 == 3 and k == 1:
                        digest = "deadbeef" + digest[8:]  # planted
                    rows.append({
                        "urlkey": f"org,example)/doc/{i}/{k}",
                        "ts_ms": 1600000000000,
                        "url": f"https://example.org/doc/{i}/{k}",
                        "status": 200,
                        "digest": f"sha1:{digest}",
                        "offset": pos,
                        "length": len(member),
                        "filename": f"{i}.warc.gz",
                    })
                    members.append(member)
                    pos += len(member)
                warcs.append(b"".join(members))
                cdxs.append(X.write_cdxj(rows, gzipped=True))
            yield pd.DataFrame({"warc": warcs, "cdx": cdxs})

    files = docs.select(
        "doc_id", _files("doc_id").alias("f")
    ).select(
        "doc_id", F.col("f.warc").alias("warc"),
        F.col("f.cdx").alias("cdx"),
    )

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "urlkey", "http_status", "n_payload",
                "body_sum", "digest_match"]
        for pdf in batches:
            rows = []
            for did, warc, cdxb in zip(
                pdf["doc_id"], pdf["warc"], pdf["cdx"]
            ):
                blob = bytes(warc)
                for r in X.parse_cdxj(bytes(cdxb)):
                    sl = blob[r["offset"] : r["offset"] + r["length"]]
                    recs = W.parse_warc(sl)
                    assert len(recs) == 1
                    status, body = W.split_http_payload(
                        bytes(recs[0]["payload"])
                    )
                    sha = hashlib.sha1(body).hexdigest()
                    rows.append({
                        "doc_id": did,
                        "urlkey": r["urlkey"],
                        "http_status": status,
                        "n_payload": recs[0]["content_length"],
                        "body_sum": int(sum(body)),
                        "digest_match": r["digest"] == f"sha1:{sha}",
                    })
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(
        _fetch,
        schema="doc_id bigint, urlkey string, http_status int, "
        "n_payload bigint, body_sum bigint, digest_match boolean",
    )


@query(
    "pipeline_crawl_to_markdown",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('c2m', 0)} AS b0, {_b('c2m', 1)} AS b1,
             {_b('c2m', 2)} AS b2, {_b('c2m', 3)} AS b3,
             {_b('c2m', 4)} AS b4
      FROM documents
    )
    SELECT doc_id, CAST(200 AS INT) AS http_status,
           '# ' || {_W}[b0 % 5 + 1] || ' notes' || chr(10) || chr(10)
           || 'body ' || {_W}[(b1 + 1) % 5 + 1] || ' & **'
           || {_W}[(b2 + 2) % 5 + 1] || '** at [home](https://ex.org/'
           || CAST(doc_id AS VARCHAR) || ')' || chr(10) || chr(10)
           || '- li ' || {_W}[(b3 + 3) % 5 + 1] || ' 0' || chr(10)
           || '- li ' || {_W}[(b3 + 4) % 5 + 1] || ' 1'
           || chr(10) || chr(10)
           || repeat(chr(96), 3) || chr(10) || 'code '
           || CAST(doc_id AS VARCHAR) || chr(10) || ' sp'
           || chr(10) || repeat(chr(96), 3) AS markdown,
           CAST(11 AS INT) AS n_lines
    FROM p
    """,
)
def q_pipeline_crawl_to_markdown(spark: SparkSession, sf: str) -> DataFrame:
    # The round-10 pieces COMPOSED end to end: WARC container walk
    # (gzip-member vs plain per doc) -> HTTP split with the
    # AS-CAPTURED coding arms (identity / chunked / gzip /
    # gzip-then-chunked by doc_id%4 - the de-chunk and inflate paths
    # sit INSIDE the certified chain) -> structure-preserving
    # html_markdown (heading, entity + bold + link paragraph, list,
    # fenced pre with raw interior whitespace). The oracle is the
    # closed-form markdown; a fault in the member walk, the chunk
    # framing, the inflate, or any converter rule flips the hash.
    # One Arrow chain, zero shuffles.
    #
    # r14-opt (guide §4.1/§4.2): synth → record walk → HTTP decode are
    # FUSED into one mapInPandas over the same library helpers
    # (write_warc / iter_warc_records / decode_http_html — the
    # certified per-blob code paths, now called back-to-back in one
    # Python task instead of through three ArrowEvalPython/MapInPandas
    # boundaries that round-tripped every blob JVM↔Python twice for
    # nothing). Interleaved A/B at sf0.1: 2.18 → 1.32 s min, rows
    # proven identical (exceptAll both ways = 0).
    import hashlib

    from hadoopxmlextractor_spark.operators import text as T
    from hadoopxmlextractor_spark.queries_r8 import _http_as_captured
    from hadoopxmlextractor_spark.sources import warc as W

    # id-only repartition before the heavy per-doc chain (see
    # multimodal_audio_flac_decode): parallelism over 32 cores instead
    # of the single scan partition the one-file test table yields
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    _WORDS = ["alpha", "bravo", "charlie", "delta", "echo"]

    def _kernel(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                b = hashlib.md5(f"{i}:c2m".encode()).digest()
                html = (
                    "<html><head><title>skip</title></head><body>"
                    f"<h1>{_WORDS[b[0] % 5]} notes</h1>"
                    f"<p>body {_WORDS[(b[1] + 1) % 5]} &amp; "
                    f"<b>{_WORDS[(b[2] + 2) % 5]}</b> at "
                    f"<a href=\"https://ex.org/{i}\">home</a></p>"
                    f"<ul><li>li {_WORDS[(b[3] + 3) % 5]} 0</li>"
                    f"<li>li {_WORDS[(b[3] + 4) % 5]} 1</li></ul>"
                    f"<pre>code {i}\n sp</pre>"
                    "</body></html>"
                )
                # r11: rotate a declared-charset arm through the
                # capstone too — cp1252 bytes under the iso-8859-1
                # label; correct resolution recovers identical text,
                # so the closed-form markdown oracle is untouched
                if i % 3 == 1:
                    http = _http_as_captured(
                        html.encode("cp1252"), i % 4,
                        ctype=b"text/html; charset=iso-8859-1",
                    )
                else:
                    http = _http_as_captured(html.encode(), i % 4)
                blob = W.write_warc(
                    [{
                        "warc_type": "response",
                        "record_id": f"<urn:c2m:{i}>",
                        "target_uri": f"https://ex.org/{i}",
                        "content_type": (
                            "application/http; msgtype=response"
                        ),
                        "payload": http,
                    }],
                    gzip_members=(i % 2 == 0),
                )
                # same member walk + declared-charset decode the
                # unfused ArrowEvalPython chain ran, one call deep
                for rec in W.iter_warc_records(blob):
                    if rec.get("warc_type") != "response":
                        continue
                    s, _enc, _how, text = W.decode_http_html(
                        bytes(rec["payload"])
                    )
                    rows.append(
                        {"doc_id": i, "http_status": s, "body": text}
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "http_status", "body"]
            )

    recs = docs.select("doc_id").mapInPandas(
        _kernel, schema="doc_id bigint, http_status int, body string"
    )
    return (
        recs.select(
            "doc_id",
            "http_status",
            T.html_markdown(F.col("body")).alias("markdown"),
        )
        .withColumn(
            "n_lines",
            F.size(F.split(F.col("markdown"), "\n")).cast("int"),
        )
    )


@query(
    "multimodal_audio_flac_decode",
    f"""
    WITH p AS (
      SELECT doc_id, {_b('flacd', 0)} AS b0, {_b('flacd', 1)} AS b1,
             {_b('flacd', 2)} AS b2, {_b('flacd', 6)} AS b6,
             {_b('flacd', 8)} AS b8
      FROM documents
    ),
    fr AS (
      SELECT doc_id, b1, b2, b6,
             unnest(generate_series(0, 1 + b0 % 2)) AS f
      FROM p
    ),
    arm AS (
      SELECT doc_id, f, ch.ch AS ch, b6,
             (b1 + f) % 4 AS mode, (b2 + f + ch.ch) % 4 AS t
      FROM fr, (VALUES (0), (1)) ch(ch)
    ),
    samp AS (
      SELECT a.doc_id, a.f, a.ch, a.mode, a.t, a.b6, k.k AS k,
             md5(CAST(a.doc_id AS VARCHAR)
                 || CASE a.ch WHEN 0 THEN ':fL:' ELSE ':fR:' END
                 || CAST(a.f AS VARCHAR) || ':'
                 || CAST(c.c AS VARCHAR)) AS hx,
             md5(CAST(a.doc_id AS VARCHAR) || ':fc:'
                 || CAST(a.f AS VARCHAR) || ':'
                 || CAST(a.ch AS VARCHAR)) AS cx
      FROM arm a, (SELECT unnest(range(8)) AS c) c,
           (SELECT unnest(range(8)) AS k) k
    ),
    v AS (
      SELECT doc_id, ch, mode, t, b6, f,
        CASE WHEN mode = 0 AND t = 3 THEN
          CAST(('0x' || substring(cx, 1, 2)) AS BIGINT) * 256
          + CAST(('0x' || substring(cx, 3, 2)) AS BIGINT)
        ELSE
          CAST(('0x' || substring(hx, k * 4 + 1, 2)) AS BIGINT) * 256
          + CAST(('0x' || substring(hx, k * 4 + 3, 2)) AS BIGINT)
        END AS u
      FROM samp
    ),
    s1 AS (
      SELECT doc_id, ch, mode, t, b6, f,
             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s0
      FROM v
    ),
    s2 AS (
      SELECT doc_id, ch,
             CASE WHEN mode = 0 AND t = 0 AND ch = 1
                       AND (b6 + f) % 2 = 1
                  THEN s0 - ((s0 % 4 + 4) % 4) ELSE s0 END AS s
      FROM s1
    )
    SELECT p.doc_id AS media_id,
           CAST(([8000, 44100, 48000])[p.b8 % 3 + 1] AS INT)
             AS sample_rate,
           CAST(2 AS INT) AS channels,
           CAST(2 + p.b0 % 2 AS INT) AS n_frames,
           CAST(64 * (2 + p.b0 % 2) AS BIGINT) AS n_samples,
           NOT p.doc_id % 11 = 5 AS md5_ok,
           CAST(SUM(CASE WHEN ch = 0 THEN s ELSE 0 END) AS BIGINT)
             AS sum_l,
           CAST(SUM(CASE WHEN ch = 0 THEN s * s ELSE 0 END) AS BIGINT)
             AS sumsq_l,
           CAST(SUM(CASE WHEN ch = 1 THEN s ELSE 0 END) AS BIGINT)
             AS sum_r,
           CAST(SUM(CASE WHEN ch = 1 THEN s * s ELSE 0 END) AS BIGINT)
             AS sumsq_r
    FROM s2 JOIN p USING (doc_id)
    GROUP BY p.doc_id, p.b8, p.b0
    """,
)
def q_multimodal_audio_flac_decode(spark: SparkSession, sf: str) -> DataFrame:
    # FULL FLAC SAMPLE DECODE (r10) - the first full-fidelity audio
    # codec in the engine (the perceptual codecs are env-blocked;
    # FLAC is integer-exact, so it lands on the same exact-oracle
    # contract as PCM/G.711/ADPCM). Every decode path rotates in the
    # fixture: stereo decorrelation (independent / left-side /
    # side-right / mid-side with bps+1 side channels), subframe types
    # (verbatim / fixed orders 0-4 / LPC / constant), wasted bits,
    # rice vs rice2 with partition orders 0-2 and escape partitions,
    # the STREAMINFO-fallback sample-rate header, and a planted
    # corrupt-STREAMINFO-md5 arm (doc%11==5) so md5 verification is
    # seen to fail. CRC-8 + CRC-16 + sample-MD5 all verify inside the
    # decoder; the oracle replays the synth's md5-chain int16s (with
    # the constant/wasted-bit overrides) as pure integer sums. One
    # Arrow pass, zero shuffle.
    from hadoopxmlextractor_spark.operators import flac as FL

    # the documents table is a single parquet file at test scale — one
    # scan partition would serialize the per-doc codec work on a
    # 32-core box. Repartitioning doc_ids (a few KB) BEFORE the synth
    # is the designed exchange: at 100 TB the source is many files and
    # this becomes a no-op-sized shuffle of ids, never of audio bytes.
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    @F.pandas_udf("binary")
    def _synth(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            yield pd.Series([FL._synth_flac_doc(int(i)) for i in ids])

    files = docs.select(
        F.col("doc_id").alias("media_id"), _synth("doc_id").alias("content")
    )

    def _decode(blob) -> list[dict]:
        d = FL.decode_flac(bytes(blob))
        left, right = d["samples"]
        return [{
            "sample_rate": d["sample_rate"], "channels": d["channels"],
            "n_frames": d["n_frames"], "n_samples": len(left),
            "md5_ok": d["md5_ok"],
            "sum_l": sum(left), "sumsq_l": sum(s * s for s in left),
            "sum_r": sum(right), "sumsq_r": sum(s * s for s in right),
        }]

    return blob_rows(
        files, "media_id", "content", _decode,
        "media_id bigint, sample_rate int, channels int, "
        "n_frames int, n_samples bigint, md5_ok boolean, sum_l bigint, "
        "sumsq_l bigint, sum_r bigint, sumsq_r bigint",
        {},
    )
