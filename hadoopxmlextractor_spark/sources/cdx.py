"""CDX(J) capture indexes — how a crawl archive is actually QUERIED
(round 10).

Common Crawl (and every Wayback-style archive) ships, next to the WARC
segments, a CDXJ index: one line per capture,

    <urlkey> <14-digit timestamp> <JSON: url mime status digest
                                         length offset filename>

where ``urlkey`` is the SURT canonical form of the URL (host reversed
on dots and comma-joined, query parameters sorted) and
``offset``/``length`` locate the capture's OWN gzip member inside the
named .warc.gz. The index is the 100 TB access path: a consumer never
scans a segment — it looks up the urlkey range it wants and issues one
ranged GET per capture (the record-per-member layout makes each slice
independently decompressable, the same property `read_warc_split`
leans on).

Spark shape: index parse and ranged fetch are both single Arrow
``mapInPandas`` passes (zero shuffle); the capstone join of index rows
to capture bytes happens per file inside one task. Reference parity
note: the reference walks Hadoop SequenceFile containers by record
(SeqXmlRecordReader.java:233-328); the CDX index is the same
record-addressing idea at archive scale.
"""

from __future__ import annotations

import json
import zlib
from urllib.parse import urlsplit

from hadoopxmlextractor_spark.operators.bitio import _bounded_inflate

CDX_SCHEMA = (
    "doc_id bigint, urlkey string, ts_ms bigint, url string, "
    "mime string, status int, digest string, offset bigint, "
    "length bigint, filename string"
)


def surt(url: str) -> str:
    """SURT urlkey of a URL (the documented subset the big archives
    agree on): scheme and fragment dropped, host lowercased with a
    leading ``www.`` stripped and its dot-components REVERSED and
    comma-joined, default ports dropped, ``)`` + path (lowercased,
    ``/`` if empty), query parameters SORTED and re-joined — so
    protocol/case/param-order variants of one page share a key."""
    parts = urlsplit(url.strip())
    host = parts.hostname or ""
    if not host:
        raise ValueError(f"no hostname in URL: {url!r}")
    host = host.lower()
    if host.startswith("www."):
        host = host[4:]
    key = ",".join(reversed(host.split(".")))
    # drop the port only when it is the SCHEME default (http:80,
    # https:443) — http://host:443/ is a distinct capture target
    default_port = {"http": 80, "https": 443}.get(parts.scheme)
    if parts.port and parts.port != default_port:
        key += f":{parts.port}"
    path = (parts.path or "/").lower()
    key += ")" + path
    if parts.query:
        key += "?" + "&".join(sorted(parts.query.lower().split("&")))
    return key


def parse_cdxj(raw: bytes) -> list[dict]:
    """Capture rows of one CDXJ index blob (gzip-transparent through
    the bounded inflater): per line the urlkey, the 14-digit
    timestamp converted to epoch ms through the shared civil-date
    arithmetic, and the JSON block's url/mime/status/digest/offset/
    length/filename. Malformed lines raise ValueError — an index that
    lies about offsets poisons every ranged read built on it."""
    from hadoopxmlextractor_spark.operators.documents import (
        _epoch_from_civil,
    )

    if raw[:2] == b"\x1f\x8b":
        raw = _bounded_inflate(raw, 31)
    out = []
    for line in raw.decode("utf-8").splitlines():
        if not line.strip():
            continue
        try:
            urlkey, ts, blob = line.split(" ", 2)
            if len(ts) != 14 or not ts.isdigit():
                raise ValueError("bad CDX timestamp")
            epoch = _epoch_from_civil(
                int(ts[0:4]), int(ts[4:6]), int(ts[6:8]),
                int(ts[8:10]), int(ts[10:12]), int(ts[12:14]),
            )
            j = json.loads(blob)
            out.append({
                "urlkey": urlkey,
                "ts_ms": epoch * 1000,
                "url": j["url"],
                "mime": j.get("mime"),
                "status": int(j["status"]) if "status" in j else None,
                "digest": j.get("digest"),
                "offset": int(j["offset"]),
                "length": int(j["length"]),
                "filename": j.get("filename"),
            })
        except (ValueError, KeyError, TypeError, json.JSONDecodeError) as e:
            raise ValueError(f"malformed CDXJ line: {e}") from e
    if not out:
        raise ValueError("empty CDX index")
    return out


def write_cdxj(rows: list[dict], *, gzipped: bool = True) -> bytes:
    """Serialize capture rows as CDXJ (the lossless partner of
    :func:`parse_cdxj`); timestamps are rendered from epoch ms via
    the shared civil-date clock."""
    from hadoopxmlextractor_spark.operators.documents import _iso8601

    lines = []
    for r in rows:
        iso = _iso8601(r["ts_ms"] // 1000)  # YYYY-MM-DDTHH:MM:SSZ
        ts = (iso[0:4] + iso[5:7] + iso[8:10] + iso[11:13] + iso[14:16]
              + iso[17:19])
        j = {"url": r["url"]}
        for k in ("mime", "status", "digest", "filename"):
            if r.get(k) is not None:
                j[k] = str(r[k])
        j["offset"] = str(r["offset"])
        j["length"] = str(r["length"])
        lines.append(f"{r['urlkey']} {ts} {json.dumps(j, sort_keys=True)}")
    raw = ("\n".join(lines) + "\n").encode()
    if gzipped:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        raw = co.compress(raw) + co.flush()
    return raw
