"""Sitemap XML (sitemaps.org protocol) → URL rows — the crawl-side
companion of robots.txt admission, and a natural fit for this engine's
XML heritage: a fetch pipeline seeds its frontier from sitemap files,
so parsing ``urlset``/``sitemapindex`` at scale is a real source, not
a curiosity.

Shape: one Arrow ``mapInPandas`` pass (file/doc → entries), no
shuffle; namespace handling is localname-based (real sitemaps carry
the ``http://www.sitemaps.org/schemas/sitemap/0.9`` default namespace
and assorted extensions), and a malformed document degrades to a
single kind-NULL marker row — the same auditable-NULL contract as the
WARC reader. Reference heritage: the reference's whole job was
XML-fragment extraction (SeqXmlRecordReader.java:233-328); this is
that shape applied to the crawl-frontier use case.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (callers' convenience)

from hadoopxmlextractor_spark.operators.kernel import blob_rows


def _local(tag: str) -> str:
    return tag.rpartition("}")[2]


def parse_sitemap(xml_text: str) -> list[dict]:
    """One sitemap document → entry dicts: ``urlset`` yields kind
    'url' rows (loc, lastmod, priority), ``sitemapindex`` yields kind
    'index' rows (loc, lastmod) pointing at child sitemaps. Unknown
    root tags and XML errors raise ValueError (callers map that to
    the marker-row contract)."""
    root = ET.fromstring(xml_text)
    kind_by_root = {"urlset": ("url", "url"), "sitemapindex": ("sitemap", "index")}
    if _local(root.tag) not in kind_by_root:
        raise ValueError(f"not a sitemap root: {root.tag}")
    child_tag, kind = kind_by_root[_local(root.tag)]
    entries = []
    for el in root:
        if _local(el.tag) != child_tag:
            continue
        fields = {_local(f.tag): (f.text or "").strip() for f in el}
        if "loc" not in fields:
            raise ValueError("sitemap entry without <loc>")
        entries.append(
            {
                "entry_idx": len(entries),
                "kind": kind,
                "loc": fields["loc"],
                "lastmod": fields.get("lastmod") or None,
                "priority": (
                    float(fields["priority"]) if "priority" in fields else None
                ),
            }
        )
    return entries


def sitemap_entries(
    docs: DataFrame, xml_col: str = "xml", id_col: str = "doc_id"
) -> DataFrame:
    """(id, xml) sitemap documents → entry rows; malformed documents
    degrade to one kind-NULL marker row so frontier auditing stays
    total at file granularity."""
    return blob_rows(
        docs, id_col, xml_col, parse_sitemap,
        f"{id_col} long, entry_idx int, kind string, loc string, "
        "lastmod string, priority double",
        {"entry_idx": -1},
    )
