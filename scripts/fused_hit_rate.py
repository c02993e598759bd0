#!/usr/bin/env python
"""Measure the fused-XPath hit rate (round-5 verdict item 7): which
fraction of expressions compile onto the fused ElementTree path (see
``extract_cells_fused``) vs falling back to the general JVM ``xpath()``.
Exits 1 if a reference-config expression falls back, a reference rule
that takes only the start tag leaves the expat start-tag tier, or the
catalog drifts from its documented routing.

Three corpora, measured separately:
1. Both reference configs' expressions (ExtractInventory /
   ExtractBook — the surface the reference itself exercises).
2. A fixed CATALOG of XPath-1.0 construct families: one canonical
   expression per construct, spanning everything the subset grammar
   claims plus the documented out-of-subset residue. Deterministic,
   so the reported % is a property of the grammar, not of fuzz
   weights.
3. The cross-validation fuzz generator's corpus (built to stay inside
   the subset — reported to evidence that claim holds, expected 100%).

Pure-Python (no Spark session): compile_subset alone decides routing.
The reference configs' rules also print their fused tier: the expat
start-tag tier or a parsed tree (``extract._start_tag_plan``).
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoopxmlextractor_spark.config import ExtractionConfig  # noqa: E402
from hadoopxmlextractor_spark.extract import _start_tag_plan  # noqa: E402
from hadoopxmlextractor_spark.xpath_subset import compile_subset  # noqa: E402
from tests.fixtures import BOOK_CONFIG_XML, INVENTORY_CONFIG_XML  # noqa: E402

REFERENCE_CONFIGS = {
    name: ExtractionConfig.from_hadoop_xml(xml, is_text=True)
    for name, xml in (("ExtractInventory", INVENTORY_CONFIG_XML), ("ExtractBook", BOOK_CONFIG_XML))
}
# the six distinct expressions of both configs, in declaration order
REFERENCE_CONFIG_EXPRS = list(
    dict.fromkeys(
        xp.expr for c in REFERENCE_CONFIGS.values() for r in c.rules for xp in r.xpaths
    )
)

# (construct family, canonical expression, expected_fused) — the
# expectation documents the grammar; the script FAILS if reality
# drifts from the doc, so COVERAGE.md can cite the output verbatim.
CATALOG = [
    ("absolute child path", "/store/book/title", True),
    ("descendant step anywhere", "/store//book/title", True),
    ("leading descendant", "//book/title/text()", True),
    ("attribute terminal", "//book/@id", True),
    ("descendant text terminal", "//book//text()", True),
    ("wildcard step", "//*/title", True),
    ("attr equality pred (single quotes)", "//book[@cat='f']/@id", True),
    ("attr equality pred (double quotes)", '//book[@cat="f"]/@id', True),
    ("attr numeric comparison", "//book[@price>30]/title", True),
    ("attr numeric != (NaN rule)", "//book[@price!=30]/@id", True),
    ("positional pred", "//book[2]/@id", True),
    ("last() pred", "//book[last()]/@id", True),
    ("position() comparison", "//book[position()<=2]/@id", True),
    ("contains() on attr", "//book[contains(@id,'bk')]/@id", True),
    ("starts-with() on attr", "//book[starts-with(@id,'bk1')]/@id", True),
    ("namespace-prefixed steps", "//bk:book/@ns:id", True),
    ("top-level union", "//book/@id | //book/title/text()", True),
    ("abbreviated parent ..", "//price/../@id", True),
    ("parent:: axis", "//title/parent::book/@id", True),
    ("following-sibling::", "//book/following-sibling::mag/@id", True),
    ("preceding-sibling::", "//mag/preceding-sibling::book/@id", True),
    ("ancestor:: axis", "//title/ancestor::book/@id", True),
    ("ancestor with attr pred", "//title/ancestor::shelf[@id='s2']", True),
    ("reverse-axis positional (psib)",
     "//mag/preceding-sibling::book[1]/@id", True),
    ("reverse-axis positional (ancestor)",
     "//title/ancestor::*[1]/@id", True),
    ("reverse-axis last()", "//title/ancestor::*[last()]/@id", True),
    # ---- round-5 grammar extensions (javax-probed + fuzz-gated) ----
    ("child-element comparison pred", "//book[price>30]/@id", True),
    ("child-element string pred", "//book[title='T1']/@id", True),
    ("child-element existence pred", "//shelf[book]/@id", True),
    ("attribute existence pred", "//book[@cat]/@id", True),
    ("position()=last() composite", "//book[position()=last()]", True),
    ("multiple predicates per step", "//book[@cat='f'][2]/@id", True),
    ("boolean 'and' in pred", "//book[@cat='f' and @id='1']", True),
    ("boolean 'or' in pred", "//book[@cat='f' or price>30]", True),
    ("bare text() step", "//text()", True),
    ("text() positional terminal", "//book/text()[1]", True),
    ("descendant text positional", "//shelf//text()[last()]", True),
    ("following:: (full-document axis)", "//book/following::mag", True),
    ("preceding:: (full-document axis)", "//mag/preceding::book", True),
    ("ancestor-or-self::", "//title/ancestor-or-self::book", True),
    ("descendant:: explicit axis", "/store/descendant::book", True),
    ("'//' before descendant::", "//shelf//descendant::book", True),
    ("attribute wildcard terminal", "//book/@*", True),
    ("relative (no leading slash) path", "book/title", True),
    ("path predicate (child chain)", "//book[author/name='Ann']/@id", True),
    ("path predicate with attr terminal", "//shelf[book/@cat='f']/@id", True),
    ("parenthesized boolean", "//book[(@cat='f' or price>30) and title]", True),
    ("not() negation", "//book[not(@cat='f')]/@id", True),
    ("nested not()", "//book[not(not(author))]/@id", True),
    ("self:: axis", "//book/self::book[@cat='f']/@id", True),
    ("'.' self step", "/store/./shelf/@id", True),
    # ---- documented out-of-subset residue (JVM fallback) ----
    ("'//' before parent step", "//book//..", False),
    ("'//' before reverse/full-doc axis step", "//title//ancestor::book", False),
    ("positional chain on reverse axis (Xalan doc-order bug)",
     "//a/ancestor::b[1][@x='1']", False),
    ("'.//'-leading predicate path (javax full-name-matches it on "
     "prefixed docs)", "//shelf[.//name='Ann']/@id", False),
    ("predicate on '..' (INVALID XPath 1.0 — javax throws)",
     "//a/..[@id='1']", False),
    ("'//' before self step (text-node contexts)", "//store//.", False),
    ("count() function (non-nodeset result)", "count(//book)", False),
    ("nested bracket predicate", "//book[a[b]]/@id", False),
    ("absolute path inside a predicate", "//book[//name='Ann']/@id", False),
]


def main() -> None:
    # the reference configs stay fused, and every rule that takes only
    # the start tag stays on the expat start-tag tier
    left = []
    for name, config in REFERENCE_CONFIGS.items():
        for r in config.rules:
            fused = all(compile_subset(xp.expr) is not None for xp in r.xpaths)
            tier = "start tag" if _start_tag_plan(r) else "tree" if fused else "JVM fallback"
            print(f"  {name}/{r.name}: {tier}: " + "; ".join(xp.expr for xp in r.xpaths))
            if not fused or (not r.include_children and tier != "start tag"):
                left.append(f"{name}/{r.name} ({tier})")
    ref_hits = sum(compile_subset(e) is not None for e in REFERENCE_CONFIG_EXPRS)
    print(
        f"reference configs: {ref_hits}/{len(REFERENCE_CONFIG_EXPRS)} "
        f"expressions fused ({100.0 * ref_hits / len(REFERENCE_CONFIG_EXPRS):.0f}%)"
    )
    if left:
        print(f"LEFT THEIR TIER: {'; '.join(left)}")
        sys.exit(1)

    in_subset = [c for c in CATALOG if c[2]]
    out_subset = [c for c in CATALOG if not c[2]]
    drift = []
    for fam, expr, expected in CATALOG:
        got = compile_subset(expr) is not None
        if got != expected:
            drift.append((fam, expr, expected, got))
    if drift:
        for fam, expr, expected, got in drift:
            print(f"DRIFT {fam}: {expr} expected fused={expected} got {got}")
        sys.exit(1)
    pct = 100.0 * len(in_subset) / len(CATALOG)
    print(
        f"construct catalog: {len(in_subset)}/{len(CATALOG)} families fused "
        f"({pct:.0f}%); residue ({len(out_subset)}): "
        + "; ".join(f[0] for f in out_subset)
    )

    # fuzz corpus: generated inside the subset by construction — the
    # hit rate evidences that the generator and grammar agree
    from tests.test_xpath_crossval import _gen_expr

    rng = random.Random(20260813)
    exprs = [_gen_expr(rng) for _ in range(500)]
    hits = sum(compile_subset(e) is not None for e in exprs)
    print(f"crossval fuzz corpus: {hits}/{len(exprs)} fused ({100.0 * hits / len(exprs):.0f}%)")


if __name__ == "__main__":
    main()
