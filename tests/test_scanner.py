import xml.etree.ElementTree as ET

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from hadoopxmlextractor_spark.config import ExtractionConfig, ExtractRule
from hadoopxmlextractor_spark.scanner import (
    Fragment,
    compile_rules,
    scan_document,
    scan_with_config,
)
from tests.fixtures import BOOK_CONFIG_XML, INVENTORY_CONFIG_XML, SOHO, make_store_xml

INV_CFG = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
BOOK_CFG = ExtractionConfig.from_hadoop_xml(BOOK_CONFIG_XML, is_text=True)


def test_scan_document_order_and_counts():
    frags = scan_with_config(make_store_xml(SOHO), INV_CFG)
    # 1 store + 1 address + 2 inventories + 11 books = 15 fragments
    assert len(frags) == 15
    # seq strictly increasing = document order (SeqXmlRecordReader.java:189)
    seqs = [f.seq for f in frags]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    # rule sequence mirrors the hierarchy
    rule_names = [INV_CFG.rules[f.rule_idx].name for f in frags]
    assert rule_names[:3] == ["store", "address", "inventory"]
    assert rule_names.count("book") == 11
    assert rule_names.count("inventory") == 2


def test_fragments_are_wellformed_and_truncated():
    frags = scan_with_config(make_store_xml(SOHO), INV_CFG)
    for f in frags:
        el = ET.fromstring(f.xml)  # re-wrapped fragments parse
        rule = INV_CFG.rules[f.rule_idx]
        assert el.tag == rule.element_name
        if not rule.include_children:
            # include_children=false → start tag only, no children buffered
            assert len(list(el)) == 0 and not (el.text or "").strip()
    address = next(f for f in frags if INV_CFG.rules[f.rule_idx].name == "address")
    phones = ET.fromstring(address.xml).findall("phone")
    assert len(phones) == 1  # children preserved for include_children=true


def test_attribute_filter_hit_and_miss():
    frags = scan_with_config(make_store_xml(SOHO), BOOK_CFG)
    books = [f for f in frags if BOOK_CFG.rules[f.rule_idx].name == "book"]
    assert len(books) == 2  # bk106 appears in both inventories
    assert all('id="bk106"' in f.xml for f in books)
    # non-book fragments unaffected
    assert len(frags) == 2 + 4  # store, address, 2 inventories + 2 books


def test_non_overlap_rule():
    # An element matching rule B nested inside rule A's include_children
    # fragment is NOT extracted separately (SURVEY.md §2.2-8).
    cfg = ExtractionConfig.from_rules(
        [
            ExtractionConfig.parse_rule("outer", "outer;false;true; ;0#//outer;", ";", "#"),
            ExtractionConfig.parse_rule("inner", "inner;false;true; ;1#//inner;", ";", "#"),
        ],
        nr_of_columns=2,
    )
    doc = "<outer><inner>x</inner></outer><inner>y</inner>"
    frags = scan_with_config(doc, cfg)
    names = [cfg.rules[f.rule_idx].name for f in frags]
    assert names == ["outer", "inner"]  # nested <inner>x</inner> swallowed


def test_malformed_fragment_dropped_when_validating():
    cfg = ExtractionConfig.from_rules(
        [ExtractionConfig.parse_rule("a", "a;false;true; ;0#//a;", ";", "#")],
        nr_of_columns=1,
    )
    doc = "<a>ok</a><a>broken < xml</a><a>fine</a>"
    frags = scan_with_config(doc, cfg)
    assert [ET.fromstring(f.xml).text for f in frags] == ["ok", "fine"]


def test_unclosed_fragment_stops_scan():
    cfg = ExtractionConfig.from_rules(
        [ExtractionConfig.parse_rule("a", "a;false;true; ;0#//a;", ";", "#")],
        nr_of_columns=1,
    )
    assert scan_with_config("<a>never closes", cfg) == []


# --- linear scan: differential check against the re-search-every-rule loop --


def _reference_scan(content, compiled, *, validate):
    """The scanner before the per-rule next-match cache: after every
    fragment each rule's start pattern is searched again from ``pos``.
    Quadratic in fragments x bytes; kept here as the semantic oracle."""
    pos = 0
    n = len(content)
    while pos < n:
        best_at = -1
        best_rule = -1
        for idx, rule in enumerate(compiled):
            at = content.find(rule.start_pattern, pos)
            if at != -1 and (best_at == -1 or at < best_at):
                best_at, best_rule = at, idx
        if best_at == -1:
            return
        rule = compiled[best_rule]
        end_at = content.find(rule.end_pattern, best_at + len(rule.start_pattern))
        if end_at == -1:
            return
        frag_end = end_at + len(rule.end_pattern)
        if rule.attribute_value is not None:
            gt = content.find(">", best_at)
            start_tag = content[best_at : gt + 1] if gt != -1 else content[best_at:]
            if rule.attribute_value not in start_tag:
                pos = frag_end
                continue
        fragment = content[best_at:frag_end] + rule.buffer_addition
        if validate:
            try:
                ET.fromstring(fragment)
            except ET.ParseError:
                pos = frag_end
                continue
        yield Fragment(seq=best_at, rule_idx=best_rule, xml=fragment)
        pos = frag_end


_NAMES = ("a", "b", "c")
# ' id=k1' is an unquoted attribute: its start tag is malformed XML
_ATTRS = ("", ' id="k1"', ' id="k2"', ' x="0"', " id=k1")
_TEXTS = ("", "t", "1 < 2", "&bad;")


def _rule(name, has_attribute, include_children, attribute_value):
    return ExtractRule(name, name, has_attribute, include_children, attribute_value)


@st.composite
def _rules(draw):
    """1-4 rules over three element names, so two rules often share a
    start pattern (ties go to declaration order)."""
    specs = draw(
        st.lists(
            st.tuples(
                st.sampled_from(_NAMES),
                st.booleans(),
                st.booleans(),
                st.sampled_from((None, None, "k1", "k2")),
            ),
            min_size=1,
            max_size=4,
        )
    )
    return compile_rules(tuple(_rule(*spec) for spec in specs))


@st.composite
def _element(draw, depth):
    name = draw(st.sampled_from(_NAMES))
    attrs = draw(st.sampled_from(_ATTRS))
    body = draw(st.sampled_from(_TEXTS))
    if depth < 2:
        body += "".join(draw(st.lists(_element(depth + 1), max_size=3)))
    return f"<{name}{attrs}>{body}</{name}>"


@st.composite
def _documents(draw):
    """Concatenated random elements (nested two deep, with malformed
    bodies and start tags) plus an optional unclosed trailing element."""
    parts = draw(st.lists(_element(0), max_size=6))
    tail = draw(st.sampled_from(("", "<a>never closes", '<b id="k1">open', "<c x")))
    return "".join(parts) + tail


_A = _rule("a", False, True, None)
_B = _rule("b", False, True, None)
_B_K1 = _rule("b", True, True, "k1")
_C = _rule("c", True, False, None)


@given(content=_documents(), compiled=_rules())
@example(  # store/address shape: each rule matches once, then never again
    content="<a>1</a><b>2</b>" + '<c x="0"></c>' * 5,
    compiled=compile_rules((_A, _B, _C)),
)
@example(  # <a> occurs only inside b's include_children fragment
    content="<b><a>x</a></b><b>y</b>",
    compiled=compile_rules((_A, _B)),
)
@example(  # predicate miss on b: the discarded fragment swallows <a>, <c
    content='<b id="k2"><a>x</a><c x="0"></c></b><a>y</a><b id="k1"></b>',
    compiled=compile_rules((_A, _B_K1, _C)),
)
@example(  # same start pattern twice: the earlier-declared rule wins
    content="<a>1</a><b>2</b><a>3</a>",
    compiled=compile_rules((_B, _A, _A)),
)
@example(  # malformed fragments: dropped only when validating
    content='<a>1 < 2</a><a>ok</a><c id=k1></c><a>&bad;</a>',
    compiled=compile_rules((_A, _C)),
)
@example(  # unclosed trailing fragment stops the scan
    content='<a>1</a><c x="0"></c><a>never closes <c x="1"></c>',
    compiled=compile_rules((_A, _C)),
)
@settings(max_examples=300, suppress_health_check=[HealthCheck.too_slow])
def test_scan_document_equals_rescan_reference(content, compiled):
    for validate in (True, False):
        assert list(scan_document(content, compiled, validate=validate)) == list(
            _reference_scan(content, compiled, validate=validate)
        )


class _CountingStr(str):
    """A document that adds up the characters each ``find`` examines:
    a hit costs ``at + len(sub) - start``, a miss ``len(s) - start``."""

    def find(self, sub, start=0, *rest):
        at = str.find(self, sub, start, *rest)
        self.examined += (at + len(sub) if at != -1 else len(self)) - start
        return at


@pytest.mark.parametrize("n_books", [100, 2000])
@pytest.mark.parametrize("cfg", [INV_CFG, BOOK_CFG], ids=["inventory", "book"])
def test_scan_find_work_is_linear(cfg, n_books):
    books = [(f"bk{i}", str(i % 50)) for i in range(n_books)]
    store = ("Big", "1", [("January", "1", books[: n_books // 2]),
                          ("February", "2", books[n_books // 2 :])])
    content = _CountingStr(make_store_xml(store))
    content.examined = 0
    compiled = compile_rules(cfg.rules)
    frags = list(scan_document(content, compiled))
    assert len(frags) >= 4
    assert content.examined <= (2 * len(compiled) + 2) * len(content)
