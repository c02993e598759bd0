"""The fused path's start-tag tier against the tree parse it replaces.

- ``xpath_subset.shape_of``, which decides the start-tag tier's XPaths,
  on the forms it must refuse.
- The start-tag tier (``extract._read_start_tag``) against
  ``ET.fromstring`` plus ``compile_subset`` on hostile start tags: the
  same cells, or the same drop.
- The drop count on the benchmark's corpus shape.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import xml.etree.ElementTree as ET

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from hadoopxmlextractor_spark.config import ExtractionConfig
from hadoopxmlextractor_spark.extract import (
    _compile_fused,
    _fused_scan,
    _read_start_tag,
    _start_tag_plan,
)
from hadoopxmlextractor_spark.scanner import compile_rules, scan_document
from hadoopxmlextractor_spark.xpath_subset import Shape, compile_subset, shape_of

# --- shapes -----------------------------------------------------------------


@pytest.mark.parametrize(
    "expr, shape",
    [
        ("//book/@id", Shape(("book",), "id")),
        ("//x:book/@x:id", Shape(("book",), "id")),  # local names
        ("//address/phone/@id", Shape(("address", "phone"), "id")),
    ],
)
def test_shape_of(expr, shape):
    assert shape_of(expr) == shape


@pytest.mark.parametrize(
    "expr",
    [
        "//a[@id='1']/@id",  # predicate
        "//a[2]/@id",  # positional predicate
        "//*/@id",  # wildcard
        "//a/*/@id",
        "//a/text()",  # text terminal
        "//text()",
        "//a/@id | //b/@id",  # union
        "//a//b/@id",  # '//' after the first step
        "/r/a/@id",  # absolute child path
        "a/@id",  # relative path
        "//a",  # bare element: subtree string value
        "//a/@*",
        "//a/../@id",
        "//a/parent::r/@id",
        "count(//a)",  # out of subset
    ],
)
def test_other_forms_have_no_shape(expr):
    assert shape_of(expr) is None


# --- start-tag tier ------------------------------------------------------------

_PIECES = [
    ' id="bk1"', " id='bk2'", ' inStock="7"', ' id="dup"',  # duplicates
    ' a="Smith & Sons"', ' a="&amp;"', ' a="&lt;&gt;&quot;&apos;"',
    ' a="&#60;"', ' a="&#x3C;"', ' a="&#0;"', ' a="&bogus;"', ' a="<"',
    ' a="1', " a='1\"", ' a="x" ', ' &', " <", ' "', " '",
    ' xmlns="urn:d"', ' xmlns:p="urn:p"', ' xmlns:q="urn:p"', ' xmlns:p=""',
    ' p:id="p1"', ' q:id="q1"', ' xml:lang="en"', ' r:x="1"',
    "\t", "\n", "\r\n", " ", ' id = "s"', 'b="nospace"', "/", " /",
    ' 1a="x"', ' a=x', ' a="\x01"', ' a="é€"',
]

tag_bodies = st.lists(st.sampled_from(_PIECES), max_size=6).map("".join)


def _config(element: str) -> ExtractionConfig:
    xpaths = "0#//book/@id;1#//book/@inStock;2#//p:book/@p:id;3#//book/@lang;4#//other/@id;"
    return ExtractionConfig.from_rules(
        [ExtractionConfig.parse_rule("book", f"{element};true;false; ;{xpaths}", ";", "#")],
        nr_of_columns=5,
    )


def _tree_cells(content: str, config: ExtractionConfig) -> list[tuple[int, int, str]]:
    """The fused cells as ``ET.fromstring`` plus ``compile_subset`` give them."""
    evaluators = [
        sorted(((xp.order, compile_subset(xp.expr)) for xp in r.xpaths), key=lambda e: e[0])
        for r in config.rules
    ]
    cells = []
    for frag in scan_document(content, compile_rules(config.rules), validate=False):
        try:
            tree = ET.fromstring(frag.xml)
        except ET.ParseError:
            continue
        for order, ev in evaluators[frag.rule_idx]:
            value = ev(tree)
            if value is not None:
                cells.append((frag.seq, order, value))
    return cells


@settings(max_examples=600, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(body=tag_bodies, element=st.sampled_from(["book", "p:book"]))
@example(body=' id="bk1" a="Smith & Sons"', element="book")
@example(body=' id="bk1" id="bk2"', element="book")
@example(body=' xmlns:p="urn:p" p:id="1" id="2"', element="p:book")
@example(body=' id="1"/', element="book")
def test_start_tag_tier_matches_tree_parse(body, element):
    config = _config(element)
    assert _start_tag_plan(config.rules[0]) is not None
    start_tag = f"<{element} {body}>"
    fragment = f"{start_tag}</{element}>"
    try:
        tree = ET.fromstring(fragment)
    except ET.ParseError:
        tree = None
    root = _read_start_tag(fragment)
    assert (root is None) == (tree is None), fragment
    if tree is not None:
        assert root[0] == tree.tag.rpartition("}")[2]
        # expat's 'uri}local' is ElementTree's '{uri}local'
        assert {("{" + k if "}" in k else k): v for k, v in root[1].items()} == tree.attrib
    doc = f"<store>{start_tag}<x/>{start_tag}</store>"
    got = list(_fused_scan(config, _compile_fused(config))(doc))
    assert got == _tree_cells(doc, config), fragment


def test_start_tag_tier_only_takes_start_tag_fragments():
    def rule(value: str):
        return ExtractionConfig.parse_rule("r", value, ";", "#")

    assert _start_tag_plan(rule("book;true;false; ;1#//book/@id;0#//book/@x;")) == (
        (0, "book", "x"),
        (1, "book", "id"),
    )
    # '<book>' start pattern: the fragment runs to the next '>' in the
    # document and can hold text and child elements
    assert _start_tag_plan(rule("book;false;false; ;0#//book/@id;")) is None
    assert _start_tag_plan(rule("book;true;true; ;0#//book/@id;")) is None
    assert _start_tag_plan(rule("book;true;false; ;0#//book/text();")) is None
    assert _start_tag_plan(rule("book;true;false; ;0#//book[@x]/@id;")) is None
    assert _start_tag_plan(rule("book;true;false; ;0#/book/@id;")) is None


# --- drops on the benchmark's corpus shape ------------------------------------


def _bench_corpus():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "corpus.py")
    spec = importlib.util.spec_from_file_location("perfbench_corpus", path)
    module = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = module  # its dataclasses resolve through it
    spec.loader.exec_module(module)
    return module


def test_malformed_count_on_bench_corpus(spark):
    from hadoopxmlextractor_spark.extract import extract, extract_fragments, malformed_fragments
    from hadoopxmlextractor_spark.sources import docs_from_strings
    from tests.fixtures import INVENTORY_CONFIG_XML

    corpus = _bench_corpus()
    config = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
    texts = {d.name: corpus.render(d.store, d.malformed) for d in corpus.make_corpus(1)}
    docs = docs_from_strings(spark, texts)
    assert extract_fragments(docs, config, validate=False).count() == 10_992
    assert malformed_fragments(docs, config).count() == 100
    # the fused path drops the same 100 books: one row per other book
    assert extract(docs, config, fused=True).count() == 9_900


# --- depth --------------------------------------------------------------------


def test_deep_document_gives_the_same_rows_on_both_paths(spark):
    """A fragment nested 100,000 deep: the fused evaluators walk with
    explicit stacks, so the fused path answers as the JVM path does
    instead of failing the job with ``RecursionError``."""
    from hadoopxmlextractor_spark.extract import extract
    from hadoopxmlextractor_spark.sources import docs_from_strings

    depth = 100_000
    rule = ExtractionConfig.parse_rule("r", "r;false;true; ;0#//b/@id;1#/r/c/text();", ";", "#")
    config = ExtractionConfig(rules=(rule,), nr_of_columns=2)
    docs = docs_from_strings(
        spark,
        {
            "good.xml": '<r><c>good</c><b id="g"/></r>',
            "deep.xml": '<r><c>t<b id="k">' + '<b id="k">' * (depth - 1) + "</b>" * depth + "</c></r>",
        },
    )
    fused = sorted(map(tuple, extract(docs, config, fused=True).collect()))
    general = sorted(map(tuple, extract(docs, config, fused=False).collect()))
    assert fused == general
    assert [(d, len(b), c) for d, _, b, c in fused] == [("deep.xml", depth, "t"), ("good.xml", 1, "good")]
