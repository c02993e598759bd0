import pytest

from hadoopxmlextractor_spark.config import ExtractionConfig, ExtractRule, XPathSpec
from tests.fixtures import BOOK_CONFIG_XML, INVENTORY_CONFIG_XML


def test_parse_inventory_config():
    cfg = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
    assert cfg.nr_of_columns == 6
    assert cfg.output_delimiter == ";"
    assert [r.name for r in cfg.rules] == ["store", "address", "inventory", "book"]

    store = cfg.rules[0]
    assert store.element_name == "store"
    assert store.has_attribute and not store.include_children
    assert store.attribute_value is None  # single space → no filter
    assert store.xpaths == (XPathSpec(0, "//store/@name"),)
    assert store.start_pattern == "<store "
    assert store.end_pattern == ">"
    assert store.buffer_addition == "</store>"

    address = cfg.rules[1]
    assert not address.has_attribute and address.include_children
    assert address.start_pattern == "<address>"
    assert address.end_pattern == "</address>"
    assert address.buffer_addition == ""

    inventory = cfg.rules[2]
    assert inventory.xpaths == (
        XPathSpec(2, "//inventory/@month"),
        XPathSpec(3, "//inventory/@day"),
    )


def test_parse_book_config_attribute_filter():
    cfg = ExtractionConfig.from_hadoop_xml(BOOK_CONFIG_XML, is_text=True)
    book = cfg.rules[3]
    assert book.attribute_value == "bk106"


def test_parse_rule_edge_cases():
    r = ExtractionConfig.parse_rule("x", "el;false;true; ;0#//el/text();", ";", "#")
    assert r.attribute_value is None
    r2 = ExtractionConfig.parse_rule("x", "el;true;false;foo;1#//el/@a", ";", "#")
    assert r2.attribute_value == "foo"
    assert r2.xpaths == (XPathSpec(1, "//el/@a"),)


def test_output_columns_default_and_named():
    cfg = ExtractionConfig.from_rules(
        [ExtractRule("r", "r", False, True, None, (XPathSpec(0, "//r"),))],
        nr_of_columns=2,
    )
    assert cfg.output_columns() == ["c0", "c1"]
    named = ExtractionConfig.from_rules(
        cfg.rules, nr_of_columns=2, column_names=("a", "b")
    )
    assert named.output_columns() == ["a", "b"]


def test_out_of_range_order_refused():
    # The reference would fail on theColumns[order] (XmlExtractor.java:155);
    # both constructors refuse, naming the rule and the order.
    for bad_order, n in ((2, 2), (-1, 3)):
        bad = ExtractRule("item", "item", True, False, None, (XPathSpec(bad_order, "//item/@b"),))
        with pytest.raises(ValueError, match=rf"rule 'item'.*order {bad_order}\b"):
            ExtractionConfig.from_rules([bad], nr_of_columns=n)
    ok = ExtractRule("item", "item", True, False, None, (XPathSpec(0, "//i/@a"), XPathSpec(2, "//i/@b")))
    assert ExtractionConfig.from_rules([ok], nr_of_columns=3).nr_of_columns == 3
    xml = INVENTORY_CONFIG_XML.replace(
        "<name>xmlextractor.nr_of_columns</name><value>6</value>",
        "<name>xmlextractor.nr_of_columns</name><value>5</value>",
    )
    assert xml != INVENTORY_CONFIG_XML
    with pytest.raises(ValueError, match=r"rule 'book'.*order 5\b"):
        ExtractionConfig.from_hadoop_xml(xml, is_text=True)
