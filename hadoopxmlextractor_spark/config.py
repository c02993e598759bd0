"""Extraction config: the reference's query language.

The reference's "query" is a Hadoop resource XML file whose properties
declare per-element extraction rules (grammar:
reference ``README.md:164-252``, parser
``SeqXmlRecordReader.java:71-115``). This module parses the same grammar
into plain dataclasses; expression compilation is left to Catalyst
(``F.xpath`` compiles XPath JVM-side once per stage).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass, field


@dataclass(frozen=True)
class XPathSpec:
    """One ``ORDER#XPATH`` pair (reference ``XPathInfoWritable.java:39-47``).

    ``order`` is the absolute output-column index (the reference README
    calls it "relative position" but the reducer indexes the output array
    with it directly — ``XmlExtractor.java:155``).
    """

    order: int
    expr: str


@dataclass(frozen=True)
class ExtractRule:
    """One element-extraction rule
    (``ELEMENT_NAME;HAS_ATTRIBUTE;INCLUDE_CHILDREN;ATTRIBUTE_VALUE;ORDER#XPATH;…``,
    reference ``README.md:239-252``, ``SeqXmlRecordReader.java:71-115``).
    """

    name: str
    element_name: str
    has_attribute: bool
    include_children: bool
    # Substring that must appear inside the start tag, or None for no filter
    # (the grammar encodes "no filter" as a single space, README.md:248-250).
    attribute_value: str | None
    xpaths: tuple[XPathSpec, ...] = ()

    @property
    def start_pattern(self) -> str:
        # has_attribute → scan for '<name ', else '<name>'
        # (SeqXmlRecordReader.java:79-88).
        return f"<{self.element_name} " if self.has_attribute else f"<{self.element_name}>"

    @property
    def end_pattern(self) -> str:
        # include_children=false → end pattern is just '>' and a synthetic
        # close tag keeps the fragment well-formed
        # (SeqXmlRecordReader.java:93-101).
        return f"</{self.element_name}>" if self.include_children else ">"

    @property
    def buffer_addition(self) -> str:
        return "" if self.include_children else f"</{self.element_name}>"


@dataclass(frozen=True)
class ExtractionConfig:
    """Full extraction query: scalar knobs + ordered rule list
    (reference ``XmlExtractor.java:51-55``)."""

    rules: tuple[ExtractRule, ...]
    nr_of_columns: int
    output_delimiter: str = ";"
    delimiter: str = ";"
    sort_order_delimiter: str = "#"
    column_names: tuple[str, ...] = field(default=())

    def __post_init__(self) -> None:
        # The reference indexes theColumns[order] directly
        # (XmlExtractor.java:155), so an order outside [0, nr_of_columns)
        # fails there; refuse it here rather than drop or misplace cells.
        for rule in self.rules:
            for xp in rule.xpaths:
                if not 0 <= xp.order < self.nr_of_columns:
                    raise ValueError(
                        f"rule '{rule.name}': xpath order {xp.order} outside "
                        f"[0, nr_of_columns={self.nr_of_columns})"
                    )

    def output_columns(self) -> list[str]:
        """Column names for the assembled output (c0..cN-1 unless named)."""
        if self.column_names:
            if len(self.column_names) != self.nr_of_columns:
                raise ValueError(
                    f"column_names has {len(self.column_names)} entries, "
                    f"nr_of_columns={self.nr_of_columns}"
                )
            return list(self.column_names)
        return [f"c{i}" for i in range(self.nr_of_columns)]

    @staticmethod
    def parse_rule(name: str, value: str, delimiter: str, sort_delim: str) -> ExtractRule:
        """Parse one rule property value (``SeqXmlRecordReader.java:71-115``)."""
        parts = value.split(delimiter)
        if len(parts) < 4:
            raise ValueError(f"rule '{name}' needs >=4 '{delimiter}'-separated fields: {value!r}")
        element_name = parts[0].strip()
        has_attribute = parts[1].strip().lower() == "true"
        include_children = parts[2].strip().lower() == "true"
        # A single space (or empty after split) means "no filter"
        # (README.md:248-250); anything else is a raw substring predicate.
        attr_raw = parts[3]
        attribute_value = None if attr_raw.strip() == "" else attr_raw
        xpaths = []
        for token in parts[4:]:
            token = token.strip()
            if not token:
                continue
            order_s, _, expr = token.partition(sort_delim)
            if not expr:
                raise ValueError(f"rule '{name}': xpath token {token!r} lacks '{sort_delim}'")
            xpaths.append(XPathSpec(order=int(order_s), expr=expr))
        return ExtractRule(
            name=name,
            element_name=element_name,
            has_attribute=has_attribute,
            include_children=include_children,
            attribute_value=attribute_value,
            xpaths=tuple(xpaths),
        )

    @classmethod
    def from_hadoop_xml(cls, path_or_text: str, *, is_text: bool = False) -> "ExtractionConfig":
        """Parse the reference's Hadoop-resource config XML verbatim
        (merged into the job conf at ``XmlExtractor.java:187``)."""
        if is_text:
            root = ET.fromstring(path_or_text.lstrip("﻿"))
        else:
            with open(path_or_text, encoding="utf-8-sig") as f:
                root = ET.fromstring(f.read())
        props: dict[str, str] = {}
        for prop in root.iter("property"):
            name_el = prop.find("name")
            value_el = prop.find("value")
            if name_el is None or value_el is None:
                continue
            props[(name_el.text or "").strip()] = value_el.text or ""
        delimiter = props.get("xmlextractor.delimiter_string", ";")
        sort_delim = props.get("xmlextractor.sort_order_delimiter_string", "#")
        out_delim = props.get("xmlextractor.output_delimiter_string", ";")
        nr_of_columns = int(props["xmlextractor.nr_of_columns"])
        node_names = [n for n in props["xmlextractor.nodes"].split(delimiter) if n.strip()]
        rules = tuple(
            cls.parse_rule(n, props[n], delimiter, sort_delim) for n in node_names
        )
        return cls(
            rules=rules,
            nr_of_columns=nr_of_columns,
            output_delimiter=out_delim,
            delimiter=delimiter,
            sort_order_delimiter=sort_delim,
        )

    @classmethod
    def from_rules(
        cls,
        rules: list[ExtractRule] | tuple[ExtractRule, ...],
        nr_of_columns: int,
        *,
        output_delimiter: str = ";",
        column_names: tuple[str, ...] = (),
    ) -> "ExtractionConfig":
        """Programmatic constructor for the analytics surface."""
        return cls(
            rules=tuple(rules),
            nr_of_columns=nr_of_columns,
            output_delimiter=output_delimiter,
            column_names=tuple(column_names),
        )
