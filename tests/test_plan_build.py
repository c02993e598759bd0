"""The extraction pipeline's plan builders write SQL text (``sqltext``).

Two contracts: user strings and column names of any content reach the
output unchanged in both string-literal parser modes, and building the
sink plan stays within a py4j round-trip budget.
"""

from __future__ import annotations

import dataclasses
import gc
import html

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from py4j.clientserver import ClientServerConnection

from hadoopxmlextractor_spark.config import ExtractionConfig
from hadoopxmlextractor_spark.extract import extract
from hadoopxmlextractor_spark.sinks import to_reference_lines
from hadoopxmlextractor_spark.sources import docs_from_strings, read_xml_documents
from tests.fixtures import (
    BANKS,
    BOOK_CONFIG_XML,
    INVENTORY_CONFIG_XML,
    SOHO,
    golden_rows,
    make_store_xml,
)

# Each piece is a hazard for SQL text built by interpolation: variable
# substitution, quote and escape characters, identifier quotes, newlines,
# non-BMP code points.
_PIECES = ["a", "${x}", "${spark.app.name}", "'", "\\", "\\'", "`", "\n", "😀", "é", " ", "$", "{"]
_literal = st.lists(st.sampled_from(_PIECES), min_size=1, max_size=6).map("".join)
# Names, delimiters and missing values may also hold a double quote and a dot.
_text = st.lists(st.sampled_from([*_PIECES, '"', "."]), max_size=6).map("".join)
_names = st.lists(_text.filter(bool), min_size=6, max_size=6, unique=True)

_HOSTILE = "a${spark.app.name}b'\\`\n😀"


def _config(store_name: str, names: list[str], delimiter: str) -> ExtractionConfig:
    """The inventory config, its store rule selecting by a literal that
    holds ``store_name``."""
    inventory = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
    store = ExtractionConfig.parse_rule(
        "store", f'store;true;false; ;0#//store[@name="{store_name}"]/@name;', ";", "#"
    )
    return dataclasses.replace(
        inventory,
        rules=(store, *inventory.rules[1:]),
        output_delimiter=delimiter,
        column_names=tuple(names),
    )


def _attr(value: str) -> str:
    """XML attribute text for ``value``; character references keep
    whitespace from attribute-value normalization."""
    return html.escape(value).replace("\n", "&#10;")


@pytest.mark.parametrize("escaped_literals", [False, True], ids=["default", "escaped"])
@given(store_name=_literal, names=_names, delimiter=_text, missing=_text)
@example(store_name=_HOSTILE, names=[_HOSTILE, "`c1`", "c0", "a.b", "${x}", '"'],
         delimiter=_HOSTILE, missing="${x}\\'")
@settings(max_examples=6, deadline=None)
def test_hostile_strings_reach_the_lines_unchanged(spark, escaped_literals, store_name, names,
                                                    delimiter, missing):
    # Only the first store's name equals the XPath literal; the other
    # store's name column stays unassigned and renders as `missing`.
    docs = docs_from_strings(spark, {
        "d0.xml": make_store_xml((_attr(store_name), *SOHO[1:])),
        "d1.xml": make_store_xml((_attr(store_name + "x"), *BANKS[1:])),
    })
    config = _config(store_name, names, delimiter)
    rows = golden_rows([(store_name, *SOHO[1:]), (missing, *BANKS[1:])])
    want = sorted("".join((v or missing) + delimiter for v in row) for row in rows)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", str(escaped_literals).lower())
    try:
        for fused in (False, True):
            result = extract(docs, config, missing_value=missing, fused=fused)
            assert result.columns == ["doc_id", "seq", *names]
            lines = sorted(r[0] for r in to_reference_lines(result, config).collect())
            assert lines == want, f"fused={fused}"
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


@pytest.fixture
def count_round_trips(monkeypatch):
    """A callable that counts py4j commands sent while ``build()`` runs:
    after one warm build, with ``gc`` off (py4j proxy finalizers send
    commands of their own when a collection runs), the least of three
    builds (a stray command from another thread can land in one)."""
    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def count(build) -> int:
        build()
        counts = []
        gc.disable()
        try:
            for _ in range(3):
                sent[0] = 0
                build()
                counts.append(sent[0])
        finally:
            gc.enable()
        return min(counts)

    return count


@pytest.mark.parametrize("config_xml", [INVENTORY_CONFIG_XML, BOOK_CONFIG_XML], ids=["inventory", "book"])
@pytest.mark.parametrize("fused, budget", [(False, 300), (None, 150)], ids=["general", "fused"])
def test_sink_plan_build_round_trip_budget(spark, tmp_path, count_round_trips,
                                           config_xml, fused, budget):
    # The Column-builder plans took 1,741 (general) and 305 (fused) round
    # trips on the book and inventory configs.
    for i, store in enumerate((SOHO, BANKS)):
        (tmp_path / f"d{i}.xml").write_text(make_store_xml(store), encoding="utf-8")
    config = ExtractionConfig.from_hadoop_xml(config_xml, is_text=True)

    def build():
        docs = read_xml_documents(spark, str(tmp_path))
        return to_reference_lines(extract(docs, config, fused=fused), config)

    assert count_round_trips(build) <= budget
