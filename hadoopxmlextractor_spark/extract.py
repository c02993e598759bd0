"""The extraction pipeline: documents → fragments → cells → output rows.

Spark-first restatement of the reference's fixed physical plan
(scan → scan-time filter → fragment project → XPath project → shuffle/sort
→ ordered pivot + forward fill → sink; ``XmlExtractor.java:178-212``):

1. **Scan** — whole-document rows (``sources.read_xml_documents``).
2. **Fragment extraction** — Arrow-batched ``mapInArrow`` (through
   ``operators.kernel.map_rows``, one function per document) running the
   pure-Python multi-pattern scanner (``scanner.py``); the attribute
   predicate and the include-children truncation happen here, *before*
   any XML parsing — the same filter/projection pushdown the reference
   hand-rolls in its RecordReader (``SeqXmlRecordReader.java:259-273``).
   Fragments stay in their document's partition, so the skew of the
   non-splittable input remains (see ``sources.xml_docs``).
3. **XPath projection** — JVM-side ``xpath()`` (whole-stage codegen,
   no Python round-trip) evaluated per fragment, gated by rule index;
   multi-node results concatenate with no separator and empty nodesets
   drop the cell, matching ``XmlExtractor.java:100-112``. When every
   XPath is in the ``xpath_subset``, steps 2-4 instead run fused in one
   Python pass per document: scan, then per fragment either a
   start-tag-only expat parse or ``ET.fromstring`` plus the
   ``xpath_subset`` evaluators (see ``_fused_scan``).
4. **Assembly** — running forward fill and trigger-gated emit. The
   general path uses ``operators.assembly.assemble_rows``: one shuffle
   (partition by doc, sort by (seq, order)). The fused path needs no
   shuffle: one scan sees a whole document (whole-file input, as the
   reference's non-splittable format, ``XmlExtractor.java:64-67``) and
   yields its cells in (seq, order) order, so the reducer's state array
   runs inside the scan loop and rows leave the Python pass assembled.

At scale: the only Python stage is the scan (string find over opaque
documents — work Spark's built-ins cannot express). On the fused path
that stage also parses, projects and assembles, and extraction has no
shuffle at all; the sink's ``repartition("doc_id")`` is the plan's only
exchange. On the general path everything after the fragment DataFrame
is built-in Catalyst-optimizable operators, and assembly adds exactly
one shuffle, keyed on the high-cardinality doc_id.

The driver builds the plan again for every job, and each PySpark
``Column`` builder call is one or more py4j round trips. So the
builders (``read_xml_documents``, ``project_cells``, ``assemble_rows``,
``to_reference_lines``) write SQL text through ``sqltext``: a few
``selectExpr``/``where`` calls, one string per output expression. The
general path's sink plan takes 184 round trips instead of 1,741, the
fused path's 108 instead of 305; the general build went from 223–305 ms
to 121–157 ms (warm ``local[4]``, 4-core Xeon, medians of 15). The
optimized and executed plans are unchanged.
"""

from __future__ import annotations

from typing import Iterator
from xml.parsers import expat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hadoopxmlextractor_spark.config import ExtractionConfig, ExtractRule
from hadoopxmlextractor_spark.operators.assembly import assemble_rows
from hadoopxmlextractor_spark.operators.kernel import map_rows
from hadoopxmlextractor_spark.scanner import compile_rules, scan_document
from hadoopxmlextractor_spark.sqltext import string_literal

_DOC_COLS = ("doc_id", "content")
_FRAGMENT_SCHEMA = "doc_id string, seq long, rule_idx int, fragment string"


def extract_fragments(
    docs: DataFrame, config: ExtractionConfig, *, validate: bool = True
) -> DataFrame:
    """documents(doc_id, content) → fragments(doc_id, seq, rule_idx, fragment).

    The compiled rule tables are tiny and ship in the task closure (the
    reference compiles them once per map task,
    ``SeqXmlRecordReader.java:117-141``; here once per Python worker).
    """
    compiled = compile_rules(config.rules)

    def fragment_rows(doc_id, content):
        if content is None:
            return ()
        return [
            (doc_id, frag.seq, frag.rule_idx, frag.xml)
            for frag in scan_document(content, compiled, validate=validate)
        ]

    return map_rows(docs, _DOC_COLS, fragment_rows, _FRAGMENT_SCHEMA)


def _xpath_sql(expr: str) -> str:
    """SQL text for JVM-side ``xpath(fragment, expr)`` → array<string> of
    node string values.

    Subset-shaped expressions are normalized so the general path shares
    the fused path's semantics: namespace prefixes stripped (Spark's
    xpath matches a *prefixed* step against nothing; an unprefixed step
    already matches by local name in any namespace) and bare element
    terminals rewritten to their subtree text nodes (Hive's xpath
    yields null for element nodes; see ``xpath_subset`` docstring for
    the reference's "null"-string defect this deliberately fixes).
    """
    from hadoopxmlextractor_spark.xpath_subset import normalize_for_jvm

    return f"xpath(fragment, {string_literal(normalize_for_jvm(expr))})"


def project_cells(fragments: DataFrame, config: ExtractionConfig) -> DataFrame:
    """fragments → cells(doc_id, seq, order, value): the XPath projection.

    One cell per (fragment, xpath) pair whose nodeset is non-empty; all
    matched nodes' string values concatenate with no separator
    (``XmlExtractor.java:104-109``). Evaluation is gated by ``rule_idx``
    so a rule's expressions never run against another rule's fragments
    (preserves the reference's per-rule projection attachment,
    ``SeqXmlRecordReader.java:190``). The plan is built from SQL text
    (``sqltext``): three calls whatever the number of rules and XPaths.
    """
    gated = " ".join(
        f"WHEN rule_idx = {i} THEN array("
        + ", ".join(
            f"struct({xp.order} AS `order`, {_xpath_sql(xp.expr)} AS nodes)"
            for xp in rule.xpaths
        )
        + ")"
        for i, rule in enumerate(config.rules)
    )
    return (
        fragments.selectExpr("doc_id", "seq", f"explode(CASE {gated} END) AS cell")
        # Empty nodeset → no cell (mirrors the `if (nodes.getLength() > 0)`
        # guard at XmlExtractor.java:104); an empty *string value* of a
        # matched node still emits.
        .where("size(cell.nodes) > 0")
        .selectExpr(
            "doc_id", "seq", "cell.`order` AS `order`", "array_join(cell.nodes, '') AS value"
        )
    )


_CELL_SCHEMA = "doc_id string, seq long, order int, value string"


def _compile_fused(config: ExtractionConfig):
    """Per-rule list of (order, evaluator) if ALL xpaths are in the fast
    subset, else None (→ general JVM xpath path).

    Each rule's list is sorted by ``order``, ties in declaration order, so
    one fragment's cells come out in the window's ``ORDER BY seq, order``.
    """
    from hadoopxmlextractor_spark.xpath_subset import compile_subset

    per_rule = []
    for rule in config.rules:
        evs = []
        for xp in rule.xpaths:
            ev = compile_subset(xp.expr)
            if ev is None:
                return None
            evs.append((xp.order, ev))
        per_rule.append(sorted(evs, key=lambda e: e[0]))
    return per_rule


def _select_fused(config: ExtractionConfig, fused: bool | None):
    """``_compile_fused``'s evaluators when the fused path runs, else None.

    ``fused=None`` auto-selects: the fused path when every XPath is in the
    supported subset, else the general JVM xpath path.
    """
    if fused is False:
        return None
    per_rule = _compile_fused(config)
    if fused and per_rule is None:
        raise ValueError("config contains XPath outside the fused subset")
    return per_rule


def _start_tag_plan(rule: ExtractRule) -> tuple[tuple[int, str, str], ...] | None:
    """``(order, element, attr)`` per XPath, ordered as ``_compile_fused``
    orders them, when the start-tag tier takes ``rule``, else None.

    The tier takes a rule whose fragment is one start tag plus the
    synthetic close: ``include_children=false`` ends the fragment at the
    first ``>``, and ``has_attribute=true`` puts that ``>`` inside the
    start tag (a ``<name>`` start pattern ends at the next ``>`` in the
    document, which can take in text and child elements). Every XPath
    must be ``//element/@attr``, which on that one element reads the
    root's attribute when the root's local name is ``element``.
    """
    from hadoopxmlextractor_spark.xpath_subset import shape_of

    if rule.include_children or not rule.has_attribute:
        return None
    plan = []
    for xp in rule.xpaths:
        shape = shape_of(xp.expr)
        if shape is None or len(shape.names) != 1:
            return None
        plan.append((xp.order, shape.names[0], shape.attr))
    return tuple(sorted(plan, key=lambda p: p[0]))


def _read_start_tag(xml: str) -> tuple[str, dict[str, str]] | None:
    """The root's local name and attributes of a start-tag-only fragment,
    or None exactly where ``ET.fromstring`` raises ``ParseError``.

    One expat parser, created as ElementTree creates its own
    (``namespace_separator="}"``, the same expat library through the same
    UTF-8 feed), accepts and rejects the same text; no tree is built.
    expat spells a namespaced name ``uri}local`` where ElementTree writes
    ``{uri}local``, and like ElementTree leaves ``xmlns`` declarations out
    of the attributes.
    """
    root: dict[str, dict[str, str]] = {}
    parser = expat.ParserCreate(None, "}")
    parser.StartElementHandler = root.__setitem__
    try:
        parser.Parse(xml, True)
    except expat.ExpatError:
        return None
    ((name, attrs),) = root.items()
    return name.rpartition("}")[2], attrs


def _start_tag_attr(attrs: dict[str, str], attr: str) -> str | None:
    """``xpath_subset._get_attr_local`` on expat's attribute names."""
    v = attrs.get(attr)
    if v is None:
        for k, kv in attrs.items():
            if "}" in k and k.rpartition("}")[2] == attr:
                return kv
    return v


def _fused_scan(config: ExtractionConfig, per_rule):
    """The fused loop: ``document_cells(content)`` yields one document's
    cells ``(seq, order, value)`` in ``(seq, order)`` order.

    Each rule runs one of two tiers that give the same cells, chosen
    here from its flags and XPath shapes:

    - **start tag** (``_start_tag_plan``): one expat parse of the start
      tag, the root's attributes read directly — no tree;
    - otherwise one ``ET.fromstring`` per fragment feeding the rule's
      ``compile_subset`` evaluators.

    Both tiers drop a fragment that does not parse, silently, as the
    reference does (``XmlExtractor.java:114-126``).
    """
    import xml.etree.ElementTree as ET

    compiled = compile_rules(config.rules)
    start_tag = [_start_tag_plan(rule) for rule in config.rules]

    def document_cells(content: str) -> Iterator[tuple[int, int, str]]:
        for frag in scan_document(content, compiled, validate=False):
            plan = start_tag[frag.rule_idx]
            if plan is not None:
                root = _read_start_tag(frag.xml)
                if root is None:
                    continue
                name, attrs = root
                for order, element, attr in plan:
                    if name == element:
                        value = _start_tag_attr(attrs, attr)
                        if value is not None:
                            yield frag.seq, order, value
                continue
            try:
                tree = ET.fromstring(frag.xml)
            except ET.ParseError:
                continue  # silent drop, XmlExtractor.java:114-126
            for order, ev in per_rule[frag.rule_idx]:
                value = ev(tree)
                if value is not None:  # empty nodeset → no cell, XmlExtractor.java:104
                    yield frag.seq, order, value

    return document_cells


def _cell_rows(document_cells):
    """Per-document body of the fused cell stream: (doc_id, content) →
    the document's cells."""

    def cell_rows(doc_id, content):
        if content is None:
            return ()
        return [(doc_id, *cell) for cell in document_cells(content)]

    return cell_rows


def _assembled_rows(document_cells, config: ExtractionConfig, missing_value: str | None):
    """Per-document body of the fused ``extract``: (doc_id, content) →
    assembled rows, the reference's reducer (``XmlExtractor.java:150-175``)
    run map-side.

    One scan sees a whole document and yields its cells in ``(seq,
    order)`` order, which is all the reducer's shuffle and sort provide.
    So ``state[order] = value`` per cell (forward fill, an empty string
    overwrites too) and a row per trigger-column arrival give
    ``assemble_rows``' rows, rendered the same way. ``ExtractionConfig``
    guarantees every order lies in ``[0, nr_of_columns)``.
    """
    n = config.nr_of_columns
    trigger = n - 1

    def assembled_rows(doc_id, content):
        if content is None:
            return ()
        rows: list[tuple] = []
        state: list[str | None] = [None] * n
        for seq, order, value in document_cells(content):
            state[order] = value
            if order == trigger:
                if missing_value is None:
                    rows.append((doc_id, seq, *state))
                else:
                    rows.append((doc_id, seq, *[v or missing_value for v in state]))
        return rows

    return assembled_rows


def extract_cells_fused(docs: DataFrame, config: ExtractionConfig) -> DataFrame:
    """Fused scan + parse + project in one Arrow-batched Python pass.

    Used automatically when every configured XPath is in the supported
    subset (see ``xpath_subset``). End to end (inventory config through
    the text sink, perfbench's 200-document, 2.8 MB corpus, seed 1, six
    warm passes of each path alternating, ``local[4]`` on 4 Xeon cores)
    the fused pass took a median 0.54 s (quartiles 0.50–0.65 s) against
    the general path's 1.63 s (1.56–1.98 s): ~3× faster.
    """
    return extract_cells(docs, config, fused=True)


def extract_cells(
    docs: DataFrame,
    config: ExtractionConfig,
    *,
    validate: bool = True,
    fused: bool | None = None,
) -> DataFrame:
    """documents → long-format cell stream (the shuffle data shape,
    ``XmlReducerKeyWritable.java:17-25``).

    ``fused=None`` auto-selects: the fused Python fast path when every
    XPath is in the supported subset, else the general JVM xpath path.
    """
    per_rule = _select_fused(config, fused)
    if per_rule is None:
        return project_cells(extract_fragments(docs, config, validate=validate), config)
    return map_rows(docs, _DOC_COLS, _cell_rows(_fused_scan(config, per_rule)), _CELL_SCHEMA)


def extract(
    docs: DataFrame,
    config: ExtractionConfig,
    *,
    missing_value: str | None = " ",
    validate: bool = True,
    fused: bool | None = None,
) -> DataFrame:
    """Full pipeline: documents(doc_id, content) → assembled output rows.

    Returns DataFrame[doc_id, seq, <output columns>] — row order within a
    document follows document order via ``seq``; use
    ``sinks.write_reference_format`` for the delimited-text sink. The
    fused path assembles rows inside its scan loop (no shuffle); the
    general path assembles its cell stream with ``assemble_rows``.
    """
    per_rule = _select_fused(config, fused)
    if per_rule is None:
        return assemble_rows(
            extract_cells(docs, config, validate=validate, fused=False),
            config.nr_of_columns,
            column_names=config.output_columns(),
            missing_value=missing_value,
        )
    schema = StructType(
        [StructField("doc_id", StringType()), StructField("seq", LongType())]
        + [StructField(name, StringType()) for name in config.output_columns()]
    )
    return map_rows(
        docs,
        _DOC_COLS,
        _assembled_rows(_fused_scan(config, per_rule), config, missing_value),
        schema,
    )


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    config_path: str,
) -> None:
    """Drop-in equivalent of the reference job driver
    (``XmlExtractor.main``, ``XmlExtractor.java:178-212``):
    read XML documents from ``input_path``, apply the Hadoop-resource
    config at ``config_path``, write delimited text to ``output_path``.
    """
    from hadoopxmlextractor_spark.sinks import write_reference_format
    from hadoopxmlextractor_spark.sources import read_xml_documents

    config = ExtractionConfig.from_hadoop_xml(config_path)
    result = extract(read_xml_documents(spark, input_path), config)
    write_reference_format(result, config, output_path)


_ERROR_SCHEMA = "doc_id string, seq long, rule string, error string, snippet string"


def malformed_fragments(
    docs: DataFrame, config: ExtractionConfig, *, snippet_len: int = 120
) -> DataFrame:
    """PERMISSIVE-style error stream: the fragments the extraction
    pipeline DROPS because they fail to parse.

    The reference swallows XPath/parse exceptions with a println and
    silently loses the row (``XmlExtractor.java:114-126``, SURVEY
    §2.2-5); the compat pipeline reproduces that row-loss semantics.
    This is the audit-side fix: run it over the same input to get
    (doc_id, seq, rule, error, snippet) for every dropped fragment —
    union it into a quarantine sink or alert on its count. Same
    scan-time cost profile as extraction (one Arrow-batched pass, no
    shuffle); at 100 TB run it in the same job and the scan is shared
    only if explicitly persisted, so prefer scheduling it as the
    validation stage of the landing pipeline.
    """
    import xml.etree.ElementTree as ET

    compiled = compile_rules(config.rules)
    rule_names = [r.element_name for r in config.rules]

    def error_rows(doc_id, content):
        if content is None:
            return ()
        rows = []
        for frag in scan_document(content, compiled, validate=False):
            try:
                ET.fromstring(frag.xml)
            except ET.ParseError as e:
                rows.append((
                    doc_id, frag.seq, rule_names[frag.rule_idx], str(e),
                    frag.xml[:snippet_len],
                ))
        return rows

    return map_rows(docs, _DOC_COLS, error_rows, _ERROR_SCHEMA)
