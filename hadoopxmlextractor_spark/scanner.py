"""Streaming multi-pattern fragment scanner (pure Python, Spark-free).

Re-implements the semantics of the reference's byte-stream tag scanner
(``SeqXmlRecordReader.java:233-328``): a single forward pass over the
document that simultaneously searches for every rule's start pattern,
applies the attribute-value predicate inside the start tag *before* any
parsing, truncates the scan at ``>`` when children are excluded, and
yields non-overlapping fragments in document order.

This runs inside an Arrow-batched ``mapInPandas`` (see ``extract.py``) so
the per-document work is distributed; Python's ``str.find`` is a C-level
substring search, which plays the role of the reference's per-byte
``readUntilMatch`` loop.

The pass stays single and forward through a per-rule next-match cache:
each rule remembers the offset of its next start-pattern match and is
searched again only once the scan position has moved past that offset;
a rule with no match left is never searched again. Each rule's searches
therefore cover the document about once, and the total ``find`` work is
O(len(content) × rules), however many fragments the document holds.

Semantics preserved deliberately (SURVEY.md §2.2):
- Non-overlapping fragments: once a start pattern matches, other rules are
  not scanned until the fragment closes (§2.2-8).
- The attribute predicate is a raw substring match against the start-tag
  bytes, not an attribute-aware comparison (§2.2-4).
- ``sequence`` is the byte offset of the match — the document-order key
  all downstream ordering relies on (``SeqXmlRecordReader.java:189``).
- Malformed fragments are silently dropped like the reference's swallowed
  XPath/parse exceptions (§2.2-5), unless ``validate=False``.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Iterator, NamedTuple

from hadoopxmlextractor_spark.config import ExtractionConfig, ExtractRule


class Fragment(NamedTuple):
    seq: int  # byte/char offset of the start-pattern match in the document
    rule_idx: int  # index into config.rules
    xml: str  # re-wrapped, well-formed fragment


class CompiledRule(NamedTuple):
    """Per-rule scan table (mirrors ``createParsingArrays``,
    ``SeqXmlRecordReader.java:117-141``)."""

    start_pattern: str
    end_pattern: str
    buffer_addition: str
    attribute_value: str | None


def compile_rules(rules: tuple[ExtractRule, ...]) -> tuple[CompiledRule, ...]:
    return tuple(
        CompiledRule(r.start_pattern, r.end_pattern, r.buffer_addition, r.attribute_value)
        for r in rules
    )


def scan_document(
    content: str,
    compiled: tuple[CompiledRule, ...],
    *,
    validate: bool = True,
) -> Iterator[Fragment]:
    """Yield non-overlapping fragments of all rules in document order.

    Equivalent of the reference's fragment iterator
    (``SeqXmlRecordReader.java:162-203``) driving ``readUntilMatch``.
    """
    pos = 0
    n = len(content)
    # Next start-pattern match per rule. An offset >= pos is still the
    # first match at or after pos; -1 means the rule never matches again.
    nexts = [content.find(rule.start_pattern) for rule in compiled]
    while pos < n:
        # Earliest next start-pattern match across all rules; ties broken by
        # rule declaration order (the reference's matchStack examines
        # patterns in array order, SeqXmlRecordReader.java:307-324).
        best_at = -1
        best_rule = -1
        for idx, at in enumerate(nexts):
            if 0 <= at < pos:
                at = nexts[idx] = content.find(compiled[idx].start_pattern, pos)
            if at != -1 and (best_at == -1 or at < best_at):
                best_at, best_rule = at, idx
        if best_at == -1:
            return
        rule = compiled[best_rule]
        end_at = content.find(rule.end_pattern, best_at + len(rule.start_pattern))
        if end_at == -1:
            return  # unclosed fragment at EOF — reference stops the same way
        frag_end = end_at + len(rule.end_pattern)
        # Attribute predicate: substring of the start-tag region (from match
        # to the first '>'), checked before buffering/parsing — the scan-time
        # filter pushdown (SeqXmlRecordReader.java:259-273, 283-295).
        if rule.attribute_value is not None:
            gt = content.find(">", best_at)
            start_tag = content[best_at : gt + 1] if gt != -1 else content[best_at:]
            if rule.attribute_value not in start_tag:
                pos = frag_end  # IGNORE_TAG: discard, resume after fragment
                continue
        fragment = content[best_at:frag_end] + rule.buffer_addition
        if validate:
            try:
                ET.fromstring(fragment)
            except ET.ParseError:
                pos = frag_end  # silent drop, like XmlExtractor.java:114-126
                continue
        yield Fragment(seq=best_at, rule_idx=best_rule, xml=fragment)
        pos = frag_end


def scan_with_config(
    content: str, config: ExtractionConfig, *, validate: bool = True
) -> list[Fragment]:
    """Convenience wrapper for tests."""
    return list(scan_document(content, compile_rules(config.rules), validate=validate))
