"""SQL text for the extraction pipeline's plan builders.

Every PySpark ``Column`` builder call is one or more py4j round trips, so
the hot builders (``extract.project_cells``,
``operators.assembly.assemble_rows``, ``sinks.to_reference_lines``,
``sources.read_xml_documents``) write each output expression as one SQL
string in a ``selectExpr``/``where`` call (per-call costs: CLAUDE.md).
Two rules keep that text safe:

- A user string (XPath, delimiter, missing value) enters SQL text only
  through :func:`string_literal`. Spark substitutes ``${...}`` in
  ``selectExpr`` text (a column named ``a${spark.app.name}b`` came back
  as ``apyspark-shellb``; a backslash-quoted ``'${x}'`` literal became
  ``''``), and the string-literal parser mode changes what a backslash
  means: over 15 hostile strings, backslash-quoted literals came back
  wrong for 2 in the default mode and for 5 under
  ``spark.sql.parser.escapedStringLiterals=true``. A hex literal cast to
  a string round-tripped all 15 in both modes, and it folds to a
  constant, so ``xpath()`` accepts it as its path argument.
- A user column name never enters SQL text. Builders name their columns
  ``c0 … cN-1`` and put the user's names on once, positionally, with
  ``toDF``.
"""

from __future__ import annotations


def string_literal(s: str) -> str:
    """SQL text for the string constant ``s``: ``CAST(X'<utf-8 hex>' AS STRING)``.

    Hex digits survive variable substitution and both string-literal
    parser modes unchanged.
    """
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def generated_names(n: int) -> list[str]:
    """The generated names ``c0 … c{n-1}`` that SQL text uses for output
    columns in place of the user's."""
    return [f"c{i}" for i in range(n)]
