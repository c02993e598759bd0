"""Ordered pivot + forward fill + trigger-gated emit.

The reference's Reduce (``XmlExtractor.java:150-175``) keeps one
``theColumns[nr_of_columns]`` array per document group, assigns
``theColumns[order] = value`` while streaming cells in ``(seq, order)``
order, and emits a row every time the highest-order column arrives;
earlier columns persist across emits (forward fill of hierarchical
context), never-assigned columns render as a single space.

Spark formulation — chosen for the SAME shuffle shape as the reference
(partition by doc, sort within partition by (seq, order), stream once):

    cells(doc_id, seq, order, value)
      → sparse wide row per cell  (order i → column c{i}, others null)
      → last(c{i}, ignorenulls) OVER (PARTITION BY doc_id
                                      ORDER BY seq, order
                                      ROWS UNBOUNDED PRECEDING)
      → filter order == nr_of_columns - 1        (trigger-gated emit)

Exactly ONE shuffle (the window's hash partition by doc_id + sort within
partitions), mirroring the reference's single MR shuffle
(``XmlReducerPartitioner.java:12-20`` + ``XmlReducerKeySortComparator.java:14-28``).
At 100 TB this scales with the number of documents — doc_id is a
high-cardinality key, so the hash partitioning is balanced and the
running-window state per partition is O(nr_of_columns), same as the
reference's reducer memory bound.

Callers: ``extract()``'s general (JVM XPath) path, and analytics callers
that assemble a cell stream themselves (``missing_value=None`` keeps SQL
NULLs). The fused path does not come here: its scan sees whole documents
in (seq, order) order, so ``extract.py`` runs the same state array inside
the scan loop, with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hadoopxmlextractor_spark.sqltext import generated_names, string_literal

_FILL_WINDOW = (
    "OVER (PARTITION BY doc_id ORDER BY seq, `order` "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)


def assemble_rows(
    cells: DataFrame,
    nr_of_columns: int,
    *,
    column_names: list[str] | None = None,
    missing_value: str | None = " ",
) -> DataFrame:
    """cells(doc_id, seq:long, order:int, value:string) → one output row per
    trigger-column arrival, columns forward-filled per document.

    ``missing_value`` replaces never-assigned cells AND empty-string
    cells — the reference renders a column as a single space when it is
    null *or* empty (``XmlExtractor.java:162-167``: ``col != null &&
    !col.isEmpty()``). The forward-fill state itself still carries the
    empty string (an empty cell overwrites earlier context exactly as
    ``theColumns[order] = value`` does); only the rendering maps it to
    ``missing_value``. Pass ``None`` to keep SQL NULLs/empties for the
    analytics surface.

    The plan is built from SQL text over generated column names
    ``c0 … cN-1`` (``sqltext``); ``column_names`` go on once at the end
    through ``toDF``, and ``missing_value`` enters the text only as a
    ``sqltext.string_literal``.
    """
    gen = generated_names(nr_of_columns)
    names = column_names or gen
    if len(names) != nr_of_columns:
        raise ValueError("column_names length must equal nr_of_columns")

    sparse = cells.selectExpr(
        "doc_id",
        "seq",
        "`order`",
        *[f"CASE WHEN `order` = {i} THEN value END AS {c}" for i, c in enumerate(gen)],
    )
    filled = sparse.selectExpr(
        "doc_id", "seq", "`order`", *[f"last({c}, true) {_FILL_WINDOW} AS {c}" for c in gen]
    )
    # Emit exactly when the highest-order column arrives
    # (XmlExtractor.java:159); its absence suppresses the row (§2.2-6).
    out = filled.where(f"`order` = {nr_of_columns - 1}")
    rendered = gen
    if missing_value is not None:
        missing = string_literal(missing_value)
        rendered = [f"coalesce(nullif({c}, ''), {missing}) AS {c}" for c in gen]
    return out.selectExpr("doc_id", "seq", *rendered).toDF("doc_id", "seq", *names)
