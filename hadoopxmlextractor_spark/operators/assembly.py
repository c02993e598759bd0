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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    """
    names = column_names or [f"c{i}" for i in range(nr_of_columns)]
    if len(names) != nr_of_columns:
        raise ValueError("column_names length must equal nr_of_columns")

    sparse = cells.select(
        "doc_id",
        "seq",
        "order",
        *[
            F.when(F.col("order") == i, F.col("value")).alias(names[i])
            for i in range(nr_of_columns)
        ],
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("seq", "order")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = [F.last(names[i], ignorenulls=True).over(w).alias(names[i]) for i in range(nr_of_columns)]
    out = (
        sparse.select("doc_id", "seq", "order", *filled)
        # Emit exactly when the highest-order column arrives
        # (XmlExtractor.java:159); its absence suppresses the row (§2.2-6).
        .filter(F.col("order") == nr_of_columns - 1)
        .drop("order")
    )
    if missing_value is not None:
        out = out.select(
            "doc_id",
            "seq",
            *[
                F.coalesce(F.nullif(F.col(n), F.lit("")), F.lit(missing_value)).alias(n)
                for n in names
            ],
        )
    return out
