"""The row adaptor — one ``mapInArrow`` batch loop for every operator
that turns input rows into output rows, and on it one refusal tuple and
one marker row for every operator that turns a (key, blob) pair into
rows.

:func:`map_rows` takes a plain per-row function: ``rows_of(*values)``
gets the values of the input columns of one row and returns that row's
output rows as tuples in the output schema's order. It owns the rest:

- the input columns of one Arrow batch are read with ``to_pylist``;
- one ``pa.RecordBatch`` goes out per batch in, built from column
  lists with the schema's Arrow types (no pandas on the way);
- an integer column is converted with Arrow's safe cast, so a value
  with a fraction raises instead of truncating.

:func:`blob_rows` is :func:`map_rows` for the per-blob kernels, which
supply only ``decode(*values) -> list[dict]``: the rows of one blob,
without the key.

- the key is the first field of ``schema`` and is added to every row;
  the output columns follow the schema's order;
- a blob's rows join the batch only after ``decode`` returns, so a blob
  yields all of its rows or only its marker (all-or-marker);
- an exception in :data:`REFUSED` becomes ONE marker row: the key, the
  fields of ``marker`` and NULL everywhere else. Anything else
  (``MemoryError``, ``RuntimeError``, ...) propagates and fails the
  task;
- a NULL blob reaches ``decode`` like any other value.

Reference parity note: the reference drops an unparseable fragment in
its one mapper (XmlExtractor.java:114-126); here the one place is this
adaptor, and the dropped blob stays visible as its marker row.
"""

from __future__ import annotations

import re
import struct
import zlib
from typing import Callable, Iterable, Iterator, Sequence
from xml.etree import ElementTree

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# What a malformed blob may raise out of a decoder: the stdlib and
# codec families the operators hit on hostile input. LookupError covers
# IndexError/KeyError and an unknown charset name; OSError covers a
# corrupt bz2 stream. MemoryError is deliberately absent.
REFUSED = (
    ValueError, LookupError, TypeError, AttributeError, OSError,
    struct.error, zlib.error, re.error, ElementTree.ParseError,
)


def _column(values: Sequence, type: pa.DataType) -> pa.Array:
    """One output column. ``pa.array([1.5], type=pa.int64())`` reads 1,
    so integers go through inference and the safe cast, which raises on
    a fraction or an overflow and takes a bool as 0/1."""
    if pa.types.is_integer(type):
        return pa.array(values).cast(type)
    return pa.array(values, type=type)


def _record_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    cols = zip(*rows) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [_column(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _map_batches(
    batches: Iterator[pa.RecordBatch],
    idx: list[int],
    rows_of: Callable[..., Iterable[tuple]],
    schema: pa.Schema,
) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        cols = [c.to_pylist() for c in batch.columns]
        rows: list[tuple] = []
        for values in zip(*(cols[i] for i in idx)):
            rows.extend(rows_of(*values))
        yield _record_batch(rows, schema)


def _struct(schema: StructType | str) -> StructType:
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(schema)
    return schema


def map_rows(
    df: DataFrame,
    in_cols: Sequence[str],
    rows_of: Callable[..., Iterable[tuple]],
    schema: StructType | str,
) -> DataFrame:
    """``rows_of(*values)`` over the ``in_cols`` values of every row of
    ``df`` in one Arrow pass, as rows of ``schema`` (a ``StructType``,
    or DDL text that holds no user-supplied name)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    st = _struct(schema)
    arrow = to_arrow_schema(st)
    names = list(dict.fromkeys(in_cols))
    idx = [names.index(c) for c in in_cols]

    def _rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _map_batches(batches, idx, rows_of, arrow)

    return df.select(*names).mapInArrow(_rows, schema=st)


def _refusing(decode: Callable, names: list[str], marker: dict) -> Callable:
    """``rows_of`` for :func:`blob_rows`: the key, then ``decode``'s
    row dicts laid out as ``names[1:]``, or the one marker row."""
    rest = names[1:]
    refused = tuple(marker.get(n) for n in rest)

    def rows_of(key, *values):
        try:
            return [(key, *[r.get(n) for n in rest]) for r in decode(*values)]
        except REFUSED:
            return [(key, *refused)]

    return rows_of


def blob_rows(
    df: DataFrame,
    key_col: str,
    blob_cols: str | Sequence[str],
    decode: Callable,
    schema: StructType | str,
    marker: dict,
) -> DataFrame:
    """``decode(*blobs)`` over every row of ``df`` in one Arrow pass, as
    rows of ``schema`` (key first). ``blob_cols`` names the one or more
    columns ``decode`` takes; it may name ``key_col`` itself."""
    st = _struct(schema)
    cols = [blob_cols] if isinstance(blob_cols, str) else list(blob_cols)
    return map_rows(df, [key_col, *cols], _refusing(decode, st.names, marker), st)
