"""The per-blob kernel adaptor — one ``mapInPandas`` batch loop, one
refusal tuple and one marker row for every operator that turns a
(key, blob) column pair into rows.

A kernel supplies only ``decode(blob) -> list[dict]``: the rows of one
blob, without the key. :func:`blob_rows` owns the rest:

- the key is the first field of the DDL ``schema`` and is added to
  every row; the output columns follow the DDL order;
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
from typing import Callable, Iterator
from xml.etree import ElementTree

import pandas as pd
from pyspark.sql import DataFrame

# What a malformed blob may raise out of a decoder: the stdlib and
# codec families the operators hit on hostile input. LookupError covers
# IndexError/KeyError and an unknown charset name; OSError covers a
# corrupt bz2 stream. MemoryError is deliberately absent.
REFUSED = (
    ValueError, LookupError, TypeError, AttributeError, OSError,
    struct.error, zlib.error, re.error, ElementTree.ParseError,
)


def _ddl_names(schema: str) -> list[str]:
    """Field names of a DDL schema string, in order (commas inside
    ``<...>``/``(...)`` type parameters do not split fields)."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(schema[start:i].split()[0])
            start = i + 1
    return names


def _blob_batches(
    batches: Iterator[pd.DataFrame],
    key_col: str,
    blob_col: str,
    decode: Callable,
    cols: list[str],
    marker: dict,
) -> Iterator[pd.DataFrame]:
    key = cols[0]
    refused = {**dict.fromkeys(cols), **marker}
    for pdf in batches:
        rows: list[dict] = []
        for k, blob in zip(pdf[key_col], pdf[blob_col]):
            try:
                out = [{**r, key: k} for r in decode(blob)]
            except REFUSED:
                out = [{**refused, key: k}]
            rows.extend(out)
        yield pd.DataFrame(rows, columns=cols)


def blob_rows(
    df: DataFrame,
    key_col: str,
    blob_col: str,
    decode: Callable,
    schema: str,
    marker: dict,
) -> DataFrame:
    """``decode`` over every (``key_col``, ``blob_col``) row of ``df`` in
    one Arrow pass, as rows of the DDL ``schema`` (key first)."""
    cols = _ddl_names(schema)

    def _rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _blob_batches(batches, key_col, blob_col, decode, cols, marker)

    return df.select(key_col, blob_col).mapInPandas(_rows, schema=schema)
