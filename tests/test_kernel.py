"""The per-blob kernel adaptor (operators/kernel.py): its batch loop
driven with plain pandas frames — one marker row per refused blob,
non-refusals propagate, all-or-marker, DDL column order — one Spark
case, and a guard that keeps hand-rolled per-blob loops from coming
back into the migrated modules."""

from __future__ import annotations

import ast
import os
import re
import struct
import zlib
from xml.etree import ElementTree

import pandas as pd
import pytest

from hadoopxmlextractor_spark.operators.kernel import (
    REFUSED,
    _blob_batches,
    _ddl_names,
)

_SCHEMA = "doc_id bigint, item_idx int, kind string, n decimal(10,2)"
_COLS = ["doc_id", "item_idx", "kind", "n"]


def _run(decode, blobs, marker=None):
    pdf = pd.DataFrame({"key": list(range(len(blobs))), "blob": blobs})
    frames = list(_blob_batches(
        iter([pdf]), "key", "blob", decode, _COLS,
        {"item_idx": -1} if marker is None else marker,
    ))
    assert len(frames) == 1
    return frames[0]


def _raiser(exc):
    def decode(blob):
        if blob == b"bad":
            raise exc
        return [{"item_idx": 0, "kind": "ok", "n": 1}]
    return decode


def test_ddl_names_follow_schema_order():
    assert _ddl_names(_SCHEMA) == _COLS
    assert _ddl_names("path string, m map<string,int>, x double") == [
        "path", "m", "x",
    ]
    out = _run(lambda b: [{"n": 2, "kind": "k", "item_idx": 7}], [b"x"])
    assert list(out.columns) == _COLS
    assert out.iloc[0].tolist() == [0, 7, "k", 2]


@pytest.mark.parametrize("exc", [
    ValueError("v"), LookupError("unknown encoding"), IndexError("i"),
    KeyError("k"), TypeError("t"), AttributeError("a"), OSError("o"),
    struct.error("s"), zlib.error("z"), re.error("r"),
    ElementTree.ParseError("p"), UnicodeDecodeError("utf-8", b"", 0, 1, "u"),
])
def test_each_refused_exception_is_one_marker_row(exc):
    assert isinstance(exc, REFUSED)
    out = _run(_raiser(exc), [b"good", b"bad", b"good"])
    assert out["doc_id"].tolist() == [0, 1, 2]
    marker = out.iloc[1]
    assert marker["doc_id"] == 1 and marker["item_idx"] == -1
    assert marker[["kind", "n"]].isna().all()
    assert out.iloc[0]["kind"] == "ok" and out.iloc[2]["kind"] == "ok"


def test_marker_fields_are_set_and_the_rest_null():
    out = _run(_raiser(ValueError("no tables")), [b"bad"],
               marker={"item_idx": -1, "kind": "none"})
    assert out.iloc[0].tolist()[:3] == [0, -1, "none"]
    assert pd.isna(out.iloc[0]["n"])


@pytest.mark.parametrize("exc", [RuntimeError("bug"), MemoryError()])
def test_non_refusals_propagate(exc):
    assert not isinstance(exc, REFUSED)
    with pytest.raises(type(exc)):
        _run(_raiser(exc), [b"good", b"bad"])


def test_decode_failing_after_rows_yields_only_the_marker():
    def listing(blob):
        rows = [{"item_idx": 0, "kind": "partial", "n": 1}]
        if blob == b"bad":
            raise ValueError("late fault")
        return rows

    def streaming(blob):
        yield {"item_idx": 0, "kind": "partial", "n": 1}
        if blob == b"bad":
            raise ValueError("late fault")

    for decode in (listing, streaming):
        out = _run(decode, [b"bad", b"good"])
        assert out["doc_id"].tolist() == [0, 1]
        assert out["item_idx"].tolist() == [-1, 0]


def test_null_blob_reaches_decode():
    seen = []

    def decode(blob):
        seen.append(blob)
        return [] if blob is None else [{"item_idx": 0}]

    out = _run(decode, [None, b"x"])
    assert seen == [None, b"x"]
    assert out["doc_id"].tolist() == [1]


def test_mbox_unknown_charset_subject_is_a_marker_row(spark):
    """An encoded-word in an unknown charset raises LookupError out of
    the header decoder; the adaptor refuses it like any malformed
    mbox instead of failing the task."""
    from hadoopxmlextractor_spark.operators.documents import mbox_emails

    bad = (
        "From sender@example.com\nFrom: a@example.com\n"
        "Subject: =?unknown-8bit?Q?caf=E9?=\n\nhello\n"
    )
    good = "From sender@example.com\nFrom: b@example.com\n\nhi\n"
    docs = spark.createDataFrame(
        [(1, bad), (2, good)], "doc_id long, content string"
    )
    rows = sorted(
        (r.doc_id, r.msg_idx, r.from_addr)
        for r in mbox_emails(docs).collect()
    )
    assert rows == [(1, -1, None), (2, 0, "b@example.com")]


_MIGRATED = (
    "operators/documents.py", "operators/multimodal.py",
    "operators/containers.py", "sources/warc.py", "sources/sitemap.py",
    "queries_r10.py", "queries_r11.py",
)

# Batch loops whose contract is not all-or-marker, so they cannot sit
# on blob_rows: warc_records streams chunk-sized frames mid-file and
# salvages the records parsed before a fault.
_OWN_LOOPS = {"sources/warc.py:_record_frames"}


def test_no_hand_rolled_per_blob_loops_in_migrated_modules():
    """A mapInPandas body that zips pdf columns AND catches exceptions
    is a hand-rolled per-blob kernel: it belongs on kernel.blob_rows."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "hadoopxmlextractor_spark",
    )
    offenders = []
    for rel in _MIGRATED:
        src = open(os.path.join(pkg, rel), encoding="utf-8").read()
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            args = fn.args.args
            if not args or args[0].arg != "batches":
                continue
            body = ast.get_source_segment(src, fn)
            catches = any(
                isinstance(n, ast.ExceptHandler) for n in ast.walk(fn)
            )
            if "zip(pdf[" in body and catches:
                if f"{rel}:{fn.name}" not in _OWN_LOOPS:
                    offenders.append(f"{rel}:{fn.lineno} {fn.name}")
    assert offenders == []


def test_warc_records_stream_chunk_sized_frames():
    """warc_records' loop flushes every _RECORDS_CHUNK records MID
    file: one blob of 16 chunks of 4 KiB payloads must drain with a
    traced peak of a few chunks (a chunk being built, the frame before
    it, row dicts), not the whole decompressed file (~20 MiB)."""
    import tracemalloc

    from hadoopxmlextractor_spark.sources.warc import (
        _RECORDS_CHUNK,
        _record_frames,
        write_warc,
    )

    size, n_chunks = 4096, 16
    n = n_chunks * _RECORDS_CHUNK
    blob = write_warc([
        {"warc_type": "response", "record_id": f"<urn:s:{i}>",
         "payload": bytes([i % 251]) * size}
        for i in range(n)
    ])
    pdf = pd.DataFrame({"path": ["big"], "content": [blob]})
    n_rows = n_frames = 0
    tracemalloc.start()
    try:
        for frame in _record_frames(iter([pdf]), "path", "content"):
            n_rows += len(frame)
            n_frames += 1
        del frame
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert (n_rows, n_frames) == (n, n_chunks)
    chunk = _RECORDS_CHUNK * size
    assert peak < 4 * chunk, (peak, chunk)
