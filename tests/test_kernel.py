"""The row adaptor (operators/kernel.py): its batch loop driven with
plain Arrow record batches — one marker row per refused blob,
non-refusals propagate, all-or-marker, schema column order, one batch
out per batch in, the safe integer conversion — two Spark cases, and a
guard that keeps hand-rolled batch loops from coming back anywhere in
the package."""

from __future__ import annotations

import ast
import os
import re
import struct
import zlib
from decimal import Decimal
from xml.etree import ElementTree

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hadoopxmlextractor_spark.operators.kernel import (
    REFUSED,
    _map_batches,
    _refusing,
)

_STRUCT = StructType([
    StructField("doc_id", LongType()), StructField("item_idx", IntegerType()),
    StructField("kind", StringType()), StructField("n", DecimalType(10, 2)),
])
_COLS = ["doc_id", "item_idx", "kind", "n"]


def _run(decode, blobs, marker=None):
    batch = pa.RecordBatch.from_pydict({"key": list(range(len(blobs))), "blob": blobs})
    rows_of = _refusing(
        decode, _STRUCT.names, {"item_idx": -1} if marker is None else marker
    )
    out = list(_map_batches(iter([batch]), [0, 1], rows_of, to_arrow_schema(_STRUCT)))
    assert len(out) == 1
    return out[0].to_pylist()


def _raiser(exc):
    def decode(blob):
        if blob == b"bad":
            raise exc
        return [{"item_idx": 0, "kind": "ok", "n": 1}]
    return decode


def test_rows_follow_schema_order():
    out = _run(lambda b: [{"n": 2, "kind": "k", "item_idx": 7, "extra": 1}], [b"x"])
    assert out == [{"doc_id": 0, "item_idx": 7, "kind": "k", "n": Decimal("2.00")}]


def test_one_batch_out_per_batch_in():
    schema = to_arrow_schema(StructType([StructField("x", LongType())]))
    batches = [pa.RecordBatch.from_pydict({"v": [1, 2]}), pa.RecordBatch.from_pydict({"v": [3]}),
               pa.RecordBatch.from_pydict({"v": pa.array([], pa.int64())})]
    out = list(_map_batches(iter(batches), [0], lambda v: [(v,)] * v, schema))
    assert [b.to_pylist() for b in out] == [
        [{"x": 1}, {"x": 2}, {"x": 2}], [{"x": 3}] * 3, [],
    ]
    assert all(b.schema == schema for b in out)


def test_integer_columns_refuse_a_fraction():
    """``pa.array([1.5], type=pa.int64())`` reads 1: the adaptor's safe
    cast raises there instead, and still takes 1.0 and a bool."""
    schema = to_arrow_schema(StructType([StructField("i", IntegerType())]))
    batch = pa.RecordBatch.from_pydict({"v": [0]})

    def run(value):
        return list(_map_batches(iter([batch]), [0], lambda _: [(value,)], schema))

    with pytest.raises(pa.ArrowInvalid):
        run(1.5)
    with pytest.raises(pa.ArrowInvalid):
        run(2**40)
    assert run(1.0)[0].to_pylist() == [{"i": 1}]
    assert run(True)[0].to_pylist() == [{"i": 1}]


@pytest.mark.parametrize("exc", [
    ValueError("v"), LookupError("unknown encoding"), IndexError("i"),
    KeyError("k"), TypeError("t"), AttributeError("a"), OSError("o"),
    struct.error("s"), zlib.error("z"), re.error("r"),
    ElementTree.ParseError("p"), UnicodeDecodeError("utf-8", b"", 0, 1, "u"),
])
def test_each_refused_exception_is_one_marker_row(exc):
    assert isinstance(exc, REFUSED)
    out = _run(_raiser(exc), [b"good", b"bad", b"good"])
    assert [r["doc_id"] for r in out] == [0, 1, 2]
    assert out[1] == {"doc_id": 1, "item_idx": -1, "kind": None, "n": None}
    assert out[0]["kind"] == "ok" and out[2]["kind"] == "ok"


def test_marker_fields_are_set_and_the_rest_null():
    out = _run(_raiser(ValueError("no tables")), [b"bad"],
               marker={"item_idx": -1, "kind": "none"})
    assert out == [{"doc_id": 0, "item_idx": -1, "kind": "none", "n": None}]


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
        assert [(r["doc_id"], r["item_idx"]) for r in out] == [(0, -1), (1, 0)]


def test_null_blob_reaches_decode():
    seen = []

    def decode(blob):
        seen.append(blob)
        return [] if blob is None else [{"item_idx": 0}]

    out = _run(decode, [None, b"x"])
    assert seen == [None, b"x"]
    assert [r["doc_id"] for r in out] == [1]


def test_blob_rows_takes_several_columns_and_the_key_itself(spark):
    """``blob_cols`` may name the key and more than one column; the
    output keeps the schema's types and the marker's fields."""
    from hadoopxmlextractor_spark.operators.kernel import blob_rows

    df = spark.createDataFrame(
        [(1, "a"), (2, "bb"), (3, None)], "k long, s string"
    )

    def decode(k, s, k2):
        assert k == k2
        return [{"i": j, "s": s * k} for j in range(len(s))]

    out = blob_rows(df, "k", ["k", "s", "k"], decode,
                    "k bigint, i int, s string", {"i": -1})
    assert out.dtypes == [("k", "bigint"), ("i", "int"), ("s", "string")]
    assert sorted(map(tuple, out.collect())) == [
        (1, 0, "a"), (2, 0, "bbbb"), (2, 1, "bbbb"), (3, -1, None),
    ]


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


# Loops that keep a catch of their own, each with the reason it cannot
# sit on blob_rows' all-or-marker contract.
_OWN_LOOPS = {
    # streams chunk-sized frames mid-file and salvages the records
    # parsed before a fault, then the file's marker
    "sources/warc.py:_record_frames",
    # per-member salvage: a member that refuses is a data row (ok 0)
    # and the archive is never refused
    "queries_r13.py:q_archive_zip_encrypted.member_rows",
    # the marker row keeps the sector size read from the header before
    # the property walk refuses
    "queries_r13.py:q_archive_cfb_properties.props_rows",
    # an archive member that refuses routes empty bytes on to
    # document_text, which marks it
    "queries_r13.py:q_pipeline_protected_documents.prep_rows",
    # the audit stream: a fragment's parse error IS its output row
    "extract.py:malformed_fragments.error_rows",
}


def _batch_loops(tree: ast.AST):
    """(qualified name, def) of every batch-loop body in a module: a
    function taking ``batches`` or an ``Iterator`` of frames or record
    batches, and every named function handed to ``map_rows`` as its
    per-row body."""
    defs: dict[str, list] = {}

    def visit(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                qual = f"{prefix}{child.name}"
                defs.setdefault(child.name, []).append((qual, child))
                visit(child, qual + ".")
            else:
                visit(child, prefix)

    visit(tree, "")
    rows_of = {
        arg.id
        for call in ast.walk(tree)
        if isinstance(call, ast.Call)
        and getattr(call.func, "id", getattr(call.func, "attr", None)) == "map_rows"
        for arg in call.args[2:3] + [k.value for k in call.keywords if k.arg == "rows_of"]
        if isinstance(arg, ast.Name)
    }
    for name, found in defs.items():
        for qual, fn in found:
            params = fn.args.args
            takes_batches = any(
                a.arg == "batches"
                or (a.annotation is not None
                    and re.match(r"Iterator\[.*(DataFrame|RecordBatch)",
                                 ast.unparse(a.annotation)))
                for a in params
            )
            if takes_batches or name in rows_of:
                yield qual, fn


def test_no_hand_rolled_batch_loops_catch_exceptions():
    """A batch-loop body that catches an exception is a hand-rolled
    per-blob kernel: it belongs on kernel.blob_rows, whose REFUSED
    tuple and marker row are the one refusal path. The check reads the
    AST of every module but kernel.py, so neither a line break nor a
    loop over a single column slips past it."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "hadoopxmlextractor_spark",
    )
    offenders, seen = [], set()
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            if rel == "operators/kernel.py":
                continue
            tree = ast.parse(open(path, encoding="utf-8").read())
            for qual, fn in _batch_loops(tree):
                if not any(isinstance(n, ast.ExceptHandler) for n in ast.walk(fn)):
                    continue
                key = f"{rel}:{qual}"
                seen.add(key)
                if key not in _OWN_LOOPS:
                    offenders.append(f"{rel}:{fn.lineno} {qual}")
    assert offenders == []
    assert seen == _OWN_LOOPS  # no stale entry


def test_warc_records_stream_chunk_sized_frames():
    """warc_records' loop flushes every _RECORDS_CHUNK records MID
    file: one blob of 16 chunks of 4 KiB payloads must drain with a
    traced peak of a few chunks (a chunk being built, the frame before
    it, row dicts), not the whole decompressed file (~20 MiB)."""
    import tracemalloc

    import pandas as pd

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
