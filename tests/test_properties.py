"""Property-based tests (SURVEY.md §5.3-4): random store-like XML trees
and rule sets; invariants checked against the pure-Python scanner and
the Spark assembly semantics.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pyarrow as pa

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hadoopxmlextractor_spark.config import ExtractionConfig
from hadoopxmlextractor_spark.operators.kernel import _map_batches
from hadoopxmlextractor_spark.scanner import scan_with_config
from hadoopxmlextractor_spark.xpath_subset import compile_subset

# --- generators -----------------------------------------------------------

_word = st.text(alphabet="abcdefgh", min_size=1, max_size=6)


@st.composite
def store_doc(draw):
    """Random store→inventory→item tree; returns (xml, n_items, items)."""
    n_inv = draw(st.integers(0, 3))
    inventories = []
    for _ in range(n_inv):
        n_items = draw(st.integers(0, 4))
        items = [
            (draw(_word), draw(st.integers(0, 99))) for _ in range(n_items)
        ]
        inventories.append((draw(_word), items))
    parts = ['<store name="S">']
    for month, items in inventories:
        parts.append(f'<inventory month="{month}">')
        for name, qty in items:
            parts.append(f'<item id="{name}" qty="{qty}"></item>')
        parts.append("</inventory>")
    parts.append("</store>")
    all_items = [i for _, items in inventories for i in items]
    return "".join(parts), len(all_items), all_items


ITEM_CFG = ExtractionConfig.from_rules(
    [
        ExtractionConfig.parse_rule("store", "store;true;false; ;0#//store/@name;", ";", "#"),
        ExtractionConfig.parse_rule(
            "inventory", "inventory;true;false; ;1#//inventory/@month;", ";", "#"
        ),
        ExtractionConfig.parse_rule(
            "item", "item;true;false; ;2#//item/@id;3#//item/@qty;", ";", "#"
        ),
    ],
    nr_of_columns=4,
)


@given(store_doc())
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_scanner_invariants(doc):
    xml, n_items, items = doc
    frags = scan_with_config(xml, ITEM_CFG)
    # fragment count = 1 store + #inventories + #items (all non-nested
    # here because every rule is include_children=false)
    n_inv = xml.count("<inventory ")
    assert len(frags) == 1 + n_inv + n_items
    # strictly increasing seq = document order
    seqs = [f.seq for f in frags]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    # every fragment's bytes came from the document (modulo re-wrap)
    for f in frags:
        rule = ITEM_CFG.rules[f.rule_idx]
        core = f.xml[: len(f.xml) - len(rule.buffer_addition)] if rule.buffer_addition else f.xml
        assert core in xml


def reducer_rows(xml: str, config: ExtractionConfig, missing_value: str | None = " ") -> list[tuple]:
    """Pure-Python emulation of the reference's reducer over one document
    (``XmlExtractor.java:150-175``): validated fragments' cells sorted by
    (seq, order), ties in declaration order (the shuffle's sort), one
    state array forward-filled, a row (seq, *columns) per trigger-column
    cell, None and "" rendered as ``missing_value`` unless it is None."""
    n = config.nr_of_columns
    cells = []
    for f in scan_with_config(xml, config):
        tree = ET.fromstring(f.xml)
        for xp in config.rules[f.rule_idx].xpaths:
            v = compile_subset(xp.expr)(tree)
            if v is not None:
                cells.append((f.seq, xp.order, v))
    cells.sort(key=lambda c: c[:2])
    cols: list[str | None] = [None] * n
    rows = []
    for seq, order, v in cells:
        cols[order] = v
        if order == n - 1:
            rendered = cols if missing_value is None else [c or missing_value for c in cols]
            rows.append((seq, *rendered))
    return rows


@given(store_doc())
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_assembly_semantics_pure(doc):
    """Row count invariant of the reducer semantics: #rows == #trigger-column
    cells (qty present)."""
    xml, n_items, items = doc
    rows = [r[1:] for r in reducer_rows(xml, ITEM_CFG)]
    assert len(rows) == n_items  # trigger-gated emit
    # emitted item columns appear in document order
    assert [r[2] for r in rows] == [name for name, _ in items]
    assert [r[3] for r in rows] == [str(q) for _, q in items]
    # forward fill: store name present on every row once seen
    assert all(r[0] == "S" for r in rows)


# The item rule declares its trigger (qty, order 3) before id and alt, which
# tie on order 2; every attribute may be absent (no cell) or empty (a cell
# that overwrites context with "").
ORDERING_CFG = ExtractionConfig.from_rules(
    [
        ExtractionConfig.parse_rule("store", "store;true;false; ;0#//store/@name;", ";", "#"),
        ExtractionConfig.parse_rule(
            "inventory", "inventory;true;false; ;1#//inventory/@month;", ";", "#"
        ),
        ExtractionConfig.parse_rule(
            "item", "item;true;false; ;3#//item/@qty;2#//item/@id;2#//item/@alt;", ";", "#"
        ),
    ],
    nr_of_columns=4,
    column_names=("store", "month", "id", "qty"),
)
# pyarrow imports pandas on its first pa.array call: pay that once here,
# not inside the first deadline-timed example
pa.array([])
# the fused extract()'s output schema for ORDERING_CFG, as Arrow types
ORDERING_ROW_SCHEMA = to_arrow_schema(
    StructType(
        [StructField("doc_id", StringType()), StructField("seq", LongType())]
        + [StructField(n, StringType()) for n in ORDERING_CFG.output_columns()]
    )
)

_attr_value = st.one_of(st.none(), st.just(""), _word)


def _tag(draw, name: str, attrs: tuple[str, ...], *, broken: bool = False) -> str:
    rendered = "".join(
        f' {a}="{v}"' for a in attrs if (v := draw(_attr_value)) is not None
    )
    # an attribute without a value: the fragment matches but fails to parse
    return f'<{name} x="1"{rendered}{" broken" if broken else ""}>'


@st.composite
def ordering_doc(draw):
    parts = [_tag(draw, "store", ("name",))]
    for _ in range(draw(st.integers(0, 3))):
        parts.append(_tag(draw, "inventory", ("month",)))
        for _ in range(draw(st.integers(0, 4))):
            broken = draw(st.integers(0, 5)) == 0
            parts.append(_tag(draw, "item", ("qty", "id", "alt"), broken=broken) + "</item>")
        parts.append("</inventory>")
    parts.append("</store>")
    return "".join(parts)


@given(st.lists(ordering_doc(), min_size=1, max_size=3))
@example(['<store x="1" name="S"><inventory x="1" month="m"><item x="1" id="a"></item></inventory></store>'])
@example([
    '<store x="1" name="S"><inventory x="1" month="m">'
    '<item x="1" id="a" qty="1"></item><item x="1" qty="2" id="b" broken></item>'
    '<item x="1" qty="3"></item></inventory><inventory x="1" month="">'
    '<item x="1" alt="c" id="" qty=""></item></inventory></store>'
])
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_map_side_assembly_equals_reducer(docs):
    """The fused path's map-side assembler equals the reducer emulation:
    out-of-order declarations and order ties, empty values overwriting
    context, fragments without the trigger, malformed fragments, documents
    without any trigger, a null document, two Arrow batches."""
    from hadoopxmlextractor_spark.extract import _assembled_rows, _compile_fused, _fused_scan

    names = ORDERING_ROW_SCHEMA.names
    doc_ids = [f"d{i}" for i in range(len(docs))]
    batch = pa.RecordBatch.from_pydict({"doc_id": [*doc_ids, "null"], "content": [*docs, None]})
    document_cells = _fused_scan(ORDERING_CFG, _compile_fused(ORDERING_CFG))
    for missing_value in (" ", None):
        assemble = _assembled_rows(document_cells, ORDERING_CFG, missing_value)
        out = list(
            _map_batches(iter([batch[:1], batch[1:]]), [0, 1], assemble, ORDERING_ROW_SCHEMA)
        )
        assert len(out) == 2 and all(b.schema.names == names for b in out)
        want = [
            (doc_id, *row)
            for doc_id, xml in zip(doc_ids, docs)
            for row in reducer_rows(xml, ORDERING_CFG, missing_value)
        ]
        got = [tuple(r.values()) for b in out for r in b.to_pylist()]
        assert got == want


def test_fused_extract_equals_window_assembly(spark):
    """Spark level: the fused extract() equals assemble_rows over the fused
    cell stream on the golden fixtures, with and without column names."""
    import dataclasses

    from hadoopxmlextractor_spark.extract import extract, extract_cells
    from hadoopxmlextractor_spark.operators.assembly import assemble_rows
    from hadoopxmlextractor_spark.sources import docs_from_strings
    from tests.fixtures import (
        BANKS,
        BOOK_CONFIG_XML,
        INVENTORY_CONFIG_XML,
        SOHO,
        make_store_xml,
    )

    docs = docs_from_strings(
        spark, {"soho.xml": make_store_xml(SOHO), "banks.xml": make_store_xml(BANKS)}
    )
    inv = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
    configs = [
        inv,
        ExtractionConfig.from_hadoop_xml(BOOK_CONFIG_XML, is_text=True),
        dataclasses.replace(inv, column_names=("store", "phone", "month", "day", "id", "stock")),
    ]
    for cfg in configs:
        for missing_value in (" ", None):
            map_side = extract(docs, cfg, missing_value=missing_value, fused=True)
            window = assemble_rows(
                extract_cells(docs, cfg, fused=True),
                cfg.nr_of_columns,
                column_names=cfg.output_columns(),
                missing_value=missing_value,
            )
            assert map_side.dtypes == window.dtypes
            got = sorted(map(tuple, map_side.collect()))
            assert got == sorted(map(tuple, window.collect()))
            assert got


@given(st.text(alphabet="ab<>/ \"=x", max_size=80))
@settings(max_examples=300)
def test_scanner_never_crashes_on_garbage(s):
    # malformed pseudo-XML must never raise — fragments either parse or
    # are silently dropped (reference swallows exceptions)
    frags = scan_with_config(s, ITEM_CFG)
    for f in frags:
        ET.fromstring(f.xml)  # validated fragments always parse


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=60),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=12),
)
@settings(max_examples=60, deadline=None)
def test_mg_fold_retains_every_heavy_item(batches, capacity):
    """Misra-Gries fold invariant: after folding any batch sequence at
    any capacity, every item with true total count > N/(capacity+1)
    survives in the summary, and no survivor's stored count exceeds its
    true count (subtraction only undercounts)."""
    import pandas as pd

    from hadoopxmlextractor_spark.operators.text import _mg_fold

    summary = pd.Series(dtype="int64")
    truth: dict[int, int] = {}
    n = 0
    for batch in batches:
        counts = pd.Series(batch, dtype="int64").value_counts()
        for item, c in counts.items():
            truth[item] = truth.get(item, 0) + int(c)
        n += len(batch)
        summary = _mg_fold(summary, counts, capacity)
    assert len(summary) <= capacity
    bound = n / (capacity + 1)
    for item, true_count in truth.items():
        if true_count > bound:
            assert item in summary.index
    for item, stored in summary.items():
        assert stored <= truth[item]


@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=0,
        max_size=64,
    )
)
@settings(max_examples=200, deadline=None)
def test_quantize_vec_bounds(values):
    import numpy as np

    from hadoopxmlextractor_spark.operators.similarity import quantize_vec

    a = np.asarray(values, dtype=np.float64)
    scale, q = quantize_vec(a)
    assert q.shape == a.shape
    if scale == 0.0:
        assert not np.any(q)
        return
    # codes fit int8's symmetric range
    assert np.abs(q).max() <= 127
    # round-half-up: reconstruction error per component <= scale/2 (+1 ulp)
    err = np.abs(a - q * scale)
    assert np.all(err <= scale / 2 * (1 + 1e-9) + 1e-300)
    # the max-magnitude component always quantizes to exactly +/-127
    assert np.abs(q[np.argmax(np.abs(a))]) == 127


# --- BPE apply-equivalence (the oracle's core claim) ----------------------

_sym = st.sampled_from(["a", "b", "ab", "aa", "c"])


def _greedy_apply(syms, l, r):
    out, i, n = [], 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _leftmost_replace(syms, l, r):
    # the oracle's formulation: single-space-joined padded string,
    # repeatedly replace the FIRST occurrence of ' l r ' with ' lr '
    s = " " + " ".join(syms) + " "
    pat, rep = f" {l} {r} ", f" {l + r} "
    while pat in s:
        i = s.index(pat)
        s = s[:i] + rep + s[i + len(pat) :]
    return s.split()


@given(
    st.lists(_sym, min_size=0, max_size=12),
    st.tuples(_sym, _sym),
)
@settings(max_examples=300)
def test_bpe_greedy_apply_equals_leftmost_replace(syms, pair):
    # the recursive-CTE oracle replays BPE application as repeated
    # leftmost string replacement; this is the property that makes
    # that replay exact, including overlap runs like a a a and pairs
    # whose merged symbol could collide with a neighbor (a + ab etc.)
    l, r = pair
    assert _greedy_apply(syms, l, r) == _leftmost_replace(syms, l, r)


def test_unicode_hash_and_indexing_parity_across_engines():
    # The oracles rebuild hashes from md5() and index strings by
    # position; both assumptions must hold beyond ASCII: md5 operates
    # on UTF-8 bytes and indexing is code-point based in Spark, DuckDB
    # AND the Python replays. Pin it with CJK / emoji / combining
    # marks so a future corpus change can't silently break oracles.
    import hashlib

    import duckdb

    samples = ["héllo wörld", "日本語 テスト", "🎉 emoji mix 🚀", "étude"]
    con = duckdb.connect()
    for s in samples:
        [(duck_md5, duck_len, duck_first)] = con.execute(
            "SELECT md5(?), len(?), (?)[1]", [s, s, s]
        ).fetchall()
        assert duck_md5 == hashlib.md5(s.encode("utf-8")).hexdigest(), s
        assert duck_len == len(s), s  # code points, not bytes
        assert duck_first == s[0], s


def test_unicode_hash_parity_spark_side(spark):
    import hashlib

    from pyspark.sql import functions as F

    samples = ["héllo wörld", "日本語 テスト", "🎉 emoji mix 🚀", "étude"]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    rows = df.select(
        "t", F.md5("t").alias("h"), F.length("t").alias("n")
    ).collect()
    for r in rows:
        assert r["h"] == hashlib.md5(r["t"].encode("utf-8")).hexdigest()
        assert r["n"] == len(r["t"])


@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, width=32
        ),
        min_size=1,
        max_size=64,
    )
)
@settings(max_examples=200, deadline=None)
def test_quantized_shift_bounds_and_distance_invariance(vec):
    import numpy as np

    from hadoopxmlextractor_spark.operators.similarity import quantize_vec

    a = np.asarray(vec, dtype=np.float64)
    _, q = quantize_vec(a)
    qs = q + 127
    # The shifted lanes are the non-negative int8 range...
    assert qs.min() >= 0 and qs.max() <= 254
    # ...and squared-L2 distances are shift-invariant (the k-means
    # geometry is untouched by the cross-engine-floor-division shift).
    other = np.roll(q, 1)
    assert ((q - other) ** 2).sum() == ((qs - (other + 127)) ** 2).sum()


@given(st.randoms(use_true_random=False))
@settings(max_examples=25, deadline=None)
def test_perceptron_batch_gradient_is_order_invariant(rnd):
    from tests.test_text_multimodal import _perceptron_replay

    docs = [
        (i, " ".join(f"t{(i * 5 + k) % 13}" for k in range((i % 7) + 1)))
        for i in range(20)
    ]
    w_sorted, _, _ = _perceptron_replay(docs, 8, 3, 4)
    shuffled = list(docs)
    rnd.shuffle(shuffled)
    w_shuffled, _, _ = _perceptron_replay(shuffled, 8, 3, 4)
    # Full-batch updates are SUMs: any partitioning / arrival order
    # yields the identical model (the property SGD does not have).
    assert w_sorted == w_shuffled


@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=40), min_size=1, max_size=15),
        min_size=2,
        max_size=12,
    ),
    st.integers(min_value=30, max_value=90),
)
@settings(max_examples=300, deadline=None)
def test_prefix_filter_guarantee_pure(sets, pct):
    """The prefix-filtering theorem the Spark operator leans on,
    checked exhaustively in pure Python over random set families: any
    pair with Jaccard >= pct/100 MUST share an element inside the two
    (df ASC, element ASC)-ordered prefixes of length
    |T| - ceil(pct*|T|/100) + 1 — i.e. the candidate join provably
    loses nothing, at any threshold and any frequency profile."""
    from collections import Counter

    df = Counter(x for s in sets for x in set(s))
    order = {x: (df[x], x) for s in sets for x in s}

    def prefix(s):
        ordered = sorted(s, key=lambda x: order[x])
        plen = len(s) - ((pct * len(s) + 99) // 100) + 1
        return set(ordered[:plen])

    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            inter = len(a & b)
            union = len(a | b)
            if 100 * inter >= pct * union:  # Jaccard >= threshold
                assert prefix(a) & prefix(b), (
                    a, b, pct, prefix(a), prefix(b),
                )


# ---------------------------------------------------------------------------
# Round-8 kernels: WARC splits, RLE8 video, lossless JPEG, robots
# ---------------------------------------------------------------------------


@given(
    st.lists(st.binary(min_size=0, max_size=120), min_size=1, max_size=20),
    st.booleans(),
    st.integers(min_value=1, max_value=600),
)
@settings(max_examples=40, deadline=None)
def test_warc_split_ranged_union_equals_whole(payloads, gz, target):
    """Any record set, any layout, any split target: the split index
    cuts only at record-aligned boundaries, splits tile the file
    exactly, and the ranged per-split parses union to the whole-file
    parse with contiguous rec_idx."""
    from hadoopxmlextractor_spark.sources.warc import (
        iter_warc_records,
        parse_warc,
        split_warc_blob,
        write_warc,
    )

    recs = [
        {"warc_type": "response", "record_id": f"<urn:p:{i}>",
         "target_uri": f"https://x/{i}", "content_type": "b",
         "payload": p}
        for i, p in enumerate(payloads)
    ]
    blob = write_warc(recs, gzip_members=gz)
    whole = parse_warc(blob)
    splits = split_warc_blob(blob, target_bytes=target)
    assert splits[0]["offset"] == 0
    pos = 0
    ranged = []
    for s in splits:
        assert s["offset"] == pos
        pos += s["length"]
        piece = blob[s["offset"] : s["offset"] + s["length"]]
        got = list(iter_warc_records(piece, base_idx=s["first_rec"]))
        assert len(got) == s["n_recs"]
        ranged.extend(got)
    assert pos == len(blob)
    assert ranged == whole
    assert [r["rec_idx"] for r in ranged] == list(range(len(payloads)))


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=255),
                 min_size=48, max_size=48),
        min_size=1, max_size=6,
    ),
    st.data(),
)
@settings(max_examples=30, deadline=None)
def test_rle8_video_roundtrip_any_frames(frame_rows, data):
    """Any frame sequence (random planes, duplicated frames, partial
    mutations) roundtrips the RLE8 inter-frame codec exactly — the
    canvas carry-over can never leak a stale pixel."""
    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_avi_frames,
        _encode_rle8_avi,
    )

    frames = [
        np.array(rows, dtype=np.uint8).reshape(6, 8) for rows in frame_rows
    ]
    # occasionally repeat a frame verbatim (full-skip delta path)
    if len(frames) > 1 and data.draw(st.booleans()):
        frames.insert(1, frames[0].copy())
    gray = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    dec = _decode_avi_frames(_encode_rle8_avi(frames, gray))
    assert dec is not None and len(dec) == len(frames)
    for orig, got in zip(frames, dec):
        assert np.array_equal(got, gray[orig])


@given(
    st.integers(min_value=1, max_value=7),
    st.sampled_from([8, 12, 16]),
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=0, max_value=10**9),
)
@settings(max_examples=40, deadline=None)
def test_lossless_jpeg_roundtrip_any_shape(pred, prec, h, w, seed):
    """Any predictor, precision, and shape: SOF3 decode is the exact
    inverse of the encoder up to the documented presentation (high
    byte for precision > 8)."""
    import hashlib

    import numpy as np

    from hadoopxmlextractor_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    n = h * w
    raw = b"".join(
        hashlib.md5(f"{seed}:{k}".encode()).digest()
        for k in range((2 * n + 15) // 16)
    )
    vals = np.frombuffer(raw[: 2 * n], dtype=np.uint8).astype(np.int64)
    vals = (vals[:n] << 8 | vals[n:]) % (1 << prec)
    vals = vals.reshape(h, w)
    img = decode_jpeg(encode_jpeg_lossless(vals, predictor=pred, precision=prec))
    assert img is not None
    shown = vals >> (prec - 8) if prec > 8 else vals
    assert np.array_equal(
        img, np.repeat(shown.astype(np.uint8)[:, :, None], 3, axis=2)
    )


@given(
    st.lists(
        st.tuples(
            st.booleans(),
            st.text(alphabet="/abp*.$", min_size=1, max_size=8),
        ),
        min_size=0, max_size=6,
    ),
    st.text(alphabet="/abp.", min_size=1, max_size=10),
)
@settings(max_examples=60, deadline=None)
def test_robots_longest_match_equals_bruteforce(rules, path):
    """The compiled-regex longest-match decision equals a bruteforce
    wildcard matcher for arbitrary rule sets and paths."""
    import re

    from hadoopxmlextractor_spark.operators.text import _robots_regex

    def brute_match(pattern, p):
        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        parts = body.split("*")

        def rec(pi, si):
            if pi == len(parts):
                return si == len(p) if anchored else True
            part = parts[pi]
            if pi == 0:
                return p.startswith(part) and rec(1, len(part))
            for j in range(si, len(p) - len(part) + 1):
                if p[j : j + len(part)] == part and rec(pi + 1, j + len(part)):
                    return True
            return False

        return rec(0, 0)

    def decide(ruleset):
        best = None
        for allow, pat in ruleset:
            if brute_match(pat, path):
                ln = len(pat)
                if best is None or ln > best[0] or (ln == best[0] and allow):
                    best = (ln, allow)
        return best[1] if best else True

    regex_best = None
    for allow, pat in rules:
        if re.compile(_robots_regex(pat)).match(path):
            ln = len(pat)
            if (
                regex_best is None
                or ln > regex_best[0]
                or (ln == regex_best[0] and allow)
            ):
                regex_best = (ln, allow)
    got = regex_best[1] if regex_best else True
    assert got == decide(rules)
