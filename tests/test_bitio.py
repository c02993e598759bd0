"""The shared MSB-first bit I/O (operators/bitio.py): writer → reader
round trips over mixed operations, overrun refusal with the codec's
message at every prefix cut, the writer's range check, and the
writer's accumulator staying trimmed (an untrimmed accumulator makes
a long encode quadratic)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hadoopxmlextractor_spark.operators.bitio import BitReader, BitWriter

_MESSAGES = (
    "FLAC bitstream overrun", "ALAC bitstream overrun",
    "Layer I payload exhausted",
)


def _write_op(n: int):
    return st.tuples(st.just("write"), st.integers(0, (1 << n) - 1),
                     st.just(n))


def _swrite_op(n: int):
    return st.tuples(st.just("swrite"),
                     st.integers(-(1 << (n - 1)), (1 << (n - 1)) - 1),
                     st.just(n))


_WIDTH = st.integers(1, 32)
_OP = st.one_of(
    _WIDTH.flatmap(_write_op),
    _WIDTH.flatmap(_swrite_op),
    st.tuples(st.just("unary"), st.integers(0, 80)),
    st.tuples(st.just("align")),
)


def _apply(w: BitWriter, op: tuple) -> None:
    getattr(w, op[0])(*op[1:])


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_OP, max_size=40))
def test_writer_reader_round_trip(ops):
    w = BitWriter()
    for op in ops:
        _apply(w, op)
    r = BitReader(w.tobytes())
    for op in ops:
        kind = op[0]
        if kind == "write":
            assert r.read(op[2]) == op[1]
        elif kind == "swrite":
            assert r.sread(op[2]) == op[1]
        elif kind == "unary":
            assert r.unary() == op[1]
        else:
            r.align()
    assert r.pos <= len(r.d) * 8 < r.pos + 8


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(_WIDTH, st.integers(0, (1 << 32) - 1)),
                min_size=1, max_size=12),
       st.sampled_from(_MESSAGES))
def test_every_prefix_cut_overruns_with_the_codec_message(fields, message):
    fields = [(n, v & ((1 << n) - 1)) for n, v in fields]
    w = BitWriter()
    for n, v in fields:
        w.write(v, n)
    data = w.tobytes()
    # the last field ends inside the last byte (padding is < 8 bits),
    # so every shorter prefix runs out before the walk completes
    for cut in range(len(data)):
        r = BitReader(data[:cut], 0, message)
        with pytest.raises(ValueError, match=message):
            for n, v in fields:
                assert r.read(n) == v


def test_write_refuses_out_of_range_values():
    w = BitWriter()
    w.write(5, 3)
    for v, n in ((8, 3), (-1, 3), (1 << 32, 32), (2, 1)):
        with pytest.raises(ValueError, match="out of range"):
            w.write(v, n)
    assert w.tobytes() == bytes([0b10100000])  # the refusals wrote nothing
    w.swrite(-1, 3)  # signed values go through swrite
    assert w.tobytes() == bytes([0b10111100])


def test_writer_accumulator_stays_trimmed():
    w = BitWriter()
    widest = 0
    for k in range(2000):
        n = 1 + (k * 7) % 32
        widest = max(widest, n)
        w.write((k * 2654435761) & ((1 << n) - 1), n)
        assert w.acc.bit_length() < 8 + widest
