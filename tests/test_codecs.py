import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gopensearch_spark import codecs


def test_varint_roundtrip_simple():
    v = np.array([0, 1, 127, 128, 300, 2**21, 2**63, 2**64 - 1], dtype=np.uint64)
    assert (codecs.varint_decode(codecs.varint_encode(v)) == v).all()


def test_varint_empty():
    assert codecs.varint_encode(np.array([], dtype=np.uint64)) == b""
    assert codecs.varint_decode(b"").size == 0


def test_varint_single_byte_values():
    v = np.arange(128, dtype=np.uint64)
    buf = codecs.varint_encode(v)
    assert len(buf) == 128  # all fit in one byte
    assert (codecs.varint_decode(buf) == v).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
def test_varint_roundtrip_hypothesis(xs):
    v = np.array(xs, dtype=np.uint64)
    assert (codecs.varint_decode(codecs.varint_encode(v)) == v).all()


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=400))
def test_delta_roundtrip_hypothesis(ids):
    v = np.array(sorted(ids), dtype=np.uint64)
    assert (codecs.delta_decode(codecs.delta_encode(v)) == v).all()


def test_delta_compression_ratio():
    # dense ascending ids should compress to ~1 byte/doc
    ids = np.arange(10_000, dtype=np.uint64) * 3
    buf = codecs.delta_encode(ids)
    assert len(buf) < 10_000 * 2


def test_delta_encode_chunks_matches_per_chunk():
    import numpy as np

    from gopensearch_spark import codecs

    rng = np.random.default_rng(5)
    chunks = [np.cumsum(rng.integers(1, 1000, int(rng.integers(0, 20))).astype(np.uint64))
              for _ in range(300)]
    flat = np.concatenate([c for c in chunks if c.size] or [np.empty(0, dtype=np.uint64)])
    lengths = np.array([c.size for c in chunks])
    got = codecs.delta_encode_chunks(flat, lengths)
    assert got == [codecs.delta_encode(c) for c in chunks]
