"""Codec round-trip property tests (FIXTURES.md F5, hypothesis)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from posik_engine_spark.functions import codec

i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
u64 = st.integers(min_value=0, max_value=2**64 - 1)


@given(st.lists(u64, max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert codec.varint_decode(codec.varint_encode(arr)).tolist() == vals


@given(st.lists(i64, max_size=300))
@settings(max_examples=200, deadline=None)
def test_zigzag_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    assert codec.zigzag_decode(codec.zigzag_encode(arr)).tolist() == vals


@given(st.sets(i64, max_size=400))
@settings(max_examples=200, deadline=None)
def test_doc_id_run_roundtrip(vals):
    arr = np.array(sorted(vals), dtype=np.int64)
    got = codec.decode_doc_ids(codec.encode_doc_ids(arr))
    assert got.tolist() == arr.tolist()


@given(st.lists(st.integers(min_value=0, max_value=10**6), max_size=400))
@settings(max_examples=100, deadline=None)
def test_counts_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    assert codec.decode_counts(codec.encode_counts(arr)).tolist() == vals


def test_non_ascending_rejected():
    import pytest

    with pytest.raises(ValueError):
        codec.encode_doc_ids(np.array([3, 2], dtype=np.int64))
    with pytest.raises(ValueError):
        codec.encode_doc_ids(np.array([2, 2], dtype=np.int64))


def test_compression_is_real():
    """Sorted dense runs must compress well below 8 bytes/doc."""
    ids = np.cumsum(np.random.default_rng(7).integers(1, 50, 10_000)).astype(np.int64)
    enc = codec.encode_doc_ids(ids)
    assert len(enc) < 2 * len(ids)  # ~1 byte/delta for gaps < 128


@given(st.lists(st.sets(i64, min_size=1, max_size=60), max_size=8))
@settings(max_examples=200, deadline=None)
def test_concatenated_doc_id_blocks(blocks):
    """Blocks decoded in one call equal the blocks decoded one by one;
    each restarts its own delta chain, whatever the previous block's
    last id."""
    runs = [np.array(sorted(b), dtype=np.int64) for b in blocks]
    buf = b"".join(codec.encode_doc_ids(r) for r in runs)
    got = codec.decode_doc_ids(buf, [len(r) for r in runs])
    assert got.tolist() == [v for r in runs for v in r.tolist()]


def test_truncated_block_in_concatenation_rejected():
    import pytest

    runs = [np.arange(b, b + 200, dtype=np.int64) * 1000 for b in (0, 10**6, 10**9)]
    bufs = [codec.encode_doc_ids(r) for r in runs]
    for cut in (1, 2):
        bad = bufs[0] + bufs[1][:-cut] + bufs[2]
        with pytest.raises(ValueError, match="corrupt posting block"):
            codec.decode_doc_ids(bad, [len(r) for r in runs])
