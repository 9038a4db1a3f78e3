"""Property-based codec tests (hypothesis): the edge-case round-trips
in test_codec.py pin known boundaries; these search the input space —
arbitrary value magnitudes, block shapes, and position layouts — for
encode/decode asymmetries. Pure numpy, no Spark session.
"""
from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from textindex_spark.codec import (
    decode_batch,
    decode_flat,
    decode_positions_batch,
    encode_batch,
    encode_positions_batch,
    varint_decode,
    varint_encode,
)

# int64-safe magnitudes (the engine's doc_ids/tfs/doc_lens are int64;
# 2^62 keeps cumsum(gaps)+base clear of overflow)
u62 = st.integers(min_value=0, max_value=2**62 - 1)


@settings(max_examples=200, deadline=None)
@given(st.lists(u62, max_size=300))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(arr))
    assert np.array_equal(out, arr.astype(np.int64))


@settings(max_examples=100, deadline=None)
@given(
    st.lists(  # per block: sorted unique doc-id offsets + per-doc payloads
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2**40),  # doc offset
                st.integers(min_value=1, max_value=2**20),  # tf
                st.integers(min_value=1, max_value=2**20),  # doc_len
            ),
            min_size=1,
            max_size=40,
            unique_by=lambda t: t[0],
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=2**20),
)
def test_posting_batch_roundtrip(blocks, base_step):
    doc_lists, tf_lists, dl_lists, bases = [], [], [], []
    for b, rows in enumerate(blocks):
        rows = sorted(rows)
        base = b * (2**41 + base_step)  # block's range base ≤ first id
        doc_lists.append(np.array([base + off for off, _, _ in rows], dtype=np.int64))
        tf_lists.append(np.array([tf for _, tf, _ in rows], dtype=np.int64))
        dl_lists.append(np.array([dl for _, _, dl in rows], dtype=np.int64))
        bases.append(base)
    bases = np.array(bases, dtype=np.int64)
    enc = encode_batch(doc_lists, bases, [tf_lists, dl_lists])
    out_docs, out_tfs, out_dls = decode_batch(
        [e[0] for e in enc], bases, [[e[1] for e in enc], [e[2] for e in enc]]
    )
    for i in range(len(blocks)):
        assert np.array_equal(out_docs[i], doc_lists[i])
        assert np.array_equal(out_tfs[i], tf_lists[i])
        assert np.array_equal(out_dls[i], dl_lists[i])


@settings(max_examples=100, deadline=None)
@given(
    st.lists(  # blocks -> docs -> sorted position arrays
        st.lists(
            st.lists(
                st.integers(min_value=0, max_value=2**30),
                min_size=1,
                max_size=30,
                unique=True,
            ),
            min_size=1,
            max_size=10,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_positions_batch_roundtrip(blocks):
    pos_lists = [
        [np.array(sorted(doc), dtype=np.int64) for doc in docs] for docs in blocks
    ]
    bufs = encode_positions_batch(pos_lists)
    tf_lists = [
        np.array([len(d) for d in docs], dtype=np.int64) for docs in pos_lists
    ]
    out = decode_positions_batch(bufs, tf_lists)
    for b in range(len(pos_lists)):
        assert len(out[b]) == len(pos_lists[b])
        for d in range(len(pos_lists[b])):
            assert np.array_equal(out[b][d], pos_lists[b][d])


@settings(max_examples=200, deadline=None)
@given(st.lists(u62, min_size=1, max_size=200))
def test_varint_encoding_is_minimal_and_prefix_free(vals):
    """Every encoded stream must (a) decode to exactly len(vals)
    values — terminator bytes delimit values, so the framing is
    self-describing — and (b) use the minimal LEB128 length per
    value (no redundant continuation bytes)."""
    arr = np.array(vals, dtype=np.uint64)
    buf = varint_encode(arr)
    n_term = int(np.count_nonzero(np.frombuffer(buf, dtype=np.uint8) < 0x80))
    assert n_term == len(vals)
    expect = sum(max(1, (int(v).bit_length() + 6) // 7) for v in vals)
    assert len(buf) == expect


@settings(max_examples=100, deadline=None)
@given(
    st.lists(  # per block: sorted unique doc-id offsets + tf
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2**40),
                st.integers(min_value=1, max_value=2**20),
            ),
            min_size=1,
            max_size=40,
            unique_by=lambda t: t[0],
        ),
        min_size=1,
        max_size=64,
    ),
    st.integers(min_value=0, max_value=2**60),
)
@example([[(0, 1)]], 2**53 + 1)  # one block, one posting, id > 2^53
@example([[(5, 300), (2**35, 1)]], 2**60)  # one block, multi-byte varints
@example([[(i, 1)] for i in range(64)], 2**55)  # many one-posting blocks
def test_flat_decode_is_split_decode(blocks, base0):
    """decode_flat's flat columns are decode_batch's per-block arrays
    concatenated, its counts their lengths, and both give back the
    encoded ids exactly — in single- and many-block batches, with
    multi-byte varints and doc_ids above 2^53 (where a float64 base
    would round them)."""
    doc_lists, tf_lists, bases = [], [], []
    for b, rows in enumerate(blocks):
        rows = sorted(rows)
        base = base0 + b * 2**41
        doc_lists.append(np.array([base + off for off, _ in rows], dtype=np.int64))
        tf_lists.append(np.array([tf for _, tf in rows], dtype=np.int64))
        bases.append(base)
    bases = np.array(bases, dtype=np.int64)
    enc = encode_batch(doc_lists, bases, [tf_lists])
    gaps, tfb = [e[0] for e in enc], [e[1] for e in enc]
    docs, (tfs,), counts = decode_flat(gaps, bases, [tfb])
    split_docs, split_tfs = decode_batch(gaps, bases, [tfb])
    assert docs.dtype == np.int64 and counts.tolist() == [len(d) for d in doc_lists]
    assert np.array_equal(docs, np.concatenate(doc_lists))
    assert np.array_equal(tfs, np.concatenate(tf_lists))
    assert len(split_docs) == len(split_tfs) == len(blocks)
    for got_d, got_t, want_d, want_t in zip(split_docs, split_tfs, doc_lists, tf_lists):
        assert np.array_equal(got_d, want_d) and np.array_equal(got_t, want_t)


def _searchsorted_varint_decode(buf: bytes) -> np.ndarray:
    """The earlier decoder (per-byte searchsorted for the value index,
    ``np.add.at`` for the sums), kept as the oracle of
    ``varint_decode``."""
    if not buf:
        return np.empty(0, dtype=np.int64)
    arr = np.frombuffer(buf, dtype=np.uint8)
    is_end = arr < 0x80
    ends = np.nonzero(is_end)[0]
    n_vals = len(ends)
    starts = np.empty(n_vals, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    byte_idx = np.arange(len(arr), dtype=np.int64)
    value_id = np.searchsorted(ends, byte_idx, side="left")
    shift = (byte_idx - starts[value_id]) * 7
    contrib = (arr & 0x7F).astype(np.int64) << shift
    vals = np.zeros(n_vals, dtype=np.int64)
    np.add.at(vals, value_id, contrib)
    return vals


# full uint64 range: 10-byte varints (values ≥ 2^63) decode to the
# same wrapped int64 in both decoders
u64 = st.integers(min_value=0, max_value=2**64 - 1)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.one_of(
            u64,
            st.integers(min_value=0, max_value=127),  # one-byte values
            st.sampled_from([2**63 - 1, 2**63, 2**64 - 1, 2**56, 128]),
        ),
        max_size=300,
    )
)
@example([2**63 - 1])
@example([2**64 - 1, 0, 2**63])
@example([0, 1, 127])
def test_varint_decode_matches_searchsorted_decoder(vals):
    buf = varint_encode(np.array(vals, dtype=np.uint64))
    got, want = varint_decode(buf), _searchsorted_varint_decode(buf)
    assert got.dtype == want.dtype == np.int64
    assert np.array_equal(got, want)
    assert np.array_equal(got.view(np.uint64), np.array(vals, dtype=np.uint64))
