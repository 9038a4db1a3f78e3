"""Delta-gap + varint posting-block codec (numpy-vectorized).

New work per BASELINE.json north_star (the reference stores raw u32
arrays in 6-slot linked blocks, ``/root/reference/src/index2/
word_map.rs:15-21`` — no compression); we replace that layout with
sorted, delta-gap LEB128-varint blocks carrying per-block max-score
metadata for block-max pruning.

All functions operate on whole Arrow batches: ``encode_batch`` /
``decode_batch`` take *lists of arrays* (one entry per posting block)
and vectorize the varint transform across the concatenation, so the
per-row Python overhead is O(rows), not O(postings). ``decode_flat``
is the decoder itself: it returns the flat columns plus per-block
counts, for callers that would concatenate the per-block arrays
straight back.
"""
from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # 64-bit worst case


def varint_nbytes(values: np.ndarray) -> np.ndarray:
    """Encoded byte length of each value — shared by the encoder and
    the block-splitting callers (previously recomputed in both: one
    redundant O(n*9) numpy pass per encoded column on the build hot
    path, review r4)."""
    nbytes = np.ones(len(values), dtype=np.int64)
    probe = values.astype(np.uint64) >> np.uint64(7)
    while probe.any():
        nbytes += (probe > 0).astype(np.int64)
        probe >>= np.uint64(7)
    return nbytes


def varint_encode(values: np.ndarray, nbytes: np.ndarray | None = None) -> bytes:
    """LEB128-encode a uint64 array into one byte buffer. ``nbytes``
    (from ``varint_nbytes``) skips recomputing per-value lengths."""
    if len(values) == 0:
        return b""
    vals = values.astype(np.uint64, copy=True)
    if nbytes is None:
        nbytes = varint_nbytes(vals)
    ends = np.cumsum(nbytes)
    out = np.zeros(ends[-1], dtype=np.uint8)
    pos = ends - nbytes  # start offset of each value
    remaining = nbytes.copy()
    cur = vals
    for _ in range(_MAX_VARINT_BYTES):
        live = remaining > 0
        if not live.any():
            break
        byte = (cur[live] & np.uint64(0x7F)).astype(np.uint8)
        more = (remaining[live] > 1).astype(np.uint8) << 7
        out[pos[live]] = byte | more
        pos[live] += 1
        remaining[live] -= 1
        cur = cur >> np.uint64(7)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 buffer into an int64 array. A byte's value
    index is the count of terminators before it (one cumsum), and the
    values are one ``np.add.reduceat`` of the shifted 7-bit groups
    over the value starts; a buffer of one-byte values (most tf
    columns) is returned as is."""
    if not buf:
        return np.empty(0, dtype=np.int64)
    arr = np.frombuffer(buf, dtype=np.uint8)
    is_end = arr < 0x80
    if is_end.all():
        return arr.astype(np.int64)
    ends = np.flatnonzero(is_end)
    starts = np.empty(len(ends), dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    value_id = np.cumsum(is_end) - is_end
    shift = (np.arange(len(arr), dtype=np.int64) - starts[value_id]) * 7
    contrib = (arr & 0x7F).astype(np.int64) << shift
    return np.add.reduceat(contrib, starts)


def _split_concat(flat: np.ndarray, lengths: np.ndarray) -> list[np.ndarray]:
    return np.split(flat, np.cumsum(lengths)[:-1]) if len(lengths) else []


def encode_posting_block(
    doc_ids: np.ndarray, base: int, *extra_cols: np.ndarray
) -> tuple[bytes, ...]:
    """Encode one block: sorted doc_ids → gaps from ``base`` (the
    range's first possible doc_id), plus any extra per-posting int
    columns (tf, doc_len) varint-encoded positionally."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    gaps = np.empty_like(doc_ids)
    gaps[0] = doc_ids[0] - base
    gaps[1:] = np.diff(doc_ids)
    out = [varint_encode(gaps.astype(np.uint64))]
    for col in extra_cols:
        out.append(varint_encode(np.asarray(col, dtype=np.uint64)))
    return tuple(out)


def decode_posting_block(
    gaps_buf: bytes, base: int, *extra_bufs: bytes
) -> tuple[np.ndarray, ...]:
    gaps = varint_decode(gaps_buf)
    doc_ids = np.cumsum(gaps) + base
    out = [doc_ids]
    for buf in extra_bufs:
        out.append(varint_decode(buf))
    return tuple(out)


def encode_batch(
    doc_id_lists: list[np.ndarray],
    bases: np.ndarray,
    extra_lists: list[list[np.ndarray]] | None = None,
) -> list[tuple[bytes, ...]]:
    """Encode many blocks at once: the varint transform runs over the
    concatenation of all blocks in the batch, then the byte stream is
    split back per block (one numpy pass per column per batch)."""
    n = len(doc_id_lists)
    if n == 0:
        return []
    lengths = np.fromiter((len(a) for a in doc_id_lists), dtype=np.int64, count=n)
    # Zero-length blocks would corrupt the reduceat-based byte-split
    # (duplicated starts) and the decode-side cumsum reset (starts-1
    # indexing). Upstream never produces them (groupBy groups are
    # non-empty); fail loudly for any new caller rather than silently
    # mis-encoding. (ADVICE r1)
    if (lengths == 0).any():
        raise ValueError("encode_batch: zero-length posting block")
    flat_docs = np.concatenate([np.asarray(a, dtype=np.int64) for a in doc_id_lists])
    # per-block delta with per-block base reset, vectorized:
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    gaps = np.empty_like(flat_docs)
    gaps[1:] = np.diff(flat_docs)
    gaps[starts] = flat_docs[starts] - bases
    cols = [gaps.astype(np.uint64)]
    for extra in extra_lists or []:
        cols.append(
            np.concatenate([np.asarray(a, dtype=np.int64) for a in extra]).astype(
                np.uint64
            )
        )
    # encode each column fully, then split by per-block byte lengths
    results: list[list[bytes]] = [[] for _ in range(n)]
    for col in cols:
        nbytes = varint_nbytes(col)
        full = varint_encode(col, nbytes)
        block_bytes = np.add.reduceat(nbytes, starts) if len(col) else np.array([])
        offs = np.concatenate(([0], np.cumsum(block_bytes))).astype(np.int64)
        for i in range(n):
            results[i].append(full[offs[i] : offs[i + 1]])
    return [tuple(r) for r in results]


def decode_flat(
    gaps_bufs: list[bytes], bases: np.ndarray, extra_bufs: list[list[bytes]] | None = None
) -> tuple[np.ndarray, list[np.ndarray], np.ndarray]:
    """Decode many blocks into flat columns: → (doc_ids, [extra
    columns], per-block value counts). One varint pass per column over
    the concatenation; the per-block counts come from one
    ``np.add.reduceat`` of the terminator bytes over the block byte
    offsets."""
    n = len(gaps_bufs)
    if n == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, [empty for _ in (extra_bufs or [])], empty
    nbytes = np.fromiter(map(len, gaps_bufs), dtype=np.int64, count=n)
    if not nbytes.all():
        raise ValueError("decode_flat: zero-length posting block")
    joined = b"".join(gaps_bufs)
    flat = varint_decode(joined)
    byte_starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    counts = np.add.reduceat(
        (np.frombuffer(joined, dtype=np.uint8) < 0x80).astype(np.int64), byte_starts
    )
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    # per-block cumsum reset: subtract the running offset at block start
    csum = np.cumsum(flat)
    doc_flat = csum - np.repeat(
        np.concatenate(([0], csum[starts[1:] - 1]))
        if n > 1
        # int64, NOT the float64 np.zeros default: a float base
        # upcasts the whole subtraction and rounds doc_ids above 2^53
        # (review r4 — confirmed corruption for snowflake-scale ids)
        else np.zeros(1, dtype=np.int64),
        counts,
    ) + np.repeat(bases.astype(np.int64), counts)
    extras = [varint_decode(b"".join(bufs)) for bufs in extra_bufs or []]
    return doc_flat, extras, counts


def decode_batch(
    gaps_bufs: list[bytes], bases: np.ndarray, extra_bufs: list[list[bytes]] | None = None
) -> tuple[list[np.ndarray], ...]:
    """`decode_flat` split back per block → (doc_id_lists,
    *extra_lists)."""
    docs, extras, counts = decode_flat(gaps_bufs, bases, extra_bufs)
    return tuple(_split_concat(c, counts) for c in (docs, *extras))


def encode_positions_batch(pos_lists: list[list[np.ndarray]]) -> list[bytes]:
    """Encode per-block position payloads: ``pos_lists[b][d]`` is the
    sorted token-position array of doc *d* in block *b* (length = that
    doc's tf). Within each doc the first position is stored absolute
    and the rest delta-gap; docs are concatenated in block doc order,
    so ``tf_bytes`` delimits them at decode time. One vectorized
    varint pass over the whole batch."""
    n = len(pos_lists)
    if n == 0:
        return []
    doc_arrays: list[np.ndarray] = []
    block_counts = np.zeros(n, dtype=np.int64)
    for b, docs in enumerate(pos_lists):
        for a in docs:
            arr = np.asarray(a, dtype=np.int64)
            if len(arr) == 0:
                raise ValueError("encode_positions_batch: empty position list")
            doc_arrays.append(arr)
            block_counts[b] += len(arr)
    flat = np.concatenate(doc_arrays)
    doc_lens = np.fromiter((len(a) for a in doc_arrays), dtype=np.int64)
    doc_starts = np.concatenate(([0], np.cumsum(doc_lens)[:-1]))
    gaps = np.empty_like(flat)
    gaps[1:] = np.diff(flat)
    gaps[doc_starts] = flat[doc_starts]  # absolute first position per doc
    col = gaps.astype(np.uint64)
    nbytes = varint_nbytes(col)
    full = varint_encode(col, nbytes)
    block_starts = np.concatenate(([0], np.cumsum(block_counts)[:-1]))
    per_block = np.add.reduceat(nbytes, block_starts)
    # reduceat with a duplicated start (empty block) would mis-assign;
    # blocks are non-empty by construction (same invariant as
    # encode_batch), enforced above via the empty-position check
    offs = np.concatenate(([0], np.cumsum(per_block))).astype(np.int64)
    return [full[offs[i] : offs[i + 1]] for i in range(n)]


def decode_positions_batch(
    pos_bufs: list[bytes], tf_lists: list[np.ndarray]
) -> list[list[np.ndarray]]:
    """Inverse of ``encode_positions_batch``: ``tf_lists[b]`` gives the
    per-doc position counts of block *b* (the decoded tf column).
    Returns per-block lists of per-doc absolute position arrays."""
    n = len(pos_bufs)
    if n == 0:
        return []
    flat = varint_decode(b"".join(pos_bufs))
    doc_lens = np.concatenate(
        [np.asarray(t, dtype=np.int64) for t in tf_lists]
    ) if n else np.empty(0, dtype=np.int64)
    if doc_lens.sum() != len(flat):
        raise ValueError("decode_positions_batch: tf/positions mismatch")
    doc_starts = np.concatenate(([0], np.cumsum(doc_lens)[:-1]))
    csum = np.cumsum(flat)
    base = (
        np.concatenate(([0], csum[doc_starts[1:] - 1]))
        if len(doc_lens) > 1
        else np.zeros(1, dtype=np.int64)  # int64: see decode_batch
    )
    absolute = csum - np.repeat(base, doc_lens)
    out: list[list[np.ndarray]] = []
    i = 0
    for b in range(n):
        docs: list[np.ndarray] = []
        for _ in range(len(tf_lists[b])):
            docs.append(absolute[doc_starts[i] : doc_starts[i] + doc_lens[i]])
            i += 1
        out.append(docs)
    return out
