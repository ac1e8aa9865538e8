"""Posting-block codec: delta + LEB128 varint, numpy-vectorized.

The index stores ONLY integers (doc_id deltas, field tfs); every float
(weighted tf, kernel, score) is recomputed at decode time with the
spec'd op order, so compression cannot perturb rank identity.

Reference parity: the reference keeps postings as relational rows with
no compression (/root/reference/.../model/Index.java:16-41, SURVEY.md
§1.2); the block structure (BLOCK_SIZE docs, per-block max kernel for
block-max WAND) is mandated by the north rule in BASELINE.json.

All encode/decode paths are array-at-a-time numpy (no per-value Python
loops beyond the <=10-iteration byte-position loop), so they run hot
inside Arrow-batched grouped-map UDFs.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_MAX_VARINT_BYTES = 10


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zigzag (small magnitude -> small code)."""
    v = v.astype(np.int64)
    return ((v.astype(_U64) << _U64(1)) ^ (v >> np.int64(63)).astype(_U64)).astype(_U64)


def zigzag_decode(u: np.ndarray) -> np.ndarray:
    u = u.astype(_U64)
    return ((u >> _U64(1)) ^ (-(u & _U64(1)).astype(np.int64)).astype(_U64)).astype(np.int64)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized over the array)."""
    v = np.ascontiguousarray(values, dtype=_U64)
    if v.size == 0:
        return b""
    nb = np.ones(v.size, dtype=np.int64)
    tmp = v >> _U64(7)
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp = tmp >> _U64(7)
    starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    for j in range(_MAX_VARINT_BYTES):
        sel = nb > j
        if not sel.any():
            break
        byte = ((v[sel] >> _U64(7 * j)) & _U64(0x7F)).astype(np.uint8)
        cont = (nb[sel] - 1 > j).astype(np.uint8) << np.uint8(7)
        out[starts[sel] + j] = byte | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array (vectorized via reduceat)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=_U64)
    if b[-1] & 0x80:
        # the final byte carries a continuation bit: the stream is
        # truncated (corrupt block) — fail with the real cause instead
        # of an unrelated numpy broadcast error downstream
        raise ValueError("varint_decode: truncated stream (corrupt posting block)")
    hi = b & np.uint8(0x80)
    if not hi.any():
        # single-byte fast path: every value < 128 (the common case for
        # tfs and small deltas) — the bytes ARE the values; skips the
        # flatnonzero/repeat/reduceat machinery whose fixed numpy
        # overhead dominates at interactive block sizes
        return b.astype(_U64)
    is_last = hi == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    pos = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lengths)
    vals7 = (b & np.uint8(0x7F)).astype(_U64) << (_U64(7) * pos.astype(_U64))
    return np.add.reduceat(vals7, starts).astype(_U64)


def encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Delta-encode a SIGNED-ascending int64 doc_id run.

    First value zigzag'd (xxhash64 ids may be negative), deltas are
    non-negative and varint'd directly.
    """
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    if d.size > 1 and not (d[1:] > d[:-1]).all():
        raise ValueError("doc_ids must be strictly ascending")
    codes = np.empty(d.size, dtype=_U64)
    codes[0] = zigzag_encode(d[:1])[0]
    if d.size > 1:
        # wrapping uint64 subtraction: |delta| can exceed int64 range
        with np.errstate(over="ignore"):
            codes[1:] = d[1:].astype(_U64) - d[:-1].astype(_U64)
    return varint_encode(codes)


def decode_doc_ids(buf: bytes, block_lens=None) -> np.ndarray:
    """Decode one encode_doc_ids buffer, or — with ``block_lens`` — the
    concatenation of several, block i holding block_lens[i] ids and
    restarting its own delta chain. Every buffer ends on a complete
    varint, so the concatenated stream decodes in one pass; a count
    that disagrees with ``sum(block_lens)`` means a truncated block."""
    codes = varint_decode(buf)
    if block_lens is None:
        lens = np.array([codes.size] if codes.size else [], dtype=np.int64)
    else:
        lens = np.asarray(block_lens, dtype=np.int64)
        lens = lens[lens > 0]
        if codes.size != int(lens.sum()):
            raise ValueError(
                f"decode_doc_ids: {codes.size} ids decoded for "
                f"{int(lens.sum())} expected (corrupt posting block)"
            )
    if codes.size == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.cumsum(lens) - lens
    vals = codes.astype(_U64)
    # wrapping uint64 cumsum mirrors the wrapping delta in encode; each
    # block's first code is its zigzag'd absolute id, and subtracting
    # the running total before the block restarts its chain
    with np.errstate(over="ignore"):
        vals[starts] = zigzag_decode(codes[starts]).astype(_U64)
        acc = np.cumsum(vals, dtype=_U64)
        before = np.zeros(len(starts), dtype=_U64)
        before[1:] = acc[starts[1:] - 1]
        acc -= np.repeat(before, lens)
    return acc.astype(np.int64)


def encode_counts(counts: np.ndarray) -> bytes:
    """Varint-encode non-negative int counts (tf_path / tf_content)."""
    c = np.ascontiguousarray(counts)
    if c.size and (np.asarray(c) < 0).any():
        raise ValueError("counts must be non-negative")
    return varint_encode(c.astype(_U64))


def decode_counts(buf: bytes) -> np.ndarray:
    return varint_decode(buf).astype(np.int64)
