"""Delta + varint posting-block codec, numpy-vectorized.

Mirrors the role of Lucene's postings codec (delta-encoded docids,
variable-byte blocks of 128 — `index/IndexCollection.java:738-786`
writes via Lucene's default codec; we implement the analogous encoding
from scratch): sorted docid arrays are delta-encoded then varint-packed
into a ``binary`` column; term frequencies are varint-packed as-is.
Per-block metadata (``max_tf``, ``min_dl``) supports block-max WAND
pruning (SURVEY.md §4).

Both encode and decode are loop-free over postings (the only Python
loop is over the <=9 varint byte positions), so they stay fast inside
Arrow-batched kernels.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_THRESHOLDS = [1 << (7 * i) for i in range(1, 9)]


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized)."""
    arr = np.asarray(values, dtype=np.uint64)
    if arr.size == 0:
        return b""
    nb = np.ones(arr.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        nb += (arr >= np.uint64(t)).astype(np.int64)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for k in range(9):
        mask = nb > k
        if not mask.any():
            break
        vals = (arr[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nb[mask] > k + 1).astype(np.uint8) << 7
        out[starts[mask] + k] = vals.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf, n: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes (``bytes`` or a uint8 array) back to a uint64
    array (vectorized)."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    if is_last.all():
        # every value is one byte (most tf streams): a widening copy
        vals = raw.astype(np.uint64)
    else:
        ends = np.nonzero(is_last)[0]
        starts = np.empty_like(ends)
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
        lengths = ends - starts + 1
        vals = np.zeros(ends.shape, dtype=np.uint64)
        for k in range(int(lengths.max())):
            mask = lengths > k
            b = raw[starts[mask] + k].astype(np.uint64)
            vals[mask] |= (b & np.uint64(0x7F)) << np.uint64(7 * k)
    if n is not None and vals.size != n:
        raise ValueError(f"decoded {vals.size} values, expected {n}")
    return vals


def encode_doc_deltas(doc_ids: np.ndarray, base: int) -> bytes:
    """Delta-encode a sorted docid array against ``base`` (the block's
    ``first_doc``), then varint-pack. First delta is 0 by construction."""
    arr = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.diff(arr, prepend=np.int64(base))
    if (deltas < 0).any():
        raise ValueError("doc_ids must be sorted ascending within a block")
    return varint_encode(deltas.astype(np.uint64))


def decode_doc_deltas(buf: bytes, base: int, n: int | None = None) -> np.ndarray:
    deltas = varint_decode(buf, n).astype(np.int64)
    # first delta encodes (doc0 - base), so docids = base + cumsum(deltas)
    return np.int64(base) + np.cumsum(deltas, dtype=np.int64)
