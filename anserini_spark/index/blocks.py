"""Posting-block build/decode kernels (numpy, fully vectorized).

A "block" is up to ``BLOCK_SIZE`` (128, like Lucene's postings format)
consecutive (doc_id, tf) postings of one (term, segment), sorted by
doc_id, stored as one row:

    (term, segment, first_doc, last_doc, n, max_tf, min_dl, sum_tf,
     docs_bin, tfs_bin[, pos_bin])

``docs_bin`` is delta+varint (first delta = 0 against ``first_doc``),
``tfs_bin`` is varint. ``pos_bin`` (positional indexes,
``store_positions=True`` — the -storePositions analogue) packs each
posting's within-doc position list as within-list deltas, varint,
concatenated in posting order; the per-posting value counts ARE the
tfs, so no extra length stream is needed.
``max_tf``/``min_dl`` give the block-max score
bound for WAND pruning (SURVEY.md §4: per-block max (tf, norm) impact
metadata). Blocks never span segments, so per-segment scoring tasks
are self-contained (the Spark analogue of Lucene per-segment search).

Encoding is loop-free over postings: block boundaries, per-block
aggregates (``np.*.reduceat``) and the varint byte stream are computed
in whole-partition vectorized passes; the only per-block Python work is
slicing the shared byte buffer.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

import numpy as np
import pandas as pd

from .codec import BLOCK_SIZE, varint_decode

_THRESHOLDS = [1 << (7 * i) for i in range(1, 9)]


def _varint_bytes(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Return (encoded uint8 buffer, per-value byte length).

    Pass count is bounded by the stream's max value (round-6 blocks
    scaling fix): tf/doclen/delta streams are overwhelmingly 1-2 byte
    values, so the unconditional 8 threshold passes + 9 emit passes
    were ~6x the necessary memory traffic — the dominant cost of the
    whole encode kernel at scale. All-sub-128 streams (most tf/dl
    flushes) short-circuit to a single widening copy."""
    arr = arr.astype(np.uint64)
    maxv = int(arr.max()) if arr.size else 0
    if maxv < 128:
        # every value fits one byte with no continuation bit
        return arr.astype(np.uint8), np.ones(arr.shape, dtype=np.int64)
    nb = np.ones(arr.shape, dtype=np.int64)
    npasses = 1
    for t in _THRESHOLDS:
        if maxv < t:
            break
        nb += (arr >= np.uint64(t)).astype(np.int64)
        npasses += 1
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]) if arr.size else 0, dtype=np.uint8)
    for k in range(npasses):
        mask = nb > k
        if not mask.any():
            break
        vals = (arr[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nb[mask] > k + 1).astype(np.uint8) << 7
        out[starts[mask] + k] = vals.astype(np.uint8) | cont
    return out, nb


# doc-range bucket width (docs per bucket = 2^RANGE_SHIFT): posting
# partitioning hashes (term, doc_id >> RANGE_SHIFT) so Zipf head terms
# split across partitions deterministically (no sampling pass); blocks
# never span a bucket, so the per-(term, segment) block runs from
# different partitions cover disjoint sorted doc ranges.
RANGE_SHIFT = 14


def encode_blocks(
    terms: np.ndarray,
    segments: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    block_size: int = BLOCK_SIZE,
    positions: np.ndarray | None = None,
) -> pd.DataFrame:
    """Encode a (term, doc_id)-sorted posting run into block rows.
    Breaks at term/segment/range-bucket changes and every
    ``block_size`` postings. ``positions`` (object array of per-posting
    position lists, len == tf) adds a ``pos_bin`` column."""
    n = len(doc_ids)
    if n == 0:
        cols = {
                "term": pd.Series([], dtype=object),
                "segment": pd.Series([], dtype=np.int32),
                "first_doc": pd.Series([], dtype=np.int64),
                "last_doc": pd.Series([], dtype=np.int64),
                "n": pd.Series([], dtype=np.int32),
                "max_tf": pd.Series([], dtype=np.int32),
                "min_dl": pd.Series([], dtype=np.int64),
                "sum_tf": pd.Series([], dtype=np.int64),
                "docs_bin": pd.Series([], dtype=object),
                "tfs_bin": pd.Series([], dtype=object),
                "dls_bin": pd.Series([], dtype=object),
        }
        if positions is not None:
            cols["pos_bin"] = pd.Series([], dtype=object)
        return pd.DataFrame(cols)
    terms = np.asarray(terms, dtype=object)
    segments = np.asarray(segments, dtype=np.int64)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doclens = np.asarray(doclens, dtype=np.int64)

    buckets = doc_ids >> RANGE_SHIFT
    new_group = np.ones(n, dtype=bool)
    new_group[1:] = (
        (terms[1:] != terms[:-1])
        | (segments[1:] != segments[:-1])
        | (buckets[1:] != buckets[:-1])
    )
    gid = np.cumsum(new_group) - 1
    group_start = np.zeros(gid[-1] + 1, dtype=np.int64)
    group_start[gid[new_group]] = np.nonzero(new_group)[0]
    pos_in_group = np.arange(n, dtype=np.int64) - group_start[gid]
    block_start = new_group | (pos_in_group % block_size == 0)
    starts = np.nonzero(block_start)[0]
    ends = np.empty_like(starts)
    ends[:-1] = starts[1:] - 1
    ends[-1] = n - 1
    counts = ends - starts + 1

    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    deltas[starts] = 0  # first posting of a block encodes doc0 - first_doc
    doc_buf, doc_nb = _varint_bytes(deltas.astype(np.uint64))
    tf_buf, tf_nb = _varint_bytes(tfs.astype(np.uint64))
    dl_buf, dl_nb = _varint_bytes(doclens.astype(np.uint64))

    def _slices(buf: np.ndarray, nb: np.ndarray) -> List[bytes]:
        off = np.zeros(len(starts) + 1, dtype=np.int64)
        off[1:] = np.cumsum(np.add.reduceat(nb, starts))
        raw = buf.tobytes()
        return [raw[off[i] : off[i + 1]] for i in range(len(starts))]

    docs_bin = _slices(doc_buf, doc_nb)
    tfs_bin = _slices(tf_buf, tf_nb)
    dls_bin = _slices(dl_buf, dl_nb)

    cols = {
            "term": terms[starts],
            "segment": segments[starts].astype(np.int32),
            "first_doc": doc_ids[starts],
            "last_doc": doc_ids[ends],
            "n": counts.astype(np.int32),
            "max_tf": np.maximum.reduceat(tfs, starts).astype(np.int32),
            "min_dl": np.minimum.reduceat(doclens, starts),
            "sum_tf": np.add.reduceat(tfs, starts),
            "docs_bin": docs_bin,
            "tfs_bin": tfs_bin,
            "dls_bin": dls_bin,
    }
    if positions is not None:
        # flatten per-posting position lists; within-list delta encode
        sizes = tfs  # invariant: len(positions[i]) == tfs[i]
        flat = (
            np.concatenate([np.asarray(p, dtype=np.int64)
                            for p in positions])
            if n else np.empty(0, dtype=np.int64)
        )
        pos_buf, pos_nb = _encode_positions(flat, sizes)
        # bytes per posting -> bytes per block
        list_starts = np.zeros(n, dtype=np.int64)
        list_starts[1:] = np.cumsum(sizes)[:-1]
        per_post = np.add.reduceat(pos_nb, list_starts)
        per_post[sizes == 0] = 0
        off = np.zeros(len(starts) + 1, dtype=np.int64)
        off[1:] = np.cumsum(np.add.reduceat(per_post, starts))
        raw = pos_buf.tobytes()
        cols["pos_bin"] = [raw[off[i]:off[i + 1]] for i in range(len(starts))]
    return pd.DataFrame(cols)


def _encode_positions(flat: np.ndarray,
                      sizes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varint-encode flattened position lists (within-list deltas,
    absolute first value). Returns (uint8 buffer, bytes-per-value)."""
    n = len(sizes)
    list_starts = np.zeros(n, dtype=np.int64)
    if n:
        list_starts[1:] = np.cumsum(sizes)[:-1]
    deltas_p = flat.copy()
    if len(flat):
        deltas_p[1:] -= flat[:-1]
        deltas_p[list_starts] = flat[list_starts]  # absolute first position
    return _varint_bytes(deltas_p.astype(np.uint64))


def _binary_column(buf: np.ndarray, nb: np.ndarray,
                   group_starts: np.ndarray, per_value_groups=None):
    """Zero-copy Arrow binary column: slice the shared varint buffer
    into one value per block via an offsets vector instead of per-block
    Python ``bytes`` objects (the encoder's only per-block scalar work
    otherwise). ``per_value_groups`` pre-aggregates ``nb`` (bytes per
    encoded value) to an intermediate granularity (positions: bytes per
    posting) before the per-block reduceat."""
    import pyarrow as pa

    per = nb if per_value_groups is None else per_value_groups
    nblocks = len(group_starts)
    off = np.zeros(nblocks + 1, dtype=np.int32)
    if nblocks:
        ends = np.cumsum(np.add.reduceat(per, group_starts))
        if int(ends[-1]) > np.iinfo(np.int32).max:
            # pa.binary() carries int32 offsets; a flush this large
            # means blocks_flush_postings was raised past ~250M
            # postings — flush more often instead
            raise ValueError(
                f"binary column of {int(ends[-1])} bytes exceeds the "
                "int32 offset range; lower blocks_flush_postings")
        off[1:] = ends.astype(np.int32)
    data = np.ascontiguousarray(buf)
    return pa.Array.from_buffers(
        pa.binary(), nblocks,
        [None, pa.py_buffer(off), pa.py_buffer(data)])


def encode_blocks_arrow(
    codes: np.ndarray,
    vocab,
    segments: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    schema,
    block_size: int = BLOCK_SIZE,
    positions=None,
):
    """Arrow-native ``encode_blocks`` for the map-side build kernel.

    Same output contract as :func:`encode_blocks` (one row per block,
    bit-identical binary payloads) with the per-posting/per-block
    Python object work removed, which is what bounds the blocks stage
    at high core counts (measured 2026-08-18 scaling run: the flush
    path built a full per-posting string array, compared it
    element-wise, then created 3 ``bytes`` objects + object-column
    pandas frames per block):

    - ``codes`` are dictionary codes (int64) — group-boundary
      detection is vectorized int compares; the term strings are
      gathered from ``vocab`` (a ``pa.StringArray``) only at block
      starts (n/128 of the rows) via C-side ``take``.
    - binary columns are built zero-copy from the shared varint buffer
      with an offsets vector (``pa.Array.from_buffers``).
    - ``positions`` (optional) is a ``pa.ListArray`` with one
      ascending position list per posting, already in posting order —
      reordering happened C-side via ``ListArray.take``.

    Input arrays must be (code, segment, doc_id)-lexsorted.
    """
    import pyarrow as pa

    n = len(doc_ids)
    if n == 0:
        return pa.RecordBatch.from_pydict(
            {f.name: pa.array([], type=f.type) for f in schema}, schema)
    codes = np.asarray(codes, dtype=np.int64)
    segments = np.asarray(segments, dtype=np.int64)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doclens = np.asarray(doclens, dtype=np.int64)

    buckets = doc_ids >> RANGE_SHIFT
    new_group = np.ones(n, dtype=bool)
    new_group[1:] = (
        (codes[1:] != codes[:-1])
        | (segments[1:] != segments[:-1])
        | (buckets[1:] != buckets[:-1])
    )
    gid = np.cumsum(new_group) - 1
    group_start = np.zeros(gid[-1] + 1, dtype=np.int64)
    group_start[gid[new_group]] = np.nonzero(new_group)[0]
    pos_in_group = np.arange(n, dtype=np.int64) - group_start[gid]
    block_start = new_group | (pos_in_group % block_size == 0)
    starts = np.nonzero(block_start)[0]
    ends = np.empty_like(starts)
    ends[:-1] = starts[1:] - 1
    ends[-1] = n - 1
    counts = ends - starts + 1

    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    deltas[starts] = 0  # first posting of a block encodes doc0 - first_doc
    doc_buf, doc_nb = _varint_bytes(deltas.astype(np.uint64))
    tf_buf, tf_nb = _varint_bytes(tfs.astype(np.uint64))
    dl_buf, dl_nb = _varint_bytes(doclens.astype(np.uint64))

    arrays = {
        "term": vocab.take(pa.array(codes[starts])),
        "segment": pa.array(segments[starts].astype(np.int32)),
        "first_doc": pa.array(doc_ids[starts]),
        "last_doc": pa.array(doc_ids[ends]),
        "n": pa.array(counts.astype(np.int32)),
        "max_tf": pa.array(
            np.maximum.reduceat(tfs, starts).astype(np.int32)),
        "min_dl": pa.array(np.minimum.reduceat(doclens, starts)),
        "sum_tf": pa.array(np.add.reduceat(tfs, starts)),
        "docs_bin": _binary_column(doc_buf, doc_nb, starts),
        "tfs_bin": _binary_column(tf_buf, tf_nb, starts),
        "dls_bin": _binary_column(dl_buf, dl_nb, starts),
    }
    if positions is not None:
        flat = positions.flatten().to_numpy(
            zero_copy_only=False).astype(np.int64)
        pos_buf, pos_nb = _encode_positions(flat, tfs)
        list_starts = np.zeros(n, dtype=np.int64)
        list_starts[1:] = np.cumsum(tfs)[:-1]
        per_post = np.add.reduceat(pos_nb, list_starts)
        per_post[tfs == 0] = 0
        arrays["pos_bin"] = _binary_column(pos_buf, pos_nb, starts,
                                           per_value_groups=per_post)
    return pa.RecordBatch.from_arrays(
        [arrays[f.name] for f in schema], schema=schema)


Buffers = Tuple[np.ndarray, np.ndarray]


def binary_buffers(arr) -> Buffers:
    """(offsets, values) numpy views of a pyarrow ``binary`` or
    ``large_binary`` array, zero-copy: value i is
    ``values[offsets[i]:offsets[i + 1]]``. A sliced array's offset is
    applied to the offsets view, so the values buffer is shared."""
    import pyarrow as pa

    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _, off_buf, val_buf = arr.buffers()
    offsets = np.frombuffer(off_buf, dtype=width)[
        arr.offset:arr.offset + len(arr) + 1]
    return offsets, np.frombuffer(val_buf, dtype=np.uint8)


def decode_block_range(
    docs: Buffers,
    tfs: Buffers,
    dls: Buffers,
    ns: np.ndarray,
    first_docs: np.ndarray,
    last_docs: np.ndarray,
    lo: int,
    hi: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode blocks [lo, hi) of a block table (one term's run:
    ascending doc ranges) into (doc_ids, tfs, doclens) in one
    vectorized pass per stream. ``docs``/``tfs``/``dls`` are the
    (offsets, values) buffers of the binary columns
    (:func:`binary_buffers`); ``ns``/``first_docs``/``last_docs`` are
    the table's per-block columns. A run's payloads are contiguous in
    the values buffer, so each stream decodes from one slice of it.

    Per-block delta chains are stitched by rewriting each block's first
    delta to (first_doc_b - last_doc_{b-1}) so one global cumsum yields
    all docids.
    """
    ns = np.asarray(ns[lo:hi], dtype=np.int64)
    total = int(ns.sum())
    if total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z

    def stream(buf: Buffers) -> np.ndarray:
        offsets, values = buf
        return varint_decode(values[offsets[lo]:offsets[hi]],
                             total).astype(np.int64)

    deltas, tf, dl = stream(docs), stream(tfs), stream(dls)
    starts = np.zeros(len(ns), dtype=np.int64)
    starts[1:] = np.cumsum(ns)[:-1]
    first = np.asarray(first_docs[lo:hi], dtype=np.int64)
    prev_last = np.empty(len(ns), dtype=np.int64)
    prev_last[0] = 0
    prev_last[1:] = last_docs[lo:hi - 1]
    deltas[starts] = first - prev_last
    doc_ids = np.cumsum(deltas, dtype=np.int64)
    return doc_ids, tf, dl


def _joined(bins: Sequence[bytes]) -> Buffers:
    offsets = np.zeros(len(bins) + 1, dtype=np.int64)
    offsets[1:] = np.cumsum([len(b) for b in bins])
    return offsets, np.frombuffer(b"".join(bins), dtype=np.uint8)


def decode_block_run(
    docs_bins: Sequence[bytes],
    tfs_bins: Sequence[bytes],
    dls_bins: Sequence[bytes],
    ns: np.ndarray,
    first_docs: np.ndarray,
    last_docs: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`decode_block_range` over a run given as per-block
    ``bytes`` payloads (the pandas kernels' row form)."""
    return decode_block_range(
        _joined(docs_bins), _joined(tfs_bins), _joined(dls_bins),
        np.asarray(ns), np.asarray(first_docs), np.asarray(last_docs),
        0, len(ns))


def decode_positions_run(
    pos_bins: Sequence[bytes],
    tfs: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a block run's ``pos_bin`` into (flat_positions,
    list_starts): ``flat_positions[list_starts[i]:list_starts[i] +
    tfs[i]]`` is posting i's ascending position list."""
    tfs = np.asarray(tfs, dtype=np.int64)
    total = int(tfs.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), np.zeros(len(tfs), dtype=np.int64)
    deltas = varint_decode(b"".join(pos_bins), total).astype(np.int64)
    list_starts = np.zeros(len(tfs), dtype=np.int64)
    list_starts[1:] = np.cumsum(tfs)[:-1]
    # un-delta: global cumsum, then subtract the carry-in before each list
    cum = np.cumsum(deltas)
    carry = np.zeros(len(tfs), dtype=np.int64)
    carry[1:] = cum[list_starts[1:] - 1]
    flat = cum - np.repeat(carry, tfs)
    return flat, list_starts
