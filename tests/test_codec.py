"""Posting codec roundtrips (delta+varint + block metadata)."""

import numpy as np

from anserini_spark.index.blocks import decode_block_run, encode_blocks
from anserini_spark.index.codec import (
    decode_doc_deltas,
    encode_doc_deltas,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_random():
    rng = np.random.default_rng(3)
    for _ in range(10):
        vals = rng.integers(0, 1 << 50, int(rng.integers(1, 500))).astype(np.uint64)
        assert (varint_decode(varint_encode(vals), len(vals)) == vals).all()


def test_varint_boundaries():
    vals = np.array(
        [0, 1, 127, 128, 16383, 16384, (1 << 21) - 1, 1 << 21, (1 << 35),
         (1 << 49) + 17], dtype=np.uint64)
    assert (varint_decode(varint_encode(vals)) == vals).all()


def test_varint_empty():
    assert varint_decode(varint_encode(np.array([], dtype=np.uint64))).size == 0


def test_delta_roundtrip():
    docs = np.array([5, 6, 100, 101, 10**9], dtype=np.int64)
    enc = encode_doc_deltas(docs, int(docs[0]))
    assert (decode_doc_deltas(enc, int(docs[0]), len(docs)) == docs).all()


def test_block_encode_decode_roundtrip():
    rng = np.random.default_rng(17)
    rows = []
    for term in ["aa", "bb", "cc", "zz"]:
        for seg in [0, 2]:
            ndocs = int(rng.integers(1, 700))
            docs = np.sort(
                rng.choice(np.arange(seg << 40, (seg << 40) + 9000), ndocs,
                           replace=False))
            for d in docs:
                rows.append((term, seg, int(d), int(rng.integers(1, 40)),
                             int(rng.integers(1, 3000))))
    rows.sort(key=lambda r: (r[0], r[2]))
    terms = np.array([r[0] for r in rows], dtype=object)
    segs = np.array([r[1] for r in rows])
    docs = np.array([r[2] for r in rows])
    tfs = np.array([r[3] for r in rows])
    dls = np.array([r[4] for r in rows])
    bl = encode_blocks(terms, segs, docs, tfs, dls)
    assert int(bl["n"].sum()) == len(rows)
    assert (bl["n"] <= 128).all()
    for (t, s), g in bl.groupby(["term", "segment"], sort=False):
        dd, tt, ll = decode_block_run(
            list(g["docs_bin"]), list(g["tfs_bin"]), list(g["dls_bin"]),
            g["n"].values, g["first_doc"].values, g["last_doc"].values)
        mask = (terms == t) & (segs == s)
        assert (dd == docs[mask]).all()
        assert (tt == tfs[mask]).all()
        assert (ll == dls[mask]).all()
        assert g["max_tf"].max() == tfs[mask].max()
        assert g["min_dl"].min() == dls[mask].min()
        assert g["sum_tf"].sum() == tfs[mask].sum()


def test_blocks_never_span_segments():
    terms = np.array(["t"] * 10, dtype=object)
    segs = np.array([0] * 5 + [1] * 5)
    docs = np.array(list(range(5)) + [(1 << 40) + i for i in range(5)])
    tfs = np.ones(10, dtype=np.int64)
    dls = np.ones(10, dtype=np.int64)
    bl = encode_blocks(terms, segs, docs, tfs, dls)
    assert len(bl) == 2
    assert set(bl["segment"]) == {0, 1}


def _random_sorted_postings(rng, with_pos=False):
    rows = []
    for term in ["aa", "bb", "cc", "singleton", "zz"]:
        for seg in [0, 2]:
            ndocs = int(rng.integers(1, 700))
            docs = np.sort(
                rng.choice(np.arange(seg << 33, (seg << 33) + 60000), ndocs,
                           replace=False))
            for d in docs:
                tf = int(rng.integers(1, 8))
                pos = np.sort(rng.choice(5000, tf, replace=False)).tolist()
                rows.append((term, seg, int(d), tf, int(rng.integers(1, 3000)),
                             pos))
    rows.sort(key=lambda r: (r[0], r[2]))
    return rows


def test_encode_blocks_arrow_matches_pandas():
    """The Arrow-native map-side encoder (round 6 blocks-stage scaling
    fix) emits bit-identical blocks to the pandas oracle, including the
    positional payload."""
    import pyarrow as pa

    from anserini_spark.index.blocks import encode_blocks_arrow

    rng = np.random.default_rng(23)
    rows = _random_sorted_postings(rng)
    terms = np.array([r[0] for r in rows], dtype=object)
    segs = np.array([r[1] for r in rows])
    docs = np.array([r[2] for r in rows])
    tfs = np.array([r[3] for r in rows])
    dls = np.array([r[4] for r in rows])
    poss = np.empty(len(rows), dtype=object)
    poss[:] = [r[5] for r in rows]

    for store_pos in (False, True):
        fields = [
            pa.field("term", pa.string()), pa.field("segment", pa.int32()),
            pa.field("first_doc", pa.int64()), pa.field("last_doc", pa.int64()),
            pa.field("n", pa.int32()), pa.field("max_tf", pa.int32()),
            pa.field("min_dl", pa.int64()), pa.field("sum_tf", pa.int64()),
            pa.field("docs_bin", pa.binary()), pa.field("tfs_bin", pa.binary()),
            pa.field("dls_bin", pa.binary()),
        ]
        if store_pos:
            fields.append(pa.field("pos_bin", pa.binary()))
        schema = pa.schema(fields)

        expected = encode_blocks(terms, segs, docs, tfs, dls,
                                 positions=poss if store_pos else None)
        # dictionary-encode exactly like the kernel flush does
        import pyarrow.compute as pc
        denc = pc.dictionary_encode(pa.array(list(terms)))
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        pos_arr = (pa.array([list(p) for p in poss],
                            type=pa.list_(pa.int32()))
                   if store_pos else None)
        got = encode_blocks_arrow(
            codes, denc.dictionary, segs, docs, tfs, dls, schema,
            positions=pos_arr).to_pandas()
        cols = list(expected.columns)
        assert list(got.columns) == cols
        for c in cols:
            assert (got[c].to_numpy(dtype=object)
                    == expected[c].to_numpy(dtype=object)).all(), c


def test_encode_blocks_arrow_empty():
    import pyarrow as pa

    from anserini_spark.index.blocks import encode_blocks_arrow

    schema = pa.schema([pa.field("term", pa.string()),
                        pa.field("segment", pa.int32()),
                        pa.field("first_doc", pa.int64()),
                        pa.field("last_doc", pa.int64()),
                        pa.field("n", pa.int32()),
                        pa.field("max_tf", pa.int32()),
                        pa.field("min_dl", pa.int64()),
                        pa.field("sum_tf", pa.int64()),
                        pa.field("docs_bin", pa.binary()),
                        pa.field("tfs_bin", pa.binary()),
                        pa.field("dls_bin", pa.binary())])
    z = np.empty(0, dtype=np.int64)
    b = encode_blocks_arrow(z, pa.array([], type=pa.string()), z, z, z, z,
                            schema)
    assert b.num_rows == 0 and b.schema == schema


def test_decode_block_range_matches_decode_block_run():
    """The buffer-form decode over Arrow binary columns equals the
    list-of-bytes decode on random multi-block runs: multi-byte varints
    in every stream, sliced (non-zero offset) and large_binary arrays."""
    import pyarrow as pa

    from anserini_spark.index.blocks import (binary_buffers,
                                             decode_block_range)

    rng = np.random.default_rng(29)
    rows = []
    for term in ["aa", "bb", "cc"]:
        ndocs = int(rng.integers(200, 900))
        # sparse ids: many doc deltas need 2-3 varint bytes
        docs = np.sort(rng.choice(1 << 22, ndocs, replace=False))
        rows += [(term, int(d), int(rng.integers(1, 400)),
                  int(rng.integers(1, 1 << 20))) for d in docs]
    terms = np.array([r[0] for r in rows], dtype=object)
    docs = np.array([r[1] for r in rows])
    tfs = np.array([r[2] for r in rows])
    dls = np.array([r[3] for r in rows])
    bl = encode_blocks(terms, np.zeros(len(rows), dtype=np.int64), docs,
                       tfs, dls)
    assert bl.groupby("term").size().min() > 1  # multi-block runs
    cols = ("docs_bin", "tfs_bin", "dls_bin")
    pad = 3
    for typ in (pa.binary(), pa.large_binary()):
        bufs = [binary_buffers(pa.array([b"\x81junk"] * pad + list(bl[c]),
                                        type=typ).slice(pad)) for c in cols]
        for t in ["aa", "bb", "cc"]:
            idx = np.flatnonzero(bl["term"].to_numpy() == t)
            lo, hi = int(idx[0]), int(idx[-1]) + 1
            got = decode_block_range(*bufs, bl["n"].to_numpy(),
                                     bl["first_doc"].to_numpy(),
                                     bl["last_doc"].to_numpy(), lo, hi)
            g = bl.iloc[lo:hi]
            want = decode_block_run(
                list(g["docs_bin"]), list(g["tfs_bin"]), list(g["dls_bin"]),
                g["n"].values, g["first_doc"].values, g["last_doc"].values)
            mask = terms == t
            for a, w, ref in zip(got, want, (docs, tfs, dls)):
                assert (a == w).all() and (a == ref[mask]).all()
        # an empty range decodes to nothing
        assert all(len(a) == 0 for a in decode_block_range(
            *bufs, bl["n"].to_numpy(), bl["first_doc"].to_numpy(),
            bl["last_doc"].to_numpy(), 2, 2))
