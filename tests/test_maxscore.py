"""MaxScore/block-max pruned kernel vs a dense numpy recompute —
property-style randomized identity test, no Spark session (drives
``kernel.segment_task`` directly over encoded blocks written as
parquet, one segment or a group of them). float32 scores must match
exactly."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from anserini_spark.index.blocks import encode_blocks
from anserini_spark.index.build import SEG_SHIFT
from anserini_spark.search.kernel import HITS_SCHEMA, segment_task


def _mk_segment(rng, n_docs, terms, zipf_df, seg_counts=None):
    """Blocks of one segment 0 of ``n_docs`` docs, or of each segment
    in ``seg_counts`` (segment -> doc count)."""
    rows = []
    for seg, n_docs in (seg_counts or {0: n_docs}).items():
        doclens = rng.integers(10, 500, n_docs)
        for t, df_frac in zip(terms, zipf_df):
            ndocs = max(1, int(n_docs * df_frac))
            docs = np.sort(rng.choice(n_docs, ndocs, replace=False))
            tfs = rng.integers(1, 8, ndocs)
            for d, f in zip(docs, tfs):
                rows.append((t, seg, (seg << SEG_SHIFT) | int(d), int(f),
                             int(doclens[d])))
    rows.sort(key=lambda r: (r[0], r[2]))
    bl = encode_blocks(
        np.array([r[0] for r in rows], dtype=object),
        np.array([r[1] for r in rows]),
        np.array([r[2] for r in rows]),
        np.array([r[3] for r in rows]),
        np.array([r[4] for r in rows]),
    )
    return bl, rows


def _kernel_topk(tmp_path, bl, weights, consts, seg_counts, k,
                 groups=None, dead=None):
    """Run the kernel's task over each of ``groups`` (default: one
    group of every segment); a group yields one batch, which holds each
    qid's hits (possibly a superset of the top-k when scores tie at
    the kth boundary): merge the groups, apply the deterministic (score
    desc, doc asc) order, cut to k."""
    path = tmp_path / "blocks.parquet"
    path.mkdir(exist_ok=True)
    pq.write_table(pa.Table.from_pandas(bl, preserve_index=False),
                   str(path / "part-0.parquet"))
    task = segment_task([(str(path), 0)], weights, k, seg_counts, consts,
                        dead=dead)
    batches = []
    for group in groups or [sorted(seg_counts)]:
        got = list(task(group))
        assert len(got) == 1, group
        batches += got
    out = {}
    for row in pa.Table.from_batches(batches, HITS_SCHEMA).to_pylist():
        out.setdefault(row["qid"], []).extend(
            (d, float(np.float32(s))) for d, s in zip(row["doc_id"],
                                                      row["score"]))
    return {qid: sorted(pairs, key=lambda p: (-p[1], p[0]))[:k]
            for qid, pairs in out.items()}


def _dense_topk(rows, weights, c1, c2, k, dead=()):
    """Dense float32 BM25 over every live posting, no pruning: each
    term's contribution ``w * part``, with ``part = tf / (tf + c1 + c2
    * dl)``, both in float32, is added into a float64 per-doc sum in the
    kernel's (weight desc, term) order, then narrowed to float32."""
    by_term = {}
    dead = set(dead)
    for t, _seg, d, tf, dl in rows:
        if d not in dead:
            by_term.setdefault(t, []).append((d, tf, dl))
    out = {}
    for qid, wmap in weights.items():
        acc = {}
        for t in sorted(wmap, key=lambda t: (-float(wmap[t]), t)):
            post = np.array(by_term.get(t, []), dtype=np.int64).reshape(-1, 3)
            tf = post[:, 1].astype(np.float32)
            dl = post[:, 2].astype(np.float32)
            part = tf / (tf + np.float32(c1) + np.float32(c2) * dl)
            contrib = np.float32(wmap[t]) * part
            for d, c in zip(post[:, 0], contrib):
                acc[int(d)] = acc.get(int(d), 0.0) + float(c)
        pairs = [(d, float(np.float32(s))) for d, s in acc.items()]
        out[qid] = sorted(pairs, key=lambda p: (-p[1], p[0]))[:k]
    return out


def test_maxscore_identical_to_dense(tmp_path):
    rng = np.random.default_rng(23)
    n_docs = 4000
    terms = [f"t{i}" for i in range(12)]
    zipf_df = [0.6, 0.4, 0.25, 0.15, 0.1, 0.06, 0.04, 0.02, 0.01,
               0.005, 0.002, 0.0005]
    bl, rows = _mk_segment(rng, n_docs, terms, zipf_df)
    weights = {}
    for qid in range(1, 21):
        qterms = rng.choice(len(terms), rng.integers(1, 6), replace=False)
        # idf-like weights: rare terms heavy
        weights[qid] = {
            terms[i]: np.float32(1.0 / max(zipf_df[i], 1e-3) ** 0.5)
            for i in qterms
        }
    seg_counts = {0: n_docs}
    for k in (5, 50, 1000):
        got = _kernel_topk(tmp_path, bl, weights, (0.54, 0.0036, False),
                           seg_counts, k)
        want = _dense_topk(rows, weights, 0.54, 0.0036, k)
        assert got.keys() == want.keys()
        for qid in want:
            assert got[qid] == want[qid], f"qid {qid} k={k}"


def test_maxscore_single_term_and_tiny_k(tmp_path):
    rng = np.random.default_rng(5)
    bl, rows = _mk_segment(rng, 500, ["only"], [0.5])
    weights = {1: {"only": np.float32(2.0)}}
    got = _kernel_topk(tmp_path, bl, weights, (0.54, 0.004, False),
                       {0: 500}, 1)
    assert got == _dense_topk(rows, weights, 0.54, 0.004, 1)


def test_segment_group_identical_to_segments_and_dense(tmp_path):
    """One task over a group of 4 segments, one of them tombstoned,
    yields one batch whose merged top k equals per-segment runs and the
    dense recompute, float32 scores exact."""
    rng = np.random.default_rng(41)
    terms = [f"t{i}" for i in range(10)]
    zipf_df = [0.5, 0.3, 0.2, 0.1, 0.06, 0.04, 0.02, 0.01, 0.005, 0.002]
    seg_counts = {0: 1500, 1: 900, 3: 1200, 4: 400}
    bl, rows = _mk_segment(rng, 0, terms, zipf_df, seg_counts)
    docs3 = sorted({d for _t, seg, d, _tf, _dl in rows if seg == 3})
    dead = np.array(docs3[::5], dtype=np.int64)
    weights = {}
    for qid in range(1, 21):
        qterms = rng.choice(len(terms), rng.integers(1, 6), replace=False)
        weights[qid] = {
            terms[i]: np.float32(1.0 / max(zipf_df[i], 1e-3) ** 0.5)
            for i in qterms
        }
    consts = (0.54, 0.0036, False)
    for k in (5, 50, 1000):
        want = _dense_topk(rows, weights, *consts[:2], k, dead.tolist())
        group = _kernel_topk(tmp_path, bl, weights, consts, seg_counts, k,
                             dead=dead)
        per_segment = _kernel_topk(tmp_path, bl, weights, consts,
                                   seg_counts, k,
                                   groups=[[s] for s in seg_counts],
                                   dead=dead)
        assert group == want == per_segment, k
        assert not {d for hits in group.values() for d, _ in hits} & set(
            dead.tolist())


def test_assign_segments_is_lpt_and_fills_every_task():
    """Each segment with docs lands on exactly one task; no task gets a
    second segment while another task is empty; largest segments go
    first onto the least-loaded task."""
    from anserini_spark.search.kernel import assign_segments

    rng = np.random.default_rng(11)
    for _ in range(200):
        counts = {int(s): int(c) for s, c in enumerate(
            rng.integers(0, 1000, rng.integers(1, 40)))}
        n = int(rng.integers(1, 12))
        groups = assign_segments(counts, n)
        placed = sorted(s for g in groups for s in g)
        assert placed == sorted(s for s, c in counts.items() if c > 0)
        assert len(groups) == min(n, len(placed))
        assert all(groups), groups
        assert all(g == sorted(g) for g in groups)
    assert assign_segments({0: 10, 1: 6, 2: 5, 3: 4, 4: 0}, 2) == [[0, 3],
                                                                   [1, 2]]
    assert assign_segments({}, 4) == [] and assign_segments({3: 0}, 4) == []
