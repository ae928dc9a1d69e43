"""The scoring kernel of every BM25-family search, without Spark or
pandas.

``score_group`` scores a group of segments as one dense slot space
(``Group``) with MaxScore (``_maxscore_query``) and returns each qid's
top k. ``LocalSearcher`` calls it over all of an index's segments; a
Spark search splits the segments into task groups
(``assign_segments``), and each task (``segment_task``) reads its
group's term-pruned blocks with pyarrow into one ``BlockRuns`` view and
calls it. Spark only schedules the tasks (``searcher._search_blocks``).
"""

from __future__ import annotations

import heapq
from typing import (Callable, Dict, Iterable, Iterator, List, Optional,
                    Sequence, Tuple)

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from ..index.blocks import binary_buffers, decode_block_range
from ..index.build import SEG_SHIFT
from ..index.tombstones import drop_dead
from .bm25 import tf_part
from .tieadjust import keep_topk

BINS = ("docs_bin", "tfs_bin", "dls_bin")
# the block columns the kernel reads: never pos_bin or sum_tf
KERNEL_COLS = ["term", "segment", "first_doc", "last_doc", "n", "max_tf",
               "min_dl", *BINS]
# a task's hits: one batch per segment group, a row per qid with the
# group's top k packed (at most |queries| x k docs, however many
# segments the group has)
HITS_SCHEMA = pa.schema([("qid", pa.int32()),
                         ("doc_id", pa.list_(pa.int64())),
                         ("score", pa.list_(pa.float64()))])
Task = Callable[[List[int]], Iterator[pa.RecordBatch]]


class BlockRuns:
    """Block rows sorted by (term, segment, first_doc), every column a
    numpy array in ``cols`` but the binary ones, held as large_binary
    (one combined chunk never overflows) and read through their
    buffers."""

    def __init__(self, tbl: pa.Table):
        schema = pa.schema([f.with_type(pa.large_binary())
                            if f.name in BINS else f for f in tbl.schema])
        tbl = tbl.cast(schema).sort_by(
            [("term", "ascending"), ("segment", "ascending"),
             ("first_doc", "ascending")])
        cols = {c: tbl.column(c).combine_chunks() for c in tbl.column_names}
        self.bins = [binary_buffers(cols.pop(c)) for c in BINS]
        self.cols = {c: a.to_numpy(zero_copy_only=False)
                     for c, a in cols.items()}

    def run(self, term: str) -> Tuple[int, int]:
        """Row range [lo, hi) of ``term``'s run (a searchsorted)."""
        terms = self.cols["term"]
        return (int(np.searchsorted(terms, term, side="left")),
                int(np.searchsorted(terms, term, side="right")))

    def decode(self, term: str):
        """(doc_ids, tfs, doclens) of ``term``'s run; empty if absent."""
        return self.decode_rows(*self.run(term))

    def decode_rows(self, lo: int, hi: int):
        """(doc_ids, tfs, doclens) of rows [lo, hi) of one term's run."""
        c = self.cols
        return decode_block_range(*self.bins, c["n"], c["first_doc"],
                                  c["last_doc"], lo, hi)


class Group:
    """Segments scored as one dense slot space: a doc's slot is its
    segment's offset in the group plus its local id, the offsets laid
    out in segment order from the ``stats.json`` doc counts. Sorted doc
    ids map to sorted slots. ``dead``: the sorted doc ids of tombstoned
    docs, kept as the group's sorted dead slots. Built once per task or
    searcher, never per query."""

    def __init__(self, segs: Iterable[int], seg_counts: Dict[int, int],
                 dead: Optional[np.ndarray] = None):
        self.segs = np.array(sorted(s for s in segs if seg_counts[s]),
                             dtype=np.int64)
        counts = np.array([seg_counts[s] for s in self.segs], dtype=np.int64)
        self.starts = np.cumsum(counts) - counts
        self.size = int(counts.sum())
        # slot = doc id + shift[segment]
        self._shift = np.zeros(int(self.segs.max(initial=0)) + 1, np.int64)
        self._shift[self.segs] = self.starts - (self.segs << SEG_SHIFT)
        dead = np.empty(0, np.int64) if dead is None else dead
        self.dead = self.slots(dead[np.isin(dead >> SEG_SHIFT, self.segs)])

    def slots(self, doc_ids: np.ndarray) -> np.ndarray:
        return doc_ids + self._shift[doc_ids >> SEG_SHIFT]

    def doc_ids(self, slots: np.ndarray) -> np.ndarray:
        seg = self.segs[np.searchsorted(self.starts, slots, side="right") - 1]
        return slots - self._shift[seg]


def assign_segments(seg_counts: Dict[int, int], n: int) -> List[List[int]]:
    """Segments with docs onto at most ``n`` tasks, largest first onto
    the least-loaded task (LPT) by doc count; each group sorted. Every
    task gets a segment before any task gets a second one."""
    segs = sorted((s for s, c in seg_counts.items() if c > 0),
                  key=lambda s: (-seg_counts[s], s))
    groups: List[List[int]] = [[] for _ in range(min(n, len(segs)))]
    heap = [(0, i) for i in range(len(groups))]
    for s in segs:
        load, i = heapq.heappop(heap)
        groups[i].append(s)
        heapq.heappush(heap, (load + seg_counts[s], i))
    return [sorted(g) for g in groups]


def read_blocks(sources: Sequence[Tuple[str, int]], segs: Iterable[int],
                terms: List[str]) -> pa.Table:
    """The kernel columns of ``terms``' blocks in segments ``segs``.
    ``sources``: (blocks path, segment offset) sorted by offset; a
    source stores its segments less its offset, so its rows are shifted
    back (``segment`` + offset, doc ids + ``offset << SEG_SHIFT``).
    Raises on a source with no parquet file or without a kernel column,
    instead of scoring nothing."""
    segs = np.asarray(sorted(segs), dtype=np.int64)
    parts = []
    for i, (path, off) in enumerate(sources):
        end = sources[i + 1][1] if i + 1 < len(sources) else np.inf
        local = segs[(segs >= off) & (segs < end)] - off
        if not len(local):
            continue
        blocks = ds.dataset(path, format="parquet")
        if not blocks.files:
            raise FileNotFoundError(f"{path} holds no parquet file")
        missing = [c for c in KERNEL_COLS if c not in blocks.schema.names]
        if missing:
            raise ValueError(f"{path} lacks {missing}")
        t = blocks.to_table(
            columns=KERNEL_COLS,
            filter=ds.field("term").isin(terms)
            & ds.field("segment").isin(local.tolist()))
        if off:
            sh = pa.scalar(off << SEG_SHIFT, pa.int64())
            t = (t.set_column(1, "segment", pc.add(
                     t["segment"], pa.scalar(off, t["segment"].type)))
                 .set_column(2, "first_doc", pc.add(t["first_doc"], sh))
                 .set_column(3, "last_doc", pc.add(t["last_doc"], sh)))
        parts.append(t)
    return pa.concat_tables(parts, promote_options="permissive")


def score_group(
    runs: BlockRuns,
    group: Group,
    weights: Dict[int, Dict[str, np.float32]],
    k: int,
    scorer_consts: Optional[Tuple[float, float, bool]],
    shape_fns: Optional[Dict[str, Callable]] = None,
) -> List[Tuple[int, np.ndarray, np.ndarray]]:
    """``[(qid, doc_ids, float64 scores)]``: per qid of ``weights``
    (qid -> term -> query weight) with a term in ``runs``, every doc of
    ``group`` scoring at or above the kth score (ties kept for the
    merge's (score desc, url asc) order). ``runs`` holds the blocks of
    the group's segments only.

    ``scorer_consts`` (``(cache1, cache2, lossy)``) gives float32 BM25
    through ``bm25.tf_part``; ``shape_fns`` (term -> callable(tfs, dls)
    -> float64 contribution) any other similarity, Lucene's pluggable
    Similarity (`SearchCollection.java:281-334`). A shape must be
    non-negative, increasing in tf and non-increasing in dl, so
    shape(max_tf, min_dl) bounds a block."""
    out_dtype = np.float32 if shape_fns is None else np.float64

    def part(t: str, tfs: np.ndarray, dls: np.ndarray) -> np.ndarray:
        if shape_fns is None:
            return tf_part(tfs, dls, *scorer_consts)
        return shape_fns[t](np.asarray(tfs), np.asarray(dls))

    terms = sorted({t for wmap in weights.values() for t in wmap})
    spans = {t: runs.run(t) for t in terms}
    spans = {t: ab for t, ab in spans.items() if ab[1] > ab[0]}
    # per-term block-max score bound tf*/(tf* + c1 + c2*dl*)
    # (SURVEY.md §4), from block metadata only
    bounds = {t: part(t, runs.cols["max_tf"][a:b], runs.cols["min_dl"][a:b])
              for t, (a, b) in spans.items()}
    # full-run decode cache, shared across queries
    decoded: Dict[str, Tuple[np.ndarray, np.ndarray]] = {}

    def decode(t: str, lo: Optional[int] = None, hi: Optional[int] = None):
        """t's live postings as (sorted slots, parts), full runs cached
        across queries. Given a slot range [lo, hi], decode only the
        (contiguous) blocks overlapping it, unless the full run is
        cached. liveDocs (tombstones): dead postings drop here, so
        accumulation and MaxScore thresholds never see them — ranked
        results equal an index that never held the docs (stats stay
        stale until a purging merge, Lucene-identical)."""
        if t in decoded:
            return decoded[t]
        a, b = spans[t]
        if lo is not None:
            first = group.slots(runs.cols["first_doc"][a:b])
            last = group.slots(runs.cols["last_doc"][a:b])
            overlap = np.flatnonzero((last >= lo) & (first <= hi))
            if not overlap.size:
                return np.empty(0, dtype=np.int64), np.empty(0, out_dtype)
            a, b = a + int(overlap[0]), a + int(overlap[-1]) + 1
        docs, tfs, dls = runs.decode_rows(a, b)
        ids, parts = group.slots(docs), part(t, tfs, dls)
        keep = drop_dead(ids, group.dead)
        if keep is not None:
            ids, parts = ids[keep], parts[keep]
        if lo is None:
            decoded[t] = (ids, parts)
        return ids, parts

    acc = np.zeros(group.size, dtype=np.float64)
    # dense touched-slot mask: candidate collection is O(group doc
    # count) flatnonzero scans instead of O(n log n) unique/sort churn
    # per query — the batch-throughput hot path
    mask = np.zeros(group.size, dtype=bool)
    out = []
    for qid, wmap in weights.items():
        # GROUP-INDEPENDENT term order, (query weight desc, term):
        # float addition is order-sensitive, so two docs holding the
        # same contribution multiset must accumulate in the same order
        # in EVERY group or their totals drift 1 ulp apart and break
        # score ties inconsistently with the (score desc, docid asc)
        # contract. The global weight (boost*idf) tracks the MaxScore
        # impact order, so pruning stays effective; correctness of the
        # suffix-bound logic is order-agnostic.
        qterms = sorted((t for t in wmap if t in spans),
                        key=lambda t: (-float(wmap[t]), t))
        if not qterms:
            continue
        cand, scores = _maxscore_query(qterms, wmap, bounds, decode, acc,
                                       mask, k, out_dtype)
        cand, scores = keep_topk(cand, scores, k)
        out.append((qid, group.doc_ids(cand), scores.astype(np.float64)))
    return out


def segment_task(
    sources: Sequence[Tuple[str, int]],
    weights: Dict[int, Dict[str, np.float32]],
    k: int,
    seg_counts: Dict[int, int],
    scorer_consts: Optional[Tuple[float, float, bool]],
    shape_fns: Optional[Dict[str, Callable]] = None,
    dead: Optional[np.ndarray] = None,
) -> Task:
    """The task of a search: a segment group -> one ``HITS_SCHEMA``
    batch, ``read_blocks`` then ``score_group`` (whose arguments these
    are; ``dead`` feeds the ``Group``)."""
    terms = sorted({t for wmap in weights.values() for t in wmap})

    def task(segs: List[int]) -> Iterator[pa.RecordBatch]:
        tbl = read_blocks(sources, segs, terms)
        if not tbl.num_rows:
            return
        hits = score_group(BlockRuns(tbl), Group(segs, seg_counts, dead),
                           weights, k, scorer_consts, shape_fns)
        if hits:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(zip(*hits), HITS_SCHEMA)],
                schema=HITS_SCHEMA)

    return task


def _maxscore_query(terms, wmap, bounds, decode, acc, mask, k, out_dtype):
    """MaxScore evaluation of one query over one segment group.

    Dense-accumulate terms in descending upper-bound order; once the
    remaining terms' summed upper bound drops below the current kth
    partial score (a valid lower bound of the final kth score), the
    remaining terms can no longer introduce new top-k docs — finish
    them with sorted lookups (searchsorted) restricted to the candidate
    set, decoding only candidate-overlapping blocks (block-max skip).
    Final scores of emitted docs are exact, and the top k equals a
    dense recompute (pinned by ``tests/test_maxscore.py``).

    A term's contribution is ``w * part`` in ``out_dtype`` (float32
    for BM25, as Lucene multiplies floats), widened into the float64
    accumulator by ``+=``. ``mask`` is the group-wide touched-slot
    workspace (candidate collection = one O(doc-count) flatnonzero
    scan, no per-term unique/sort); it is returned to all-False before
    exit."""
    ws = {t: out_dtype(wmap[t]) for t in terms}
    ubs = {t: float(ws[t] * bounds[t].max()) for t in terms}
    # keep the caller's group-independent order (weight desc, term):
    # the per-group ubs feed the suffix-bound THRESHOLD math, which is
    # valid in any processing order; re-sorting by group-local ubs
    # would make per-doc addition order group-dependent (see
    # score_group) for a marginal pruning gain
    order = list(terms)
    suffix = np.concatenate(
        [np.cumsum([ubs[t] for t in order][::-1])[::-1][1:], [0.0]]
    )
    theta = 0.0
    switch = len(order)
    for i, t in enumerate(order):
        if i > 0 and suffix[i] > 0.0:
            cur = np.flatnonzero(mask)
            if len(cur) > k:
                part_scores = acc[cur]
                theta = float(np.partition(part_scores, len(cur) - k)[len(cur) - k])
                if suffix[i - 1] < theta:
                    switch = i
                    break
        idx, part = decode(t)
        acc[idx] += (ws[t] * part).astype(out_dtype, copy=False)
        mask[idx] = True
    cand = np.flatnonzero(mask)
    out = cand
    if switch < len(order):
        # candidates that cannot reach theta are dead: their final score
        # is < theta <= final kth score, so dropping them is exact
        rem_ub = suffix[switch - 1]
        out = cand[acc[cand] + rem_ub >= theta]
        if out.size:
            lo, hi = int(out[0]), int(out[-1])
            for t in order[switch:]:
                d, part = decode(t, lo, hi)
                if d.size == 0:
                    continue
                pos = np.searchsorted(d, out)
                pos_c = np.minimum(pos, d.size - 1)
                hit = d[pos_c] == out
                hpos = pos_c[hit]
                acc[out[hit]] += (ws[t] * part[hpos]).astype(out_dtype,
                                                             copy=False)
    scores = acc[out].astype(out_dtype)
    acc[cand] = 0.0
    mask[cand] = False
    return out, scores
