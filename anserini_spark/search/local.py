"""LocalSearcher — low-latency serving over the SAME index files,
no Spark session required.

The reference's `SimpleSearcher` answers single queries in ~60 ms
(`docs/experiments-msmarco-passage.md:65`) against an OS-page-cached
mmap'd Lucene index; a Spark job can't (fixed scheduling floor).
Because the index is open parquet, a driver-side searcher reads the
term-pruned slices directly via pyarrow and scores with the same
float32 BM25 math — result-identical to the distributed engine (pinned
by tests).

A query reads three columnar views of the index:

- block runs: block rows sorted by (term, segment, first_doc); a
  term's run is a searchsorted range [lo, hi) on the term column and
  decodes straight from the Arrow values/offsets buffers of the binary
  columns (``index.blocks.decode_block_range``) — no per-block Python
  ``bytes``;
- the dictionary as sorted (term, df) arrays: df lookup is a
  searchsorted;
- doc urls keyed by accumulator slot, with each url's rank in url
  order, so the final (score desc, url asc) order is one ``np.lexsort``.

Serving mode (``preload=True``, the latency-bench configuration and
the honest analogue of Lucene's warm mmap) builds the three views once
at open over the whole index, so a query does no parquet I/O. With
``preload=False`` (cold-start mode) the same views are built per query
from term- and doc-id-filtered pyarrow reads with row-group pruning;
scoring and ordering are the same code in both modes.

Scoring is one dense float64 accumulator over the whole index
(segments are dense id ranges: global slot = seg_offset[segment] +
row), one vectorized update per query term in sorted term order. Top-k
selects every candidate tied at the kth score, then applies the
(score desc, url asc) order and the ScoreTiesAdjuster rounding,
exactly like the distributed engines.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from ..analysis.analyzer import analyze_for
from ..index.blocks import binary_buffers, decode_block_range
from ..index.build import SEG_SHIFT
from ..index.tombstones import drop_dead
from .bm25 import BM25Params, idf
from .smallfloat import quantize_length

_BLOCK_COLS = ["term", "segment", "first_doc", "last_doc", "n",
               "docs_bin", "tfs_bin", "dls_bin"]
_BINS = ("docs_bin", "tfs_bin", "dls_bin")


def _read(dataset: ds.Dataset, columns: List[str], key: str,
          values: Optional[Sequence]) -> pa.Table:
    """``columns`` of ``dataset``; rows whose ``key`` is in ``values``,
    or every row when ``values`` is None."""
    flt = None if values is None else ds.field(key).isin(values)
    return dataset.to_table(columns=columns, filter=flt)


class _BlockRuns:
    """Block rows sorted by (term, segment, first_doc). The binary
    columns are held as large_binary (int64 offsets), so one combined
    chunk never overflows, and read through their buffers."""

    def __init__(self, tbl: pa.Table):
        schema = pa.schema([f.with_type(pa.large_binary())
                            if f.name in _BINS else f for f in tbl.schema])
        tbl = tbl.cast(schema).sort_by(
            [("term", "ascending"), ("segment", "ascending"),
             ("first_doc", "ascending")])

        def col(name: str) -> pa.Array:
            return tbl.column(name).combine_chunks()

        self.terms = col("term").to_numpy(zero_copy_only=False)
        self.ns = col("n").to_numpy()
        self.first = col("first_doc").to_numpy()
        self.last = col("last_doc").to_numpy()
        self.bins = [binary_buffers(col(c)) for c in _BINS]

    def decode(self, term: str):
        """(doc_ids, tfs, doclens) of ``term``'s run; empty if absent."""
        lo = int(np.searchsorted(self.terms, term, side="left"))
        hi = int(np.searchsorted(self.terms, term, side="right"))
        return decode_block_range(*self.bins, self.ns, self.first,
                                  self.last, lo, hi)


class _Dictionary:
    """The dictionary's (term, df) columns as term-sorted arrays."""

    def __init__(self, tbl: pa.Table):
        order = pc.sort_indices(tbl, sort_keys=[("term", "ascending")])
        self.terms = tbl.column("term").take(order).to_numpy(
            zero_copy_only=False)
        self.dfs = tbl.column("df").take(order).to_numpy()

    def lookup(self, terms: List[str]) -> Dict[str, int]:
        """term -> df for the ``terms`` present in the dictionary."""
        if not len(self.terms):
            return {}
        q = np.array(terms, dtype=object)
        pos = np.minimum(np.searchsorted(self.terms, q), len(self.terms) - 1)
        hit = self.terms[pos] == q
        return {t: int(df) for t, df in zip(q[hit], self.dfs[pos[hit]])}


class _Urls:
    """Doc urls in accumulator-slot order, plus each url's rank in url
    order (Arrow's stable byte-wise sort: UTF-8 byte order is code-point
    order, the order Python compares ``str`` in)."""

    def __init__(self, slots: np.ndarray, urls: pa.Array):
        order = np.argsort(slots, kind="stable")
        self.slots = slots[order]
        self.urls = urls.take(pa.array(order))
        self.rank = np.empty(len(order), dtype=np.int64)
        self.rank[pc.sort_indices(self.urls).to_numpy()] = np.arange(
            len(order))


class LocalSearcher:
    """Driver-local BM25 searcher over one index directory.

    Not safe for concurrent ``search`` calls: every query accumulates
    into one score buffer and touched-slot mask owned by the searcher.
    """

    def __init__(self, index_dir: str, k1: float = 0.9, b: float = 0.4,
                 lossy: bool = False, preload: bool = False):
        self.dir = index_dir
        self._lossy = lossy
        with open(os.path.join(index_dir, "stats.json")) as f:
            self.stats = json.load(f)
        with open(os.path.join(index_dir, "manifest.json")) as f:
            man = json.load(f)
        self.analyzer = man["docvec"]["lineage"]["analyzer"]
        # same compatibility gates as InvertedIndex — the serving path
        # must not silently query an index whose id layout or analyzer
        # chain has drifted (index/versioning.py)
        from ..index.versioning import (check_analysis_version,
                                        check_seg_shift)

        check_seg_shift(man, index_dir, SEG_SHIFT)
        check_analysis_version(man, index_dir)
        self.params = BM25Params(k1=k1, b=b, lossy=lossy)
        self.seg_counts = {int(s): int(c)
                           for s, c in self.stats["segments"].items()}
        # dense global slots: segment -> offset into one accumulator
        segs = sorted(self.seg_counts)
        self._seg_ids = np.array(segs, dtype=np.int64)
        self._seg_bounds = np.zeros(len(segs), dtype=np.int64)
        if segs:
            self._seg_bounds[1:] = np.cumsum(
                [self.seg_counts[s] for s in segs])[:-1]
        self._n_slots = sum(self.seg_counts.values())
        self._offsets_arr = np.zeros(max(segs) + 1 if segs else 1,
                                     dtype=np.int64)
        self._offsets_arr[self._seg_ids] = self._seg_bounds
        self._acc = np.zeros(self._n_slots, dtype=np.float64)
        self._touched = np.zeros(self._n_slots, dtype=bool)
        self._blocks = ds.dataset(os.path.join(index_dir, "blocks.parquet"),
                                  format="parquet")
        self._dict = ds.dataset(os.path.join(index_dir, "dictionary.parquet"),
                                format="parquet")
        self._docvec = ds.dataset(os.path.join(index_dir, "docvec.parquet"),
                                  format="parquet")
        # liveDocs (tombstones): sorted dead accumulator slots, masked
        # after full accumulation (this engine never prunes, so the
        # post-accumulation mask is exact)
        self._dead_slots = np.empty(0, dtype=np.int64)
        tomb = os.path.join(index_dir, "tombstones.parquet")
        if os.path.isdir(tomb):
            urls = ds.dataset(tomb, format="parquet").to_table(
                columns=["url"])["url"].to_pylist()
            if urls:
                t = self._docvec.to_table(
                    filter=ds.field("url").isin(sorted(set(urls))),
                    columns=["doc_id"],
                )
                self._dead_slots = np.sort(self._slots(
                    t["doc_id"].to_numpy().astype(np.int64)))
        self._pre: Optional[Tuple[_BlockRuns, _Dictionary, _Urls]] = None
        if preload:
            self._pre = (self._block_runs(None), self._dictionary(None),
                         self._urls(None))

    # Each view over the whole index (``None``) or the rows a query
    # needs; a preloaded searcher answers from its whole-index views.

    def _block_runs(self, terms: Optional[List[str]]) -> _BlockRuns:
        if self._pre is not None:
            return self._pre[0]
        return _BlockRuns(_read(self._blocks, _BLOCK_COLS, "term", terms))

    def _dictionary(self, terms: Optional[List[str]]) -> _Dictionary:
        if self._pre is not None:
            return self._pre[1]
        return _Dictionary(_read(self._dict, ["term", "df"], "term", terms))

    def _urls(self, slots: Optional[np.ndarray]) -> _Urls:
        if self._pre is not None:
            return self._pre[2]
        ids = None if slots is None else self._unslot(slots).tolist()
        t = _read(self._docvec, ["doc_id", "url"], "doc_id", ids)
        return _Urls(self._slots(t["doc_id"].to_numpy().astype(np.int64)),
                     t["url"].combine_chunks())

    def set_bm25(self, k1: float, b: float) -> None:
        self.params = BM25Params(k1=k1, b=b, k=self.params.k,
                                 lossy=self._lossy)

    def _analyze(self, text: str) -> List[str]:
        return analyze_for(self.analyzer)(text or "")

    def _slots(self, docs: np.ndarray) -> np.ndarray:
        """global doc_id (segment<<40|row) -> dense accumulator slot."""
        seg = (docs >> SEG_SHIFT).astype(np.int64)
        row = (docs & ((1 << SEG_SHIFT) - 1)).astype(np.int64)
        return self._offsets_arr[seg] + row

    def _unslot(self, slots: np.ndarray) -> np.ndarray:
        """dense slot -> global doc_id (inverse of _slots)."""
        idx = np.searchsorted(self._seg_bounds, slots, side="right") - 1
        return (self._seg_ids[idx] << SEG_SHIFT) + (
            slots - self._seg_bounds[idx])

    def search(self, query: str, k: int = 10) -> List[Tuple[str, int, float]]:
        """Returns [(url, rank, tie-adjusted score)] — same semantics
        as the distributed engines (float32 BM25, url tie-break,
        ScoreTiesAdjuster rounding)."""
        p = self.params
        toks = self._analyze(query)
        if not toks:
            return []
        uterms = sorted(set(toks))
        dfs = self._dictionary(uterms).lookup(uterms)
        doc_count = self.stats["doc_count"]
        avgdl = self.stats["avgdl"]
        cache1 = np.float32(p.k1) * (np.float32(1.0) - np.float32(p.b))
        cache2 = np.float32(p.k1) * np.float32(p.b) / np.float32(avgdl)
        wmap: Dict[str, np.float32] = {}
        for t in toks:
            if t not in dfs:
                continue
            w = np.float32(idf(dfs[t], doc_count))
            wmap[t] = np.float32(wmap.get(t, np.float32(0.0)) + w)
        if not wmap:
            return []
        runs = self._block_runs(sorted(wmap))

        acc, touched = self._acc, self._touched
        cand = None
        try:
            for t in sorted(wmap):
                docs, tfs, dls = runs.decode(t)
                slots = self._slots(docs)
                tf32 = tfs.astype(np.float32)
                dl32 = (quantize_length(dls) if p.lossy
                        else dls).astype(np.float32)
                contrib = (wmap[t] * (tf32 / (tf32 + cache1 + cache2 * dl32))
                           ).astype(np.float32)
                acc[slots] += contrib.astype(np.float64)
                touched[slots] = True
            cand = np.flatnonzero(touched)
            scores = acc[cand].astype(np.float32)
        finally:
            # reset only the touched slots, also after a failed query
            reset = np.flatnonzero(touched) if cand is None else cand
            acc[reset] = 0.0
            touched[reset] = False
        keep = drop_dead(cand, self._dead_slots)
        if keep is not None:
            cand, scores = cand[keep], scores[keep]
        if len(cand) > k:
            # keep everything tied at the kth score, then url-order
            kth = np.partition(scores, len(scores) - k)[len(scores) - k]
            keep = scores >= kth
            cand, scores = cand[keep], scores[keep]
        if not len(cand):
            return []
        urls = self._urls(cand)
        pos = np.searchsorted(urls.slots, cand)
        order = np.lexsort((urls.rank[pos], -scores))[:k]
        names = urls.urls.take(pa.array(pos[order])).to_pylist()
        # tie adjustment (ScoreTiesAdjusterReranker.java:36-73): Python
        # round() per emitted score (np.round is not bit-identical), then
        # each score steps down 1e-6 per earlier equal rounded score
        r = np.array([round(s, 4) for s in scores[order].tolist()])
        pos_in_run = np.arange(len(r))
        run_start = np.ones(len(r), dtype=bool)
        run_start[1:] = r[1:] != r[:-1]
        dup = pos_in_run - np.maximum.accumulate(
            np.where(run_start, pos_in_run, 0))
        return list(zip(names, range(1, len(r) + 1),
                        (r - dup * 1e-6).tolist()))

    def batch_search(self, queries: Dict[int, str], k: int = 10):
        return {qid: self.search(q, k) for qid, q in queries.items()}
