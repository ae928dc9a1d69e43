"""LocalSearcher — low-latency serving over the SAME index files,
no Spark session required.

The reference's `SimpleSearcher` answers single queries in ~60 ms
(`docs/experiments-msmarco-passage.md:65`) against an OS-page-cached
mmap'd Lucene index; a Spark job can't (fixed scheduling floor).
Because the index is open parquet, a driver-side searcher reads the
term-pruned slices directly via pyarrow and scores them with the Spark
search tasks' own kernel — result-identical to the distributed engine
(pinned by tests).

A query reads three columnar views of the index:

- block runs (``kernel.BlockRuns``, the view the Spark search tasks
  read too): block rows sorted by (term, segment, first_doc); a term's
  run is a searchsorted range [lo, hi) on the term column and decodes
  straight from the Arrow values/offsets buffers of the binary columns
  (``index.blocks.decode_block_range``) — no per-block Python
  ``bytes``;
- the dictionary as sorted (term, df) arrays: df lookup is a
  searchsorted;
- doc urls keyed by doc id (``tieadjust.Urls``), with each url's rank
  in url order, so the final (score desc, url asc) order is one
  ``np.lexsort``.

Serving mode (``preload=True``, the latency-bench configuration and
the honest analogue of Lucene's warm mmap) builds the three views once
at open over the whole index, so a query does no parquet I/O. With
``preload=False`` (cold-start mode) the same views are built per query
from term- and doc-id-filtered pyarrow reads with row-group pruning;
scoring and ordering are the same code in both modes.

Scoring is ``kernel.score_group`` over one group of all the index's
segments (``kernel.Group``, laid out once at open), the function every
Spark search task calls on its own group; the query weights are
``bm25.query_weights``, the Spark searcher's too. The final order and
tie rounding are ``tieadjust.rank_hits``, the same function the
distributed engine's driver tail calls. A search holds no state of the
searcher's but the read-only views, so concurrent ``search`` calls are
safe.
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
from ..index.build import SEG_SHIFT
from ..index.tombstones import dead_doc_ids
from .bm25 import BM25Params, query_weights
from .kernel import KERNEL_COLS, BlockRuns, Group, score_group
from .tieadjust import Hit, Urls, rank_hits


def _read(dataset: ds.Dataset, columns: List[str], key: str,
          values: Optional[Sequence]) -> pa.Table:
    """``columns`` of ``dataset``; rows whose ``key`` is in ``values``,
    or every row when ``values`` is None."""
    flt = None if values is None else ds.field(key).isin(values)
    return dataset.to_table(columns=columns, filter=flt)


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


class LocalSearcher:
    """Driver-local BM25 searcher over one index directory."""

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
        self._group = Group(self.seg_counts, self.seg_counts,
                            dead_doc_ids(index_dir))
        self._blocks = ds.dataset(os.path.join(index_dir, "blocks.parquet"),
                                  format="parquet")
        self._dict = ds.dataset(os.path.join(index_dir, "dictionary.parquet"),
                                format="parquet")
        self._docvec = ds.dataset(os.path.join(index_dir, "docvec.parquet"),
                                  format="parquet")
        self._pre: Optional[Tuple[BlockRuns, _Dictionary, Urls]] = None
        if preload:
            self._pre = (self._block_runs(None), self._dictionary(None),
                         self._urls(None))

    # Each view over the whole index (``None``) or the rows a query
    # needs; a preloaded searcher answers from its whole-index views.

    def _block_runs(self, terms: Optional[List[str]]) -> BlockRuns:
        if self._pre is not None:
            return self._pre[0]
        return BlockRuns(_read(self._blocks, KERNEL_COLS, "term", terms))

    def _dictionary(self, terms: Optional[List[str]]) -> _Dictionary:
        if self._pre is not None:
            return self._pre[1]
        return _Dictionary(_read(self._dict, ["term", "df"], "term", terms))

    def _urls(self, doc_ids: Optional[np.ndarray]) -> Urls:
        if self._pre is not None:
            return self._pre[2]
        ids = None if doc_ids is None else doc_ids.tolist()
        t = _read(self._docvec, ["doc_id", "url"], "doc_id", ids)
        return Urls(t["doc_id"].to_numpy().astype(np.int64),
                    t["url"].combine_chunks())

    def set_bm25(self, k1: float, b: float) -> None:
        self.params = BM25Params(k1=k1, b=b, k=self.params.k,
                                 lossy=self._lossy)

    def analyze_query(self, text: str) -> List[str]:
        return analyze_for(self.analyzer)(text or "")

    def term_dfs(self, terms) -> Dict[str, int]:
        uterms = sorted(set(terms))
        return self._dictionary(uterms).lookup(uterms)

    def search(self, query: str, k: int = 10) -> List[Hit]:
        """Returns [(url, rank, tie-adjusted score)] — same semantics
        as the distributed engine (float32 BM25, url tie-break,
        ScoreTiesAdjuster rounding)."""
        p = self.params
        weights, scorer = query_weights(self, {0: query}, p)
        if not weights[0]:
            return []
        hits = score_group(self._block_runs(sorted(weights[0])), self._group,
                           weights, k, (scorer.cache1, scorer.cache2, p.lossy))
        if not hits:
            return []
        _, ids, scores = hits[0]
        return rank_hits(ids, scores, self._urls, k)

    def batch_search(self, queries: Dict[int, str], k: int = 10):
        return {qid: self.search(q, k) for qid, q in queries.items()}
