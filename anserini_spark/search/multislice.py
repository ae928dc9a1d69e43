"""Multi-slice index reader — the Lucene segment model for
incremental corpora (`index/IndexCollection.java` merges eagerly;
Lucene itself searches across segments and compacts lazily).

``MultiSliceIndex`` searches the UNION of N independently-built index
slices (full ``build_index`` dirs, stream folds from
`index/incremental.fold_stream_slice`, or prior merges) without
merging anything:

* **Zero re-encoding.** Posting binaries store within-block deltas;
  absolute doc ids are reconstructed at decode time from the
  ``first_doc``/``last_doc`` block columns (`blocks.py
  decode_block_range`). Shifting those columns by
  ``slice_offset << SEG_SHIFT`` at read time (`kernel.read_blocks`)
  re-namespaces every decoded id into a globally dense segment space.
  The bytes on disk are never touched.
* **Exact global stats.** doc counts and token totals sum across
  slices; per-term df/cf sum across the per-slice dictionaries (both
  driver-side pyarrow lookups and the declarative dictionary view),
  so scores equal a from-scratch build over the union corpus exactly
  (pinned by ``tests/test_multislice.py``).
* **Pushdown survives.** Each search task pushes ``term IN`` into
  every slice's pyarrow read, so each slice still prunes row groups;
  the per-segment kernel is oblivious to slicing.

Scale shape: appending a day's crawl is O(new docs) — fold a slice,
add its dir to the reader. Query cost grows with the number of slices
only through extra small parquet files per term (Lucene's
tiered-merge trade-off); ``index/merge.merge_indexes`` is the
compaction when slice counts grow.

**Invariant: slices must be url-disjoint.** The union sums doc counts
and per-term df/cf across slices; a url present in two slices (e.g. a
page recrawled across stream windows) would be scored twice and would
double-count collection statistics. ``fold_stream_slice`` dedups only
WITHIN its window, and the latest-wins supersede guard lives on the
``extend_index`` merge path, not here. When slices may overlap either
(a) pass ``check_disjoint=True`` (one Spark job at open: raises on
the first duplicate url, sampling offenders), or (b) route recrawls
through ``index/incremental.extend_index(supersede=True)``, which
tombstones superseded urls so this reader masks them at decode time.
"""

from __future__ import annotations

from functools import reduce
from typing import Dict, Iterable, List, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import SEG_SHIFT
from .searcher import InvertedIndex


class MultiSliceIndex(InvertedIndex):
    """Read-only union over slice index dirs; drop-in wherever an
    ``InvertedIndex`` is accepted (search_kernel, kernel similarities,
    rerankers, SDM over positional slices...)."""

    def __init__(self, spark: SparkSession, slice_dirs: Sequence[str],
                 cache: bool = True, check_disjoint: bool = False):
        if not slice_dirs:
            raise ValueError("MultiSliceIndex needs at least one slice")
        self.spark = spark
        # per-slice load runs the seg_shift + analyzer-version gates
        self.slices: List[InvertedIndex] = [
            InvertedIndex(spark, d, cache=False) for d in slice_dirs
        ]
        self.dir = slice_dirs[0]
        self.manifest = self.slices[0].manifest
        self.analyzer = self.slices[0].analyzer
        for s in self.slices[1:]:
            if s.analyzer != self.analyzer:
                raise ValueError(
                    f"slice {s.dir} was built with analyzer "
                    f"'{s.analyzer}', expected '{self.analyzer}' — "
                    "mixed-analyzer unions would drift scores silently")
        # dense segment re-namespacing: slice i's segments occupy
        # [offset_i, offset_i + max_segment_i + 1)
        self.offsets: List[int] = []
        off = 0
        for s in self.slices:
            self.offsets.append(off)
            segs = [int(k) for k in s.stats["segments"]]
            off += (max(segs) + 1) if segs else 0
        num_docs = sum(int(s.stats["num_docs"]) for s in self.slices)
        doc_count = sum(int(s.stats["doc_count"]) for s in self.slices)
        sum_tf = sum(int(s.stats["sum_tf"]) for s in self.slices)
        segments: Dict[str, int] = {}
        for s, o in zip(self.slices, self.offsets):
            for k, c in s.stats["segments"].items():
                segments[str(int(k) + o)] = int(c)
        self.stats = {
            "num_docs": num_docs,
            "doc_count": doc_count,
            "sum_tf": sum_tf,
            "avgdl": (float(sum_tf) / float(doc_count)) if doc_count
                     else 0.0,
            # distinct-across-slices is a job, not a sum; nothing on
            # the query path reads it
            "unique_terms": None,
            "segments": segments,
        }
        self._cache = cache
        self._dfs: Dict[str, DataFrame] = {}
        self._dict_ds = None
        if check_disjoint and len(self.slices) > 1:
            self._assert_url_disjoint()

    def _assert_url_disjoint(self) -> None:
        """Opt-in guard for the url-disjointness invariant (one Spark
        job at open). Within a slice docvec holds one row per url
        (build-time dedup), so any url with union multiplicity > 1 is
        a cross-slice overlap that would double-count stats/scores.
        Uses live_docvec: a url superseded via tombstones (the
        extend_index(supersede=True) pattern this error recommends)
        is masked by the reader and therefore NOT an overlap."""
        dup = (
            reduce(DataFrame.unionByName,
                   [s.live_docvec.select("url") for s in self.slices])
            .groupBy("url").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
        )
        sample = [r["url"] for r in dup.limit(5).collect()]
        if sample:
            raise ValueError(
                "MultiSliceIndex slices overlap on url (first "
                f"offenders: {sample}) — the union would double-count "
                "df/cf and return duplicate docids. Rebuild disjoint "
                "slices, or merge recrawls via extend_index("
                "supersede=True) so superseded urls are tombstoned.")

    def _load(self, name: str, do_cache: bool) -> DataFrame:
        if name not in self._dfs:
            if name == "blocks":
                parts = []
                for s, off in zip(self.slices, self.offsets):
                    sh = off << SEG_SHIFT
                    parts.append(
                        s.blocks
                        .withColumn("segment", (F.col("segment")
                                                + F.lit(off)).cast("int"))
                        .withColumn("first_doc",
                                    F.col("first_doc") + F.lit(sh))
                        .withColumn("last_doc",
                                    F.col("last_doc") + F.lit(sh))
                    )
                df = reduce(DataFrame.unionByName, parts)
            elif name == "docvec":
                parts = []
                for s, off in zip(self.slices, self.offsets):
                    sh = off << SEG_SHIFT
                    parts.append(
                        s.docvec
                        .withColumn("doc_id", F.col("doc_id") + F.lit(sh))
                        .withColumn("segment", (F.col("segment")
                                                + F.lit(off)).cast("int"))
                    )
                df = reduce(DataFrame.unionByName, parts)
            elif name == "dictionary":
                df = (
                    reduce(DataFrame.unionByName,
                           [s.dictionary for s in self.slices])
                    .groupBy("term")
                    .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                )
            else:
                raise KeyError(name)
            if do_cache:
                df = df.cache()
            self._dfs[name] = df
        return self._dfs[name]

    def block_sources(self) -> List[Tuple[str, int]]:
        """Each slice's blocks with its segment offset."""
        return [(path, off) for s, off in zip(self.slices, self.offsets)
                for path, _ in s.block_sources()]

    @property
    def dead_global(self) -> np.ndarray:
        """Each slice's liveDocs with the union's segment re-namespacing
        applied; slices are in offset order, so the union stays
        sorted."""
        return np.concatenate(
            [np.empty(0, np.int64)]
            + [s.dead_global + (off << SEG_SHIFT)
               for s, off in zip(self.slices, self.offsets)])

    @property
    def live_docvec(self):
        from ..index.tombstones import read_tombstones

        deads = [d for d in (read_tombstones(self.spark, s.dir)
                             for s in self.slices) if d is not None]
        if not deads:
            return self.docvec
        dead = reduce(DataFrame.unionByName, deads).distinct()
        return self.docvec.join(F.broadcast(dead), "url", "left_anti")

    def term_stats(self, terms: Iterable[str]) -> Dict[str, Tuple[int, int]]:
        """Sum the per-slice driver-side dictionary lookups — the
        union df/cf, identical to a merged dictionary's."""
        out: Dict[str, Tuple[int, int]] = {}
        for s in self.slices:
            for t, (df_, cf_) in s.term_stats(terms).items():
                d0, c0 = out.get(t, (0, 0))
                out[t] = (d0 + df_, c0 + cf_)
        return out

    def urls(self, doc_ids: np.ndarray) -> pa.Table:
        """Split the ids by slice offset and ask each slice (its ids
        are the union's minus ``offset << SEG_SHIFT``)."""
        ids = np.asarray(doc_ids, dtype=np.int64)
        seg = ids >> SEG_SHIFT
        parts = []
        for s, lo, hi in zip(self.slices, self.offsets,
                             self.offsets[1:] + [np.inf]):
            sh = lo << SEG_SHIFT
            t = s.urls(ids[(seg >= lo) & (seg < hi)] - sh)
            # a fresh schema: slices may differ in url nullability
            parts.append(pa.table({"doc_id": pc.add(t["doc_id"], sh),
                                   "url": t["url"]}))
        return pa.concat_tables(parts)
