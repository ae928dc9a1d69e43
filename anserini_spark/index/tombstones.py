"""Tombstones — Lucene liveDocs for this engine.

Lucene deletes are soft: ``IndexWriter.deleteDocuments`` marks ids in
a per-segment liveDocs bitset; every scorer consults it, collection
statistics keep counting the dead docs, and the postings only
physically disappear when a merge rewrites the segment
(``ReadersAndUpdates``/``MergePolicy`` machinery — the reference
inherits exactly these semantics through Lucene). Same contract here:

* ``add_tombstones(spark, index_dir, urls)`` appends deleted urls to
  ``{index_dir}/tombstones.parquet`` (append-only parquet dir; readers
  dedup). O(deletes) — nothing else is touched.
* Reader-at-open semantics (Lucene's ``DirectoryReader`` contract):
  an ``InvertedIndex``/``LocalSearcher`` snapshots liveDocs when
  first consulted and caches them; deletes added afterwards are seen
  by NEW reader instances, not retroactively by old ones — reopen to
  observe, exactly like ``DirectoryReader.openIfChanged``.
* Query time: `search/searcher.py`'s kernel drops dead postings at
  DECODE time (before accumulation), so MaxScore's threshold never
  feeds on dead docs and the ranked result equals an index that never
  contained them — EXCEPT stats/df/cf, which stay stale until a merge
  purges (Lucene-identical; scores of surviving docs are therefore
  bit-identical to their pre-delete values).
* Purge: `merge.merge_indexes` and `compaction.coalescing_merge`
  drop tombstoned docvec rows while rebuilding (both already re-derive
  blocks/dictionary/stats from docvec), emitting a clean index with no
  tombstone dir. After a purging merge, scores reflect the shrunken
  collection.
* `index/incremental.extend_index(..., supersede=True)` uses this to
  resolve recrawl overlap: the base's stale urls are tombstoned, the
  merge purges them, and the union equals latest-crawl-wins.

Scale shape: tombstone lookup is one broadcast semi-join against the
docvec (column-pruned scan) at searcher init, cached; the per-segment
dead-id arrays live on the driver and ride into the kernel closure —
bounded by delete count, not corpus size. EVERY engine consults
liveDocs, and every one at decode: the block kernel (BM25, the
similarities, impact and tweet search), SDM's positional kernel and
`postings_from_blocks` (boolean set ops) — pinned across all of them
by ``tests/test_tombstones.py``.
"""

from __future__ import annotations

import os
from typing import Dict, Iterable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TOMBSTONES = "tombstones.parquet"


def tombstones_path(index_dir: str) -> str:
    return os.path.join(index_dir, TOMBSTONES)


def has_tombstones(index_dir: str) -> bool:
    return os.path.isdir(tombstones_path(index_dir))


def add_tombstones(spark: SparkSession, index_dir: str,
                   urls: Iterable[str] | DataFrame) -> None:
    """Mark urls deleted. Append-only (an O(deletes) write); readers
    dedup, so re-deleting is harmless."""
    if isinstance(urls, DataFrame):
        df = urls.select(F.col(urls.columns[0]).alias("url"))
    else:
        rows = [(u,) for u in urls]
        if not rows:
            return
        df = spark.createDataFrame(rows, "url string")
    df.write.mode("append").parquet(tombstones_path(index_dir))


def read_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Distinct deleted urls, or None when the index has none."""
    if not has_tombstones(index_dir):
        return None
    return spark.read.parquet(tombstones_path(index_dir)).select(
        "url").distinct()


def dead_by_segment(spark: SparkSession, index_dir: str,
                    docvec: DataFrame, seg_shift: int
                    ) -> Dict[int, np.ndarray]:
    """segment -> sorted local doc ids of tombstoned docs. One
    broadcast semi-join against the column-pruned docvec; driver
    memory O(deletes)."""
    dead = read_tombstones(spark, index_dir)
    if dead is None:
        return {}
    rows = (
        docvec.select("doc_id", "segment", "url")
        .join(F.broadcast(dead), "url", "inner")
        .select("segment", "doc_id")
        .collect()
    )
    out: Dict[int, list] = {}
    mask = (1 << seg_shift) - 1
    for r in rows:
        out.setdefault(int(r["segment"]), []).append(int(r["doc_id"]) & mask)
    return {s: np.array(sorted(v), dtype=np.int64) for s, v in out.items()}


def drop_dead(ids: np.ndarray, dead: np.ndarray | None):
    """Boolean keep-mask over sorted-or-not ``ids`` against the sorted
    dead array; None when nothing is dead (caller skips masking)."""
    if dead is None or len(dead) == 0 or len(ids) == 0:
        return None
    pos = np.searchsorted(dead, ids)
    pos[pos == len(dead)] = len(dead) - 1
    return dead[pos] != ids
