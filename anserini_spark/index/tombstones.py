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
* Query time: the kernel (`search/kernel.py`) drops dead postings at
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

Scale shape: tombstone lookup is one pyarrow docvec read with the
deleted urls pushed into it (``dead_doc_ids``, no Spark job), at first
use by a searcher, cached; the sorted dead-id
array lives on the driver and rides into the kernel closure — bounded
by delete count, not corpus size. EVERY engine consults
liveDocs, and every one at decode: the block kernel (BM25, the
similarities, impact and tweet search), SDM's positional kernel and
`postings_from_blocks` (boolean set ops) — pinned across all of them
by ``tests/test_tombstones.py``.
"""

from __future__ import annotations

import os
from typing import Iterable

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


def dead_doc_ids(index_dir: str) -> np.ndarray:
    """Sorted doc ids of the tombstoned docs (empty when none): pyarrow
    reads of the tombstone urls and of their docvec rows, ``url IN``
    pushed into the read. Driver memory O(deletes), no Spark job."""
    import pyarrow.dataset as ds

    if not has_tombstones(index_dir):
        return np.empty(0, dtype=np.int64)
    urls = ds.dataset(tombstones_path(index_dir), format="parquet").to_table(
        columns=["url"])["url"].unique()
    ids = ds.dataset(os.path.join(index_dir, "docvec.parquet"),
                     format="parquet").to_table(
        columns=["doc_id"], filter=ds.field("url").isin(urls))["doc_id"]
    return np.sort(ids.to_numpy().astype(np.int64))


def drop_dead(ids: np.ndarray, dead: np.ndarray | None):
    """Boolean keep-mask over sorted-or-not ``ids`` against the sorted
    dead array; None when nothing is dead (caller skips masking)."""
    if dead is None or len(dead) == 0 or len(ids) == 0:
        return None
    pos = np.searchsorted(dead, ids)
    pos[pos == len(dead)] = len(dead) - 1
    return dead[pos] != ids
