"""Quantify the multislice query-cost claim: batch-search wall over
the SAME corpus read as 1 / 4 / 16 unmerged slices, plus after
compaction back to 4 (coalescing vs segment-preserving merge).
Lucene's trade-off made concrete: more slices = more small per-term
parquet files AND more segments per query; compaction must claw both
back — while results stay identical (asserted here, not just
claimed).

Prints one JSON line. Usage:
  python scripts/slice_latency_bench.py [sf_dir] [multiplier] [repeats]
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anserini_spark.corpus.synth import web_corpus  # noqa: E402
from anserini_spark.index.build import IndexConfig  # noqa: E402
from anserini_spark.index.compaction import compact  # noqa: E402
from anserini_spark.index.sliced import build_sliced_index  # noqa: E402
from anserini_spark.search.multislice import MultiSliceIndex  # noqa: E402
from anserini_spark.search.bm25 import BM25Params  # noqa: E402
from anserini_spark.search.searcher import InvertedIndex, search_kernel  # noqa: E402
from anserini_spark.session import get_spark  # noqa: E402

ROOT = "/tmp/anserini_slice_lat"

QUERIES = {
    i: q for i, q in enumerate(
        ["spark merge join", "customer value", "slow query table",
         "index scan cost", "stream window state", "partition skew salt",
         "broadcast hash build", "parquet row group", "shuffle spill disk",
         "vector cosine rank"] * 5
    )
}


def _timed_search(idx, repeats):
    walls, hits = [], None
    for _ in range(repeats):
        t0 = time.time()
        hits = search_kernel(idx, QUERIES, BM25Params(k=100)).count()
        walls.append(time.time() - t0)
    return round(min(walls), 2), hits


def main(sf_dir="/root/testdata/sf0.1", multiplier=100, repeats=3):
    shutil.rmtree(ROOT, ignore_errors=True)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    corpus_pq = f"{ROOT}/corpus.parquet"
    web_corpus(spark, sf_dir, multiplier=multiplier).write.parquet(corpus_pq)
    corpus = spark.read.parquet(corpus_pq)

    out = {"sf_dir": sf_dir, "multiplier": multiplier,
           "queries": len(QUERIES), "k": 100}
    cfg = lambda d: IndexConfig(out_dir=f"{ROOT}/{d}", doc_partitions=32,
                                block_partitions=32)
    readers = {}
    for n in (1, 4, 16):
        dirs = build_sliced_index(spark, corpus, cfg(f"n{n}"), n)
        readers[f"slices_{n}"] = (MultiSliceIndex(spark, dirs)
                                  if n > 1 else InvertedIndex(spark, dirs[0]))
    sixteen = build_sliced_index(spark, corpus, cfg("n16b"), 16)
    readers["slices_16_compacted_to_4"] = MultiSliceIndex(spark, compact(
        spark, sixteen, cfg("compacted"), max_slices=4, merge_factor=4,
        coalesce=True))
    readers["slices_16_segpreserving_to_4"] = MultiSliceIndex(spark, compact(
        spark, sixteen, cfg("compacted_sp"), max_slices=4, merge_factor=4,
        coalesce=False))

    base_hits = None
    for name, idx in readers.items():
        wall, hits = _timed_search(idx, repeats)
        out[name + "_s"] = wall
        if base_hits is None:
            base_hits = hits
        assert hits == base_hits, (name, hits, base_hits)
    out["hits_per_variant"] = base_hits
    out["overhead_16_vs_1"] = round(
        out["slices_16_s"] / out["slices_1_s"], 2)
    out["compaction_recovers"] = round(
        out["slices_16_s"] / out["slices_16_compacted_to_4_s"], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1",
         int(sys.argv[2]) if len(sys.argv) > 2 else 100,
         int(sys.argv[3]) if len(sys.argv) > 3 else 3)
