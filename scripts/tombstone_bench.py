"""Quantify liveDocs query overhead: batch-search wall over the same
500K-doc index with 0% vs ~10% of docs tombstoned. The mask is one
vectorized searchsorted per decoded posting run, so the overhead
should be noise-level; deleted docs must vanish from results.

Prints one JSON line. Usage:
  python scripts/tombstone_bench.py [sf_dir] [multiplier] [repeats]
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from anserini_spark.corpus.synth import web_corpus  # noqa: E402
from anserini_spark.index.build import IndexConfig, build_index  # noqa: E402
from anserini_spark.index.tombstones import add_tombstones  # noqa: E402
from anserini_spark.search.bm25 import BM25Params  # noqa: E402
from anserini_spark.search.searcher import InvertedIndex, search_kernel  # noqa: E402
from anserini_spark.session import get_spark  # noqa: E402

ROOT = "/tmp/anserini_tomb_bench"

QUERIES = {
    i: q for i, q in enumerate(
        ["spark merge join", "customer value", "slow query table",
         "index scan cost", "stream window state", "partition skew salt",
         "broadcast hash build", "parquet row group", "shuffle spill disk",
         "vector cosine rank"] * 5
    )
}


def _timed(idx, repeats):
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
    d = f"{ROOT}/idx"
    build_index(spark, corpus, IndexConfig(out_dir=d, doc_partitions=32,
                                           block_partitions=32))

    clean_s, clean_hits = _timed(InvertedIndex(spark, d), repeats)

    dead_urls = corpus.select("url").filter(F.crc32("url") % 10 == 0)
    n_dead = dead_urls.count()
    add_tombstones(spark, d, dead_urls)
    idx = InvertedIndex(spark, d)
    t0 = time.time()
    _ = idx.dead_global  # one-time liveDocs materialization
    live_init_s = round(time.time() - t0, 2)
    tomb_s, tomb_hits = _timed(idx, repeats)

    out = {
        "sf_dir": sf_dir, "multiplier": multiplier,
        "queries": len(QUERIES), "k": 100,
        "docs": corpus.count(), "tombstoned": n_dead,
        "clean_s": clean_s, "tombstoned_s": tomb_s,
        "livedocs_init_s": live_init_s,
        "overhead": round(tomb_s / clean_s, 2),
        "hits_clean": clean_hits, "hits_tombstoned": tomb_hits,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1",
         int(sys.argv[2]) if len(sys.argv) > 2 else 100,
         int(sys.argv[3]) if len(sys.argv) > 3 else 3)
