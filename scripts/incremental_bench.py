"""Quantify the incremental-append claim at sf0.1: folding a small
stream drop into a searchable increment must cost O(new docs), not
O(corpus) — compared against the full rebuild it replaces.

Three timed legs over the sf0.1 web corpus (same build config as
bench.py's index_build):

1. full rebuild of 100% (the reference's only option: IndexCollection
   reruns end to end when files land);
2. fold of a ~5% stream drop into an index slice
   (`fold_stream_slice`, pre-analyzed rows — the stream tokenizes at
   ingest time, so the fold is dedup + ids + blocks + stats only);
3. first query over base+slice via `MultiSliceIndex` (zero-merge
   readiness: the increment is searchable immediately).

The corpus is materialized once at ``multiplier``× the sf table (same
mechanism as bench.py) so the legs measure throughput, not fixed job
overhead — at the raw sf0.1 size (5K docs) every leg is
overhead-bound and the ratio says nothing.

Prints one JSON line. Usage:
  python scripts/incremental_bench.py [sf_dir] [frac_mod] [multiplier]
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
from anserini_spark.index.incremental import fold_stream_slice  # noqa: E402
from anserini_spark.search.multislice import MultiSliceIndex  # noqa: E402
from anserini_spark.search.bm25 import BM25Params  # noqa: E402
from anserini_spark.search.searcher import search_kernel  # noqa: E402
from anserini_spark.session import get_spark  # noqa: E402
from anserini_spark.streaming.ingest import start_corpus_ingest  # noqa: E402

ROOT = "/tmp/anserini_inc_bench"


def main(sf_dir: str = "/root/testdata/sf0.1", frac_mod: int = 20,
         multiplier: int = 100):
    shutil.rmtree(ROOT, ignore_errors=True)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    cfg = lambda d: IndexConfig(out_dir=f"{ROOT}/{d}", doc_partitions=32,
                                block_partitions=32)
    corpus_pq = f"{ROOT}/corpus.parquet"
    web_corpus(spark, sf_dir, multiplier=multiplier).write.parquet(corpus_pq)
    full = spark.read.parquet(corpus_pq)
    base_corpus = full.filter(F.crc32("url") % frac_mod != 0)
    drop = full.filter(F.crc32("url") % frac_mod == 0)
    n_full = full.count()
    n_drop = drop.count()
    drop_pq = f"{ROOT}/drop.parquet"
    drop.write.parquet(drop_pq)

    # warm-up build absorbs one-time JVM costs, then the timed legs
    build_index(spark, base_corpus, cfg("base_idx"))

    t0 = time.time()
    build_index(spark, full, cfg("full_idx"))
    t_rebuild = time.time() - t0

    t0 = time.time()
    q = start_corpus_ingest(spark, drop_pq, f"{ROOT}/stream",
                            f"{ROOT}/ckpt", cfg("unused"))
    q.awaitTermination(600)
    t_ingest = time.time() - t0

    t0 = time.time()
    fold_stream_slice(spark, f"{ROOT}/stream", cfg("slice_idx"))
    t_fold = time.time() - t0

    t0 = time.time()
    mi = MultiSliceIndex(spark, [f"{ROOT}/base_idx", f"{ROOT}/slice_idx"])
    hits = search_kernel(mi, {1: "spark merge join"}, BM25Params(k=10))
    n_hits = hits.count()
    t_first_query = time.time() - t0

    out = {
        "sf_dir": sf_dir,
        "docs_full": n_full,
        "docs_drop": n_drop,
        "drop_frac": round(n_drop / n_full, 4),
        "rebuild_s": round(t_rebuild, 2),
        "stream_ingest_s": round(t_ingest, 2),
        "fold_slice_s": round(t_fold, 2),
        "incremental_s": round(t_ingest + t_fold, 2),
        "first_union_query_s": round(t_first_query, 2),
        "speedup_vs_rebuild": round(t_rebuild / (t_ingest + t_fold), 2),
        "hits": n_hits,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1",
         int(sys.argv[2]) if len(sys.argv) > 2 else 20,
         int(sys.argv[3]) if len(sys.argv) > 3 else 100)
