"""Batch-scale query benchmark — evidence for SURVEY §7.1 M5's
"batch the whole dev query set" claim: N queries (default 1,000) x
k=1000 through the Spark kernel engine (term-pruned block scan +
MaxScore, one batch) over the natural-vocabulary corpus
(`corpus/synth.py natural_corpus`, 100K-term Zipf vocab — realistic
long-tail dfs). Reports aggregate qps, the Python driver's and the
driver JVM's peak RSS, and appends a BENCH.md section. ``--tail driver``
or ``--tail spark`` forces the batch onto one tail whatever its
candidate count (``searcher.DRIVER_TAIL_MAX_CANDIDATES``), to measure
where the two break even.

    python scripts/batch_bench.py --docs 1000000 --queries 1000
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def gen_queries(n: int, seed: int = 9) -> dict[int, str]:
    """4-6 terms per query, ranks log-uniform in [20, 3000] — the df
    range of typical natural-language query terms (same distribution
    as scripts/latency_bench.py)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    out = {}
    for qid in range(1, n + 1):
        m = int(rng.integers(4, 7))
        ranks = np.unique(
            np.exp(rng.uniform(np.log(20), np.log(3000), m)).astype(int)
        )
        out[qid] = " ".join(f"t{r}" for r in ranks)
    return out


def jvm_peak_rss_gb() -> float:
    """Peak RSS (VmHWM) of the running driver JVM, the gateway's
    process."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("VmHWM:"))
    return kb / 1e6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--queries", type=int, default=1000)
    ap.add_argument("--k", type=int, default=1000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--tail", choices=("auto", "driver", "spark"),
                    default="auto",
                    help="force the driver tail or the Spark tail "
                         "(default: by candidate count)")
    ap.add_argument("--no-bench-append", action="store_true",
                    help="print the JSON line only; skip the BENCH.md "
                         "section (scripts/batch_curve.py aggregates "
                         "multiple runs into one table)")
    args = ap.parse_args()

    # local-mode batch runs shuffle tens of millions of rows through
    # the single driver JVM; the 8g default heap turns into GC churn
    os.environ.setdefault("SPARK_DRIVER_MEM", "32g")

    from anserini_spark.corpus.synth import natural_corpus
    from anserini_spark.index.build import IndexConfig, build_index
    from anserini_spark.search.bm25 import BM25Params
    from anserini_spark.search import searcher
    from anserini_spark.search.searcher import InvertedIndex, search_kernel
    from anserini_spark.session import get_spark

    if args.tail != "auto":
        searcher.DRIVER_TAIL_MAX_CANDIDATES = (
            float("inf") if args.tail == "driver" else 0)

    spark = get_spark(app="batch-bench", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    idx_dir = f"/tmp/anserini_natural_idx_{args.docs}"
    if not os.path.exists(os.path.join(idx_dir, "stats.json")):
        corpus = natural_corpus(spark, args.docs)
        t0 = time.time()
        build_index(
            spark, corpus,
            IndexConfig(out_dir=idx_dir, analyzer="ws", source_col="text",
                        doc_partitions=32, block_partitions=64),
        )
        print(f"index built in {time.time() - t0:.0f}s", file=sys.stderr)

    idx = InvertedIndex(spark, idx_dir)
    queries = gen_queries(args.queries)
    params = BM25Params(k1=0.9, b=0.4, k=args.k)

    # warm-up (JVM + parquet footer caches), then min-of-repeats
    search_kernel(idx, dict(list(queries.items())[:20]), params).count()
    times = []
    n_rows = 0
    for _ in range(args.repeats):
        t0 = time.time()
        n_rows = search_kernel(idx, queries, params).count()
        times.append(time.time() - t0)
        # shuffle files live until their RDDs are GC'd; without a
        # nudge they accumulate across repeats (tmpfs-backed local
        # dir) and later runs read a memory-pressured host
        spark.sparkContext._jvm.System.gc()
    best = min(times)
    peak_rss_gb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6

    report = {
        "metric": "batch_query_throughput",
        "docs": args.docs,
        "queries": args.queries,
        "k": args.k,
        "cpus": args.cpus,
        "batch_seconds": round(best, 2),
        "qps": round(args.queries / best, 1),
        "result_rows": n_rows,
        "runs": [round(t, 2) for t in times],
        "tail": args.tail,
        "driver_peak_rss_gb": round(peak_rss_gb, 2),
        "jvm_peak_rss_gb": round(jvm_peak_rss_gb(), 2),
    }
    print(json.dumps(report))

    if args.no_bench_append:
        return
    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(f"""
## Batch-scale query throughput {stamp} (kernel engine)

{args.docs:,}-doc natural-vocabulary corpus (100K-term Zipf), one
batch of {args.queries:,} queries x k={args.k} through the term-pruned
block kernel with MaxScore on local[{args.cpus}]:

```json
{json.dumps(report, indent=2)}
```

Whole-dev-set batching (SURVEY §7.1 M5): {report['qps']} qps aggregate
(min of {args.repeats}; runs {report['runs']}), driver peak RSS
{report['driver_peak_rss_gb']} GB, driver JVM peak RSS
{report['jvm_peak_rss_gb']} GB.
""")


if __name__ == "__main__":
    main()
