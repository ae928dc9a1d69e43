"""spark-submit entry point: batch BM25 retrieval -> TREC or MS MARCO
run file (`SearchCollection.main` / `SearchMsmarco.main` analogue).

    spark-submit --master local[32] --py-files anserini_spark.zip \\
        scripts/search.py --index /path/index --topics topics.tsv \\
        --output run.txt [--format trec|msmarco] [--hits 1000] \\
        [--bm25 0.9,0.4]
"""

from __future__ import annotations

import argparse
import os
import sys

# importable without --py-files when run straight from a checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--topics", required=True, help="topics file")
    ap.add_argument("--topicreader", default="tsv",
                    choices=["tsv", "trec", "microblog"])
    ap.add_argument("--searchtweets", action="store_true",
                    help="microblog semantics: per-query "
                         "querytweettime range filter + (score desc, "
                         "id_long desc) tie order "
                         "(-searchtweets analogue)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="trec", choices=["trec", "msmarco"])
    ap.add_argument("--hits", type=int, default=1000)
    ap.add_argument("--bm25", default="0.9,0.4")
    ap.add_argument("--similarity", default="bm25accurate",
                    choices=["bm25", "bm25accurate", "qld", "qljm", "inl2",
                             "spl", "f2exp", "f2log", "sdm"],
                    help="bm25 = default lossy-norm mode; bm25accurate = "
                         "exact norms; rest are the -qld/-inl2/... flags")
    ap.add_argument("--sim-param", type=float, default=None,
                    help="mu / lambda / c / s for the non-BM25 models")
    ap.add_argument("--rm3", action="store_true",
                    help="enable RM3 pseudo-relevance feedback")
    ap.add_argument("--rm3-params", default="10,10,0.5",
                    help="fbDocs,fbTerms,alpha")
    ap.add_argument("--tag", default="AnseriniSpark")
    args = ap.parse_args()

    from anserini_spark.io.runs import (
        read_topics_tsv,
        write_msmarco_run,
        write_trec_run,
    )
    from anserini_spark.search.searcher import SimpleSearcher

    spark = SparkSession.builder.appName("anserini-search").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    k1, b = (float(x) for x in args.bm25.split(","))
    if args.topicreader == "trec":
        from anserini_spark.io.runs import read_trec_topics

        topics = read_trec_topics(args.topics)
    elif args.topicreader == "microblog":
        from anserini_spark.io.topics import read_microblog_topics

        topics = read_microblog_topics(args.topics)
    else:
        topics = read_topics_tsv(spark, args.topics)

    # comma-separated dirs = unmerged slices (MultiSliceIndex)
    index = (args.index.split(",") if "," in args.index else args.index)
    if args.searchtweets:
        from anserini_spark.io.topics import read_microblog_times
        from anserini_spark.search.bm25 import BM25Params
        from anserini_spark.search.searcher import InvertedIndex
        from anserini_spark.search.tweets import search_tweets

        times = read_microblog_times(args.topics)
        missing = sorted(set(topics) - set(times))
        if missing:
            raise ValueError(
                f"topics without <querytweettime>: {missing[:5]} — "
                "the tweet range filter needs one per query")
        if isinstance(index, list):
            from anserini_spark.search.multislice import MultiSliceIndex

            idx = MultiSliceIndex(spark, index)
        else:
            idx = InvertedIndex(spark, index)
        hits = search_tweets(idx, topics, times,
                             BM25Params(k1=k1, b=b, k=args.hits))
    elif args.similarity in ("bm25", "bm25accurate"):
        searcher = SimpleSearcher(spark, index, k1=k1, b=b,
                                  lossy=args.similarity == "bm25")
        if args.rm3:
            fd, ft, al = args.rm3_params.split(",")
            searcher.set_rm3(int(fd), int(ft), float(al))
        hits = searcher.batch_search(topics, k=args.hits)
    else:
        from anserini_spark.search.searcher import InvertedIndex

        if isinstance(index, list):
            from anserini_spark.search.multislice import MultiSliceIndex

            idx = MultiSliceIndex(spark, index)
        else:
            idx = InvertedIndex(spark, index)
        kw = {}
        if args.sim_param is not None:
            kw = {"qld": {"mu": args.sim_param},
                  "qljm": {"lam": args.sim_param},
                  "inl2": {"c": args.sim_param},
                  "spl": {"c": args.sim_param},
                  "f2exp": {"s": args.sim_param},
                  "f2log": {"s": args.sim_param}}[args.similarity]
        if args.similarity == "sdm":
            from anserini_spark.search.bm25 import BM25Params
            from anserini_spark.search.sdm import search_sdm

            hits = search_sdm(idx, topics,
                              BM25Params(k1=k1, b=b, k=args.hits))
        elif args.similarity in ("qld", "qljm"):
            from anserini_spark.search.qld import search_qld, search_qljm

            fn = search_qld if args.similarity == "qld" else search_qljm
            hits = fn(idx, topics, k=args.hits, **kw)
        else:
            from anserini_spark.search import similarities as sims

            fn = getattr(sims, f"search_{args.similarity}")
            hits = fn(idx, topics, k=args.hits, **kw)
    if args.format == "trec":
        write_trec_run(hits, args.output, tag=args.tag)
    else:
        write_msmarco_run(hits, args.output)
    print(f"wrote {args.format} run for {len(topics)} topics -> {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
