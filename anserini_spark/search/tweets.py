"""Microblog (tweet) retrieval semantics —
`SearchCollection.java:566-590` (``searchTweets``):

* the index is built with the tweet analyzer chain
  (`analysis/tweet.py`), docids ARE tweet ids (``url`` = the decimal
  ``id_long`` string);
* each topic carries a ``querytweettime`` t: tweets with
  ``id_long > t`` (posted after the query) are excluded by a FILTER
  clause — the filter does not touch collection statistics, exactly
  like Lucene's ``LongPoint.newRangeQuery`` FILTER occur;
* score ties break by ``id_long`` DESCENDING (most recent first) —
  ``BREAK_SCORE_TIES_BY_TWEETID`` (`SearchCollection.java:117-119`),
  not the default (score desc, docid asc).

Scoring is the block kernel's segment tasks through ``mapInArrow``
(``searcher._hits_frame``, float32 BM25, tombstones masked at decode)
with k = the index's slot count: MaxScore never cuts and no
per-group top-k fires, so every matching live doc comes out. The
packed hits are exploded, joined to
the docmap, cut by the per-query id range (BEFORE the top-k), and
ranked in the tweet tie order. The filter is a plain comparison on a
numeric column, so at scale it is a pushed predicate, never a join.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bm25 import BM25Params, query_weights
from .searcher import RUN_SCHEMA, InvertedIndex, _hits_frame, _segment_tasks
from .tieadjust import adjust_score_ties


def search_tweets(index: InvertedIndex, queries: Dict[int, str],
                  tweet_times: Dict[int, int],
                  params: BM25Params = BM25Params()) -> DataFrame:
    """Batch tweet retrieval: (qid, docid, rank, score) with the
    per-qid ``querytweettime`` range filter and the (score desc,
    id_long desc) tie order. ``docid`` stays the string column the
    run-file sinks expect; ``id_long`` is its numeric value."""
    weights, scorer = query_weights(index, queries, params)
    slots = sum(int(c) for c in index.stats["segments"].values())
    tasks = _segment_tasks(index, weights, slots,
                           (scorer.cache1, scorer.cache2, params.lossy))
    if tasks is None:
        return index.spark.createDataFrame([], RUN_SCHEMA)
    packed = _hits_frame(index, *tasks)
    hits = packed.select(
        "qid", F.posexplode("doc_id").alias("i", "doc_id"), "score"
    ).select("qid", "doc_id", F.col("score")[F.col("i")].alias("score"))
    times = index.spark.createDataFrame(
        [(int(q), int(t)) for q, t in tweet_times.items()],
        "qid int, tweet_time long")
    docmap = index.docmap.select(
        "doc_id", "url", F.col("url").cast("long").alias("id_long"))
    joined = (
        hits.join(docmap.hint("shuffle_hash"), "doc_id")
        .join(F.broadcast(times), "qid")
        # 0 <= id_long <= querytweettime (no future tweets)
        .filter((F.col("id_long") >= 0)
                & (F.col("id_long") <= F.col("tweet_time")))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.desc("id_long"))
    ranked = (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= params.k)
        .select("qid", F.col("url").alias("docid"), "rank", "score")
    )
    return adjust_score_ties(ranked).orderBy("qid", "rank")
