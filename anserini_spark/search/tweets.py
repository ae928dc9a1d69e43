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

Implemented as a declarative plan of its own (``_score_dataframe``):
full-collection float32 BM25 over the live docvec postings, then the
per-query id range filter on the candidate rows, BEFORE the top-k,
then the tweet tie-break order. The filter is a plain comparison on a
numeric column, so at scale it is a pushed predicate, never a join.
The tweet path keeps this plan instead of the block kernel: the filter
must cut each query's candidates before top-k, and putting it in the
kernel would make the kernel branch on this single caller.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .searcher import RUN_SCHEMA, BM25Params, InvertedIndex, _query_weights
from .smallfloat import quantize_expr
from .tieadjust import adjust_score_ties


def _score_dataframe(
    index: InvertedIndex, queries: Dict[int, str], params: BM25Params
) -> Optional[DataFrame]:
    """(qid, doc_id, score float32) for every matching live doc, no
    ranking: explode docvec -> broadcast-join the query terms with
    their float32 weights -> float32 contribution -> float64 sum per
    (qid, doc_id), narrowed to float32. None when no query term has
    postings."""
    weights, scorer = _query_weights(index, queries, params)
    rows = [
        (qid, term, float(w))
        for qid, wmap in weights.items()
        for term, w in wmap.items()
    ]
    if not rows:
        return None
    qterms = index.spark.createDataFrame(rows, "qid int, term string, weight float")
    postings = index.live_docvec.select(
        "doc_id",
        "doclen",
        F.explode(F.arrays_zip("terms", "tfs")).alias("e"),
    ).select(
        F.col("e.terms").alias("term"),
        "doc_id",
        F.col("e.tfs").alias("tf"),
        "doclen",
    )
    tf = F.col("tf").cast("float")
    dl = (quantize_expr(F.col("doclen")) if params.lossy
          else F.col("doclen")).cast("float")
    contrib = (
        F.col("weight")
        * tf
        / (tf + F.lit(float(scorer.cache1)).cast("float")
           + F.lit(float(scorer.cache2)).cast("float") * dl)
    )
    return (
        postings.join(F.broadcast(qterms), "term")
        .withColumn("contrib", contrib.cast("float"))
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("contrib").cast("double")).alias("score64"))
        .withColumn("score", F.col("score64").cast("float"))
        .drop("score64")
    )


def search_tweets(index: InvertedIndex, queries: Dict[int, str],
                  tweet_times: Dict[int, int],
                  params: BM25Params = BM25Params()) -> DataFrame:
    """Batch tweet retrieval: (qid, docid, rank, score) with the
    per-qid ``querytweettime`` range filter and the (score desc,
    id_long desc) tie order. ``docid`` stays the string column the
    run-file sinks expect; ``id_long`` is its numeric value."""
    hits = _score_dataframe(index, queries, params)
    if hits is None:
        return index.spark.createDataFrame([], RUN_SCHEMA)
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
