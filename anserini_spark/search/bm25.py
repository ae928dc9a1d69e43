"""BM25 scoring math, float32, matching the reference's arithmetic.

Reference: `search/similarity/AccurateBM25Similarity.java:29-174` —

    idf(n, N)  = ln(1 + (N - n + 0.5) / (n + 0.5))          (L48-50)
    weight     = boost * idf                                 (float32)
    cache1     = k1 * (1 - b)                                (L123-133)
    cache2     = k1 * b / avgdl
    score(tf, dl) = weight * tf / (tf + cache1 + cache2*dl)  (L136-141)

Defaults k1=0.9, b=0.4 (`SearchArgs.java:115-119`); N = docCount (docs
with >=1 indexed term), avgdl = sumTotalTermFreq / docCount
(`AccurateBM25Similarity.java:52-54`). All arithmetic float32; idf is
computed in float64 then narrowed, as Lucene computes the double idf
and stores the float weight.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Dict, Optional, Tuple

import numpy as np

from .smallfloat import quantize_length


@dataclass(frozen=True)
class BM25Params:
    k1: float = 0.9
    b: float = 0.4
    k: int = 1000  # hits (SearchArgs.java:85-86)
    # lossy=True reproduces the reference's DEFAULT ``-bm25`` runs:
    # doclen is quantized through Lucene's SmallFloat byte4 roundtrip
    # (the 1-byte norm of BM25Similarity; see
    # `util/ExtractDocumentLengths.java:85-93`). lossy=False is the
    # ``-bm25accurate`` exact-norm path (AccurateBM25Similarity).
    lossy: bool = False


def idf(df: int, doc_count: int) -> float:
    return math.log(1.0 + (doc_count - df + 0.5) / (df + 0.5))


class BM25Scorer:
    """Per-collection float32 constants: ``cache1``/``cache2`` and the
    per-term ``weight``; the tf-part is ``tf_part``."""

    def __init__(self, doc_count: int, avgdl: float, params: BM25Params):
        self.doc_count = doc_count
        self.cache1 = np.float32(params.k1) * (
            np.float32(1.0) - np.float32(params.b)
        )
        self.cache2 = np.float32(params.k1) * np.float32(params.b) / np.float32(
            avgdl
        )

    def weight(self, df: int) -> np.float32:
        return np.float32(idf(df, self.doc_count))


def tf_part(tfs, dls, cache1, cache2, lossy: bool) -> np.ndarray:
    """float32 BM25 tf-part ``tf / (tf + cache1 + cache2 * dl)``, the
    one copy shared by the Spark kernel and ``LocalSearcher``. Callers
    apply the term weight after it, as ``(w * part).astype(float32)``.
    ``lossy`` quantizes dl through the SmallFloat byte4 roundtrip;
    that is monotone, so a block's (max_tf, min_dl) still bounds it."""
    tf32 = np.asarray(tfs).astype(np.float32)
    dl32 = (quantize_length(dls) if lossy
            else np.asarray(dls)).astype(np.float32)
    return tf32 / (tf32 + np.float32(cache1) + np.float32(cache2) * dl32)


def query_weights(
    index, queries: Dict[int, str], params: BM25Params,
    boosts: Optional[Dict[int, Dict[str, float]]] = None,
    boosts_are_final: bool = False,
) -> Tuple[Dict[int, Dict[str, np.float32]], BM25Scorer]:
    """Analyze queries, look up dfs, precompute float32 term weights,
    for any ``index`` with ``stats``, ``analyze_query(text)`` and
    ``term_dfs(terms)`` (the Spark and the local searcher alike).

    Bag-of-words semantics (`BagOfWordsQueryGenerator.java:34-43`):
    duplicate query terms act as boost = occurrence count. When
    ``boosts`` is given (RM3/expansion path: pre-analyzed term ->
    boost maps, `Rm3Reranker.java:96-116` BoostQuery analogue), the
    per-term weight is boost * idf and ``queries`` text is ignored for
    those qids."""
    scorer = BM25Scorer(index.stats["doc_count"], index.stats["avgdl"], params)
    boosts = boosts or {}
    per_q_tokens = {
        qid: index.analyze_query(text)
        for qid, text in queries.items()
        if qid not in boosts
    }
    all_terms = {t for toks in per_q_tokens.values() for t in toks}
    all_terms |= {t for m in boosts.values() for t in m}
    dfs = index.term_dfs(all_terms)
    weights: Dict[int, Dict[str, np.float32]] = {}
    for qid, toks in per_q_tokens.items():
        wmap: Dict[str, np.float32] = {}
        for t in toks:
            if t not in dfs:  # zero-hit term: no postings, contributes 0
                continue
            if t in wmap:
                wmap[t] = np.float32(wmap[t] + scorer.weight(dfs[t]))
            else:
                wmap[t] = scorer.weight(dfs[t])
        weights[qid] = wmap
    for qid, bmap in boosts.items():
        if boosts_are_final:
            # BM25PRF path: the boost IS the term weight (idf ≡ 1,
            # `BM25PrfReranker.java:54-65` BM25PrfSimilarity)
            weights[qid] = {
                t: np.float32(b) for t, b in bmap.items() if t in dfs
            }
        else:
            weights[qid] = {
                t: np.float32(np.float32(b) * scorer.weight(dfs[t]))
                for t, b in bmap.items()
                if t in dfs
            }
    return weights, scorer
