"""Score-ties adjustment — the always-on final reranker stage.

Reference: `rerank/lib/ScoreTiesAdjusterReranker.java:36-73`: walk hits
in rank order; round each score to 4 decimals; within a run of equal
rounded scores subtract ``dup * 1e-6`` where ``dup`` counts prior
duplicates in the run, so emitted scores strictly decrease and
trec_eval re-sorting cannot permute ties.

``rank_hits`` is the one final order and tie rounding of every kernel
search, run on the driver by the Spark engines and ``LocalSearcher``
alike: (score desc, url asc) — BREAK_SCORE_TIES_BY_DOCID on the
collection docid (`SearchCollection.java:115-116`) — then the rounding
above. ``adjust_score_ties`` is the same rounding as window ops, for
the DataFrame paths that keep their own order (tweets, boolean).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Callable, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

Hit = Tuple[str, int, float]


def adjust_score_ties(hits: DataFrame, qid_col: str = "qid",
                      rank_col: str = "rank",
                      score_col: str = "score") -> DataFrame:
    rounded = F.round(F.col(score_col).cast("double"), 4)
    w = Window.partitionBy(qid_col, rounded).orderBy(F.col(rank_col))
    dup = F.row_number().over(w) - F.lit(1)
    return hits.withColumn(
        score_col, rounded - dup.cast("double") * F.lit(1e-6)
    )


def keep_topk(ids: np.ndarray, scores: np.ndarray, k: int):
    """``(ids, scores)`` of every candidate scoring >= the kth-largest
    score (kth-score ties kept, so a url tie-break stays exact)."""
    if len(scores) <= k:
        return ids, scores
    kth = np.partition(scores, len(scores) - k)[len(scores) - k]
    keep = scores >= kth
    return ids[keep], scores[keep]


class Urls:
    """Doc urls keyed by sorted ids (doc ids or accumulator slots), and
    each url's rank in byte-wise url order (Spark's string order)."""

    def __init__(self, keys: np.ndarray, urls: pa.Array):
        order = np.argsort(keys, kind="stable")
        self.keys = keys[order]
        self.urls = urls.take(pa.array(order))
        self.rank = np.empty(len(order), dtype=np.int64)
        self.rank[pc.sort_indices(self.urls).to_numpy()] = np.arange(
            len(order))


def round4(scores: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 4)``: HALF_UP on the double's shortest
    decimal form. Python's ``round`` (np.round is not bit-identical)
    agrees except on exact midpoints, where it rounds the binary value
    half-even (``round(1.03125, 4)`` is 1.0312, Spark's 1.0313); only
    scores within 1e-9 of a 4-place midpoint take the decimal path."""
    x = np.asarray(scores, dtype=np.float64)
    vals = x.tolist()
    out = [round(s, 4) for s in vals]
    y = x * 1e4
    for i in np.flatnonzero(np.abs(y - np.floor(y) - 0.5) < 1e-5).tolist():
        out[i] = float(Decimal(repr(vals[i])).quantize(
            Decimal("1e-4"), rounding=ROUND_HALF_UP))
    return np.array(out, dtype=np.float64)


def rank_hits(ids: np.ndarray, scores: np.ndarray,
              urls: Callable[[np.ndarray], Urls], k: int) -> List[Hit]:
    """One query's ranked run ``[(url, rank, tie-adjusted score)]``
    from its candidates; ``urls(ids)`` is asked for the survivors of
    ``keep_topk`` only."""
    ids, scores = keep_topk(ids, scores, k)
    if not len(ids):
        return []
    u = urls(ids)
    pos = np.searchsorted(u.keys, ids)
    order = np.lexsort((u.rank[pos], -scores))[:k]
    names = u.urls.take(pa.array(pos[order])).to_pylist()
    r = round4(scores[order])
    # each score steps down 1e-6 per earlier equal rounded score
    starts = np.flatnonzero(np.r_[True, r[1:] != r[:-1]])
    dup = np.arange(len(r)) - np.repeat(starts, np.diff(np.r_[starts, len(r)]))
    return list(zip(names, range(1, len(r) + 1),
                    (r - dup * 1e-6).tolist()))
