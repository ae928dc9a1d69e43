"""Language-model similarities — QLD (Dirichlet) and QLJM
(Jelinek-Mercer), selected in the reference by
`SearchCollection.java:298-307` (Lucene ``LMDirichletSimilarity(mu)``
default mu=1000, ``LMJelinekMercerSimilarity(lambda)`` default 0.1,
`SearchArgs.java:125-139`).

Per-matched-term contributions:

    p(t|C)   = (cf_t + 1) / (sumTotalTermFreq + 1)

(the +1s are Lucene's ``LMSimilarity.DefaultCollectionModel`` —
pinned by the reference's end-to-end golden run lines, e.g. QLD
``1 Q0 DOC222 1 0.002500``, `TrecEndToEndTest.java:92-96`)
    QLD_t    = max(0, log(1 + tf / (mu * p(t|C))) + log(mu / (dl + mu)))
    QLJM_t   = max(0, log(1 + ((1-lambda) * tf / dl) / (lambda * p(t|C))))
    doc      = sum_t score_t

The clamp is PER TERM, matching Lucene's ``LMSimilarity.score``
(``return score > 0.0d ? score : 0.0d`` applied to each term's
score before the disjunction sums them) — a doc mixing positive and
negative term contributions keeps its positive parts.

Both run through the block-index kernel (term-pruned scan +
MaxScore, see `kernel_sim.py`) in float64 — the LM parity target is
formula-level, not Lucene-float32-bit-level; the float32 path is BM25.
Duplicate query terms contribute once per occurrence (bag-of-words).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame

from .kernel_sim import search_kernel_similarity
from .searcher import InvertedIndex


def search_qld(index: InvertedIndex, queries: Dict[int, str], mu: float = 1000.0,
               k: int = 1000) -> DataFrame:
    return search_kernel_similarity(index, queries, "qld", k=k, mu=mu)


def search_qljm(index: InvertedIndex, queries: Dict[int, str],
                lam: float = 0.1, k: int = 1000) -> DataFrame:
    return search_kernel_similarity(index, queries, "qljm", k=k, lam=lam)
