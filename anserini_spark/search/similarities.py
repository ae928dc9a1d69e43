"""Additional similarities from the reference's grid
(`SearchCollection.java:308-327`): DFR InL2, IB SPL, axiomatic
F2EXP / F2LOG.

Formulas implemented from the published models (documented here —
these target formula-level parity, like QLD/QLJM; the bit-exact
float32 path remains BM25):

* **DFR InL2** (`DFRSimilarity(BasicModelIn, AfterEffectL,
  NormalizationH2(c))`, c = 1):

      tfn  = tf * log2(1 + c * avgdl / dl)          (H2)
      score_t = (1 / (tfn + 1))                      (AfterEffect L)
              * tfn * log2((N + 1) / (df + 0.5))     (Basic model In)

* **IB SPL** (`IBSimilarity(DistributionSPL, LambdaDF,
  NormalizationH2(c))`, `SearchCollection.java:314-319`, c = 1):

      tfn     = tf * log2(1 + c * avgdl / dl)            (H2)
      lambda  = (df + 1) / (N + 1)                        (LambdaDF)
      score_t = -log2((lambda^(tfn/(tfn+1)) - lambda) / (1 - lambda))

* **F2EXP / F2LOG** (axiomatic, s = 0.5; Fang & Zhai's axiomatic
  retrieval functions as shipped in Lucene's AxiomaticF2EXP with
  k = 0.35):

      tfpart  = tf / (tf + s + s * dl / avgdl)
      F2EXP_t = c(t, q) * tfpart * ((N + 1) / df)^0.35
      F2LOG_t = c(t, q) * tfpart * ln((N + 1) / df)

All four run through the block-index kernel (`kernel_sim.py` shapes,
term-pruned scan + MaxScore) in float64, like the LM family.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame

from .kernel_sim import search_kernel_similarity
from .searcher import InvertedIndex


def search_inl2(index: InvertedIndex, queries: Dict[int, str],
                c: float = 1.0, k: int = 1000) -> DataFrame:
    return search_kernel_similarity(index, queries, "inl2", k=k, c=c)


def search_spl(index: InvertedIndex, queries: Dict[int, str],
               c: float = 1.0, k: int = 1000) -> DataFrame:
    """Information-based SPL (smoothed power law) — the similarity
    behind the reference's ``-spl`` flag."""
    return search_kernel_similarity(index, queries, "spl", k=k, c=c)


def search_f2exp(index: InvertedIndex, queries: Dict[int, str],
                 s: float = 0.5, kexp: float = 0.35,
                 k: int = 1000) -> DataFrame:
    return search_kernel_similarity(index, queries, "f2exp", k=k, s=s,
                                    kexp=kexp)


def search_f2log(index: InvertedIndex, queries: Dict[int, str],
                 s: float = 0.5, k: int = 1000) -> DataFrame:
    return search_kernel_similarity(index, queries, "f2log", k=k, s=s)
