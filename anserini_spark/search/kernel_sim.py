"""Pluggable-similarity retrieval through the block-index kernel.

The reference scores every similarity through the same Lucene
index/search machinery — the Similarity is a plugin
(`SearchCollection.java:281-334`). This module is the Spark analogue:
QLD, QLJM, DFR InL2, IB SPL, and axiomatic F2EXP/F2LOG run through
the SAME term-pruned ``blocks.parquet`` scan + per-segment Arrow
kernel, MaxScore pruning and tail as BM25
(``searcher._search_blocks``), by
supplying a per-term "shape" function ``shape_t(tf, dl) ->
contribution`` (float64). `search/qld.py` and `search/similarities.py`
are thin named entry points over ``search_kernel_similarity``; the
tests hold each shape to a brute-force Python recompute and the gates
to the DuckDB SQL oracles.

Validity of MaxScore here: every shape below is non-negative (QLD is
clamped per term, Lucene ``LMSimilarity.score`` semantics),
increasing in tf and non-increasing in dl, so ``shape(max_tf,
min_dl)`` upper-bounds every posting in a block.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable, Dict, Optional

import numpy as np
from pyspark.sql import DataFrame

from .searcher import InvertedIndex, Run, _search_blocks, run_frame

_LOG2 = np.log(2.0)


def _shape_qld(df: int, cf: int, n: float, avgdl: float, sum_tf: float,
               mu: float = 1000.0):
    # (cf+1)/(sum+1): Lucene LMSimilarity.DefaultCollectionModel
    p_c = (cf + 1.0) / (sum_tf + 1.0)

    def shape(tf, dl):
        tf = tf.astype(np.float64)
        dl = dl.astype(np.float64)
        return np.maximum(
            0.0, np.log1p(tf / (mu * p_c)) + np.log(mu / (dl + mu))
        )

    return shape


def _shape_qljm(df: int, cf: int, n: float, avgdl: float, sum_tf: float,
                lam: float = 0.1):
    p_c = (cf + 1.0) / (sum_tf + 1.0)

    def shape(tf, dl):
        tf = tf.astype(np.float64)
        dl = dl.astype(np.float64)
        # log(1 + x), not log1p: Lucene LMJelinekMercerSimilarity
        # computes Math.log(1 + ...) (rounds 1+x first) and the DuckDB
        # oracle's ln(1.0 + x) does the same — bit-parity on tie order
        return np.maximum(
            0.0, np.log(1.0 + ((1.0 - lam) * tf / dl) / (lam * p_c))
        )

    return shape


def _shape_inl2(df: int, cf: int, n: float, avgdl: float, sum_tf: float,
                c: float = 1.0):
    basic = np.log((n + 1.0) / (df + 0.5)) / _LOG2

    def shape(tf, dl):
        # log(1 + x), not log1p: the DuckDB oracle computes
        # ln(1.0 + c*avgdl/dl) (rounds 1+x first) — same parity move
        # as _shape_qljm (round-6 ADVICE)
        tfn = tf.astype(np.float64) * np.log(
            1.0 + c * avgdl / dl.astype(np.float64)) / _LOG2
        return tfn * basic / (tfn + 1.0)

    return shape


def _shape_spl(df: int, cf: int, n: float, avgdl: float, sum_tf: float,
               c: float = 1.0):
    lam = (df + 1.0) / (n + 1.0)
    # Lucene DistributionSPL guard: df == doc_count gives lam == 1, and
    # (lam^x - lam)/(1 - lam) is then 0/0 -> NaN (which would also poison
    # the MaxScore upper bounds). Mirror Lucene: clamp to 0.99.
    if lam == 1.0:
        lam = 0.99

    def shape(tf, dl):
        # log(1 + x), not log1p — oracle parity, see _shape_inl2
        tfn = tf.astype(np.float64) * np.log(
            1.0 + c * avgdl / dl.astype(np.float64)) / _LOG2
        return -np.log((lam ** (tfn / (tfn + 1.0)) - lam) / (1.0 - lam)) / _LOG2

    return shape


def _shape_f2exp(df: int, cf: int, n: float, avgdl: float, sum_tf: float,
                 s: float = 0.5, kexp: float = 0.35):
    idf = ((n + 1.0) / df) ** kexp

    def shape(tf, dl):
        tf = tf.astype(np.float64)
        return tf / (tf + s + s * dl.astype(np.float64) / avgdl) * idf

    return shape


def _shape_f2log(df: int, cf: int, n: float, avgdl: float, sum_tf: float,
                 s: float = 0.5):
    idf = np.log((n + 1.0) / df)

    def shape(tf, dl):
        tf = tf.astype(np.float64)
        return tf / (tf + s + s * dl.astype(np.float64) / avgdl) * idf

    return shape


def _shape_bm25(df: int, cf: int, n: float, avgdl: float, sum_tf: float,
                k1: float = 0.9, b: float = 0.4):
    """float64 BM25 (AccurateBM25Similarity formula) — used by the
    driver-gate index query, where the DuckDB oracle is float64; the
    float32 bit-parity path is ``search_kernel``."""
    idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
    c1 = k1 * (1.0 - b)
    c2 = k1 * b / avgdl

    def shape(tf, dl):
        tf = tf.astype(np.float64)
        return idf * tf / (tf + c1 + c2 * dl.astype(np.float64))

    return shape


def _shape_bm25prf(df: int, cf: int, n: float, avgdl: float, sum_tf: float,
                   k1: float = 0.9, b: float = 0.4):
    """BM25PrfSimilarity (`rerank/lib/BM25PrfReranker.java:54-65`):
    the BM25 tf-part with idf ≡ 1 — the RSJ relevance weight arrives
    as the per-term boost, so contribution = rw * tf-part."""
    c1 = k1 * (1.0 - b)
    c2 = k1 * b / avgdl

    def shape(tf, dl):
        tf = tf.astype(np.float64)
        return tf / (tf + c1 + c2 * dl.astype(np.float64))

    return shape


_BUILDERS: Dict[str, Callable] = {
    "bm25": _shape_bm25,
    "bm25prf": _shape_bm25prf,
    "qld": _shape_qld,
    "qljm": _shape_qljm,
    "inl2": _shape_inl2,
    "spl": _shape_spl,
    "f2exp": _shape_f2exp,
    "f2log": _shape_f2log,
}


def search_kernel_similarity(
    index: InvertedIndex,
    queries: Dict[int, str],
    sim: str,
    k: int = 1000,
    boosts: Optional[Dict[int, Dict[str, float]]] = None,
    **params,
) -> DataFrame:
    """``kernel_similarity_runs`` as a ``RUN_SCHEMA`` DataFrame."""
    return run_frame(index.spark, kernel_similarity_runs(
        index, queries, sim, k, boosts, **params))


def kernel_similarity_runs(
    index: InvertedIndex,
    queries: Dict[int, str],
    sim: str,
    k: int = 1000,
    boosts: Optional[Dict[int, Dict[str, float]]] = None,
    **params,
) -> Run:
    """Retrieve with a named similarity through the block-index
    kernel. Per-query term boosts are occurrence counts (bag of
    words) unless explicit ``boosts`` maps (qid -> term -> weight)
    are given — the BoostQuery analogue for expansion models (RM3)
    running through the float64 shape path; contribution is then
    ``boost * shape(term stats, tf, dl)``."""
    builder = _BUILDERS[sim]
    per_q = (dict(boosts) if boosts is not None else
             {qid: Counter(index.analyze_query(t))
              for qid, t in queries.items()})
    all_terms = sorted({t for c in per_q.values() for t in c})
    stats = index.term_stats(all_terms)  # driver-side pyarrow lookup
    n = float(index.stats["doc_count"])
    avgdl = float(index.stats["avgdl"])
    sum_tf = float(index.stats["sum_tf"])
    shape_fns = {
        t: builder(df, cf, n, avgdl, sum_tf, **params)
        for t, (df, cf) in stats.items()
    }
    boosts = {
        qid: {t: float(cnt) for t, cnt in c.items() if t in shape_fns}
        for qid, c in per_q.items()
    }
    boosts = {qid: m for qid, m in boosts.items() if m}
    # Lucene returns every doc matching >=1 query term, INCLUDING
    # docs whose clamped LM score is 0 (golden: QLD `1 Q0 WSJ_1 3
    # 0.000000`, `TrecEndToEndTest.java:92-96`) — no score filter
    return _search_blocks(index, boosts, k, consts=None,
                          shape_fns=shape_fns)
