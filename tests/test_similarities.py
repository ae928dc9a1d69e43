"""InL2 / SPL / F2EXP / F2LOG vs brute-force python recompute: ranks
exactly, scores within the ScoreTiesAdjuster bound."""

import math
from collections import Counter

import pytest

from anserini_spark.analysis.analyzer import analyze
from anserini_spark.search.searcher import InvertedIndex
from anserini_spark.search.similarities import (
    search_f2exp,
    search_f2log,
    search_inl2,
    search_spl,
)
from tests.runcheck import assert_matches_brute

QUERIES = {1: "spark merge join", 2: "customer value", 3: "the scan"}
K = 20


def corpus_stats(docs):
    tf, dl, df = {}, {}, Counter()
    for url, text in docs.items():
        toks = analyze(text)
        tf[url] = Counter(toks)
        dl[url] = len(toks)
        df.update(tf[url].keys())
    n = sum(1 for v in dl.values() if v > 0)
    avgdl = sum(dl.values()) / n
    return tf, dl, df, n, avgdl


@pytest.fixture(scope="module")
def stats(tiny_docs):
    return corpus_stats(tiny_docs)


def brute(tiny_docs, stats, contrib, queries=QUERIES, k=K):
    tf, dl, df, n, avgdl = stats
    out = {}
    for qid, qtext in queries.items():
        qc = Counter(analyze(qtext))
        hits = []
        for url in tiny_docs:
            s = 0.0
            for t, boost in qc.items():
                f = tf[url].get(t)
                if f and t in df:
                    s += boost * contrib(f, dl[url], df[t], n, avgdl)
            if s > 0:
                hits.append((url, s))
        hits.sort(key=lambda x: (-x[1], x[0]))
        out[qid] = [(u, r + 1, s) for r, (u, s) in enumerate(hits[:k])]
    return out


def inl2_contrib(c=1.0):
    def contrib(f, d, dfv, n, avgdl):
        tfn = f * math.log2(1 + c * avgdl / d)
        return (1 / (tfn + 1)) * tfn * math.log2((n + 1) / (dfv + 0.5))
    return contrib


def spl_contrib(c=1.0):
    def contrib(f, d, dfv, n, avgdl):
        tfn = f * math.log2(1 + c * avgdl / d)
        lam = (dfv + 1.0) / (n + 1.0)
        return -math.log2((lam ** (tfn / (tfn + 1)) - lam) / (1 - lam))
    return contrib


def f2exp_contrib(s=0.5, kexp=0.35):
    def contrib(f, d, dfv, n, avgdl):
        return f / (f + s + s * d / avgdl) * ((n + 1) / dfv) ** kexp
    return contrib


def f2log_contrib(s=0.5):
    def contrib(f, d, dfv, n, avgdl):
        return f / (f + s + s * d / avgdl) * math.log((n + 1) / dfv)
    return contrib


def test_inl2(spark, tiny_index, tiny_docs, stats):
    idx = InvertedIndex(spark, tiny_index)
    assert_matches_brute(search_inl2(idx, QUERIES, k=K),
                         brute(tiny_docs, stats, inl2_contrib()), QUERIES, K)


def test_f2exp(spark, tiny_index, tiny_docs, stats):
    idx = InvertedIndex(spark, tiny_index)
    assert_matches_brute(search_f2exp(idx, QUERIES, k=K),
                         brute(tiny_docs, stats, f2exp_contrib()), QUERIES, K)


def test_f2log(spark, tiny_index, tiny_docs, stats):
    idx = InvertedIndex(spark, tiny_index)
    assert_matches_brute(search_f2log(idx, QUERIES, k=K),
                         brute(tiny_docs, stats, f2log_contrib()), QUERIES, K)


def test_spl(spark, tiny_index, tiny_docs, stats):
    idx = InvertedIndex(spark, tiny_index)
    assert_matches_brute(search_spl(idx, QUERIES, k=K),
                         brute(tiny_docs, stats, spl_contrib()), QUERIES, K)
