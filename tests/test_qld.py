"""QLD / QLJM vs brute-force python recompute (formula-level parity):
ranks exactly, scores within the ScoreTiesAdjuster bound."""

import math
from collections import Counter

from anserini_spark.analysis.analyzer import analyze
from anserini_spark.search.qld import search_qld
from anserini_spark.search.searcher import InvertedIndex
from tests.runcheck import assert_matches_brute

QUERIES = {1: "spark merge join", 2: "customer value", 3: "the scan"}
K = 20


def brute_qld(docs, queries, mu, k=K):
    tf, dl, cf = {}, {}, Counter()
    for url, text in docs.items():
        toks = analyze(text)
        tf[url] = Counter(toks)
        dl[url] = len(toks)
        cf.update(toks)
    sum_tf = sum(dl.values())
    out = {}
    for qid, qtext in queries.items():
        qc = Counter(analyze(qtext))
        hits = []
        for url in docs:
            s = 0.0
            matched = False
            for t, boost in qc.items():
                f = tf[url].get(t)
                if not f or t not in cf:
                    continue
                p_c = (cf[t] + 1.0) / (sum_tf + 1.0)
                # per-term clamp at 0 (Lucene LMSimilarity.score)
                s += max(0.0, boost * (math.log(1 + f / (mu * p_c))
                                       + math.log(mu / (dl[url] + mu))))
                matched = True
            if matched:
                hits.append((url, s))
        hits.sort(key=lambda x: (-x[1], x[0]))
        out[qid] = [(u, r + 1, s) for r, (u, s) in enumerate(hits[:k])]
    return out


def test_qld_matches_bruteforce(spark, tiny_index, tiny_docs):
    idx = InvertedIndex(spark, tiny_index)
    for mu in (1000.0, 250.0):
        assert_matches_brute(search_qld(idx, QUERIES, mu=mu, k=K),
                             brute_qld(tiny_docs, QUERIES, mu), QUERIES, K)


def brute_qljm(docs, queries, lam=0.1, k=K):
    tf, dl, cf = {}, {}, Counter()
    for url, text in docs.items():
        toks = analyze(text)
        tf[url] = Counter(toks)
        dl[url] = len(toks)
        cf.update(toks)
    sum_tf = sum(dl.values())
    out = {}
    for qid, qtext in queries.items():
        qc = Counter(analyze(qtext))
        hits = []
        for url in docs:
            s = 0.0
            for t, boost in qc.items():
                f = tf[url].get(t)
                if not f or t not in cf:
                    continue
                p_c = (cf[t] + 1.0) / (sum_tf + 1.0)
                s += max(0.0, boost * math.log(
                    1 + ((1 - lam) * f / dl[url]) / (lam * p_c)
                ))
            if s > 0:
                hits.append((url, s))
        hits.sort(key=lambda x: (-x[1], x[0]))
        out[qid] = [(u, r + 1, s) for r, (u, s) in enumerate(hits[:k])]
    return out


def test_qljm_matches_bruteforce(spark, tiny_index, tiny_docs):
    from anserini_spark.search.qld import search_qljm

    idx = InvertedIndex(spark, tiny_index)
    assert_matches_brute(search_qljm(idx, QUERIES, lam=0.1, k=K),
                         brute_qljm(tiny_docs, QUERIES), QUERIES, K)
