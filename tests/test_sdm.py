"""SDM (positional) retrieval vs a brute-force python recompute of the
documented semantics, over a positional index."""

import math
from collections import Counter, defaultdict

import pytest

from anserini_spark.analysis.analyzer import analyze, analyze_with_positions
from anserini_spark.corpus.synth import web_corpus
from anserini_spark.index.build import IndexConfig, build_index
from anserini_spark.search.bm25 import BM25Params
from anserini_spark.search.sdm import (
    ORDERED_MAX_DIST,
    UNORDERED_MAX_DIST,
    W_ORDERED,
    W_TERM,
    W_UNORDERED,
    search_sdm,
)
from anserini_spark.search.searcher import InvertedIndex
from tests.runcheck import assert_matches_brute_exactly, scoring_plan

QUERIES = {1: "spark merge join", 2: "customer value", 3: "scan"}


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("posidx") / "idx")
    corpus = web_corpus(spark, "/root/testdata/sf0.001")
    build_index(spark, corpus, IndexConfig(out_dir=out, doc_partitions=3,
                                           block_partitions=4,
                                           store_positions=True))
    return out


def test_positions_stored_with_gaps(spark, pos_index):
    dv = spark.read.parquet(f"{pos_index}/docvec.parquet")
    row = dv.filter(dv.doclen > 5).first()
    assert row["positions"] is not None
    flat = [p for ps in row["positions"] for p in ps]
    assert len(flat) == row["doclen"]
    assert len(set(flat)) == len(flat)  # one token per position


def test_analyze_with_positions_gaps():
    # "the" is a stopword: removed but still consumes position 0
    tp = analyze_with_positions("the quick dog")
    assert tp == [("quick", 1), ("dog", 2)]


def _brute_sdm(docs, queries, k=20, dead=frozenset()):
    """qid -> [(url, rank, float64 score)] by the documented SDM
    semantics. ``dead`` urls are tombstoned: they never match, unigram
    df/N/avgdl stay stale (they count every doc, Lucene's delete
    contract), pair dfs count live docs only."""
    tf, dl, dfreq, pos = {}, {}, Counter(), {}
    for url, text in docs.items():
        toks = analyze(text)
        tp = analyze_with_positions(text)
        tf[url] = Counter(toks)
        dl[url] = len(toks)
        dfreq.update(tf[url].keys())
        pmap = defaultdict(list)
        for t, p in tp:
            pmap[t].append(p)
        pos[url] = pmap
    n = sum(1 for v in dl.values() if v > 0)
    avgdl = sum(dl.values()) / n
    k1, b = 0.9, 0.4
    live = [url for url in docs if url not in dead]

    def idf(d):
        return math.log(1 + (n - d + 0.5) / (d + 0.5))

    def part(f, d):
        return f / (f + k1 * (1 - b) + k1 * b / avgdl * d)

    out = {}
    for qid, qtext in queries.items():
        toks = analyze(qtext)
        pairs = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)]
        # pair counts per doc
        o_counts, u_counts = defaultdict(dict), defaultdict(dict)
        for pi, (a, bterm) in enumerate(pairs):
            for url in live:
                pa, pb = pos[url].get(a, []), pos[url].get(bterm, [])
                o = sum(1 for p in pa for q in pb
                        if 1 <= q - p <= ORDERED_MAX_DIST)
                u = sum(1 for p in pa for q in pb
                        if q != p and abs(q - p) <= UNORDERED_MAX_DIST)
                if o or u:
                    o_counts[pi][url] = o
                    u_counts[pi][url] = u
        df_o = {pi: sum(1 for v in o_counts[pi].values() if v > 0)
                for pi in o_counts}
        df_u = {pi: sum(1 for v in u_counts[pi].values() if v > 0)
                for pi in u_counts}
        scores = defaultdict(float)
        for url in live:
            s = 0.0
            for t in toks:
                f = tf[url].get(t)
                if f and t in dfreq:
                    s += W_TERM * idf(dfreq[t]) * part(f, dl[url])
            for pi in range(len(pairs)):
                o = o_counts.get(pi, {}).get(url, 0)
                u = u_counts.get(pi, {}).get(url, 0)
                if o > 0:
                    s += W_ORDERED * idf(df_o[pi]) * part(o, dl[url])
                if u > 0:
                    s += W_UNORDERED * idf(df_u[pi]) * part(u, dl[url])
            if s > 0:
                scores[url] = s
        hits = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
        out[qid] = [(u, r + 1, s) for r, (u, s) in enumerate(hits)]
    return out


def test_sdm_matches_bruteforce(spark, pos_index, tiny_docs):
    idx = InvertedIndex(spark, pos_index)
    got = {}
    for r in search_sdm(idx, QUERIES, BM25Params(k=20)).collect():
        got.setdefault(r["qid"], []).append((r["docid"], r["rank"]))
    want = _brute_sdm(tiny_docs, QUERIES)
    for qid in QUERIES:
        assert got.get(qid, []) == [h[:2] for h in want.get(qid, [])], qid


def test_sdm_requires_positions(spark, tiny_index):
    idx = InvertedIndex(spark, tiny_index)
    with pytest.raises(ValueError):
        search_sdm(idx, {1: "spark join"}, BM25Params(k=5))


def test_sdm_kernel_matches_dataframe(spark, pos_index, tiny_docs):
    """Rank and score identity between the positional-blocks kernel
    and the brute-force recompute, incl. a duplicated query term (bag
    boost) and a same-term pair."""
    idx = InvertedIndex(spark, pos_index)
    q = dict(QUERIES)
    q[4] = "spark spark merge"  # duplicate-term bag boost + same-term pair
    assert_matches_brute_exactly(search_sdm(idx, q, BM25Params(k=25)),
                                 _brute_sdm(tiny_docs, q, k=25), q)


def test_sdm_kernel_plan_is_term_pruned(spark, pos_index, monkeypatch):
    """SDM's scoring stage reads the term-pruned positional blocks."""
    idx = InvertedIndex(spark, pos_index)
    plan = scoring_plan(monkeypatch, lambda: search_sdm(
        idx, {1: "spark merge"}, BM25Params(k=5)))
    assert "blocks" in plan
    assert "PushedFilters: [In(term" in plan
    assert "arrays_zip" not in plan  # no positional docvec explode


def test_sdm_releases_its_cache(spark, pos_index):
    """search_sdm persists its kernel rows for three consumers and must
    release them once the survivors are collected: repeated calls (with
    different queries, so no call reuses another's cached plan) do not
    grow the persistent-RDD count."""
    idx = InvertedIndex(spark, pos_index)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for qid, text in QUERIES.items():
        search_sdm(idx, {qid: text}, BM25Params(k=5)).collect()
    assert jsc.getPersistentRDDs().size() == before
