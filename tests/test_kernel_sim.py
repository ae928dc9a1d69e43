"""Pluggable-similarity kernel engine: ranks and scores of all six
similarities vs a brute-force python recompute, and a read assertion
that the kernel path never scans the full docvec postings (term-pruned
blocks read only)."""

import pytest

from anserini_spark.search.qld import search_qld, search_qljm
from anserini_spark.search.searcher import InvertedIndex
from anserini_spark.search.similarities import (
    search_f2exp,
    search_f2log,
    search_inl2,
    search_spl,
)
from tests.runcheck import (assert_matches_brute, assert_term_pruned,
                            kernel_reads)
from tests.test_qld import brute_qld, brute_qljm
from tests.test_similarities import (
    brute,
    corpus_stats,
    f2exp_contrib,
    f2log_contrib,
    inl2_contrib,
    spl_contrib,
)

QUERIES = {1: "spark merge join", 2: "customer value", 3: "the scan"}
K = 25

BRUTE = {
    search_qld: lambda docs, kw: brute_qld(docs, QUERIES, kw["mu"], k=K),
    search_qljm: lambda docs, kw: brute_qljm(docs, QUERIES, kw["lam"], k=K),
    search_inl2: lambda docs, kw: brute(
        docs, corpus_stats(docs), inl2_contrib(**kw), QUERIES, K),
    search_spl: lambda docs, kw: brute(
        docs, corpus_stats(docs), spl_contrib(**kw), QUERIES, K),
    search_f2exp: lambda docs, kw: brute(
        docs, corpus_stats(docs), f2exp_contrib(**kw), QUERIES, K),
    search_f2log: lambda docs, kw: brute(
        docs, corpus_stats(docs), f2log_contrib(**kw), QUERIES, K),
}


@pytest.mark.parametrize("fn,kw", [
    (search_qld, {"mu": 1000.0}),
    (search_qld, {"mu": 250.0}),
    (search_qljm, {"lam": 0.1}),
    (search_inl2, {"c": 1.0}),
    (search_spl, {"c": 1.0}),
    (search_f2exp, {"s": 0.5}),
    (search_f2log, {"s": 0.5}),
])
def test_kernel_matches_dataframe(spark, tiny_index, tiny_docs, fn, kw):
    """The kernel's result DataFrame for each similarity and parameter
    setting, at k=25: ranks exactly as the brute recompute, scores
    within the ScoreTiesAdjuster bound."""
    idx = InvertedIndex(spark, tiny_index)
    assert_matches_brute(fn(idx, QUERIES, k=K, **kw),
                         BRUTE[fn](tiny_docs, kw), QUERIES, K)


def test_kernel_read_is_term_pruned(spark, tiny_index, monkeypatch):
    """The kernel similarity's tasks read blocks.parquet with the query
    terms pushed into the pyarrow read and only the kernel's columns
    (never pos_bin), and open nothing else (no docvec, no full-corpus
    scan)."""
    idx = InvertedIndex(spark, tiny_index)
    reads = kernel_reads(monkeypatch, lambda: search_qld(
        idx, {1: "spark merge"}, k=10).collect(), idx)
    terms = idx.analyze_query("spark merge")
    assert len(terms) == 2
    assert_term_pruned(reads, terms)
