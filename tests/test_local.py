"""LocalSearcher (no-Spark serving path) must be result-identical to
the distributed kernel engine, and fast (no Spark jobs)."""

import time

import pytest

from anserini_spark.search.bm25 import BM25Params
from anserini_spark.search.local import LocalSearcher
from anserini_spark.search.searcher import InvertedIndex, search_kernel

QUERIES = {1: "spark merge join", 2: "customer value", 3: "scan",
           4: "zzz-nothing"}


def test_local_matches_kernel(spark, tiny_index):
    idx = InvertedIndex(spark, tiny_index)
    spark_rows = {}
    for r in search_kernel(idx, QUERIES, BM25Params(k=15)).collect():
        spark_rows.setdefault(r["qid"], []).append(
            (r["docid"], r["rank"], round(float(r["score"]), 6))
        )
    ls = LocalSearcher(tiny_index)
    for qid, qtext in QUERIES.items():
        got = [(u, rk, round(s, 6)) for u, rk, s in ls.search(qtext, k=15)]
        assert got == spark_rows.get(qid, []), qid


def test_local_latency_no_spark(tiny_index):
    ls = LocalSearcher(tiny_index)
    ls.search("spark join", k=10)  # warm pyarrow datasets
    t0 = time.time()
    for _ in range(5):
        ls.search("spark merge join", k=10)
    per_query = (time.time() - t0) / 5
    assert per_query < 0.5, f"local search too slow: {per_query:.3f}s"


def test_local_set_bm25(tiny_index):
    ls = LocalSearcher(tiny_index)
    a = ls.search("spark join", k=5)
    ls.set_bm25(3.44, 0.87)
    b = ls.search("spark join", k=5)
    assert a and b and a != b


def _kernel_hits(idx, qtext, params):
    rows = search_kernel(idx, {1: qtext}, params).collect()
    return [(r["docid"], r["rank"], float(r["score"]))
            for r in sorted(rows, key=lambda r: r["rank"])]


def _tie_cut(hits):
    """A k that cuts through a run of tied scores: hits k-1 and k
    (0-based) are tied, so the url tie-break decides which one is in."""
    for i in range(1, len(hits)):
        if abs(hits[i - 1][2] - hits[i][2] - 1e-6) < 1e-9 and (
                i + 1 < len(hits)
                and abs(hits[i][2] - hits[i + 1][2] - 1e-6) < 1e-9):
            return i + 1
    raise AssertionError("no tied run in the result")


def test_serving_modes_match_kernel(spark, tiny_index):
    """Preloaded, cold and Spark-kernel search give identical tuples
    (url, rank, score bits) on the 3-segment index."""
    idx = InvertedIndex(spark, tiny_index)
    cases = [
        ("spark spark join", {}, 20),    # duplicated query term
        ("spark zzzqqq value", {}, 20),  # a term with no postings
        ("customer value", {"lossy": True}, 25),
        ("merge scan", {"bm25": (1.2, 0.75)}, 25),
    ]
    tie_hits = LocalSearcher(tiny_index, preload=True).search("scan", k=1000)
    cases.append(("scan", {}, _tie_cut(tie_hits)))  # url tie-break at k
    for qtext, opt, k in cases:
        k1, b = opt.get("bm25", (0.9, 0.4))
        lossy = opt.get("lossy", False)
        want = _kernel_hits(idx, qtext, BM25Params(k1=k1, b=b, k=k,
                                                   lossy=lossy))
        assert len(want) == k, qtext
        for preload in (True, False):
            ls = LocalSearcher(tiny_index, lossy=lossy, preload=preload)
            if "bm25" in opt:
                ls.set_bm25(k1, b)
            assert ls.search(qtext, k=k) == want, (qtext, preload)


def test_all_oov_query_is_empty(tiny_index):
    for preload in (True, False):
        assert LocalSearcher(tiny_index, preload=preload).search(
            "zzzqqq qqqzzz", k=10) == []


class _Unreadable:
    def to_table(self, *args, **kwargs):
        raise AssertionError("parquet read after preload")


def test_preloaded_search_reads_no_parquet(tiny_index):
    ls = LocalSearcher(tiny_index, preload=True)
    want = LocalSearcher(tiny_index).search("spark merge join", k=30)
    ls._blocks = ls._dict = ls._docvec = _Unreadable()
    assert ls.search("spark merge join", k=30) == want


def test_failed_query_leaves_no_partial_scores(tiny_index, monkeypatch):
    """A query that fails part-way through the kernel's decode leaves
    nothing behind: the next query scores from zero."""
    ls = LocalSearcher(tiny_index, preload=True)
    want = ls.search("spark merge join", k=30)
    runs = ls._pre[0]
    decode_rows = runs.decode_rows
    calls = []

    def failing(lo, hi):
        calls.append((lo, hi))
        if len(calls) == 2:
            raise RuntimeError("decode failed")
        return decode_rows(lo, hi)

    monkeypatch.setattr(runs, "decode_rows", failing)
    with pytest.raises(RuntimeError):
        ls.search("spark merge join", k=30)
    assert len(calls) == 2
    monkeypatch.setattr(runs, "decode_rows", decode_rows)
    assert ls.search("spark merge join", k=30) == want


def test_concurrent_searches_match_serial(tiny_index):
    """``search`` holds no shared scoring state: 8 threads (more than
    the cores) searching one searcher at once, switching often, get the
    serial results, in both modes."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    texts = ["spark merge join", "customer value", "scan", "merge scan",
             "spark spark join", "value", "window batch stream",
             "slow query table"]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for preload in (True, False):
            ls = LocalSearcher(tiny_index, preload=preload)
            want = [ls.search(t, k=50) for t in texts]
            assert all(want)
            with ThreadPoolExecutor(len(texts)) as pool:
                for _ in range(3):
                    got = list(pool.map(lambda t: ls.search(t, k=50),
                                        texts, timeout=60))
                    assert got == want, preload
    finally:
        sys.setswitchinterval(interval)
