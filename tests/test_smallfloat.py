"""SmallFloat byte4 lossy-norm mode — the reference's DEFAULT BM25
(`util/ExtractDocumentLengths.java:85-93`; Lucene BM25Similarity's
1-byte norm). Pins: the encode/decode algorithm, its vectorized
variant, and a golden corpus where the exact and lossy modes produce
DIFFERENT rankings (so the mode is actually exercised, not a no-op)."""

import numpy as np
import pytest

from anserini_spark.index.build import IndexConfig, build_index
from anserini_spark.search.bm25 import BM25Params
from anserini_spark.search.local import LocalSearcher
from anserini_spark.search.searcher import InvertedIndex, search_kernel
from anserini_spark.search.smallfloat import (
    byte4_to_int,
    int_to_byte4,
    quantize_length,
)


def test_byte4_roundtrip_is_top4bit_truncation():
    for i in list(range(0, 4096)) + [2**20 + 12345, 2**30 - 1]:
        code = int_to_byte4(i)
        assert 0 <= code < 256
        q = byte4_to_int(code)
        sh = max(0, i.bit_length() - 4)
        assert q == (i >> sh) << sh, i


def test_byte4_known_values():
    # values <16 are exact; beyond that the low bits are zeroed
    for i in range(16):
        assert byte4_to_int(int_to_byte4(i)) == i
    assert byte4_to_int(int_to_byte4(127)) == 120
    assert byte4_to_int(int_to_byte4(128)) == 128
    assert byte4_to_int(int_to_byte4(1000)) == 960


def test_byte4_monotone_and_vectorized():
    arr = np.arange(0, 100000)
    q = quantize_length(arr)
    assert np.all(np.diff(q) >= 0)  # monotone -> block-max bound valid
    for i in (0, 1, 7, 8, 127, 128, 999, 99999):
        assert int(q[i]) == byte4_to_int(int_to_byte4(i))


@pytest.fixture(scope="module")
def norm_index(spark, tmp_path_factory):
    """ws-analyzed corpus engineered so lossy and exact norms rank
    differently: doc a (dl=127) and doc b (dl=120) both quantize to
    120, turning b's exact length advantage into a score tie broken
    by url."""
    out = str(tmp_path_factory.mktemp("normidx") / "idx")

    def doc(url, dl, n_zzz, salt):
        fillers = " ".join(f"w{salt}x{i}" for i in range(dl - n_zzz))
        return (url, ("zzz " * n_zzz + fillers).strip(), "en")

    rows = [
        doc("https://a.example.org/1", 127, 2, "a"),
        doc("https://b.example.org/1", 120, 2, "b"),
        doc("https://c.example.org/1", 40, 0, "c"),
        doc("https://d.example.org/1", 90, 0, "d"),
        doc("https://e.example.org/1", 300, 1, "e"),
    ]
    corpus = spark.createDataFrame(rows, "url string, text string, lang string")
    build_index(spark, corpus, IndexConfig(out_dir=out, analyzer="ws",
                                           doc_partitions=2,
                                           block_partitions=2))
    return out


def test_lossy_mode_changes_ranking(spark, norm_index):
    idx = InvertedIndex(spark, norm_index)
    q = {1: "zzz"}
    exact = [r["docid"] for r in
             search_kernel(idx, q, BM25Params(k=10)).collect()]
    lossy = [r["docid"] for r in
             search_kernel(idx, q, BM25Params(k=10, lossy=True)).collect()]
    # exact: b (dl 120) beats a (dl 127); lossy: tie -> url asc -> a first
    assert exact[:2] == ["https://b.example.org/1", "https://a.example.org/1"]
    assert lossy[:2] == ["https://a.example.org/1", "https://b.example.org/1"]


def _docs(spark, norm_index):
    """The indexed corpus as text: each term repeated tf times (ws
    analyzer: identity), the input ``oracle_topk`` scores."""
    docvec = spark.read.parquet(f"{norm_index}/docvec.parquet").collect()
    return {
        r["url"]: " ".join(t for t, tf in zip(r["terms"], r["tfs"])
                           for _ in range(tf))
        for r in docvec
    }


def test_lossy_engines_rank_identical(spark, norm_index):
    """Spark kernel and LocalSearcher, lossy norms, both == oracle."""
    from anserini_spark.search.oracle import oracle_topk

    idx = InvertedIndex(spark, norm_index)
    q = {1: "zzz", 2: "zzz zzz w ex"}
    p = BM25Params(k=10, lossy=True)
    want = oracle_topk(_docs(spark, norm_index), q, lambda s: s.split(), p)
    want = [(qid, u, rk, round(s, 6))
            for qid in sorted(want) for u, rk, s in want[qid]]

    kern = [(r["qid"], r["docid"], r["rank"], round(float(r["score"]), 6))
            for r in search_kernel(idx, q, p).collect()]
    assert kern == want

    ls = LocalSearcher(norm_index, lossy=True)
    local = [(qid, u, rk, round(s, 6))
             for qid in sorted(q) for u, rk, s in ls.search(q[qid], k=10)]
    assert local == want


def test_lossy_oracle_agreement(spark, norm_index):
    """Kernel lossy run == numpy oracle with the same quantization."""
    from anserini_spark.search.oracle import oracle_topk

    idx = InvertedIndex(spark, norm_index)
    p = BM25Params(k=10, lossy=True)
    q = {1: "zzz"}
    want = oracle_topk(_docs(spark, norm_index), q, lambda s: s.split(), p)
    got = [(r["docid"], r["rank"], round(float(r["score"]), 6))
           for r in search_kernel(idx, q, p).collect()]
    assert got == [(u, rk, round(s, 6)) for u, rk, s in want[1]]
