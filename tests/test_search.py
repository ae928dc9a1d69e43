"""Golden top-k runs (FIXTURES.md §7): the Spark kernel engine must be
rank- AND score-identical to the pure-numpy float32 oracle, with
tie adjustment applied — the analogue of the reference's pinned
6-decimal run lines (`integration/TrecEndToEndTest.java:83-126`).
Also pins segment-count invariance (merge/parallelism parity,
`MultiThreadingSearchTest` analogue)."""

import pytest

from anserini_spark.analysis.analyzer import analyze
from anserini_spark.search.bm25 import BM25Params
from anserini_spark.search.oracle import oracle_topk
from anserini_spark.search.searcher import (
    InvertedIndex,
    SimpleSearcher,
    search_kernel,
)
from tests.runcheck import jobs_and_stages

QUERIES = {
    1: "spark merge join",
    2: "the window batch stream",      # leading stopword
    3: "zzz-notfound quux",            # zero-hit
    4: "customer value",
    5: "scan",                         # single common term -> many ties
    6: "City buses are running on schedule",  # analyzer chain exercised
}


def _rows(df):
    return [
        (r["qid"], r["docid"], r["rank"], round(float(r["score"]), 6))
        for r in df.collect()
    ]


@pytest.fixture(scope="module")
def golden(tiny_docs):
    runs = oracle_topk(tiny_docs, QUERIES, analyze, BM25Params(k=20))
    out = []
    for qid in sorted(runs):
        for url, rank, score in runs[qid]:
            out.append((qid, url, rank, round(score, 6)))
    return out


def test_kernel_engine_matches_oracle(spark, tiny_index, golden):
    idx = InvertedIndex(spark, tiny_index)
    got = _rows(search_kernel(idx, QUERIES, BM25Params(k=20)))
    assert got == golden


@pytest.fixture(scope="module")
def idx7(spark, tmp_path_factory):
    """The tiny corpus in 7 segments, more than the session's 4 cores."""
    from anserini_spark.corpus.synth import web_corpus
    from anserini_spark.index.build import IndexConfig, build_index

    out = str(tmp_path_factory.mktemp("idx7") / "idx7")
    corpus = web_corpus(spark, "/root/testdata/sf0.001")
    build_index(spark, corpus, IndexConfig(out_dir=out, doc_partitions=7,
                                           block_partitions=2))
    return out


def test_segment_count_invariance(spark, idx7, golden):
    """Same corpus indexed with a different segment/partition layout
    must produce the identical run (Lucene's thread-count invariance)."""
    idx = InvertedIndex(spark, idx7)
    assert _rows(search_kernel(idx, QUERIES, BM25Params(k=20))) == golden


def test_segment_groups_send_one_batch_and_fit_the_driver_tail(
        spark, idx7, golden, monkeypatch):
    """With more segments than cores, a task scores its group of
    segments as one: it sends one hits batch per group, and the
    driver-tail bound counts |queries| x sum over groups of min(k,
    group docs), so a batch that fits by groups (though not by
    segments) runs the driver tail and gives the golden run."""
    from anserini_spark.search import searcher
    from anserini_spark.search.bm25 import query_weights
    from anserini_spark.search.kernel import HITS_SCHEMA

    idx = InvertedIndex(spark, idx7)
    p = BM25Params(k=20)
    counts = {int(s): int(c) for s, c in idx.stats["segments"].items()}
    weights, scorer = query_weights(idx, QUERIES, p)
    groups, task = searcher._segment_tasks(
        idx, weights, p.k, (scorer.cache1, scorer.cache2, p.lossy))
    assert len(counts) > len(groups) == spark.sparkContext.defaultParallelism
    assert max(len(g) for g in groups) > 1
    for g in groups:
        batches = list(task(g))
        assert len(batches) == 1 and batches[0].schema == HITS_SCHEMA, g
    by_group = len(QUERIES) * sum(
        min(p.k, sum(counts[s] for s in g)) for g in groups)
    assert by_group < len(QUERIES) * sum(min(p.k, c) for c in counts.values())

    def no_spark_tail(*args):
        raise AssertionError("the Spark tail ran")

    monkeypatch.setattr(searcher, "DRIVER_TAIL_MAX_CANDIDATES", by_group)
    monkeypatch.setattr(searcher, "_spark_tail", no_spark_tail)
    run = searcher.kernel_runs(idx, QUERIES, p)
    assert isinstance(run, dict)
    assert _rows(searcher.run_frame(spark, run)) == golden


def test_simple_searcher_api(spark, tiny_index):
    s = SimpleSearcher(spark, tiny_index)
    hits = s.search("spark merge join", k=5)
    assert len(hits) == 5
    assert hits[0][1] == 1
    scores = [h[2] for h in hits]
    assert scores == sorted(scores, reverse=True)
    s.set_bm25(1.2, 0.75)
    hits2 = s.search("spark merge join", k=5)
    assert len(hits2) == 5


def test_score_ties_strictly_decreasing(spark, tiny_index):
    idx = InvertedIndex(spark, tiny_index)
    rows = _rows(search_kernel(idx, {5: "scan"}, BM25Params(k=50)))
    scores = [r[3] for r in rows]
    assert all(a > b for a, b in zip(scores, scores[1:])), "ties not adjusted"


def test_batch_search_list_form(spark, tiny_index):
    """Reference-parity batch_search(List[str] queries, List[str] qids,
    k, threads) -> {qid: [(docid, rank, score)]}
    (`SimpleSearcher.java:213-284`), identical hits to the dict form."""
    from anserini_spark.search.searcher import SimpleSearcher

    s = SimpleSearcher(spark, tiny_index)
    queries = ["spark merge join", "customer value"]
    got = s.batch_search(queries, ["q-a", "q-b"], k=5, threads=4)
    assert set(got) == {"q-a", "q-b"}
    df = s.batch_search({0: queries[0], 1: queries[1]}, k=5)
    want = {"q-a": [], "q-b": []}
    for r in df.collect():
        want["q-a" if r["qid"] == 0 else "q-b"].append(
            (r["docid"], r["rank"], r["score"]))
    assert got == want
    assert [h[1] for h in got["q-a"]] == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError):
        s.batch_search(queries, ["only-one"], k=5)
    with pytest.raises(ValueError):
        s.batch_search(queries, ["a", "b"], k=5, threads=0)


def test_simple_searcher_set_qld(spark, tiny_index):
    """set_qld routes ranking through the QLD kernel shape
    (`SimpleSearcher.setLMDirichletSimilarity`, SimpleSearcher.java:
    192-198); set_bm25 switches back."""
    from anserini_spark.search.kernel_sim import search_kernel_similarity

    s = SimpleSearcher(spark, tiny_index)
    bm25 = s.search("spark merge join", k=5)
    s.set_qld(mu=1000.0)
    qld = s.search("spark merge join", k=5)
    idx = s.index
    want = [(r["docid"], r["rank"], r["score"]) for r in
            search_kernel_similarity(idx, {0: "spark merge join"}, "qld",
                                     k=5, mu=1000.0).collect()]
    assert qld == want
    assert qld != bm25  # different similarity, different scores
    s.set_rm3()
    try:
        s.search("spark", k=5)
        raise AssertionError("qld+rm3 must refuse, not silently ignore")
    except NotImplementedError:
        pass
    s.unset_rm3()
    s.set_bm25(0.9, 0.4)
    assert s.search("spark merge join", k=5) == bm25


def test_search_is_one_spark_job(spark, tiny_index):
    """A search() and a 50-query list-form batch_search each run one
    Spark job of one stage (no Exchange): a task per segment group
    reads and scores its blocks; the merge, url lookup, order and tie
    rounding run on the driver."""
    s = SimpleSearcher(spark, tiny_index)
    s.search("spark merge join", k=10)
    texts = [QUERIES[q] for q in (1, 2, 4, 5, 6)] * 10
    calls = {
        "single": lambda: s.search("customer value", k=1000),
        "batch50": lambda: s.batch_search(
            texts, [str(i) for i in range(50)], k=1000),
    }
    for name, call in calls.items():
        assert jobs_and_stages(spark.sparkContext, f"one-job-{name}",
                                call) == (1, 1), name


def test_first_search_of_a_new_handle_skips_docvec(spark, tiny_index):
    """A new handle's first search on an untombstoned index runs only
    its scoring job: no Spark source is opened (blocks are read by the
    tasks, docvec is not touched without a tombstone marker)."""
    from anserini_spark.index.tombstones import has_tombstones

    assert not has_tombstones(tiny_index)
    assert jobs_and_stages(
        spark.sparkContext, "first-search",
        lambda: SimpleSearcher(spark, tiny_index).search(
            "spark merge join", k=10))[0] == 1


def test_term_stats_read_error_surfaces(spark, tiny_index, monkeypatch):
    """A failing dictionary read raises; it does not fall back to a
    Spark scan of the dictionary."""
    import pyarrow.dataset

    def failing_dataset(*args, **kwargs):
        raise OSError("dictionary unreadable")

    idx = InvertedIndex(spark, tiny_index)
    monkeypatch.setattr(pyarrow.dataset, "dataset", failing_dataset)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("term-stats-error", "term_stats read error")
        with pytest.raises(OSError, match="dictionary unreadable"):
            idx.term_stats(["spark", "merge"])
        assert sc.statusTracker().getJobIdsForGroup("term-stats-error") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_spark_tail_matches_driver_tail(spark, tiny_index, monkeypatch):
    """A batch past DRIVER_TAIL_MAX_CANDIDATES keeps its merge, url
    join, order and tie rounding in Spark; that tail must give the run
    the driver tail gives, exactly (BM25, a float64 similarity and the
    list-form batch_search, ties included)."""
    import pyspark.sql

    from anserini_spark.search import searcher
    from anserini_spark.search.kernel_sim import kernel_similarity_runs

    idx = InvertedIndex(spark, tiny_index)
    p = BM25Params(k=20)
    s = SimpleSearcher(spark, tiny_index)
    texts = list(QUERIES.values())

    def runs():
        return (searcher.kernel_runs(idx, QUERIES, p),
                kernel_similarity_runs(idx, QUERIES, "qld", k=20, mu=1000.0),
                s.batch_search(texts, [str(q) for q in QUERIES], k=20))

    driver = runs()
    assert isinstance(driver[0], dict) and isinstance(driver[1], dict)
    monkeypatch.setattr(searcher, "DRIVER_TAIL_MAX_CANDIDATES", 0)
    spark_side = runs()
    assert all(isinstance(r, pyspark.sql.DataFrame) for r in spark_side[:2])
    assert [searcher.run_rows(r) for r in spark_side[:2]] == list(driver[:2])
    assert spark_side[2] == driver[2]
    assert any(r for r in driver[0].values())


@pytest.mark.parametrize("damage,message", [
    ("empty", "holds no parquet file"),
    ("no_max_tf", r"lacks \['max_tf'\]"),
])
def test_search_raises_on_a_broken_blocks_dir(spark, tiny_index, tmp_path,
                                              damage, message):
    """A search over a blocks.parquet that holds no parquet file, or
    whose files lack a column the kernel reads, raises; it does not
    return an empty or partial run."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    copy = str(tmp_path / "broken")
    shutil.copytree(tiny_index, copy)
    for f in glob.glob(os.path.join(copy, "blocks.parquet", "*.parquet")):
        if damage == "empty":
            os.remove(f)
        else:
            pq.write_table(pq.read_table(f).drop_columns(["max_tf"]), f)
    with pytest.raises(Exception, match=message):
        SimpleSearcher(spark, copy).search("spark merge join", k=10)
