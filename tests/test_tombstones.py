"""Tombstones (`index/tombstones.py`) — Lucene liveDocs semantics:

* deleted docs vanish from every result list (kernel, similarity,
  impact, SDM, boolean, tweet search, LocalSearcher, multislice);
* surviving docs keep their EXACT pre-delete scores (stats stay stale
  until a merge purges — Lucene-identical);
* a purging merge physically drops the docs and recomputes stats, so
  post-merge scores equal a fresh build over the shrunken corpus;
* extend_index(supersede=True) resolves recrawls latest-wins.
"""

import os

import pytest
from pyspark.sql import functions as F

from anserini_spark.corpus.synth import web_corpus
from anserini_spark.index.build import IndexConfig, build_index
from anserini_spark.index.tombstones import add_tombstones
from anserini_spark.search.bm25 import BM25Params
from anserini_spark.search.searcher import (InvertedIndex, SimpleSearcher,
                                            search_kernel)
from tests.runcheck import assert_matches_brute_exactly, jobs_and_stages
from tests.test_sdm import _brute_sdm

Q = "spark merge join"


def _rows(df):
    return [(r["qid"], r["docid"], r["rank"], round(float(r["score"]), 6))
            for r in df.collect()]


@pytest.fixture(scope="module")
def tombed(spark, tmp_path_factory):
    """One index, searched before deletes; then 3 of its top-10 urls
    tombstoned."""
    root = tmp_path_factory.mktemp("tomb")
    corpus = web_corpus(spark, "/root/testdata/sf0.001")
    d = str(root / "idx")
    build_index(spark, corpus, IndexConfig(out_dir=d, doc_partitions=3,
                                           block_partitions=4,
                                           store_contents=True))
    before = SimpleSearcher(spark, d).search(Q, k=20)
    dead = [before[1][0], before[4][0], before[7][0]]
    add_tombstones(spark, d, dead)
    return root, d, before, dead, corpus


def test_deleted_docs_vanish_surviving_scores_unchanged(spark, tombed):
    _, d, before, dead, _ = tombed
    after = SimpleSearcher(spark, d).search(Q, k=20)
    got_urls = [u for u, _, _ in after]
    assert not set(dead) & set(got_urls)
    # Lucene contract: survivors keep their exact pre-delete scores
    # (df/avgdl stale until merge) and close ranks in order
    want = [(u, s) for u, _, s in before if u not in dead]
    # ranks close up: still 20 results, new docs enter at the tail
    assert len(after) == 20 and len(want) == 17
    for (u1, _, s1), (u2, s2) in zip(after[:17], want):
        # tie-adjust subtracts dup*1e-6 and dup counts can shift when
        # ranks close up — compare the 4-decimal base within that
        assert u1 == u2
        assert abs(s1 - s2) < 2e-5, (u1, s1, s2)


def test_first_search_of_a_tombstoned_index_is_one_job(spark, tombed):
    """A new handle reads its tombstones with pyarrow: its first search
    on a tombstoned index is still one Spark job."""
    _, d, _, _, _ = tombed
    assert jobs_and_stages(spark.sparkContext, "tombstoned-first", lambda:
                           SimpleSearcher(spark, d).search(Q, k=10)) == (1, 1)


def test_similarity_kernel_consults_tombstones(spark, tombed):
    from anserini_spark.search.kernel_sim import search_kernel_similarity

    _, d, _, dead, _ = tombed
    idx = InvertedIndex(spark, d)
    hits = search_kernel_similarity(idx, {1: Q}, "qld", k=20, mu=1000.0)
    assert not set(dead) & {r["docid"] for r in hits.collect()}


def test_boolean_ops_consult_tombstones(spark, tombed):
    from anserini_spark.search.boolean import search_boolean

    _, d, _, dead, _ = tombed
    idx = InvertedIndex(spark, d)
    hits = search_boolean(idx, {1: {"should": Q.split()}},
                          BM25Params(k=50))
    assert not set(dead) & {r["docid"] for r in hits.collect()}


def test_doc_fetch_returns_none_for_deleted(spark, tombed):
    _, d, _, dead, _ = tombed
    s = SimpleSearcher(spark, d)
    assert s.doc(dead[0]) is None
    live = s.search(Q, k=1)[0][0]
    assert s.doc(live)


def test_local_searcher_consults_tombstones(spark, tombed):
    from anserini_spark.search.local import LocalSearcher

    _, d, _, dead, _ = tombed
    want = SimpleSearcher(spark, d).search(Q, k=20)
    got = LocalSearcher(d, preload=True).search(Q, k=20)
    assert not set(dead) & {u for u, _, _ in got}
    assert got == want


def test_sdm_consults_tombstones_both_engines(spark, tmp_path, tiny_docs):
    """SDM liveDocs: deleted docs vanish and the kernel's decode-time
    mask equals the brute-force recompute over the same deletes
    (unigram idf stale, pair window dfs over live docs)."""
    from anserini_spark.search.sdm import search_sdm

    corpus = web_corpus(spark, "/root/testdata/sf0.001")
    d = str(tmp_path / "pos_idx")
    build_index(spark, corpus, IndexConfig(out_dir=d, doc_partitions=2,
                                           block_partitions=3,
                                           store_positions=True))
    idx = InvertedIndex(spark, d)
    before = _rows(search_sdm(idx, {1: Q}, BM25Params(k=10)))
    dead = [before[0][1], before[3][1]]
    add_tombstones(spark, d, dead)
    idx2 = InvertedIndex(spark, d)
    kern = search_sdm(idx2, {1: Q}, BM25Params(k=10))
    assert not set(dead) & {u for _, u, _, _ in _rows(kern)}
    assert_matches_brute_exactly(
        kern, _brute_sdm(tiny_docs, {1: Q}, k=10, dead=set(dead)), [1])


def test_merge_purges_scores_match_fresh_build(spark, tombed):
    """After a merge, deletes are physical: stats recompute, so the
    result must equal a from-scratch build over corpus-minus-dead."""
    from anserini_spark.index.merge import merge_indexes

    root, d, _, dead, corpus = tombed
    cfg = IndexConfig(out_dir=str(root / "purged"), doc_partitions=3,
                      block_partitions=4, store_contents=True)
    merge_indexes(spark, [d], cfg)
    fresh = str(root / "fresh")
    build_index(spark, corpus.filter(~F.col("url").isin(dead)),
                IndexConfig(out_dir=fresh, doc_partitions=3,
                            block_partitions=4, store_contents=True))
    s_purged = SimpleSearcher(spark, str(root / "purged"))
    s_fresh = SimpleSearcher(spark, fresh)
    assert not os.path.isdir(str(root / "purged/tombstones.parquet"))
    for q in (Q, "customer value"):
        assert s_purged.search(q, k=20) == s_fresh.search(q, k=20), q


def test_multislice_respects_per_slice_tombstones(spark, tombed):
    from anserini_spark.search.multislice import MultiSliceIndex

    root, d, _, dead, corpus = tombed
    half_a = str(root / "half_a")
    half_b = str(root / "half_b")
    cfg = lambda o: IndexConfig(out_dir=o, doc_partitions=2,
                                block_partitions=3)
    build_index(spark, corpus.filter(F.crc32("url") % 2 == 0), cfg(half_a))
    build_index(spark, corpus.filter(F.crc32("url") % 2 == 1), cfg(half_b))
    add_tombstones(spark, half_a, dead)
    add_tombstones(spark, half_b, dead)
    mi = MultiSliceIndex(spark, [half_a, half_b])
    hits = search_kernel(mi, {1: Q}, BM25Params(k=20))
    assert not set(dead) & {r["docid"] for r in hits.collect()}


def test_extend_index_supersede_latest_wins(spark, tmp_path):
    """Recrawl overlap with supersede=True: base's stale copies are
    tombstoned, the merge purges, result == batch build where the
    recrawled payloads replaced the originals."""
    from anserini_spark.index.incremental import extend_index
    from anserini_spark.streaming.ingest import start_corpus_ingest

    corpus = web_corpus(spark, "/root/testdata/sf0.001")
    recrawl = (corpus.filter(F.crc32("url") % 7 == 0)
               .withColumn("text", F.concat(F.lit("recrawled fresh "),
                                            F.col("text")))
               .withColumn("html", F.lit(None).cast("binary")))
    latest = corpus.filter(F.crc32("url") % 7 != 0).unionByName(recrawl)

    cfg = lambda o: IndexConfig(out_dir=str(tmp_path / o),
                                doc_partitions=3, block_partitions=4)
    build_index(spark, corpus, cfg("base"))
    build_index(spark, latest, cfg("want"))
    p = str(tmp_path / "recrawl.parquet")
    recrawl.write.parquet(p)
    q = start_corpus_ingest(spark, p, str(tmp_path / "stream"),
                            str(tmp_path / "ckpt"), cfg("unused"))
    q.awaitTermination(300)
    extend_index(spark, str(tmp_path / "base"), str(tmp_path / "stream"),
                 str(tmp_path / "ext"), cfg("ext"), supersede=True)
    s_ext = SimpleSearcher(spark, str(tmp_path / "ext"))
    s_want = SimpleSearcher(spark, str(tmp_path / "want"))
    for query in (Q, "recrawled fresh", "customer value"):
        assert s_ext.search(query, k=20) == s_want.search(query, k=20), query


def test_impact_index_consults_tombstones(spark, tmp_path):
    from anserini_spark.index.impact import build_impact_index, search_impact
    from anserini_spark.search.searcher import InvertedIndex

    docs = spark.createDataFrame(
        [(f"d{i:03d}", {"alpha": 3.0 + i, "beta": 1.0}) for i in range(8)],
        "url string, activations map<string,float>",
    )
    d = str(tmp_path / "imp")
    build_impact_index(spark, docs, IndexConfig(out_dir=d,
                                                doc_partitions=2,
                                                block_partitions=2))
    q = {1: {"alpha": 1.0}}
    idx = InvertedIndex(spark, d)
    top = search_impact(idx, q, k=3).collect()
    assert top[0]["docid"] == "d007"  # largest alpha activation
    add_tombstones(spark, d, ["d007"])
    idx2 = InvertedIndex(spark, d)
    got = [r["docid"] for r in search_impact(idx2, q, k=3).collect()]
    assert "d007" not in got and got[0] == "d006", got


def test_sdm_over_tombstoned_positional_slices(spark, tmp_path, tiny_docs):
    """The full stack at once: positional slices, searched unmerged,
    with per-slice tombstones — SDM must exclude dead docs and equal
    the brute-force recompute over the union corpus."""
    from anserini_spark.search.multislice import MultiSliceIndex
    from anserini_spark.search.sdm import search_sdm

    corpus = web_corpus(spark, "/root/testdata/sf0.001")
    cfg = lambda o: IndexConfig(out_dir=str(tmp_path / o),
                                doc_partitions=2, block_partitions=3,
                                store_positions=True)
    dirs = []
    for i in range(2):
        build_index(spark, corpus.filter(F.crc32("url") % 2 == i),
                    cfg(f"s{i}"))
        dirs.append(str(tmp_path / f"s{i}"))
    mi = MultiSliceIndex(spark, dirs)
    before = _rows(search_sdm(mi, {1: Q}, BM25Params(k=10)))
    dead = [before[0][1], before[2][1]]
    for d in dirs:
        add_tombstones(spark, d, dead)
    mi2 = MultiSliceIndex(spark, dirs)
    kern = search_sdm(mi2, {1: Q}, BM25Params(k=10))
    assert not set(dead) & {u for _, u, _, _ in _rows(kern)}
    assert_matches_brute_exactly(
        kern, _brute_sdm(tiny_docs, {1: Q}, k=10, dead=set(dead)), [1])


def test_tweet_search_consults_tombstones(spark, tmp_path):
    """Tweet search masks a tombstoned tweet at decode; the other
    tweets keep their exact scores (stats stay stale)."""
    from anserini_spark.search.tweets import search_tweets

    corpus = spark.createDataFrame(
        [("100", "spark is fast", "en"),
         ("200", "spark spark join", "en"),
         ("300", "spark rocks @dev and more", "en"),
         ("400", "nothing to see", "en")],
        "url string, text string, lang string")
    d = str(tmp_path / "tweet_idx")
    build_index(spark, corpus, IndexConfig(out_dir=d, analyzer="tweet",
                                           doc_partitions=2,
                                           block_partitions=2))

    def scores():
        hits = search_tweets(InvertedIndex(spark, d), {1: "spark"},
                             {1: 10**18}, BM25Params(k=10))
        return {r["docid"]: r["score"] for r in hits.collect()}

    before = scores()
    assert set(before) == {"100", "200", "300"}
    add_tombstones(spark, d, ["200"])
    after = scores()
    assert "200" not in after
    assert after == {u: s for u, s in before.items() if u != "200"}


def test_rm3_excludes_tombstoned_docs(spark, tombed):
    from anserini_spark.search.rm3 import search_rm3

    _, d, _, dead, _ = tombed
    idx = InvertedIndex(spark, d)
    hits, _ = search_rm3(idx, {1: Q}, BM25Params(k=20))
    assert not set(dead) & {r["docid"] for r in hits.collect()}


def test_delete_cli_lifecycle(spark, tmp_path):
    """CLI entry edge cases (round-6 verdict task 9): nonexistent
    docid is a harmless no-op for search, double-delete is idempotent,
    and delete-then-recrawl supersede restores the url via the
    streaming merge path."""
    from scripts.delete_docs import parse_args, run
    from anserini_spark.index.incremental import extend_index

    corpus = web_corpus(spark, "/root/testdata/sf0.001")
    d = str(tmp_path / "cli_idx")
    build_index(spark, corpus, IndexConfig(out_dir=d, doc_partitions=3,
                                           block_partitions=4))
    before = SimpleSearcher(spark, d).search(Q, k=10)
    victim = before[0][0]

    # 1. deleting a nonexistent docid: counted in the tombstone file
    #    (append-only log semantics) but changes no search result
    n = run(spark, parse_args(["--index", d, "--docid", "no/such/url"]))
    assert n == 1
    assert SimpleSearcher(spark, d).search(Q, k=10) == before

    # 2. real delete via a --docids file
    ids = tmp_path / "ids.txt"
    ids.write_text(f"{victim}\n\n")  # blank line must be ignored
    n = run(spark, parse_args(["--index", d, "--docids", str(ids)]))
    assert n == 1
    after = SimpleSearcher(spark, d).search(Q, k=10)
    assert victim not in [u for u, _, _ in after]

    # 3. double-delete is idempotent: same results, no error
    run(spark, parse_args(["--index", d, "--docid", victim]))
    assert SimpleSearcher(spark, d).search(Q, k=10) == after

    # 4. delete-then-recrawl supersede: a fresh crawl of the victim
    #    url folded with supersede=True must be searchable again
    #    (stream dir carries the streamed docvec shape the ingest
    #    query writes: url, warc_ts, doclen, terms, tfs)
    import datetime as _dt
    from collections import Counter as _Counter

    from anserini_spark.analysis.analyzer import analyze_for

    toks = analyze_for("porter")(" ".join(Q.split() * 5))
    cnt = _Counter(toks)
    terms = sorted(cnt)
    stream = str(tmp_path / "stream")
    spark.createDataFrame(
        [(victim, _dt.datetime(2026, 1, 1), len(toks), terms,
          [cnt[t] for t in terms])],
        "url string, warc_ts timestamp, doclen long, "
        "terms array<string>, tfs array<int>",
    ).write.parquet(stream)
    merged = str(tmp_path / "merged")
    extend_index(spark, d, stream, merged,
                 IndexConfig(out_dir=merged, doc_partitions=3,
                             block_partitions=4), supersede=True)
    hits = SimpleSearcher(spark, merged).search(Q, k=10)
    assert victim in [u for u, _, _ in hits]


def test_delete_cli_requires_target():
    import pytest as _pytest

    from scripts.delete_docs import parse_args

    with _pytest.raises(SystemExit):
        parse_args(["--index", "/tmp/x"])
