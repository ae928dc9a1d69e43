"""MultiSliceIndex (`search/multislice.py`): searching N unmerged
slices must equal a from-scratch batch build over the union corpus —
identical (docid, rank, score) — for BM25, the f64 similarity path,
and RM3; stats and term_stats must be exact sums."""

import pytest
from pyspark.sql import functions as F

from anserini_spark.index.build import IndexConfig, build_index
from anserini_spark.search.multislice import MultiSliceIndex
from anserini_spark.search.bm25 import BM25Params
from anserini_spark.search.searcher import (InvertedIndex, SimpleSearcher,
                                            search_kernel)

QUERIES = {1: "spark merge join", 2: "customer value", 3: "slow query table"}


@pytest.fixture(scope="module")
def sliced(spark, tmp_path_factory):
    from anserini_spark.corpus.synth import web_corpus

    root = tmp_path_factory.mktemp("ms")
    full = web_corpus(spark, "/root/testdata/sf0.001")
    cfg = lambda d: IndexConfig(out_dir=str(root / d), doc_partitions=3,
                                block_partitions=4)
    build_index(spark, full, cfg("batch"))
    dirs = []
    for i in range(3):
        part = full.filter(F.crc32("url") % 3 == i)
        build_index(spark, part, cfg(f"slice{i}"))
        dirs.append(str(root / f"slice{i}"))
    return str(root / "batch"), dirs


def _hits(index, queries=QUERIES, k=30):
    df = search_kernel(index, queries, BM25Params(k=k))
    return [(r["qid"], r["docid"], r["rank"], round(float(r["score"]), 6))
            for r in df.collect()]


def test_union_matches_batch_bm25(spark, sliced):
    batch_dir, dirs = sliced
    batch = _hits(InvertedIndex(spark, batch_dir))
    union = _hits(MultiSliceIndex(spark, dirs))
    assert union == batch


def test_union_reads_urls_across_slice_schemas(spark, sliced, tmp_path):
    """Slices whose docvecs differ in url nullability (a compacted
    slice's url is nullable, a fresh build's is not) union in the
    driver-side url read."""
    import os
    import shutil

    import pyarrow.parquet as pq

    batch_dir, dirs = sliced
    copy = str(tmp_path / "slice2")
    shutil.copytree(dirs[2], copy)
    dv = os.path.join(copy, "docvec.parquet")
    for f in os.listdir(dv):
        path = os.path.join(dv, f)
        if f.endswith(".crc"):
            os.remove(path)
        elif f.endswith(".parquet"):
            t = pq.read_table(path)
            i = t.schema.get_field_index("url")
            fld = t.schema.field(i)
            pq.write_table(t.cast(t.schema.set(
                i, fld.with_nullable(not fld.nullable))), path)
    union = _hits(MultiSliceIndex(spark, dirs[:2] + [copy]))
    assert union == _hits(InvertedIndex(spark, batch_dir))


def test_union_spark_tail_matches_batch(spark, sliced, monkeypatch):
    """Past the driver-tail bound the union's segment tasks run under
    the ``mapInArrow`` launcher (slice offsets applied to each read)
    and the tail stays in Spark: the run still equals the batch
    build's."""
    from anserini_spark.search import searcher

    batch_dir, dirs = sliced
    want = _hits(InvertedIndex(spark, batch_dir))
    monkeypatch.setattr(searcher, "DRIVER_TAIL_MAX_CANDIDATES", 0)
    assert _hits(MultiSliceIndex(spark, dirs)) == want


def test_union_matches_batch_similarity_and_rm3(spark, sliced):
    from anserini_spark.search.kernel_sim import search_kernel_similarity
    from anserini_spark.search.rm3 import search_rm3

    batch_dir, dirs = sliced
    bi, mi = InvertedIndex(spark, batch_dir), MultiSliceIndex(spark, dirs)
    for idx_pair in [("qld", dict(mu=1000.0))]:
        sim, kw = idx_pair
        a = [(r["qid"], r["docid"], r["rank"], round(float(r["score"]), 6))
             for r in search_kernel_similarity(bi, QUERIES, sim, k=20,
                                               **kw).collect()]
        b = [(r["qid"], r["docid"], r["rank"], round(float(r["score"]), 6))
             for r in search_kernel_similarity(mi, QUERIES, sim, k=20,
                                               **kw).collect()]
        assert a == b, sim
    p = BM25Params(k=20)
    ha, _ = search_rm3(bi, QUERIES, p)
    hb, _ = search_rm3(mi, QUERIES, p)
    assert [tuple(r) for r in ha.collect()] == [tuple(r) for r in hb.collect()]


def test_union_stats_and_term_stats_are_exact_sums(spark, sliced):
    batch_dir, dirs = sliced
    bi, mi = InvertedIndex(spark, batch_dir), MultiSliceIndex(spark, dirs)
    for key in ["num_docs", "doc_count", "sum_tf"]:
        assert mi.stats[key] == bi.stats[key], key
    assert abs(mi.stats["avgdl"] - bi.stats["avgdl"]) < 1e-12
    terms = ["spark", "join", "customer", "zzz-absent"]
    assert mi.term_stats(terms) == bi.term_stats(terms)
    # declarative dictionary view agrees with the merged one
    got = {r["term"]: (r["df"], r["cf"])
           for r in mi.dictionary.filter(F.col("term").isin(terms)).collect()}
    want = {r["term"]: (r["df"], r["cf"])
            for r in bi.dictionary.filter(F.col("term").isin(terms)).collect()}
    assert got == want


def test_simple_searcher_accepts_slice_list(spark, sliced):
    batch_dir, dirs = sliced
    s_union = SimpleSearcher(spark, dirs)
    s_batch = SimpleSearcher(spark, batch_dir)
    for q in QUERIES.values():
        assert s_union.search(q, k=10) == s_batch.search(q, k=10), q


def test_term_pushdown_survives_union(spark, sliced):
    """The term IN predicate must reach each slice's parquet scan —
    a union that scans every posting defeats the point."""
    _, dirs = sliced
    mi = MultiSliceIndex(spark, dirs)
    plan = mi.blocks.filter(
        F.col("term").isin(["spark", "join"])
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PushedFilters: [In(term") >= len(dirs), plan


def test_multislice_gate_matches_single_index_gate(spark):
    """The driver-gate entry (ops/index_queries.multislice_bm25_topk,
    interleaved doc_id%5 split) must be row-identical to the
    single-index gate — both are externally oracled against the same
    full-corpus BM25 SQL."""
    from anserini_spark.ops import index_queries as iq

    sf = "/root/testdata/sf0.001"
    union_rows = iq.multislice_bm25_topk(spark, sf).collect()
    single_rows = iq.bm25_index_topk(spark, sf).collect()
    assert union_rows == single_rows


def test_union_matches_batch_sdm_positional(spark, tmp_path):
    """SDM needs positional blocks; the union reader's scan-time id
    re-namespacing must leave within-doc position decoding intact —
    window counts, pair dfs, and final scores identical to a
    monolithic positional build."""
    from anserini_spark.corpus.synth import web_corpus
    from anserini_spark.search.sdm import search_sdm

    full = web_corpus(spark, "/root/testdata/sf0.001")
    cfg = lambda d: IndexConfig(out_dir=str(tmp_path / d),
                                doc_partitions=2, block_partitions=3,
                                store_positions=True)
    build_index(spark, full, cfg("batch"))
    dirs = []
    for i in range(2):
        build_index(spark, full.filter(F.crc32("url") % 2 == i),
                    cfg(f"s{i}"))
        dirs.append(str(tmp_path / f"s{i}"))
    q = {1: "spark merge join", 2: "customer value"}
    rows = lambda idx: [
        (r["qid"], r["docid"], r["rank"], round(float(r["score"]), 6))
        for r in search_sdm(idx, q, BM25Params(k=20)).collect()
    ]
    assert rows(MultiSliceIndex(spark, dirs)) == \
        rows(InvertedIndex(spark, str(tmp_path / "batch")))


def test_check_disjoint_accepts_disjoint_slices(spark, sliced):
    _batch, dirs = sliced
    ms = MultiSliceIndex(spark, dirs, check_disjoint=True)
    assert ms.stats["num_docs"] > 0


def test_check_disjoint_detects_url_overlap(spark, sliced):
    """batch contains every slice's urls, so batch+slice0 overlaps —
    the opt-in guard must refuse instead of double-counting df/cf."""
    batch_dir, dirs = sliced
    with pytest.raises(ValueError, match="overlap on url"):
        MultiSliceIndex(spark, [batch_dir, dirs[0]], check_disjoint=True)
