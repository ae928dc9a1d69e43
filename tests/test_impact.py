"""Impact/SLR index mode: quantized-activation dot product vs brute
force over deterministic synthetic latent vectors."""

import pytest

from anserini_spark.index.build import IndexConfig
from anserini_spark.index.impact import build_impact_index, search_impact
from anserini_spark.search.searcher import InvertedIndex
from tests.runcheck import assert_matches_brute

PRECISION = 4


def _synth_docs(spark, n=80, dims=16):
    # deterministic sparse activations from (doc, dim) arithmetic
    rows = []
    for i in range(n):
        acts = {}
        for d in range(dims):
            v = ((i * 7 + d * 13) % 29) / 29.0
            if v > 0.55:
                acts[f"{d:05d}"] = round(v, 4)
        rows.append((f"doc{i:04d}", acts))
    return rows


@pytest.fixture(scope="module")
def impact_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("impact") / "idx")
    rows = _synth_docs(spark)
    df = spark.createDataFrame(rows, "url string, activations map<string,float>")
    build_impact_index(spark, df, IndexConfig(out_dir=out, doc_partitions=2,
                                              block_partitions=3),
                       precision=PRECISION)
    return out, rows


QUERIES = {
    1: {"00003": 0.8, "00007": 0.5},
    2: {"00001": 1.0},
    3: {"99999": 1.0},  # unknown latent dim
}


K = 20


def _brute(rows, queries, k=K):
    out = {}
    scale = 10 ** PRECISION
    for qid, qm in queries.items():
        hits = []
        for url, acts in rows:
            s = 0.0
            for t, qv in qm.items():
                if t in acts:
                    s += qv * round(acts[t] * scale) / scale
            if s > 0:
                hits.append((url, s))
        hits.sort(key=lambda x: (-x[1], x[0]))
        out[qid] = [(u, r + 1, s) for r, (u, s) in enumerate(hits[:k])]
    return out


def test_impact_dot_product_matches_bruteforce(spark, impact_index):
    out, rows = impact_index
    idx = InvertedIndex(spark, out)
    assert_matches_brute(search_impact(idx, QUERIES, k=K),
                         _brute(rows, QUERIES), QUERIES, K)


def test_impact_index_stats(spark, impact_index):
    out, rows = impact_index
    idx = InvertedIndex(spark, out)
    n_docs_with_acts = sum(1 for _, a in rows if a)
    assert idx.stats["num_docs"] == n_docs_with_acts
    # dictionary terms are latent dims
    terms = [r["term"] for r in idx.dictionary.collect()]
    assert all(t.isdigit() and len(t) == 5 for t in terms)



def test_impact_kernel_matches_dataframe(spark, impact_index):
    """The kernel's result DataFrame at a k that cuts tied runs, over
    three-dim weighted queries as well: ranks exactly as the brute dot
    product, scores within the ScoreTiesAdjuster bound."""
    out, rows = impact_index
    idx = InvertedIndex(spark, out)
    q = dict(QUERIES)
    q[4] = {"00002": 0.3, "00009": 0.3, "00014": 0.9}
    q[5] = {"00005": 1.0, "00011": 1.0}
    k = 5
    assert_matches_brute(search_impact(idx, q, k=k),
                         _brute(rows, q, k=k), q, k)
