"""The shared driver tail (``tieadjust.rank_hits``) against Spark's
declarative tie adjustment (``adjust_score_ties``): exact-half scores
round HALF_UP like Spark's ``round(x, 4)``, and tie runs step down
1e-6 per earlier equal rounded score. ``round4`` is Python's
``round(x, 4)`` off 4-place midpoints and Spark's on them, and every
search entry point returns plain Python hit fields."""

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from anserini_spark.search.local import LocalSearcher
from anserini_spark.search.searcher import SimpleSearcher
from anserini_spark.search.tieadjust import (Urls, adjust_score_ties,
                                             rank_hits, round4)

# odd multiples of 1/32 are exact 4-place midpoints in binary
SCORES = [1.03125, 0.53125, 0.5, 0.5, 0.50004, 0.25, 0.0625,
          2.00005, 0.1, 0.1, 0.1]


def test_tail_rounds_exact_halves_like_spark(spark):
    ids = np.arange(len(SCORES), dtype=np.int64)
    urls = pa.array([f"doc{i:02d}" for i in ids])
    got = rank_hits(ids, np.array(SCORES), lambda _ids: Urls(ids, urls),
                    k=len(SCORES))
    ranked = sorted(zip(SCORES, urls.to_pylist()),
                    key=lambda h: (-h[0], h[1]))
    df = spark.createDataFrame(
        [(1, u, r, s) for r, (s, u) in enumerate(ranked, 1)],
        "qid int, docid string, rank int, score double")
    want = [(r["docid"], r["rank"], r["score"])
            for r in adjust_score_ties(df).orderBy("rank").collect()]
    assert got == want
    assert dict((u, s) for u, _, s in got)["doc00"] == 1.0313
    assert dict((u, s) for u, _, s in got)["doc01"] == 0.5313


def _midpoints():
    """Every odd multiple of 1/32 below 64 (an exact 4-place midpoint
    in binary) and its 1..4-ulp neighbours on both sides."""
    mids = np.arange(1, 2048, 2) / 32.0
    out = [mids]
    up = down = mids
    for _ in range(4):
        up, down = np.nextafter(up, np.inf), np.nextafter(down, -np.inf)
        out += [up, down]
    return np.concatenate(out)


def _random_scores(n=500_000):
    """n plain and n float32-widened random scores at each of the
    scales 1, 30 and 1000, plus n negative ones at scale 30 (3.5M in
    all; log-likelihood similarities such as QLD score below zero)."""
    rng = np.random.default_rng(13)
    out = []
    for scale in (1.0, 30.0, 1000.0):
        out.append(rng.random(n) * scale)
        out.append((rng.random(n) * scale).astype(np.float32)
                   .astype(np.float64))
    out.append(rng.random(n) * -30.0)
    return np.concatenate(out)


def _in_band(x):
    y = x * 1e4
    return np.abs(y - np.floor(y) - 0.5) < 1e-5


def test_round4_is_python_round_off_midpoints():
    x = _random_scores()
    off = x[~_in_band(x)]
    assert len(off) > 3_490_000
    want = np.array([round(v, 4) for v in off.tolist()])
    assert np.array_equal(round4(off).view(np.uint64), want.view(np.uint64))


def test_round4_matches_spark_round(spark):
    """Midpoints and their neighbours, both signs (all inside the band
    that takes the decimal path), plus a sample of random scores,
    against Spark's ``round(x, 4)``: HALF_UP at every exact midpoint,
    where a half-even rounding would give the other neighbour."""
    band = np.concatenate([_midpoints(), -_midpoints()])
    assert _in_band(band).all()
    x = np.concatenate([band, _random_scores()[::300]])
    want = np.array(
        spark.createDataFrame(pd.DataFrame({"i": np.arange(len(x)), "x": x}))
        .select("i", F.round("x", 4).alias("r")).toPandas()
        .sort_values("i")["r"], dtype=np.float64)
    got = round4(x)
    bad = np.flatnonzero(got.view(np.uint64) != want.view(np.uint64))
    assert not len(bad), [(x[i], got[i], want[i]) for i in bad[:5]]


def test_hits_are_python_str_int_float(spark, tiny_index):
    """Every search entry point returns hits of exactly (str, int,
    float), never numpy scalars: run comparisons and JSON dumps rely
    on it."""
    q = "spark merge join"
    ss = SimpleSearcher(spark, tiny_index)
    runs = [LocalSearcher(tiny_index, preload=True).search(q, k=20),
            LocalSearcher(tiny_index).search(q, k=20),
            ss.search(q, k=20),
            ss.batch_search([q, "customer value"], ["a", "b"], k=20)["a"]]
    for hits in runs:
        assert hits and hits == runs[0]
        for h in hits:
            assert tuple(map(type, h)) == (str, int, float), h
