"""The shared driver tail (``tieadjust.rank_hits``) against Spark's
declarative tie adjustment (``adjust_score_ties``): exact-half scores
round HALF_UP like Spark's ``round(x, 4)``, and tie runs step down
1e-6 per earlier equal rounded score."""

import numpy as np
import pyarrow as pa

from anserini_spark.search.tieadjust import Urls, adjust_score_ties, rank_hits

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
