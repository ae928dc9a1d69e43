"""Shared assertions for engine runs held to a brute-force recompute."""

from collections import Counter


def _by_qid(spark_df):
    got = {}
    for r in spark_df.collect():
        got.setdefault(r["qid"], []).append(
            (r["docid"], r["rank"], r["score"]))
    return got


def assert_matches_brute(spark_df, want, qids, k):
    """``want``: qid -> [(url, rank, float64 brute score)]. Ranks must
    match exactly; each emitted score must be the brute score rounded
    to 4 places minus the ScoreTiesAdjuster's 1e-6 per earlier equal
    rounded score, so ``round(brute, 4) - got`` lies in
    [0, 1e-6 * (k - 1)]."""
    got = _by_qid(spark_df)
    for qid in qids:
        g, w = got.get(qid, []), want.get(qid, [])
        assert [h[:2] for h in g] == [h[:2] for h in w], qid
        for (u, _, s), (_, _, b) in zip(g, w):
            assert -1e-12 <= round(b, 4) - s <= 1e-6 * (k - 1) + 1e-12, \
                (qid, u, s, b)


def assert_matches_brute_exactly(spark_df, want, qids, tol=1e-9):
    """As ``assert_matches_brute``, but each emitted score must be
    within ``tol`` of the brute score put through the ScoreTiesAdjuster
    itself (4-place rounding, minus 1e-6 per earlier equal rounded
    score in the ranked list)."""
    got = _by_qid(spark_df)
    for qid in qids:
        g, w = got.get(qid, []), want.get(qid, [])
        assert [h[:2] for h in g] == [h[:2] for h in w], qid
        seen = Counter()
        for (u, _, s), (_, _, b) in zip(g, w):
            rounded = round(b, 4)
            assert abs(s - (rounded - seen[rounded] * 1e-6)) <= tol, \
                (qid, u, s, b)
            seen[rounded] += 1


def scoring_plan(monkeypatch, run):
    """Executed plan of the DataFrame a search collects to the driver
    (``toArrow``) while ``run()`` searches: its Spark scoring stage,
    since the run it returns is a local relation."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen = []
    orig = DataFrame.toArrow

    def spy(self):
        seen.append(self)
        return orig(self)

    monkeypatch.setattr(DataFrame, "toArrow", spy)
    run()
    return seen[-1]._jdf.queryExecution().executedPlan().toString()
