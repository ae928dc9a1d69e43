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


def jobs_and_stages(sc, group, call):
    """(jobs, stages) the Spark calls of ``call()`` ran, which must
    return something."""
    sc.setJobGroup(group, group)
    try:
        assert call()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        return len(jobs), sum(len(sc.statusTracker().getJobInfo(j).stageIds)
                              for j in jobs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


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


def kernel_reads(monkeypatch, run, index):
    """The pyarrow reads of the search tasks ``run()`` launches over
    ``index``: the last task the search built (``kernel.segment_task``)
    is re-run in-process over the index's segment groups, with every
    dataset read recorded as (path, columns, filter text)."""
    import pyarrow.dataset as pads

    from anserini_spark.search import kernel, searcher

    built = []

    def spy_task(*args, **kwargs):
        built.append(kernel.segment_task(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(searcher, "segment_task", spy_task)
    run()
    reads = []
    open_dataset = pads.dataset

    class Recorded:
        def __init__(self, path, *args, **kwargs):
            self.path = path
            self.dataset = open_dataset(path, *args, **kwargs)

        def __getattr__(self, name):
            return getattr(self.dataset, name)

        def to_table(self, columns=None, filter=None):
            reads.append((self.path, columns, str(filter)))
            return self.dataset.to_table(columns=columns, filter=filter)

    monkeypatch.setattr(pads, "dataset", Recorded)
    counts = {int(s): int(c) for s, c in index.stats["segments"].items()}
    for group in kernel.assign_segments(counts, 4):
        list(built[-1](group))
    return reads


def assert_term_pruned(reads, terms):
    """Every read is a blocks.parquet read of only the kernel's columns
    (never ``pos_bin``) with each of ``terms`` in its term filter."""
    from anserini_spark.search.kernel import KERNEL_COLS

    assert reads and terms
    for path, columns, flt in reads:
        assert path.endswith("blocks.parquet"), path
        assert columns == KERNEL_COLS and "pos_bin" not in columns
        assert "is_in(term" in flt and all(f'"{t}"' in flt for t in terms)
