"""Sequential Dependence Model retrieval — the reference's
`search/query/SdmQueryGenerator.java:36-88`: a weighted combination of

* bag-of-words term queries              (weight 0.85)
* ordered pair windows,   SpanNear(slop=1, ordered)   (weight 0.1)
* unordered pair windows, SpanNear(slop=8, unordered) (weight 0.05)

over consecutive query-term pairs. Needs a positional index
(``IndexConfig(store_positions=True)`` — the ``-storePositions``
analogue; positions preserve stopword gaps like Lucene's StopFilter).

Window semantics implemented here (documented precisely since Lucene's
sloppy-span scoring is not bit-replicable without its span machinery):

* ordered count  o(a,b) = #{(p,q) in pos(a) x pos(b): 1 <= q-p <= 2}
  (gap <= slop 1, order preserved)
* unordered count u(a,b) = #{(p,q): p != q, |q-p| <= 8}

Each pair behaves as a pseudo-term scored with the same BM25
(k1, b, avgdl) using its EXACT pair document frequency (number of docs
with a match — computed in the same plan, where Lucene only estimates
span doc frequencies). Final score (float64):

    0.85 * sum_t idf_t * tfpart(tf_t)  +
    0.10 * sum_p idf_o(p) * tfpart(o_p) +
    0.05 * sum_p idf_u(p) * tfpart(u_p)

One engine, the positional analogue of the BM25 block kernel:
positional posting blocks (``pos_bin``, `index/blocks.py`) are
term-pruned at the parquet scan and decoded per segment in one Arrow
kernel that emits per-doc bag contributions and per-pair
ordered/unordered window counts; pair document frequencies and final
scoring stay declarative (global exact dfs need a cross-segment
aggregation anyway), pruned per qid by ``rank() <= k``. The survivors
come to the driver, which attaches urls, orders and tie-adjusts them
through the tail every kernel search shares (``searcher.rank_runs``).
No full-corpus scan. Tombstoned docs are masked at decode: unigram idf
stays stale (dictionary df, Lucene's delete contract) while pair dfs
count live docs only. The tests hold it to a brute-force Python
recompute (``tests/test_sdm.py``) and the gates to the DuckDB
``sdm_topk`` SQL oracle.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bm25 import BM25Params
from .searcher import InvertedIndex, rank_runs, run_frame

W_TERM = 0.85
W_ORDERED = 0.1
W_UNORDERED = 0.05
ORDERED_MAX_DIST = 2    # slop 1, ordered
UNORDERED_MAX_DIST = 8  # slop 8, unordered


def _idf(df_col, n: float):
    return F.log(F.lit(1.0) + (F.lit(n) - df_col + 0.5) / (df_col + 0.5))


SDM_ROWS_SCHEMA = ("qid int, pid int, doc_id long, doclen long, "
                   "o long, u long, bag double")


def _sdm_segment_fn(bag_weights, pairs, consts, dead_global=None):
    """Per-segment kernel: decode positional block runs once per term;
    emit bag contribution rows (pid = -1) and per-pair window-count
    rows. ``bag_weights``: qid -> {term: weight (= occurrences * idf)};
    ``pairs``: [(qid, pid, term_a, term_b)]. ``dead_global``: sorted
    absolute doc ids of tombstoned docs — masked at decode (this
    kernel never prunes, so the mask is exact; unigram idf stays
    stale per the Lucene delete contract, pair window dfs are counted
    over live postings)."""
    import numpy as np
    import pandas as pd

    from ..index.blocks import decode_block_run, decode_positions_run

    c1, c2 = consts  # k1*(1-b), k1*b/avgdl (float64)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["term", "first_doc"], kind="mergesort")
        groups = {t: g for t, g in pdf.groupby("term", sort=False)}
        decoded = {}

        def get(t):
            if t not in decoded:
                g = groups[t]
                docs, tfs, dls = decode_block_run(
                    list(g["docs_bin"]), list(g["tfs_bin"]),
                    list(g["dls_bin"]), g["n"].to_numpy(),
                    g["first_doc"].to_numpy(), g["last_doc"].to_numpy(),
                )
                flat, starts = decode_positions_run(
                    list(g["pos_bin"]), tfs)
                if dead_global is not None and len(docs):
                    from ..index.tombstones import drop_dead

                    keep = drop_dead(docs.astype(np.int64), dead_global)
                    if keep is not None and not keep.all():
                        # drop dead postings AND their position slices
                        # (one vectorized repeat over the flat array)
                        flat = flat[np.repeat(keep, tfs)]
                        docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
                        starts = np.zeros(len(tfs), dtype=np.int64)
                        if len(tfs) > 1:
                            starts[1:] = np.cumsum(tfs[:-1])
                decoded[t] = (docs, tfs, dls, flat, starts)
            return decoded[t]

        out = {k: [] for k in ("qid", "pid", "doc_id", "doclen",
                               "o", "u", "bag")}

        def emit(qid, pid, doc_ids, dls, o, u, bag):
            m = len(doc_ids)
            out["qid"].append(np.full(m, qid, dtype=np.int64))
            out["pid"].append(np.full(m, pid, dtype=np.int64))
            out["doc_id"].append(doc_ids)
            out["doclen"].append(dls)
            out["o"].append(o)
            out["u"].append(u)
            out["bag"].append(bag)

        zl = np.zeros(0, dtype=np.int64)
        for qid, wmap in bag_weights.items():
            for t, w in wmap.items():
                if t not in groups:
                    continue
                docs, tfs, dls, _, _ = get(t)
                tf = tfs.astype(np.float64)
                dl = dls.astype(np.float64)
                contrib = w * tf / (tf + c1 + c2 * dl)
                z = np.zeros(len(docs), dtype=np.int64)
                emit(qid, -1, docs, dls, z, z, contrib)

        for qid, pid, a, b in pairs:
            if a not in groups or b not in groups:
                continue
            docs_a, tfs_a, dls_a, flat_a, st_a = get(a)
            docs_b, tfs_b, _, flat_b, st_b = get(b)
            common, ia, ib = np.intersect1d(
                docs_a, docs_b, assume_unique=True, return_indices=True)
            if common.size == 0:
                continue
            o = np.zeros(common.size, dtype=np.int64)
            u = np.zeros(common.size, dtype=np.int64)
            for j in range(common.size):
                pa = flat_a[st_a[ia[j]]:st_a[ia[j]] + tfs_a[ia[j]]]
                pb = flat_b[st_b[ib[j]]:st_b[ib[j]] + tfs_b[ib[j]]]
                d = pb[None, :] - pa[:, None]
                o[j] = int(((d >= 1) & (d <= ORDERED_MAX_DIST)).sum())
                u[j] = int(((d != 0) & (np.abs(d) <= UNORDERED_MAX_DIST))
                           .sum())
            keep = (o > 0) | (u > 0)
            emit(qid, pid, common[keep], dls_a[ia][keep],
                 o[keep], u[keep],
                 np.zeros(int(keep.sum()), dtype=np.float64))

        if not out["qid"]:
            return pd.DataFrame({
                "qid": np.empty(0, np.int64), "pid": np.empty(0, np.int64),
                "doc_id": np.empty(0, np.int64),
                "doclen": np.empty(0, np.int64), "o": zl, "u": zl,
                "bag": np.empty(0, np.float64),
            })
        return pd.DataFrame({k: np.concatenate(v) for k, v in out.items()})

    return fn


def search_sdm(index: InvertedIndex, queries: Dict[int, str],
               params: BM25Params) -> DataFrame:
    spark = index.spark
    n = float(index.stats["doc_count"])
    avgdl = float(index.stats["avgdl"])
    k1, b = params.k1, params.b

    blocks = index.blocks
    if "pos_bin" not in blocks.columns:
        raise ValueError(
            "index was built without store_positions=True "
            "(-storePositions analogue); SDM needs positional posting "
            "blocks"
        )

    per_q = {qid: index.analyze_query(t) for qid, t in queries.items()}
    all_terms = sorted({t for toks in per_q.values() for t in toks})
    if not all_terms:
        return run_frame(spark, {})
    dfs = index.term_dfs(all_terms)
    import math

    # bag weights: occurrences * idf (a duplicated query term counts
    # once per occurrence, bag-of-words)
    bag_weights: Dict[int, Dict[str, float]] = {}
    pairs = []
    pid = 0
    for qid, toks in per_q.items():
        wmap: Dict[str, float] = {}
        for t in toks:
            if t in dfs:
                idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
                wmap[t] = wmap.get(t, 0.0) + idf
        bag_weights[qid] = wmap
        for i in range(len(toks) - 1):
            pairs.append((qid, pid, toks[i], toks[i + 1]))
            pid += 1

    dead = index.dead_global
    fn = _sdm_segment_fn(
        bag_weights, pairs, (k1 * (1 - b), k1 * b / avgdl),
        dead_global=dead if len(dead) else None)
    # three consumers (bag agg, pair dfs, pair scores): persist the
    # kernel output or the positional decode + O(positions^2) window
    # counting re-runs once per consumer (round 7, guide §1.2); released
    # once the survivors are on the driver
    rows = (
        blocks.filter(F.col("term").isin(all_terms))
        .groupBy("segment")
        .applyInPandas(fn, schema=SDM_ROWS_SCHEMA)
        .persist()
    )

    def tfpart(tf_col, dl_col):
        return tf_col / (
            tf_col + F.lit(k1 * (1 - b)) + F.lit(k1 * b / avgdl) * dl_col
        )

    bag = (
        rows.filter(F.col("pid") == -1)
        .groupBy("qid", "doc_id")
        .agg((F.lit(W_TERM) * F.sum("bag")).alias("score"),
             F.first("doclen").alias("doclen"))
    )
    counts = rows.filter(F.col("pid") >= 0)
    pair_dfs = counts.groupBy("qid", "pid").agg(
        F.sum((F.col("o") > 0).cast("long")).cast("double").alias("df_o"),
        F.sum((F.col("u") > 0).cast("long")).cast("double").alias("df_u"),
    )
    pair_scores = (
        counts.join(F.broadcast(pair_dfs), ["qid", "pid"])
        .withColumn(
            "pscore",
            F.when(
                F.col("o") > 0,
                F.lit(W_ORDERED) * _idf(F.col("df_o"), n)
                * tfpart(F.col("o").cast("double"),
                         F.col("doclen").cast("double")),
            ).otherwise(0.0)
            + F.when(
                F.col("u") > 0,
                F.lit(W_UNORDERED) * _idf(F.col("df_u"), n)
                * tfpart(F.col("u").cast("double"),
                         F.col("doclen").cast("double")),
            ).otherwise(0.0),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("pscore").alias("pairs"))
    )
    score_df = (
        bag.join(pair_scores, ["qid", "doc_id"], "left")
        .withColumn("score",
                    F.col("score") + F.coalesce(F.col("pairs"), F.lit(0.0)))
        .select("qid", "doc_id", "score")
    )
    # rank() <= k, not row_number(): docs tied at the kth score survive,
    # so the driver tail's url tie-break stays exact
    w = Window.partitionBy("qid").orderBy(F.desc("score"))
    try:
        t = (score_df.withColumn("r0", F.rank().over(w))
             .filter(F.col("r0") <= params.k).drop("r0").toArrow())
    finally:
        rows.unpersist()
    return run_frame(spark, rank_runs(index, t["qid"].to_numpy(),
                                      t["doc_id"].to_numpy(),
                                      t["score"].to_numpy(), params.k))
