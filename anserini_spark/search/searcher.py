"""BM25 top-k retrieval over the block index.

One physical engine, the Spark analogue of Lucene's per-segment search
(`SearchCollection.java:459-486`): posting blocks for the query terms
are pruned at the parquet scan (``term IN`` pushdown on
term-range-sorted files), grouped by segment, and scored inside one
Arrow kernel per segment: vectorized varint decode (once per term,
shared across the whole query batch), term-at-a-time accumulation into
a dense per-segment array with MaxScore/block-max pruning, per-segment
top-k, then a tiny shuffle merges per-segment top-k by (score desc,
url asc) exactly like Lucene's BREAK_SCORE_TIES_BY_DOCID collector
(`SearchCollection.java:115-116`).

``_search_blocks`` is that driver: ``_score_blocks`` (the scan and
the per-segment kernel) then ``_finalize_arrays`` (the per-qid merge
and url order). BM25 (``search_kernel``), the pluggable similarities
(`kernel_sim.py`) and impact search (`index/impact.py`) differ only
in the per-term weights and the per-posting contribution they hand
it: the float32 BM25 tf-part (``bm25.tf_part``) or a float64 shape
function. Tweet search (`tweets.py`) takes ``_score_blocks``' hits
and applies its own id filter and tie order. The references the
tests hold it to are ``oracle.py`` and the DuckDB SQL oracles.

Per-term float32 contributions are accumulated in float64 and narrowed
to float32 at the end — Lucene's DisjunctionSumScorer likewise sums
float subscores in a double and narrows.

API mirrors `search/SimpleSearcher.java:80-478` (search, batch_search,
set_bm25) — the pyserini-bridge surface (SURVEY.md §3.3).
"""

from __future__ import annotations

import json
import os
from typing import Dict, Iterable, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..index.blocks import decode_block_run
from ..index.build import SEG_SHIFT
from .bm25 import BM25Params, BM25Scorer, tf_part
from .tieadjust import adjust_score_ties

# the ranked run every search entry point returns
RUN_SCHEMA = "qid int, docid string, rank int, score double"
BATCH_REPARTITION_MIN_QUERIES = 16
# kernel paths emit ONE row per (segment, qid) with packed arrays:
# |segments| * |queries| rows instead of |segments| * |queries| * k —
# the per-qid merge then runs as a numpy kernel, not a 30M-row
# JVM sort window (batch-throughput path; same bytes, ~1000x fewer
# row headers/comparisons)
ARRAY_RESULT_SCHEMA = "qid int, doc_id array<bigint>, score array<double>"


class InvertedIndex:
    """Handle on an index directory written by ``build_index``.

    ``cache=True`` persists the dictionary and docmap in executor
    memory (the analogue of Lucene's term-dictionary/FS cache,
    `SearchCollection.java:221-225` ``-inmem``); ``cache_blocks``
    additionally pins the posting blocks — appropriate when the index
    fits executor memory (bench/dev), not at full corpus scale where
    parquet min/max pruning + OS page cache do this job."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache: bool = True, cache_blocks: bool = False):
        self.spark = spark
        self.dir = index_dir
        with open(os.path.join(index_dir, "stats.json")) as f:
            self.stats = json.load(f)
        with open(os.path.join(index_dir, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.analyzer = self.manifest["docvec"]["lineage"]["analyzer"]
        # id-layout + analyzer/lexicon version gates (shared with the
        # LocalSearcher serving path): a SEG_SHIFT mismatch would
        # silently mis-slot every doc in the dense accumulators, and a
        # drifted analyzer would silently degrade ranking — refuse
        # both. "ws" is a pure whitespace split (no chain/lexicon), so
        # pre-version ws manifests stay loadable.
        from ..index.versioning import (check_analysis_version,
                                        check_seg_shift)

        check_seg_shift(self.manifest, index_dir, SEG_SHIFT)
        check_analysis_version(self.manifest, index_dir)
        self._cache = cache
        self._cache_blocks = cache_blocks
        self._dfs: Dict[str, DataFrame] = {}
        self._dict_ds = None  # lazy pyarrow dataset for term_stats
        self._dead: Optional[Dict[int, np.ndarray]] = None

    @property
    def live_docvec(self) -> DataFrame:
        """docvec minus tombstoned docs (broadcast anti-join), for
        readers of docvec rows rather than postings:
        ``SimpleSearcher.doc``, axiom's pool urls and the multi-slice
        disjointness check."""
        from ..index.tombstones import read_tombstones

        dead = read_tombstones(self.spark, self.dir)
        if dead is None:
            return self.docvec
        return self.docvec.join(F.broadcast(dead), "url", "left_anti")

    @property
    def dead_by_segment(self) -> Dict[int, np.ndarray]:
        """Lucene-liveDocs view: segment -> sorted local doc ids of
        tombstoned docs ({} when none). Computed once (broadcast
        semi-join against the column-pruned docvec), cached driver-
        side — O(deletes), rides into the kernel closures."""
        if self._dead is None:
            from ..index.tombstones import dead_by_segment

            self._dead = dead_by_segment(self.spark, self.dir,
                                         self.docvec, SEG_SHIFT)
        return self._dead

    @property
    def dead_global(self) -> np.ndarray:
        """Sorted absolute doc ids of tombstoned docs (may be empty)."""
        parts = [(s << SEG_SHIFT) | ids
                 for s, ids in self.dead_by_segment.items()]
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.sort(np.concatenate(parts))

    def _load(self, name: str, do_cache: bool) -> DataFrame:
        if name not in self._dfs:
            df = self.spark.read.parquet(os.path.join(self.dir, f"{name}.parquet"))
            if do_cache:
                df = df.cache()
            self._dfs[name] = df
        return self._dfs[name]

    @property
    def blocks(self) -> DataFrame:
        return self._load("blocks", self._cache_blocks)

    @property
    def docvec(self) -> DataFrame:
        return self._load("docvec", False)

    @property
    def docmap(self) -> DataFrame:
        # column-pruned projection of docvec (parquet skips the term
        # arrays); cached when cache=True
        if "docmap" not in self._dfs:
            df = self.docvec.select("doc_id", "url", "segment", "doclen")
            if self._cache:
                df = df.cache()
            self._dfs["docmap"] = df
        return self._dfs["docmap"]

    @property
    def dictionary(self) -> DataFrame:
        return self._load("dictionary", self._cache)

    def analyze_query(self, text: str) -> List[str]:
        from ..analysis.analyzer import analyze_for

        return analyze_for(self.analyzer)(text or "")

    def term_stats(self, terms: Iterable[str]) -> Dict[str, Tuple[int, int]]:
        """term -> (df, cf). The dictionary is tiny relative to the
        index and term-range-sorted, so this reads it driver-side via
        pyarrow row-group pruning — no Spark job on the per-query hot
        path (the analogue of Lucene's in-memory term dictionary).
        Falls back to a Spark scan for non-local index stores."""
        terms = sorted(set(terms))
        if not terms:
            return {}
        try:
            import pyarrow.dataset as ds

            if self._dict_ds is None:
                self._dict_ds = ds.dataset(
                    os.path.join(self.dir, "dictionary.parquet"),
                    format="parquet",
                )
            t = self._dict_ds.to_table(
                filter=ds.field("term").isin(terms),
                columns=["term", "df", "cf"],
            )
            return {
                t_: (int(d), int(c))
                for t_, d, c in zip(t["term"].to_pylist(),
                                    t["df"].to_pylist(),
                                    t["cf"].to_pylist())
            }
        except Exception:
            rows = (
                self.dictionary.filter(F.col("term").isin(terms))
                .select("term", "df", "cf")
                .collect()
            )
            return {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows}

    def term_dfs(self, terms: Iterable[str]) -> Dict[str, int]:
        return {t: df for t, (df, _cf) in self.term_stats(terms).items()}


def _query_weights(
    index: InvertedIndex, queries: Dict[int, str], params: BM25Params,
    boosts: Optional[Dict[int, Dict[str, float]]] = None,
    boosts_are_final: bool = False,
) -> Tuple[Dict[int, Dict[str, np.float32]], BM25Scorer]:
    """Analyze queries, look up dfs, precompute float32 term weights.

    Bag-of-words semantics (`BagOfWordsQueryGenerator.java:34-43`):
    duplicate query terms act as boost = occurrence count. When
    ``boosts`` is given (RM3/expansion path: pre-analyzed term ->
    boost maps, `Rm3Reranker.java:96-116` BoostQuery analogue), the
    per-term weight is boost * idf and ``queries`` text is ignored for
    those qids."""
    scorer = BM25Scorer(index.stats["doc_count"], index.stats["avgdl"], params)
    boosts = boosts or {}
    per_q_tokens = {
        qid: index.analyze_query(text)
        for qid, text in queries.items()
        if qid not in boosts
    }
    all_terms = {t for toks in per_q_tokens.values() for t in toks}
    all_terms |= {t for m in boosts.values() for t in m}
    dfs = index.term_dfs(all_terms)
    weights: Dict[int, Dict[str, np.float32]] = {}
    for qid, toks in per_q_tokens.items():
        wmap: Dict[str, np.float32] = {}
        for t in toks:
            if t not in dfs:  # zero-hit term: no postings, contributes 0
                continue
            if t in wmap:
                wmap[t] = np.float32(wmap[t] + scorer.weight(dfs[t]))
            else:
                wmap[t] = scorer.weight(dfs[t])
        weights[qid] = wmap
    for qid, bmap in boosts.items():
        if boosts_are_final:
            # BM25PRF path: the boost IS the term weight (idf ≡ 1,
            # `BM25PrfReranker.java:54-65` BM25PrfSimilarity)
            weights[qid] = {
                t: np.float32(b) for t, b in bmap.items() if t in dfs
            }
        else:
            weights[qid] = {
                t: np.float32(np.float32(b) * scorer.weight(dfs[t]))
                for t, b in bmap.items()
                if t in dfs
            }
    return weights, scorer


def _merge_topk_fn(k: int):
    """Per-qid merge of the segments' packed top-k arrays: concatenate
    <= |segments| rows, keep every doc scoring >= the kth-largest
    (ties included — exact superset of the top-k), explode back to
    rows. O(candidates) numpy, no comparison sort."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        docs = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["doc_id"]]
        )
        scores = np.concatenate(
            [np.asarray(x, dtype=np.float64) for x in pdf["score"]]
        )
        if len(docs) > k:
            kth = np.partition(scores, len(scores) - k)[len(scores) - k]
            keep = scores >= kth
            docs, scores = docs[keep], scores[keep]
        return pd.DataFrame(
            {
                "qid": np.full(len(docs), int(pdf["qid"].iloc[0]),
                               dtype=np.int32),
                "doc_id": docs,
                "score": scores,
            }
        )

    return merge


def _finalize_arrays(index: InvertedIndex, hits: DataFrame,
                     k: int) -> DataFrame:
    """Global merge for the kernel paths' packed-array output: per-qid
    numpy top-k merge (|segments| rows per qid through the shuffle,
    not |segments| * k), then url join + exact (score desc, url asc)
    final order for only the ~k survivors per qid."""
    merged = hits.groupBy("qid").applyInPandas(
        _merge_topk_fn(k), schema="qid int, doc_id long, score double"
    )
    return _rank_with_urls(index, merged, k)


def _rank_with_urls(index: InvertedIndex, survivors: DataFrame,
                    k: int) -> DataFrame:
    """The shared tail: url attach, final (score desc, url asc) order
    cut to k, score-ties adjust. ``survivors`` (qid, doc_id, score)
    must already be bounded to ~k rows per qid: they are broadcast
    into a streamed docmap scan (guide §3.1), so the candidate side
    is queries x k regardless of corpus size, while the round-6
    shuffle_hash hint exchanged the FULL docmap by doc_id per batch
    (2 exchanges removed from every kernel search)."""
    docmap = index.docmap.select("doc_id", "url")
    joined = docmap.join(F.broadcast(survivors), "doc_id")
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("url"))
    ranked = (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("url").alias("docid"), "rank", "score")
    )
    return adjust_score_ties(ranked).orderBy("qid", "rank")


def _finalize(index: InvertedIndex, hits: DataFrame, k: int) -> DataFrame:
    """Merge candidates globally: top-k per qid by (score desc,
    url asc), assign ranks, adjust score ties.

    Two-phase for batch scale: segments emit up to |segments| * k rows
    per qid, so joining urls first would shuffle that whole candidate
    stream through the docmap join. Phase 1 prunes on the NARROW
    (qid, doc_id, score) rows with ``rank() <= k`` over score alone —
    rank() (not row_number) keeps every row tied at the kth score, so
    the url tie-break in phase 2 stays exact, while WindowGroupLimit
    pushes a partial top-k map-side before the qid shuffle. Phase 2
    joins urls for only the ~k survivors per qid and applies the final
    (score desc, url asc) order — BREAK_SCORE_TIES_BY_DOCID on the
    collection docid string (`SearchCollection.java:115-116`)."""
    w0 = Window.partitionBy("qid").orderBy(F.desc("score"))
    pruned = (
        hits.withColumn("r0", F.rank().over(w0))
        .filter(F.col("r0") <= k)
        .drop("r0")
    )
    return _rank_with_urls(index, pruned, k)


def _segment_score_fn(
    weights: Dict[int, Dict[str, np.float32]],
    scorer_consts: Optional[Tuple[float, float, bool]],
    seg_counts: Dict[int, int],
    k: int,
    shape_fns: Optional[Dict[str, object]] = None,
    dead_by_seg: Optional[Dict[int, np.ndarray]] = None,
):
    """Per-segment scoring kernel. Default mode is float32 BM25:
    ``scorer_consts`` is ``(cache1, cache2, lossy)`` for
    ``bm25.tf_part``. When ``shape_fns`` is given
    (term -> callable(tfs, dls) -> per-posting contribution, float64),
    the kernel scores an arbitrary similarity through the SAME
    term-pruned block scan + MaxScore machinery — the Spark analogue
    of Lucene's pluggable Similarity (`SearchCollection.java:281-334`).
    Shape functions must be non-negative, increasing in tf and
    non-increasing in dl (all the reference's similarities are), so
    shape(max_tf, min_dl) stays a valid block upper bound."""
    out_dtype = np.float32 if shape_fns is None else np.float64

    def _part(t: str, tfs: np.ndarray, dls: np.ndarray) -> np.ndarray:
        if shape_fns is None:
            return tf_part(tfs, dls, *scorer_consts)
        return shape_fns[t](np.asarray(tfs), np.asarray(dls))

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "qid": np.empty(0, dtype=np.int32),
                "doc_id": np.empty(0, dtype=object),
                "score": np.empty(0, dtype=object),
            }
        )

    def score_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["segment"].iloc[0])
        base = seg << SEG_SHIFT
        count = seg_counts.get(seg, 0)
        if count == 0:
            return _empty()
        # liveDocs (tombstones): dead postings drop at DECODE time, so
        # accumulation and MaxScore thresholds never see them — ranked
        # results equal an index that never held the docs (stats stay
        # stale until a purging merge, Lucene-identical)
        dead = dead_by_seg.get(seg) if dead_by_seg else None

        def _live(ids: np.ndarray, parts: np.ndarray):
            if dead is None or len(ids) == 0:
                return ids, parts
            from ..index.tombstones import drop_dead

            keep = drop_dead(ids, dead)
            if keep is None:
                return ids, parts
            return ids[keep], parts[keep]
        pdf = pdf.sort_values(["term", "first_doc"], kind="mergesort")
        groups = {t: g for t, g in pdf.groupby("term", sort=False)}

        # per-term block metadata (no decode): postings count and the
        # block-max score bound tf*/(tf* + c1 + c2*dl*) (SURVEY.md §4)
        meta: Dict[str, Tuple[int, np.ndarray]] = {}
        for t, g in groups.items():
            bound = _part(t, g["max_tf"].to_numpy(), g["min_dl"].to_numpy())
            meta[t] = (int(g["n"].sum()), bound)

        # full-run decode cache, shared across queries
        decoded: Dict[str, Tuple[np.ndarray, np.ndarray]] = {}

        def decode(t: str, lo: Optional[int] = None,
                   hi: Optional[int] = None):
            """t's live postings here as (sorted local ids, parts).
            Full runs are cached across queries. Given a local-doc
            range [lo, hi], decode only the blocks overlapping it
            (block-max skipping), unless the full run is cached."""
            if t in decoded:
                return decoded[t]
            g = groups[t]
            if lo is not None:
                first = g["first_doc"].to_numpy() - base
                last = g["last_doc"].to_numpy() - base
                overlap = (last >= lo) & (first <= hi)
                if not overlap.any():
                    return (np.empty(0, dtype=np.int64),
                            np.empty(0, out_dtype))
                g = g.iloc[np.nonzero(overlap)[0]]
            docs, tfs, dls = decode_block_run(
                list(g["docs_bin"]), list(g["tfs_bin"]), list(g["dls_bin"]),
                g["n"].to_numpy(), g["first_doc"].to_numpy(),
                g["last_doc"].to_numpy(),
            )
            run = _live((docs - base).astype(np.int64), _part(t, tfs, dls))
            if lo is None:
                decoded[t] = run
            return run

        out_qid: List[np.ndarray] = []
        out_doc: List[np.ndarray] = []
        out_score: List[np.ndarray] = []
        acc = np.zeros(count, dtype=np.float64)
        # dense touched-doc mask: candidate collection is O(segment
        # doc count) flatnonzero scans instead of O(n log n)
        # unique/sort churn per query — the batch-throughput hot path
        mask = np.zeros(count, dtype=bool)
        for qid, wmap in weights.items():
            # SEGMENT-INDEPENDENT term order, (query weight desc, term):
            # float addition is order-sensitive, so two docs holding the
            # same contribution multiset must accumulate in the same
            # order in EVERY segment or their totals drift 1 ulp apart
            # and break score ties inconsistently with the (score desc,
            # docid asc) contract. The global weight (boost*idf) tracks
            # the MaxScore impact order, so pruning stays effective;
            # correctness of the suffix-bound logic is order-agnostic.
            terms = sorted((t for t in wmap if t in groups),
                           key=lambda t: (-float(wmap[t]), t))
            if not terms:
                continue
            cand, scores = _maxscore_query(terms, wmap, meta, decode, acc,
                                           mask, k, out_dtype)
            if len(cand) > k:
                # keep every doc scoring >= the kth-largest score (ties
                # included — a superset of the exact top-k, O(n)
                # argpartition instead of a full lexsort); the global
                # merge applies the final (score desc, url asc) order
                # (BREAK_SCORE_TIES_BY_DOCID,
                # `SearchCollection.java:115-116`), so emitting tied
                # extras never changes the ranked result
                kth = np.partition(scores, len(scores) - k)[len(scores) - k]
                keep = scores >= kth
                cand, scores = cand[keep], scores[keep]
            out_qid.append(qid)
            out_doc.append(cand + base)
            out_score.append(scores.astype(np.float64))
        if not out_qid:
            return _empty()
        return pd.DataFrame(
            {
                "qid": np.asarray(out_qid, dtype=np.int32),
                "doc_id": out_doc,
                "score": out_score,
            }
        )

    return score_segment


def _maxscore_query(terms, wmap, meta, decode, acc, mask, k, out_dtype):
    """MaxScore evaluation of one query over one segment.

    Dense-accumulate terms in descending upper-bound order; once the
    remaining terms' summed upper bound drops below the current kth
    partial score (a valid lower bound of the final kth score), the
    remaining terms can no longer introduce new top-k docs — finish
    them with sorted lookups (searchsorted) restricted to the candidate
    set, decoding only candidate-overlapping blocks (block-max skip).
    Final scores of emitted docs are exact, and the top k equals a
    dense recompute (pinned by ``tests/test_maxscore.py``).

    A term's contribution is ``w * part`` in ``out_dtype`` (float32
    for BM25, as Lucene multiplies floats), widened into the float64
    accumulator by ``+=``. ``mask`` is the segment-wide touched-doc
    workspace (candidate collection = one O(doc-count) flatnonzero
    scan, no per-term unique/sort); it is returned to all-False before
    exit."""
    ws = {t: out_dtype(wmap[t]) for t in terms}
    ubs = {t: float(ws[t] * meta[t][1].max()) for t in terms}
    # keep the caller's segment-independent order (weight desc, term):
    # the per-segment ubs feed the suffix-bound THRESHOLD math, which is
    # valid in any processing order; re-sorting by segment-local ubs
    # would make per-doc addition order segment-dependent (see
    # score_segment) for a marginal pruning gain
    order = list(terms)
    suffix = np.concatenate(
        [np.cumsum([ubs[t] for t in order][::-1])[::-1][1:], [0.0]]
    )
    theta = 0.0
    switch = len(order)
    for i, t in enumerate(order):
        if i > 0 and suffix[i] > 0.0:
            cur = np.flatnonzero(mask)
            if len(cur) > k:
                part_scores = acc[cur]
                theta = float(np.partition(part_scores, len(cur) - k)[len(cur) - k])
                if suffix[i - 1] < theta:
                    switch = i
                    break
        idx, part = decode(t)
        acc[idx] += (ws[t] * part).astype(out_dtype, copy=False)
        mask[idx] = True
    cand = np.flatnonzero(mask)
    out = cand
    if switch < len(order):
        # candidates that cannot reach theta are dead: their final score
        # is < theta <= final kth score, so dropping them is exact
        rem_ub = suffix[switch - 1]
        out = cand[acc[cand] + rem_ub >= theta]
        if out.size:
            lo, hi = int(out[0]), int(out[-1])
            for t in order[switch:]:
                d, part = decode(t, lo, hi)
                if d.size == 0:
                    continue
                pos = np.searchsorted(d, out)
                pos_c = np.minimum(pos, d.size - 1)
                hit = d[pos_c] == out
                hpos = pos_c[hit]
                acc[out[hit]] += (ws[t] * part[hpos]).astype(out_dtype,
                                                             copy=False)
    scores = acc[out].astype(out_dtype)
    acc[cand] = 0.0
    mask[cand] = False
    return out, scores


def _score_blocks(
    index: InvertedIndex,
    weights: Dict[int, Dict[str, float]],
    k: int,
    consts: Optional[Tuple[float, float, bool]],
    shape_fns: Optional[Dict[str, object]] = None,
) -> Optional[DataFrame]:
    """The scoring stage of ``_search_blocks``: term-pruned
    ``blocks`` scan -> per-segment kernel (``_segment_score_fn``) ->
    packed ``ARRAY_RESULT_SCHEMA`` hits, each segment's top k per qid
    (docs tied at the kth score kept). ``weights`` is qid -> term ->
    query weight; ``consts`` feeds the float32 BM25 tf-part, or
    ``shape_fns`` gives each term's float64 contribution instead.
    None when no query term has postings."""
    terms = sorted({t for wmap in weights.values() for t in wmap})
    if not terms:
        return None
    seg_counts = {int(s): int(c) for s, c in index.stats["segments"].items()}
    # column-pruned: positional indexes carry pos_bin, which scoring
    # never reads — keep it out of the parquet scan
    blocks = index.blocks.select(
        "term", "segment", "first_doc", "last_doc", "n", "max_tf", "min_dl", "sum_tf", "docs_bin", "tfs_bin", "dls_bin"
    ).filter(F.col("term").isin(terms))
    fn = _segment_score_fn(weights, consts, seg_counts, k,
                           shape_fns=shape_fns,
                           dead_by_seg=index.dead_by_segment or None)
    # over-provision the group hash space for BATCH workloads: with
    # |segments| groups into |segments| reducers, balls-in-bins
    # collisions put 2-3 segments on one task and leave a third of the
    # cores idle (the straggler IS the batch latency). 4x partitions
    # make collisions rare; the explicit repartition satisfies
    # applyInPandas's clustering requirement, so no second shuffle is
    # added. Small batches skip it — their per-task python work is
    # tiny, so collision cost is below the extra exchange's latency.
    if len(weights) >= BATCH_REPARTITION_MIN_QUERIES:
        n_parts = min(512, 4 * max(1, len(seg_counts)))
        blocks = blocks.repartition(n_parts, "segment")
    return blocks.groupBy("segment").applyInPandas(
        fn, schema=ARRAY_RESULT_SCHEMA
    )


def _search_blocks(
    index: InvertedIndex,
    weights: Dict[int, Dict[str, float]],
    k: int,
    consts: Optional[Tuple[float, float, bool]],
    shape_fns: Optional[Dict[str, object]] = None,
) -> DataFrame:
    """The one Spark scoring driver: ``_score_blocks`` -> per-qid
    merge and url order (``_finalize_arrays``)."""
    hits = _score_blocks(index, weights, k, consts, shape_fns)
    if hits is None:
        return index.spark.createDataFrame([], RUN_SCHEMA)
    return _finalize_arrays(index, hits, k)


def search_kernel(
    index: InvertedIndex, queries: Dict[int, str], params: BM25Params,
    boosts: Optional[Dict[int, Dict[str, float]]] = None,
    boosts_are_final: bool = False,
) -> DataFrame:
    """float32 BM25 (bit-parity with the reference) through
    ``_search_blocks``."""
    weights, scorer = _query_weights(index, queries, params, boosts,
                                     boosts_are_final)
    return _search_blocks(index, weights, params.k,
                          (scorer.cache1, scorer.cache2, params.lossy))


POSTINGS_SCHEMA = "term string, doc_id long, tf long, doclen long"


def postings_from_blocks(index: InvertedIndex,
                         terms: List[str]) -> DataFrame:
    """Decoded flat postings ``(term, doc_id, tf, doclen)`` for the
    given terms via the term-pruned ``blocks.parquet`` scan — the
    scale-safe replacement for exploding the docvec posting arrays
    (O(matching postings), not O(corpus)). Blocks decode independently
    (each block's delta chain starts at its own ``first_doc``), so no
    grouping shuffle is needed — one Arrow pass over the pruned scan."""
    if not terms:
        return index.spark.createDataFrame([], POSTINGS_SCHEMA)
    blocks = index.blocks.select(
        "term", "segment", "first_doc", "last_doc", "n",
        "docs_bin", "tfs_bin", "dls_bin",
    ).filter(F.col("term").isin(sorted(set(terms))))
    dead_global = index.dead_global  # liveDocs: drop tombstoned docs

    def decode(batches):
        for b in batches:
            if len(b) == 0:
                continue
            b = b.sort_values(["term", "segment", "first_doc"],
                              kind="mergesort")
            out_t: List[np.ndarray] = []
            out_d: List[np.ndarray] = []
            out_f: List[np.ndarray] = []
            out_l: List[np.ndarray] = []
            for (t, _seg), g in b.groupby(["term", "segment"], sort=False):
                docs, tfs, dls = decode_block_run(
                    list(g["docs_bin"]), list(g["tfs_bin"]),
                    list(g["dls_bin"]), g["n"].to_numpy(),
                    g["first_doc"].to_numpy(), g["last_doc"].to_numpy(),
                )
                if len(dead_global):
                    from ..index.tombstones import drop_dead

                    keep = drop_dead(docs.astype(np.int64), dead_global)
                    if keep is not None:
                        docs, tfs, dls = docs[keep], tfs[keep], dls[keep]
                out_t.append(np.full(len(docs), t, dtype=object))
                out_d.append(docs)
                out_f.append(tfs)
                out_l.append(dls)
            yield pd.DataFrame({
                "term": np.concatenate(out_t),
                "doc_id": np.concatenate(out_d),
                "tf": np.concatenate(out_f),
                "doclen": np.concatenate(out_l),
            })

    return blocks.mapInPandas(decode, schema=POSTINGS_SCHEMA)


# ---------------------------------------------------------------------------
# SimpleSearcher-shaped API
# ---------------------------------------------------------------------------


class SimpleSearcher:
    """Programmatic API mirroring the reference's Python bridge
    (`search/SimpleSearcher.java:80-478`; `SearchMsmarco.java:84-175`)."""

    def __init__(self, spark: SparkSession, index_dir,
                 k1: float = 0.9, b: float = 0.4, lossy: bool = False):
        if isinstance(index_dir, (list, tuple)):
            # incremental slices, searched unmerged (Lucene's
            # multi-segment reader) — see search/multislice.py
            from .multislice import MultiSliceIndex

            self.index = MultiSliceIndex(spark, list(index_dir))
        else:
            self.index = InvertedIndex(spark, index_dir)
        # lossy=True is the reference's default-BM25 parity mode
        # (SmallFloat byte4 doclen quantization); False == -bm25accurate
        self.params = BM25Params(k1=k1, b=b, lossy=lossy)
        self._rm3: Optional[Tuple[int, int, float]] = None
        self._axiom: Optional[Tuple[int, int, float, int, int, str]] = None
        self._qld_mu: Optional[float] = None

    def set_bm25(self, k1: float, b: float) -> None:
        self.params = BM25Params(k1=k1, b=b, k=self.params.k,
                                 lossy=self.params.lossy)
        self._qld_mu = None

    def set_qld(self, mu: float = 1000.0) -> None:
        """Rank with query-likelihood Dirichlet smoothing instead of
        BM25 — the `SimpleSearcher.setLMDirichletSimilarity(mu)`
        analogue (`SimpleSearcher.java:192-198`). Routed through the
        float64 kernel-similarity path (`kernel_sim.py` "qld" shape,
        Lucene LMDirichletSimilarity semantics incl. the per-term
        clamp at 0). Cleared by `set_bm25`."""
        self._qld_mu = float(mu)

    def set_rm3(self, fb_docs: int = 10, fb_terms: int = 10,
                alpha: float = 0.5) -> None:
        """Enable RM3 PRF (`SimpleSearcher.set_rm3_reranker` analogue)."""
        self._rm3 = (fb_docs, fb_terms, alpha)

    def unset_rm3(self) -> None:
        self._rm3 = None

    def set_axiom(self, r: int = 20, n: int = 2, beta: float = 0.4,
                  m: int = 20, seed: int = 42,
                  pool: str = "hash") -> None:
        """Enable the deterministic axiomatic reranker
        (`SearchArgs.java` -axiom block analogue; see axiom.py).
        ``pool="random"`` selects the reference's java.util.Random
        seeded pool protocol instead of the hash-ordered scale mode."""
        self._axiom = (r, n, beta, m, seed, pool)

    def unset_axiom(self) -> None:
        self._axiom = None

    def batch_search(self, queries, qids: Optional[List[str]] = None,
                     k: int = 1000, threads: int = -1):
        """Two forms, mirroring the reference's Python-bridge surface:

        * ``batch_search({qid_int: query}, k=...)`` -> DataFrame
          (qid, docid, rank, score) — the native engine form.
        * ``batch_search([query, ...], [qid_str, ...], k, threads)`` ->
          ``{qid: [(docid, rank, score), ...]}`` — the reference's
          ``SimpleSearcher.batchSearch(List, List, int, int)``
          (`SimpleSearcher.java:213-284`). ``threads`` sizes the
          reference's executor pool; here the whole batch runs as ONE
          Spark job whose parallelism is the cluster's (the packed
          per-(segment, qid) kernel), so it is accepted for signature
          compatibility and validated only.
        """
        if not isinstance(queries, dict):
            if qids is None or len(qids) != len(queries):
                raise ValueError("list-form batch_search needs qids "
                                 "with one id per query")
            if threads == 0 or threads < -1:
                raise ValueError(f"invalid threads {threads}")
            surrogate = {i: q for i, q in enumerate(queries)}
            df = self.batch_search(surrogate, k=k)
            out: Dict[str, List[Tuple[str, int, float]]] = {
                str(q): [] for q in qids}
            for r in df.collect():
                out[str(qids[r["qid"]])].append(
                    (r["docid"], r["rank"], r["score"]))
            return out
        params = BM25Params(k1=self.params.k1, b=self.params.b, k=k,
                            lossy=self.params.lossy)
        if self._qld_mu is not None:
            if self._rm3 is not None or self._axiom is not None:
                raise NotImplementedError(
                    "rerankers run over the BM25 first pass; unset them "
                    "before set_qld or keep BM25 as the base similarity")
            from .kernel_sim import search_kernel_similarity

            return search_kernel_similarity(self.index, queries, "qld",
                                            k=k, mu=self._qld_mu)
        if self._axiom is not None:
            from .axiom import search_axiom

            r, n, beta, m, seed, pool = self._axiom
            hits, _ = search_axiom(self.index, queries, params, r=r, n=n,
                                   beta=beta, m=m, seed=seed, pool=pool)
            return hits
        if self._rm3 is not None:
            from .rm3 import search_rm3

            fb_docs, fb_terms, alpha = self._rm3
            hits, _ = search_rm3(self.index, queries, params,
                                 fb_docs=fb_docs, fb_terms=fb_terms,
                                 alpha=alpha)
            return hits
        return search_kernel(self.index, queries, params)

    def search(self, query: str, k: int = 10) -> List[Tuple[str, int, float]]:
        df = self.batch_search({0: query}, k=k)
        return [(r["docid"], r["rank"], r["score"]) for r in df.collect()]

    def doc(self, docid: str) -> Optional[str]:
        """Stored contents for a docid — the `SimpleSearcher.document`
        analogue (`SimpleSearcher.java:400-476`). Returns None when
        the index was built without ``store_contents=True`` and for
        tombstoned docids (Lucene returns null for deleted docs). The
        equality filter pushes into the url-sorted docvec scan."""
        dv = self.index.live_docvec
        if "contents" not in dv.columns:
            return None
        rows = (dv.select("url", "contents")
                .filter(F.col("url") == docid).take(1))
        return rows[0]["contents"] if rows else None
