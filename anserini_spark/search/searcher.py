"""BM25 top-k retrieval over the block index.

One physical engine, the Spark analogue of Lucene's per-segment search
(`SearchCollection.java:459-486`): posting blocks for the query terms
are pruned at the parquet scan (``term IN`` pushdown on
term-range-sorted files), grouped by segment, and scored inside one
Arrow kernel per segment: vectorized varint decode (once per term,
shared across the whole query batch), term-at-a-time accumulation into
a dense per-segment array with MaxScore/block-max pruning, and a
per-segment top k. That scan and kernel (``_score_blocks``) are a
search's one Spark job; its packed hits, |segments| rows per qid, come
to the driver through ``toArrow()``. There ``rank_runs`` keeps each
qid's docs scoring at or above the kth score, reads only their urls
(``InvertedIndex.urls``), and orders by (score desc, url asc) — Lucene's
BREAK_SCORE_TIES_BY_DOCID (`SearchCollection.java:115-116`) — and
tie-adjusts through ``tieadjust.rank_hits``, the tail ``LocalSearcher``
calls too.

A batch whose segments could hand the driver more than
``DRIVER_TAIL_MAX_CANDIDATES`` candidates keeps that tail in Spark
instead (``_spark_tail``: a per-qid merge shuffle, a docmap join for
the survivors' urls, a window order and ``adjust_score_ties``), so
whole-dev-set batches never leave the executors. Both tails give the
same run.

BM25 (``kernel_runs``), the pluggable similarities (`kernel_sim.py`)
and impact search (`index/impact.py`) differ only in the per-term
weights and the per-posting contribution they hand ``_search_blocks``:
the float32 BM25 tf-part (``bm25.tf_part``) or a float64 shape
function. A run is driver rows or, from the Spark tail, a DataFrame;
``run_frame`` and ``run_rows`` give either form. Tweet search
(`tweets.py`) takes ``_score_blocks``' hits and applies its own id
filter and tie order. The tests hold it to ``oracle.py`` and the
DuckDB SQL oracles.

Per-term float32 contributions are accumulated in float64 and narrowed
to float32 at the end — Lucene's DisjunctionSumScorer likewise sums
float subscores in a double and narrows.

API mirrors `search/SimpleSearcher.java:80-478` (search, batch_search,
set_bm25) — the pyserini-bridge surface (SURVEY.md §3.3).
"""

from __future__ import annotations

import json
import os
from typing import Dict, Iterable, List, Optional, Tuple, Union

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..index.blocks import decode_block_run
from ..index.build import SEG_SHIFT
from .bm25 import BM25Params, BM25Scorer, tf_part
from .tieadjust import Hit, Urls, adjust_score_ties, keep_topk, rank_hits

# the ranked run every search entry point returns
RUN_SCHEMA = "qid int, docid string, rank int, score double"
BATCH_REPARTITION_MIN_QUERIES = 16
# the kernel emits ONE row per (segment, qid) with packed arrays:
# |segments| * |queries| rows reach the driver, not ... * k rows
ARRAY_RESULT_SCHEMA = "qid int, doc_id array<bigint>, score array<double>"
# bound on the (doc_id, score) candidates a search may send the driver,
# counted as |queries| x sum over segments of min(k, segment docs).
# Past it the merge stays in Spark (``_spark_tail``): its extra jobs
# cost ~1 s, which the driver tail's per-candidate work matched at
# ~2M candidates on 4 cores (BENCH.md), and 1K queries x k=1000 over 32
# segments would put ~0.5 GB of task results on the driver, 10K more
# than spark.driver.maxResultSize (1g)
DRIVER_TAIL_MAX_CANDIDATES = 1_000_000
# a search's ranked run: qid -> [(docid, rank, score)] on the driver,
# or a RUN_SCHEMA DataFrame when the tail ran in Spark
Run = Union[Dict[int, List[Hit]], DataFrame]


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
        self._docvec_ds = None  # lazy pyarrow dataset for urls
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
        side — O(deletes), rides into the kernel closures. An index
        without the tombstone marker never opens docvec (a Spark job)."""
        if self._dead is None:
            from ..index.tombstones import dead_by_segment, has_tombstones

            self._dead = (dead_by_segment(self.spark, self.dir, self.docvec,
                                          SEG_SHIFT)
                          if has_tombstones(self.dir) else {})
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
        Like ``stats.json``, it reads a local index directory."""
        import pyarrow.dataset as ds

        terms = sorted(set(terms))
        if not terms:
            return {}
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

    def urls(self, doc_ids: np.ndarray) -> pa.Table:
        """``(doc_id, url)`` of the given docs: a driver-side pyarrow
        docvec read with ``doc_id IN doc_ids`` pushed into the scan.
        Only the dataset handle is cached, never a url table. Like
        ``stats.json``, it reads a local index directory."""
        import pyarrow.dataset as ds

        if self._docvec_ds is None:
            self._docvec_ds = ds.dataset(
                os.path.join(self.dir, "docvec.parquet"), format="parquet")
        return self._docvec_ds.to_table(
            filter=ds.field("doc_id").isin(
                pa.array(np.asarray(doc_ids, dtype=np.int64))),
            columns=["doc_id", "url"])

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
            # ties at the kth score are kept: the driver tail applies
            # the final (score desc, url asc) order
            cand, scores = keep_topk(cand, scores, k)
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
) -> Run:
    """The one Spark search: ``_score_blocks`` is its only job; its
    packed hits come to the driver as Arrow for ``rank_runs``, unless
    they could exceed ``DRIVER_TAIL_MAX_CANDIDATES`` (``_spark_tail``)."""
    hits = _score_blocks(index, weights, k, consts, shape_fns)
    if hits is None:
        return {}
    per_q = sum(min(k, int(c)) for c in index.stats["segments"].values())
    if len(weights) * per_q > DRIVER_TAIL_MAX_CANDIDATES:
        return _spark_tail(index, hits, k)
    t = hits.toArrow()
    lens = pc.list_value_length(t["doc_id"]).to_numpy()
    return rank_runs(index, np.repeat(t["qid"].to_numpy(), lens),
                     pc.list_flatten(t["doc_id"]).to_numpy(),
                     pc.list_flatten(t["score"]).to_numpy(), k)


def rank_runs(index: InvertedIndex, qids: np.ndarray, doc_ids: np.ndarray,
              scores: np.ndarray, k: int) -> Dict[int, List[Hit]]:
    """The driver tail of a Spark search over its collected candidate
    ``(qid, doc_id, score)`` rows: per qid, the segments' top k merge to
    every doc scoring >= the kth score (``keep_topk``); one url read
    serves all survivors; each qid is ranked by ``rank_hits``."""
    order = np.argsort(qids, kind="stable")
    qids, doc_ids, scores = qids[order], doc_ids[order], scores[order]
    uq, starts = np.unique(qids, return_index=True)
    ends = np.append(starts[1:], len(qids))
    cands = {int(q): keep_topk(doc_ids[a:b], scores[a:b], k)
             for q, a, b in zip(uq, starts, ends)}
    if not cands:
        return {}
    t = index.urls(np.unique(np.concatenate([d for d, _ in cands.values()])))
    urls = Urls(t["doc_id"].to_numpy(), t["url"].combine_chunks())
    return {q: rank_hits(d, s, lambda _ids: urls, k)
            for q, (d, s) in cands.items()}


def _spark_tail(index: InvertedIndex, hits: DataFrame, k: int) -> DataFrame:
    """``rank_runs`` kept in Spark for a batch too large for the driver:
    a per-qid shuffle merges the packed hits (``keep_topk``), the ~k
    survivors per qid are broadcast into a streamed docmap scan for
    their urls, then ordered (score desc, url asc) and tie-adjusted."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        docs, scores = keep_topk(
            np.concatenate([np.asarray(x, np.int64) for x in pdf["doc_id"]]),
            np.concatenate([np.asarray(x, np.float64) for x in pdf["score"]]),
            k)
        return pd.DataFrame({"qid": np.full(len(docs), pdf["qid"].iloc[0],
                                            dtype=np.int32),
                             "doc_id": docs, "score": scores})

    merged = hits.groupBy("qid").applyInPandas(
        merge, schema="qid int, doc_id long, score double")
    joined = index.docmap.select("doc_id", "url").join(
        F.broadcast(merged), "doc_id")
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("url"))
    ranked = (joined.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k)
              .select("qid", F.col("url").alias("docid"), "rank", "score"))
    return adjust_score_ties(ranked).orderBy("qid", "rank")


def run_frame(spark: SparkSession, runs: Run) -> DataFrame:
    """A run as a ``RUN_SCHEMA`` DataFrame in (qid, rank) order. Driver
    rows become an Arrow-built relation over data already on the
    driver: reading it re-runs no search."""
    if isinstance(runs, DataFrame):
        return runs
    cols = list(zip(*[(q, *h) for q in sorted(runs) for h in runs[q]]))
    types = [pa.int32(), pa.string(), pa.int32(), pa.float64()]
    return spark.createDataFrame(pa.table(
        [pa.array(c, t) for c, t in zip(cols or [()] * 4, types)],
        names=["qid", "docid", "rank", "score"]), RUN_SCHEMA)


def run_rows(runs: Run) -> Dict[int, List[Hit]]:
    """A run as qid -> [(docid, rank, score)]: a DataFrame is collected."""
    if not isinstance(runs, DataFrame):
        return runs
    out: Dict[int, List[Hit]] = {}
    for r in runs.collect():
        out.setdefault(r["qid"], []).append((r["docid"], r["rank"],
                                             r["score"]))
    return out


def kernel_runs(
    index: InvertedIndex, queries: Dict[int, str], params: BM25Params,
    boosts: Optional[Dict[int, Dict[str, float]]] = None,
    boosts_are_final: bool = False,
) -> Run:
    """float32 BM25 (bit-parity with the reference) through
    ``_search_blocks``."""
    weights, scorer = _query_weights(index, queries, params, boosts,
                                     boosts_are_final)
    return _search_blocks(index, weights, params.k,
                          (scorer.cache1, scorer.cache2, params.lossy))


def search_kernel(index: InvertedIndex, queries: Dict[int, str],
                  params: BM25Params, boosts=None,
                  boosts_are_final: bool = False) -> DataFrame:
    """``kernel_runs`` as a ``RUN_SCHEMA`` DataFrame."""
    return run_frame(index.spark, kernel_runs(index, queries, params,
                                              boosts, boosts_are_final))


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

        Both forms run the same search; the list form (and ``search``)
        take its run as driver rows (``run_rows``), the dict form as a
        DataFrame (``run_frame``).
        """
        if not isinstance(queries, dict):
            if qids is None or len(qids) != len(queries):
                raise ValueError("list-form batch_search needs qids "
                                 "with one id per query")
            if threads == 0 or threads < -1:
                raise ValueError(f"invalid threads {threads}")
            runs = run_rows(self._search(dict(enumerate(queries)), k))
            out: Dict[str, List[Hit]] = {str(q): [] for q in qids}
            for i, q in enumerate(qids):
                out[str(q)] += runs.get(i, [])
            return out
        return run_frame(self.index.spark, self._search(queries, k))

    def _search(self, queries: Dict[int, str], k: int) -> Run:
        """The run of the configured similarity and reranker."""
        params = BM25Params(k1=self.params.k1, b=self.params.b, k=k,
                            lossy=self.params.lossy)
        if self._qld_mu is not None:
            if self._rm3 is not None or self._axiom is not None:
                raise NotImplementedError(
                    "rerankers run over the BM25 first pass; unset them "
                    "before set_qld or keep BM25 as the base similarity")
            from .kernel_sim import kernel_similarity_runs

            return kernel_similarity_runs(self.index, queries, "qld",
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
        return kernel_runs(self.index, queries, params)

    def search(self, query: str, k: int = 10) -> List[Hit]:
        return run_rows(self._search({0: query}, k)).get(0, [])

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
