"""BM25 top-k retrieval over the block index.

One physical engine, Lucene's per-segment search
(`SearchCollection.java:459-486`): each part of the index collects its
own top k, then one merge runs. A search is ONE Spark job of ONE stage
with no Exchange (``_search_blocks``): the segments are split into at
most one group per core, and each task (``kernel.segment_task``) reads
its group's term-pruned blocks with pyarrow and scores the group as one
with MaxScore in numpy (``kernel.score_group``, the function
``LocalSearcher`` calls over all segments; PLANS.md §1). The hits, each
group's top k per qid, come back through ``collect()``. There
``rank_runs`` keeps each qid's docs scoring at or above the kth score,
reads only their urls (``InvertedIndex.urls``), orders by (score desc,
url asc) — Lucene's BREAK_SCORE_TIES_BY_DOCID
(`SearchCollection.java:115-116`) — and tie-adjusts through
``tieadjust.rank_hits``, the tail ``LocalSearcher`` calls too.

A batch whose groups could hand the driver more than
``DRIVER_TAIL_MAX_CANDIDATES`` candidates runs the same tasks through a
``mapInArrow`` launcher (``_hits_frame``) and keeps the tail in Spark
(``_spark_tail``: a per-qid merge shuffle, a docmap join for the
survivors' urls, a window order and ``adjust_score_ties``), so
whole-dev-set batches never leave the executors. Both tails give the
same run.

BM25 (``kernel_runs``), the pluggable similarities (`kernel_sim.py`)
and impact search (`index/impact.py`) differ only in the per-term
weights and the per-posting contribution they hand ``_search_blocks``:
the float32 BM25 tf-part (``bm25.tf_part``) or a float64 shape
function. A run is driver rows or, from the Spark tail, a DataFrame;
``run_frame`` and ``run_rows`` give either form. Tweet search
(`tweets.py`) takes ``_hits_frame``'s hits and applies its own id
filter and tie order.

Per-term float32 contributions are accumulated in float64 and narrowed
to float32 at the end — Lucene's DisjunctionSumScorer likewise sums
float subscores in a double and narrows. The query weights are
``bm25.query_weights``, shared with ``LocalSearcher``.

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
from pyspark.sql.pandas.types import from_arrow_schema

from ..index.build import SEG_SHIFT
from ..index.tombstones import drop_dead
from .bm25 import BM25Params, query_weights
from .kernel import (BINS, HITS_SCHEMA, BlockRuns, Task, assign_segments,
                     segment_task)
from .tieadjust import Hit, Urls, adjust_score_ties, keep_topk, rank_hits

# the ranked run every search entry point returns
RUN_SCHEMA = "qid int, docid string, rank int, score double"
# bound on the (doc_id, score) candidates a search may send the driver,
# counted as |queries| x sum over groups of min(k, group docs).
# Past it the merge stays in Spark (``_spark_tail``): its extra jobs
# cost ~1 s, which the driver tail's per-candidate work matched at
# ~2M candidates on 4 cores (BENCH.md), and 10K queries x k=1000 over
# 4 groups would put ~0.6 GB of task results on the driver, near
# spark.driver.maxResultSize (1g)
DRIVER_TAIL_MAX_CANDIDATES = 1_000_000
# a search's ranked run: qid -> [(docid, rank, score)] on the driver,
# or a RUN_SCHEMA DataFrame when the tail ran in Spark
Run = Union[Dict[int, List[Hit]], DataFrame]


class InvertedIndex:
    """Handle on an index directory written by ``build_index``.

    ``cache=True`` persists the dictionary and docmap in executor
    memory (the analogue of Lucene's term-dictionary/FS cache,
    `SearchCollection.java:221-225` ``-inmem``). Search tasks read the
    posting blocks with pyarrow, served from the OS page cache."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache: bool = True):
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
        self._dfs: Dict[str, DataFrame] = {}
        self._dict_ds = None  # lazy pyarrow dataset for term_stats
        self._docvec_ds = None  # lazy pyarrow dataset for urls
        self._dead: Optional[np.ndarray] = None

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
    def dead_global(self) -> np.ndarray:
        """Lucene-liveDocs view: sorted doc ids of tombstoned docs
        (empty when none). Read once with pyarrow
        (``tombstones.dead_doc_ids``) and cached driver-side —
        O(deletes), rides into the kernel closures."""
        if self._dead is None:
            from ..index.tombstones import dead_doc_ids

            self._dead = dead_doc_ids(self.dir)
        return self._dead

    def _load(self, name: str, do_cache: bool) -> DataFrame:
        if name not in self._dfs:
            df = self.spark.read.parquet(os.path.join(self.dir, f"{name}.parquet"))
            if do_cache:
                df = df.cache()
            self._dfs[name] = df
        return self._dfs[name]

    @property
    def blocks(self) -> DataFrame:
        return self._load("blocks", False)

    def block_sources(self) -> List[Tuple[str, int]]:
        """(blocks path, segment offset) of each part the search tasks
        read (``kernel.read_blocks``): here the index's own blocks."""
        return [(os.path.join(self.dir, "blocks.parquet"), 0)]

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


def _segment_tasks(
    index: InvertedIndex,
    weights: Dict[int, Dict[str, float]],
    k: int,
    consts: Optional[Tuple[float, float, bool]],
    shape_fns: Optional[Dict[str, object]] = None,
) -> Optional[Tuple[List[List[int]], Task]]:
    """A search's segment groups, at most one per core
    (``kernel.assign_segments``), and the task that scores a group
    (``kernel.segment_task``); None when no query term has postings.
    ``weights`` is qid -> term -> query weight; ``consts`` feeds the
    float32 BM25 tf-part, or ``shape_fns`` gives each term's float64
    contribution instead."""
    seg_counts = {int(s): int(c) for s, c in index.stats["segments"].items()}
    groups = assign_segments(seg_counts,
                             index.spark.sparkContext.defaultParallelism)
    if not groups or not any(weights.values()):
        return None
    return groups, segment_task(index.block_sources(), weights, k,
                                seg_counts, consts, shape_fns,
                                index.dead_global)


def _hits_frame(index: InvertedIndex, groups: List[List[int]],
                task: Task) -> DataFrame:
    """The tasks launched through ``mapInArrow`` over a local relation
    of the groups (one row, so one partition, per group), for callers
    that keep the hits in Spark."""

    def run(batches):
        for b in batches:
            for segs in b.column("segments").to_pylist():
                yield from task(segs)

    return index.spark.createDataFrame(
        [(g,) for g in groups], "segments array<int>",
    ).mapInArrow(run, from_arrow_schema(HITS_SCHEMA))


def _search_blocks(
    index: InvertedIndex,
    weights: Dict[int, Dict[str, float]],
    k: int,
    consts: Optional[Tuple[float, float, bool]],
    shape_fns: Optional[Dict[str, object]] = None,
) -> Run:
    """The one Spark search: one job of one stage, a task per segment
    group (``_segment_tasks``), whose hits come to the driver for
    ``rank_runs``, unless they could exceed
    ``DRIVER_TAIL_MAX_CANDIDATES`` (``_spark_tail``)."""
    tasks = _segment_tasks(index, weights, k, consts, shape_fns)
    if tasks is None:
        return {}
    groups, task = tasks
    docs = {int(s): int(c) for s, c in index.stats["segments"].items()}
    per_q = sum(min(k, sum(docs[s] for s in g)) for g in groups)
    if len(weights) * per_q > DRIVER_TAIL_MAX_CANDIDATES:
        return _spark_tail(index, _hits_frame(index, groups, task), k)
    t = pa.Table.from_batches(index.spark.sparkContext.parallelize(
        groups, len(groups)).flatMap(task).collect(), HITS_SCHEMA)
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
    survivors per qid join the docmap for their urls, then are ordered
    (score desc, url asc) and tie-adjusted. The join is left to AQE,
    which broadcasts the smaller side: forcing the survivors' side
    (queries x k rows, 10M at 10K queries) ran a 3g driver out of
    memory on the second such batch in one Spark session."""

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
    joined = index.docmap.select("doc_id", "url").join(merged, "doc_id")
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
    weights, scorer = query_weights(index, queries, params, boosts,
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
    grouping shuffle is needed — one Arrow pass over the pruned scan,
    each batch's term runs decoded through ``kernel.BlockRuns``."""
    if not terms:
        return index.spark.createDataFrame([], POSTINGS_SCHEMA)
    blocks = index.blocks.select(
        "term", "segment", "first_doc", "last_doc", "n", *BINS,
    ).filter(F.col("term").isin(sorted(set(terms))))
    dead_global = index.dead_global  # liveDocs: drop tombstoned docs

    def decode(batches):
        for b in batches:
            if not b.num_rows:
                continue
            runs = BlockRuns(pa.Table.from_batches([b]))
            for t in np.unique(runs.cols["term"]):
                cols = runs.decode(t)
                keep = drop_dead(cols[0], dead_global)
                if keep is not None:
                    cols = [c[keep] for c in cols]
                yield pa.RecordBatch.from_arrays(
                    [pa.repeat(t, len(cols[0])), *cols],
                    names=["term", "doc_id", "tf", "doclen"])

    return blocks.mapInArrow(decode, schema=POSTINGS_SCHEMA)


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
