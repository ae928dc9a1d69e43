"""Driver-gate query through the REAL block index.

Unlike `corpus_queries.bm25_topk` (a pure-DataFrame recompute over
``documents.parquet``), ``bm25_index_topk`` builds — or resumes via
the manifest — an actual inverted index (docvec + delta/varint block
postings + dictionary + stats, `index/build.py`) and answers the
fixed query set through the per-segment Arrow kernel with MaxScore
pruning (`search/kernel_sim.py`, float64 BM25 shape). The DuckDB
oracle recomputes the same float64 math, the same (score desc,
doc_id asc) tie-break, and the same ScoreTiesAdjuster rounding
(round to 4 decimals, subtract 1e-6 per preceding duplicate —
`rerank/lib/ScoreTiesAdjusterReranker.java:36-73`), so the external
correctness gate exercises ``blocks.parquet`` + MaxScore end to end.

Whitespace analyzer keeps the oracle SQL-expressible; urls are
zero-padded doc ids so the index's url tie-break equals numeric
doc_id order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import IndexConfig, build_index
from ..search.kernel_sim import search_kernel_similarity
from ..search.searcher import InvertedIndex
from .corpus_queries import (
    FIXED_QUERIES,
    TOPK,
    _bm25_oracle,
    _TOK_CTE,
    _values_clause,
)

K1 = 0.9
B = 0.4
MU = 1000.0


# Deterministic en-token -> Chinese-word map covering the synthetic
# corpus's full 31-word vocabulary. The zh gate derives a Han-script
# corpus from the lang='zh' rows (the synthetic table carries English
# tokens for every lang) by mapping each token and concatenating
# WITHOUT spaces — real Chinese has no word boundaries, which is
# exactly what the CJK bigram chain must handle — inserting a break
# character every ZH_GROUP words so the oracle also exercises run
# segmentation and the lone-unigram path.
ZH_MAP = {
    "a": "之", "agg": "聚合", "batch": "批次", "big": "大",
    "column": "列", "customer": "顾客", "data": "数据", "dup": "重复",
    "fast": "快", "filter": "过滤", "group": "分组", "hash": "哈希",
    "join": "连接", "key": "键", "line": "线", "merge": "合并",
    "order": "订单", "part": "部件", "query": "查询", "row": "行",
    "scan": "扫描", "slow": "慢", "small": "小", "sort": "排序",
    "spark": "火花", "stream": "流", "table": "表", "the": "该",
    "value": "值", "vector": "向量", "window": "窗口",
}
ZH_BREAK = "，"
ZH_GROUP = 5

# Deterministic en-token -> French-word map for the fr gate (lang='fr'
# rows). Chosen to exercise every stage of the chain: elided articles
# (d'un, l'ordre, l'état), the -aux plural (tableaux -> tableal),
# plural/feminine strips (grandes -> grand), doubled-letter collapse
# (données -> don), sub-6-char invariance (clés, tri, flux), and a
# post-elision stopword (d'un -> un -> dropped).
FR_MAP = {
    "a": "d'un", "agg": "agrégation", "batch": "lot", "big": "grandes",
    "column": "colonne", "customer": "clients", "data": "données",
    "dup": "doublons", "fast": "rapides", "filter": "filtres",
    "group": "groupes", "hash": "hachage", "join": "jointures",
    "key": "clés", "line": "lignes", "merge": "fusions",
    "order": "l'ordre", "part": "parties", "query": "requêtes",
    "row": "rangée", "scan": "balayage", "slow": "lentes",
    "small": "petites", "sort": "tri", "spark": "étincelle",
    "stream": "flux", "table": "tableaux", "the": "l'état",
    "value": "valeurs", "vector": "vecteurs", "window": "fenêtres",
}

FR_QUERIES = [
    (1, "étincelle jointures"),
    (2, "fenêtres lot flux"),
    (3, "clients valeurs"),
    (4, "balayage filtres"),
    (5, "fusions tri clés"),
    (6, "vecteurs"),
    (7, "données rangée colonne"),
    (8, "lentes requêtes tableaux"),
]


# fixed zh queries: mapped word pairs from the same vocabulary; the
# CJK chain bigram-segments these exactly like document text (cross-
# word bigrams like 花连 simply have df=0 and drop out in both engines)
ZH_QUERIES = [
    (1, "火花连接"),
    (2, "窗口批次流"),
    (3, "顾客值"),
    (4, "扫描过滤"),
    (5, "合并排序键"),
    (6, "向量"),
    (7, "数据行列"),
    (8, "慢查询表"),
]


def _fr_text_expr():
    """Spark-side fr-corpus derivation: map each token via FR_MAP,
    join with spaces (word-boundary language — no bigram games)."""
    ftoks = "filter(split(text, ' '), x -> x != '')"
    # Spark SQL string literals escape the apostrophe (d'un) as \'
    esc = lambda s: s.replace("'", "\\'")  # noqa: E731
    m = "map(" + ", ".join(
        f"'{k}', '{esc(v)}'" for k, v in sorted(FR_MAP.items())) + ")"
    return F.expr(
        f"array_join(transform({ftoks}, "
        f"x -> coalesce(element_at({m}, x), x)), ' ')"
    ).alias("text")


def _zh_text_expr():
    """Spark-side zh-corpus derivation, mirrored 1:1 by the oracle's
    zhdoc CTE: map each token, append the break char after every
    ZH_GROUP-th, concatenate with no separator."""
    ftoks = "filter(split(text, ' '), x -> x != '')"
    m = "map(" + ", ".join(
        f"'{k}', '{v}'" for k, v in sorted(ZH_MAP.items())) + ")"
    return F.expr(
        f"array_join(transform({ftoks}, (x, i) -> "
        f"concat(coalesce(element_at({m}, x), x), "
        f"CASE WHEN (i + 1) % {ZH_GROUP} = 0 THEN '{ZH_BREAK}' "
        f"ELSE '' END)), '')"
    ).alias("text")



def _src_digest(sf_dir: str) -> str:
    """md5 of the documents parquet's file metadata (relpath, size,
    mtime) — the gate-index cache key (round 7): any rewrite of the
    source moves size or mtime, so an edited corpus gets a fresh
    index dir without the round-6 full-content scan per call."""
    import hashlib

    src = f"{sf_dir}/documents.parquet"
    parts = []
    if os.path.isdir(src):
        for root, _, files in sorted(os.walk(src)):
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                parts.append(
                    f"{os.path.relpath(os.path.join(root, fn), src)}:"
                    f"{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(src)
        parts.append(f"{os.path.basename(src)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]

def _gate_index(spark: SparkSession, sf_dir: str,
                positions: bool = False, bigram: bool = False,
                slice_part: str | None = None,
                variant: str | None = None,
                zh: bool = False, fr: bool = False) -> str:
    """Build (or reuse — fingerprint-keyed dir + resumable manifest)
    a ws-analyzer block index over the sf documents table. With
    ``bigram`` the indexed text is the document's adjacent word pairs
    concatenated (``spark join col`` -> ``sparkjoin joincol``) — the
    axiom gate needs mid-frequency terms (df ~5-10%) the 31-word
    synthetic unigram vocabulary cannot provide, and the derivation
    is deterministic in both Spark and DuckDB. ``slice_part`` ("a" /
    "b") builds over the interleaved doc_id%5 split for the
    multislice gate. ``zh`` derives the Han-script corpus from the
    lang='zh' rows (see ZH_MAP) and indexes it through the CJK bigram
    analyzer chain."""
    from ..util.scans import read_parquet_fanout

    # fan out the single-row-group testdata scan so the first build's
    # analyzer kernel parallelizes (no-op for multi-file inputs)
    docs = read_parquet_fanout(spark, f"{sf_dir}/documents.parquet")
    if zh:
        docs = docs.filter(F.col("lang") == "zh")
    elif fr:
        docs = docs.filter(F.col("lang") == "fr")
    if slice_part == "a":
        docs = docs.filter(F.col("doc_id") % 5 != 0)
    elif slice_part == "b":
        docs = docs.filter(F.col("doc_id") % 5 == 0)
    elif slice_part is not None:
        raise ValueError(f"slice_part must be 'a'/'b'/None: {slice_part}")
    fh = _src_digest(sf_dir)
    from ..index.build import SEG_SHIFT

    # the zh/fr tags carry the chain's analysis_version so a future
    # analyzer change rebuilds a fresh dir instead of tripping the
    # version gate on a stale /tmp cache from an earlier engine
    av = ""
    if zh or fr:
        from ..analysis.analyzer import analysis_version

        av = "_" + analysis_version("cjk" if zh else "fr").replace(
            ".", "_")
    tag = (f"{os.path.basename(os.path.normpath(sf_dir))}"
           f"_{fh}"
           f"_s{SEG_SHIFT}{'_pos' if positions else ''}"
           f"{'_big' if bigram else ''}"
           f"{'_zh' if zh else ''}{'_fr' if fr else ''}{av}"
           f"{f'_sl{slice_part}' if slice_part else ''}"
           f"{f'_{variant}' if variant else ''}")
    out_dir = f"/tmp/anserini_gate_idx_{tag}"
    if zh:
        text_col = _zh_text_expr()
    elif fr:
        text_col = _fr_text_expr()
    elif bigram:
        ftoks = "filter(split(text, ' '), x -> x != '')"
        text_col = F.expr(
            f"CASE WHEN size({ftoks}) >= 2 THEN "
            f"array_join(zip_with(slice({ftoks}, 1, size({ftoks}) - 1), "
            f"slice({ftoks}, 2, size({ftoks}) - 1), "
            f"(a, b) -> concat(a, b)), ' ') ELSE '' END"
        ).alias("text")
    else:
        text_col = F.col("text")
    lang = "zh" if zh else ("fr" if fr else "en")
    analyzer = "cjk" if zh else ("fr" if fr else "ws")
    corpus = docs.select(
        F.format_string("%020d", F.col("doc_id")).alias("url"),
        text_col,
        F.lit(lang).alias("lang"),
    )
    build_index(
        spark, corpus,
        IndexConfig(out_dir=out_dir, analyzer=analyzer, lang=lang,
                    doc_partitions=8, block_partitions=16,
                    store_positions=positions),
    )
    return out_dir


def _fixed_queries() -> dict[int, str]:
    queries: dict[int, str] = {}
    for qid, term in FIXED_QUERIES:
        queries[qid] = (queries.get(qid, "") + " " + term).strip()
    return queries


def _index_topk(spark: SparkSession, sf_dir: str, sim: str,
                **params) -> DataFrame:
    idx = InvertedIndex(spark, _gate_index(spark, sf_dir))
    hits = search_kernel_similarity(idx, _fixed_queries(), sim, k=TOPK,
                                    **params)
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


def bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query BM25 top-10 answered through the block index +
    MaxScore kernel; (qid, doc_id, rank, score) with tie-adjusted
    4-decimal scores."""
    return _index_topk(spark, sf_dir, "bm25", k1=K1, b=B)


def multislice_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query BM25 top-10 answered through the UNION of two
    independently-built index slices (`search/multislice.py`
    MultiSliceIndex over the interleaved doc_id%5 split) — the
    incremental-index read path. The DuckDB oracle is the plain
    full-corpus BM25 recompute: the gate passes only if per-term
    df/cf and collection stats sum exactly across slices, scan-time
    id re-namespacing decodes every posting correctly, and the
    (score desc, url asc) tie-break is slice-invariant. Mirrors
    Lucene's multi-segment search contract the reference relies on
    (`IndexCollection.java` forceMerge is an optimization, not a
    correctness requirement)."""
    from ..search.multislice import MultiSliceIndex

    dirs = [_gate_index(spark, sf_dir, slice_part=p) for p in ("a", "b")]
    idx = MultiSliceIndex(spark, dirs)
    hits = search_kernel_similarity(idx, _fixed_queries(), "bm25", k=TOPK,
                                    k1=K1, b=B)
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


TOMB_MOD, TOMB_REM = 7, 3

# boolean gate clauses over the ws vocab (terms present at every sf;
# no term reused across clauses within a query — Lucene BooleanQuery
# shapes: SHOULD+MUST, SHOULD+MUST_NOT, SHOULD+FILTER, pure-MUST,
# all four together)
BOOL_QUERIES = {
    1: {"should": ["spark", "join"], "must": ["customer"]},
    2: {"should": ["slow", "query"], "must_not": ["spark"]},
    3: {"should": ["table", "scan"], "filter": ["join"]},
    4: {"must": ["merge", "sort"]},
    5: {"should": ["window", "stream"], "must": ["batch"],
        "must_not": ["vector"], "filter": ["data"]},
}


# impact (SLR) gate: activations derived deterministically from the
# documents table (activation = tf * 0.1, stored float32 like a real
# learned-sparse model emits). Query weights are powers of two (the
# per-term contribution qval * round64(q/10^p) is then bit-identical
# to SQL's round64(qval*q/10^p) — power-of-two scaling commutes with
# rounding) and queries have <= 2 terms (two-addend f64 sums are
# commutative, so the kernel's weight-ordered accumulation equals
# SQL's scan-ordered SUM bit-for-bit; at >= 3 addends the synthetic
# corpus's highly-degenerate dot products flip 1-ulp near-ties
# between engines — measured, not hypothetical)
IMPACT_PRECISION = 4
IMPACT_QUERIES = {
    1: {"spark": 1.0, "join": 0.5},
    2: {"window": 1.0, "batch": 0.5},
    3: {"customer": 1.0, "value": 0.5},
    4: {"scan": 0.5, "filter": 1.0},
    5: {"merge": 1.0, "sort": 0.25},
    6: {"vector": 1.0},
    7: {"row": 0.5, "column": 1.0},
    8: {"slow": 0.5, "query": 1.0},
}


def _impact_gate_index(spark: SparkSession, sf_dir: str) -> str:
    from ..util.scans import read_parquet_fanout

    docs = read_parquet_fanout(spark, f"{sf_dir}/documents.parquet")
    # file-metadata cache key, like _gate_index (round 7): the round-6
    # content-scan fingerprint cost a full (doc_id, text) pass per call
    fh = _src_digest(sf_dir)
    from ..index.build import SEG_SHIFT

    tag = (f"{os.path.basename(os.path.normpath(sf_dir))}"
           f"_{fh}"
           f"_s{SEG_SHIFT}_imp{IMPACT_PRECISION}")
    out_dir = f"/tmp/anserini_gate_impidx_{tag}"
    from ..index.impact import build_impact_index

    toks = F.expr("filter(split(text, ' '), x -> x != '')")
    tf = (
        docs.select(F.format_string("%020d", F.col("doc_id")).alias("url"),
                    F.explode(toks).alias("term"))
        .groupBy("url", "term").count()
    )
    acts = tf.groupBy("url").agg(
        F.map_from_entries(
            F.collect_list(F.struct(
                F.col("term"),
                (F.col("count") * F.lit(0.1)).cast("float").alias("v"),
            ))
        ).alias("activations")
    )
    build_impact_index(
        spark, acts,
        IndexConfig(out_dir=out_dir, doc_partitions=8, block_partitions=16),
        precision=IMPACT_PRECISION,
    )
    return out_dir


def impact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLR impact retrieval (quantized dot product through the block
    kernel, `index/impact.py` — `SearchCollection.java` -impact /
    SLR analogue) externally gated: the DuckDB oracle re-derives the
    activations (tf*0.1 as float32), re-quantizes (round(act*10^p)),
    and recomputes the dot product in SQL."""
    from ..index.impact import search_impact

    idx = InvertedIndex(spark, _impact_gate_index(spark, sf_dir))
    hits = search_impact(idx, IMPACT_QUERIES, k=TOPK)
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


def boolean_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed boolean queries (SHOULD/MUST/MUST_NOT/FILTER,
    `search/boolean.py` — `BooleanQuery.Builder` semantics:
    SHOULD+MUST score, FILTER/MUST_NOT gate) through the block index.
    The DuckDB oracle recomputes the float32 BM25 clause scoring
    bit-exactly (REAL casts mirror the numpy float32 ops) plus the
    set algebra (matched-MUST == |MUST|, matched-FILTER == |FILTER|,
    matched-MUST_NOT == 0, SHOULD required only when no MUST/FILTER)
    in pure SQL."""
    from ..search.bm25 import BM25Params
    from ..search.boolean import search_boolean

    idx = InvertedIndex(spark, _gate_index(spark, sf_dir))
    hits = search_boolean(idx, BOOL_QUERIES, BM25Params(k1=K1, b=B, k=TOPK))
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


def _tombstoned_gate_dir(spark: SparkSession, sf_dir: str) -> str:
    """The ws gate index with the deterministic doc_id%7==3 delete set
    tombstoned (own fingerprint-keyed dir; idempotent)."""
    from ..index.tombstones import add_tombstones, has_tombstones

    d = _gate_index(spark, sf_dir, variant="tomb")
    if not has_tombstones(d):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        dead = [
            f"{int(r['doc_id']):020d}"
            for r in docs.filter(F.col("doc_id") % TOMB_MOD == TOMB_REM)
            .select("doc_id").collect()
        ]
        add_tombstones(spark, d, dead)
    return d


def tombstone_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query BM25 top-10 over an index with TOMBSTONED docs
    (doc_id % 7 == 3 deleted via `index/tombstones.py` — Lucene
    liveDocs): deleted docs must vanish from every ranking while the
    surviving docs keep the scores of the FULL collection statistics
    (df/avgdl stay stale until a purging merge — Lucene's
    deleteDocuments contract). The DuckDB oracle recomputes exactly
    that: BM25 with stats over ALL docs, ranking restricted to live
    docs. Own fingerprint-keyed dir (variant tag) so the tombstone
    append never pollutes the shared gate index."""
    idx = InvertedIndex(spark, _tombstoned_gate_dir(spark, sf_dir))
    hits = search_kernel_similarity(idx, _fixed_queries(), "bm25", k=TOPK,
                                    k1=K1, b=B)
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


def purged_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purge path externally verified: `merge.merge_indexes` over
    the tombstoned gate index physically drops the deleted docs and
    recomputes stats, so the merged output must score EXACTLY like an
    index that never contained them — the DuckDB oracle is plain BM25
    over the corpus WITHOUT the doc_id%7==3 rows (stats AND ranking
    over the shrunken collection — contrast tombstone_bm25_topk's
    stale-stats pre-merge semantics)."""
    from ..index.merge import merge_indexes

    base = _tombstoned_gate_dir(spark, sf_dir)
    out = base + "_purged"
    merge_indexes(spark, [base],
                  IndexConfig(out_dir=out, analyzer="ws",
                              doc_partitions=8, block_partitions=16))
    idx = InvertedIndex(spark, out)
    hits = search_kernel_similarity(idx, _fixed_queries(), "bm25", k=TOPK,
                                    k1=K1, b=B)
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


def qld_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query QLD (Dirichlet mu=1000, per-term clamp at 0 —
    Lucene LMDirichletSimilarity semantics) through the same block
    index + MaxScore kernel."""
    return _index_topk(spark, sf_dir, "qld", mu=MU)


QLJM_LAMBDA = 0.1
INL2_C = 1.0
SPL_C = 1.0


def qljm_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query QL Jelinek-Mercer (lambda=0.1, the reference's
    ``-qljm`` default, Lucene LMJelinekMercerSimilarity shape) through
    the block index + MaxScore kernel — the external-oracle
    representative for the kernel-similarity family alongside QLD."""
    return _index_topk(spark, sf_dir, "qljm", lam=QLJM_LAMBDA)


def inl2_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query DFR InL2 (c=1.0, `SearchArgs.java` -inl2 default;
    Lucene DFRSimilarity(BasicModelIn, AfterEffectL, NormalizationH2))
    through the block index + MaxScore kernel."""
    return _index_topk(spark, sf_dir, "inl2", c=INL2_C)


def zh_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query BM25 over the Han-script corpus through the CJK
    bigram analyzer chain (`IndexCollection.java:739-772` routes
    ``-language zh`` to Lucene's CJKAnalyzer; `analysis/
    multilingual.py` is the Spark chain). The oracle recomputes the
    full pipeline in SQL: en-token -> hanzi mapping, no-space
    concatenation with periodic break chars, bigram segmentation per
    CJK run (lone chars emit unigrams), then accurate BM25."""
    idx = InvertedIndex(spark, _gate_index(spark, sf_dir, zh=True))
    hits = search_kernel_similarity(idx, dict(ZH_QUERIES), "bm25",
                                    k=TOPK, k1=K1, b=B)
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


BGL_K = 10
BGL_QUERY_DOCS = [0, 3, 7, 11, 19, 23, 42, 57]


def bgl_query_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Background-linking query generation through the REAL index
    (`topicreader/BackgroundLinkingTopicReader.java:150-182`): for
    each fixed query docid, the top-10 terms by tf-idf
    (tf * ln((1+N)/df), float division — unlike axiom's integer idf),
    ties by case-insensitive term order. The oracle recomputes tf, df
    and the ranking in pure SQL over the same documents table."""
    from ..search.background import background_query

    idx = InvertedIndex(spark, _gate_index(spark, sf_dir))
    rows = []
    for d in BGL_QUERY_DOCS:
        docid = f"{d:020d}"
        try:
            q = background_query(idx, docid, k=BGL_K)
        except ValueError:
            continue
        ranked = sorted(q.items(), key=lambda kv: (-kv[1], kv[0].lower()))
        for i, (t, w) in enumerate(ranked, start=1):
            rows.append((d, t, i, round(w, 4)))
    return spark.createDataFrame(
        rows, "qid int, term string, rank int, weight double"
    ).orderBy("qid", "rank")


def _bgl_oracle() -> str:
    docs_in = ", ".join(str(d) for d in BGL_QUERY_DOCS)
    return f"""
WITH {_TOK_CTE},
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM dl),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id AS qid, tf.term,
         CAST(tf.tf AS DOUBLE) * ln((1.0 + s.n) / d.dfreq) AS w
  FROM tf
  JOIN dfreq d ON d.term = tf.term
  CROSS JOIN stats s
  WHERE tf.doc_id IN ({docs_in})
    AND length(tf.term) >= 2 AND regexp_matches(tf.term, '^[a-z]+$')
)
SELECT CAST(qid AS INT) AS qid, term, rank, round(w, 4) AS weight
FROM (
  SELECT qid, term, w,
         row_number() OVER (
           PARTITION BY qid ORDER BY w DESC, lower(term)) AS rank
  FROM scored
)
WHERE rank <= {BGL_K}
"""


def fr_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query BM25 over the French-derived corpus through the
    FrenchAnalyzer chain shape (`analysis/multilingual.py`: elision ->
    lowercase -> snowball stop set -> Savoy minimal stem). The oracle
    recomputes the WHOLE chain in SQL — token->French mapping, the
    elision regex, the stop list, and the full minimal-stemmer rule
    chain (-aux -> -al, sequential x/s/r/e/é strips, doubled-letter
    collapse) — then accurate BM25."""
    idx = InvertedIndex(spark, _gate_index(spark, sf_dir, fr=True))
    hits = search_kernel_similarity(idx, dict(FR_QUERIES), "bm25",
                                    k=TOPK, k1=K1, b=B)
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


def spl_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query IB SPL (c=1.0; Lucene IBSimilarity(
    DistributionSPL, LambdaDF, NormalizationH2), `SearchArgs.java`
    -spl) through the block index + MaxScore kernel. The oracle
    recomputes the published formula — lambda=(df+1)/(n+1) clamped
    away from 1, tfn = tf*log2(1+c*avgdl/dl), per-term
    -log2((lambda^(tfn/(tfn+1)) - lambda)/(1-lambda)) — in pure SQL;
    Lucene-8.3 binary run-file parity is not reconstructible (no
    published golden), documented in COVERAGE.md."""
    return _index_topk(spark, sf_dir, "spl", c=SPL_C)


RM3_FB_DOCS = 10
RM3_FB_TERMS = 10
RM3_ALPHA = 0.5
RM3_MAX_DF_RATIO = 0.1


def rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query RM3 pseudo-relevance feedback end to end through
    the block index (`rerank/lib/Rm3Reranker.java:49-248`): float64
    BM25 first pass (tie-adjusted scores, exactly what the engine
    feeds the feedback model), relevance-model estimation over the
    top-10 docvecs (hygiene filter, per-doc pruneToSize, L1-of-pruned
    weighting), 0.5 interpolation with the L1-normalized query vector,
    and a boosted re-search through the same kernel. The DuckDB oracle
    recomputes every stage in pure SQL."""
    idx = InvertedIndex(spark, _gate_index(spark, sf_dir))
    queries = _fixed_queries()
    first = search_kernel_similarity(idx, queries, "bm25", k=TOPK,
                                     k1=K1, b=B)
    from ..search.rm3 import rm3_boosts

    boosts = rm3_boosts(idx, queries, first, fb_docs=RM3_FB_DOCS,
                        fb_terms=RM3_FB_TERMS, alpha=RM3_ALPHA,
                        max_df_ratio=RM3_MAX_DF_RATIO)
    hits = search_kernel_similarity(idx, queries, "bm25", k=TOPK,
                                    k1=K1, b=B, boosts=boosts)
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


BM25PRF_FB_DOCS = 10
BM25PRF_FB_TERMS = 20


def bm25prf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query BM25PRF (Robertson-Sparck-Jones relevance-weight
    pseudo feedback, `rerank/lib/BM25PrfReranker.java:67-330`) end to
    end through the block index: float64 BM25 first pass, RSJ weight
    estimation over the top-10 feedback docs (hygiene filter, dfRel
    >= 2, offer-weight prune to 20 terms, original query terms kept
    with their own rw), and a re-search where score(d) =
    sum_t rw(t) * tf-part with idf ≡ 1 (BM25PrfSimilarity). The
    DuckDB oracle recomputes every stage — including the RSJ log —
    in pure SQL."""
    idx = InvertedIndex(spark, _gate_index(spark, sf_dir))
    queries = _fixed_queries()
    first = search_kernel_similarity(idx, queries, "bm25", k=TOPK,
                                     k1=K1, b=B)
    from ..search.bm25prf import bm25prf_boosts

    boosts = bm25prf_boosts(idx, queries, first,
                            fb_docs=BM25PRF_FB_DOCS,
                            fb_terms=BM25PRF_FB_TERMS)
    hits = search_kernel_similarity(idx, queries, "bm25prf", k=TOPK,
                                    k1=K1, b=B, boosts=boosts)
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


AXIOM_R = 20
AXIOM_BETA = 0.4
AXIOM_M = 20
# fixed queries over the BIGRAM gate corpus: every term has df ~5-9%
# of docs at every sf (verified sf0.001/0.01/0.1) so the integer-
# division idf ln((1+N)//df) is > 0 and pools are not degenerate
AXIOM_QUERIES = [
    (1, "sparkjoin"), (1, "mergesort"),
    (2, "windowbatch"), (2, "streamdata"),
    (3, "customervalue"), (3, "customerjoin"),
    (4, "scanfilter"), (4, "orderscan"),
    (5, "slowkey"), (5, "sortkey"),
    (6, "tablehash"), (6, "querytable"),
    (7, "datarow"), (7, "rowcolumn"),
    (8, "slowquery"), (8, "fastquery"),
]


def _axiom_queries() -> dict[int, str]:
    queries: dict[int, str] = {}
    for qid, term in AXIOM_QUERIES:
        queries[qid] = (queries.get(qid, "") + " " + term).strip()
    return queries


def _axiom_values_clause() -> str:
    return ", ".join(f"({qid}, '{t}')" for qid, t in AXIOM_QUERIES)


def axiom_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query axiomatic semantic-term-matching reranker
    (`rerank/lib/AxiomReranker.java:83-553`, deterministic mode)
    through the block index with the SQL-expressible pool config
    n=1 (pool = top-r first-pass docs; the reference's extra seeded
    picks draw from a JVM Random stream no SQL engine reproduces —
    n is a first-class reference parameter, `-axiom.n`): float64
    BM25 first pass, pool inverted lists under the [a-z]{2,} noise
    filter, four-cell mutual information against each query term,
    score = idf*qtf for the term itself else idf*beta*qtf*MI/selfMI
    with idf = ln((1+N) // df) in the reference's integer division,
    top-K slice then 1e-8 threshold, per-term sum / |q| and top-m
    boosts, then a boosted re-search (boost * idf * tf-part). Runs
    over the BIGRAM gate index (mid-frequency vocabulary — see
    `_gate_index`); the DuckDB oracle recomputes every stage —
    including the MI cells — in pure SQL."""
    idx = InvertedIndex(spark, _gate_index(spark, sf_dir, bigram=True))
    queries = _axiom_queries()
    first = search_kernel_similarity(idx, queries, "bm25", k=AXIOM_R,
                                     k1=K1, b=B)
    from ..search.axiom import axiom_boosts

    boosts = axiom_boosts(idx, queries, first, r=AXIOM_R, n=1,
                          beta=AXIOM_BETA, m=AXIOM_M)
    hits = search_kernel_similarity(idx, queries, "bm25", k=TOPK,
                                    k1=K1, b=B, boosts=boosts)
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


EVAL_K = 50
# deterministic portable qrels: judged iff the first two hex chars of
# md5("qid:doc_id") fall in 00..03 (density 1/64), grade 1..4 from the
# third hex char — both Spark and DuckDB compute identical md5 hex
_QREL_DENSITY_PREFIX = "03"


def _grade_expr(h_col: str) -> str:
    """SQL (valid in both Spark and DuckDB): grade 1..4 from the third
    hex char of the md5 key."""
    return (f"((instr('0123456789abcdef', substring({h_col}, 3, 1)) - 1)"
            f" % 4) + 1")


def eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External gate for the evaluation module (`eval/metrics.py` —
    trec_eval MAP/P@k/recall/ndcg_cut + the msmarco MRR@10 and the
    gdeval ndcg20/err20 pair, `eval/gdeval.pl`): a BM25 run through
    the real block index at k=50 is scored against a deterministic
    synthetic qrels (md5-keyed so DuckDB rebuilds it bit-identically:
    1/64 of (qid, doc) pairs judged by hash, plus every run top-20 doc
    judged so DCG/ERR accumulate on every topic; grade 1..4 from the
    md5 hex). The oracle recomputes the run AND all seven metrics in
    pure SQL; one row per (metric, value-rounded-6)."""
    idx = InvertedIndex(spark, _gate_index(spark, sf_dir))
    queries = _fixed_queries()
    hits = search_kernel_similarity(idx, queries, "bm25", k=EVAL_K,
                                    k1=K1, b=B)
    run = hits.select(
        "qid",
        F.col("docid").cast("long").cast("string").alias("docid"),
        "rank", "score",
    ).persist()
    run.count()

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
        .select(F.col("doc_id").cast("string").alias("docid"))
    )
    qids = spark.createDataFrame([(q,) for q in sorted(queries)],
                                 "qid int")
    key = F.md5(F.concat(F.col("qid").cast("string"), F.lit(":"),
                         F.col("docid")))
    hash_judged = (
        F.broadcast(qids).crossJoin(docs)
        .withColumn("h", key)
        .filter(F.substring("h", 1, 2) <= _QREL_DENSITY_PREFIX)
    )
    run_judged = (
        run.filter(F.col("rank") <= 20).select("qid", "docid")
        .withColumn("h", key)
    )
    qrels = (
        hash_judged.select("qid", "docid", "h")
        .union(run_judged)
        .distinct()
        .withColumn("grade", F.expr(_grade_expr("h")).cast("int"))
        .select("qid", "docid", "grade")
        .persist()
    )
    qrels.count()

    from ..eval import metrics as M

    # the seven metrics are independent reductions over the two cached
    # tables, each a couple of tiny Spark jobs; run them concurrently
    # so the next metric's tasks back-fill the tail of the previous
    # one's (guide §2.6 "overlap independent jobs") — values are
    # produced by the same metric code either way
    from concurrent.futures import ThreadPoolExecutor

    tasks = [
        ("err20", lambda: M.err_at_k(run, qrels, 20)),
        ("gd_ndcg20", lambda: M.gd_ndcg_at_k(run, qrels, 20)),
        ("map", lambda: M.map_at(run, qrels, EVAL_K)),
        ("mrr10", lambda: M.mrr_at_k(run, qrels, 10)),
        ("ndcg_cut20", lambda: M.ndcg_at_k(run, qrels, 20)),
        ("p10", lambda: M.precision_at_k(run, qrels, 10)),
        ("recall50", lambda: M.recall_at_k(run, qrels, EVAL_K)),
    ]
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [(n, pool.submit(fn)) for n, fn in tasks]
        vals = [(n, f.result()) for n, f in futs]
    run.unpersist()
    qrels.unpersist()
    return spark.createDataFrame(
        [(n, round(v, 6)) for n, v in vals], "metric string, value double"
    )


def sdm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query Sequential Dependence Model top-10 through a
    POSITIONAL block index (`-storePositions`) + the per-segment SDM
    window kernel (`search/sdm.py`, `SdmQueryGenerator.java:36-88`
    weights 0.85/0.1/0.05, ordered slop 1 / unordered window 8).
    The DuckDB oracle rebuilds positions with a window function and
    counts the same ordered/unordered position pairs in SQL."""
    from ..search.bm25 import BM25Params
    from ..search.sdm import search_sdm

    idx = InvertedIndex(spark, _gate_index(spark, sf_dir, positions=True))
    hits = search_sdm(idx, _fixed_queries(), BM25Params(k1=K1, b=B, k=TOPK))
    return hits.select(
        "qid",
        F.col("docid").cast("long").alias("doc_id"),
        "rank",
        "score",
    ).orderBy("qid", "rank")


def _pair_values_clause() -> str:
    """Consecutive query-term pairs (qid, pid, term_a, term_b) of the
    fixed ws-analyzed queries."""
    rows = []
    for qid, query in _fixed_queries().items():
        toks = query.split()
        for i in range(len(toks) - 1):
            rows.append(f"({qid}, {i}, '{toks[i]}', '{toks[i + 1]}')")
    return ", ".join(rows)


def _sdm_oracle(k1: float, b: float) -> str:
    """SDM in pure SQL: bag part = Lucene-shape BM25 (no (k1+1)
    numerator); each consecutive pair is a pseudo-term whose tf is the
    ordered (1 <= Δ <= 2) / unordered (Δ != 0, |Δ| <= 8) position-pair
    count, scored with the same tf-part at its exact pair df."""
    c0, cb = k1 * (1 - b), k1 * b
    return f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
tokp AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) - 1 AS pos
  FROM (
    SELECT doc_id, unnest(str_split(text, ' ')) AS term,
           generate_subscripts(str_split(text, ' '), 1) AS rawpos
    FROM docs
  )
  WHERE term <> ''
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tokp GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS doclen
  FROM tokp GROUP BY doc_id
),
q(qid, term) AS (VALUES {_values_clause()}),
qp(qid, pid, term_a, term_b) AS (VALUES {_pair_values_clause()}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
),
bag AS (
  SELECT q.qid, tf.doc_id,
         sum(
           ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5))
           * CAST(tf.tf AS DOUBLE)
           / (CAST(tf.tf AS DOUBLE) + {c0!r}
              + {cb!r} / s.avgdl * CAST(dl.doclen AS DOUBLE))
         ) AS bag
  FROM q
  JOIN dfreq d ON q.term = d.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
pairj AS (
  SELECT qp.qid, qp.pid, a.doc_id,
         CAST(sum(CASE WHEN b.pos - a.pos BETWEEN 1 AND 2
                       THEN 1 ELSE 0 END) AS DOUBLE) AS o,
         CAST(sum(CASE WHEN b.pos <> a.pos AND abs(b.pos - a.pos) <= 8
                       THEN 1 ELSE 0 END) AS DOUBLE) AS u
  FROM qp
  JOIN tokp a ON a.term = qp.term_a
  JOIN tokp b ON b.term = qp.term_b AND b.doc_id = a.doc_id
  GROUP BY qp.qid, qp.pid, a.doc_id
),
pdf AS (
  SELECT qid, pid,
         CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_o,
         CAST(sum(CASE WHEN u > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_u
  FROM pairj GROUP BY qid, pid
),
pairsc AS (
  SELECT pj.qid, pj.doc_id,
         sum(
           CASE WHEN pj.o > 0 THEN
             0.1 * ln(1.0 + (s.n - pdf.df_o + 0.5) / (pdf.df_o + 0.5))
             * pj.o / (pj.o + {c0!r}
                       + {cb!r} / s.avgdl * CAST(dl.doclen AS DOUBLE))
           ELSE 0.0 END
           + CASE WHEN pj.u > 0 THEN
             0.05 * ln(1.0 + (s.n - pdf.df_u + 0.5) / (pdf.df_u + 0.5))
             * pj.u / (pj.u + {c0!r}
                       + {cb!r} / s.avgdl * CAST(dl.doclen AS DOUBLE))
           ELSE 0.0 END
         ) AS pairs
  FROM pairj pj
  JOIN pdf ON pdf.qid = pj.qid AND pdf.pid = pj.pid
  JOIN dl ON dl.doc_id = pj.doc_id
  CROSS JOIN stats s
  GROUP BY pj.qid, pj.doc_id
),
scored AS (
  SELECT b.qid, b.doc_id,
         0.85 * b.bag + coalesce(p.pairs, 0.0) AS score
  FROM bag b
  LEFT JOIN pairsc p ON p.qid = b.qid AND p.doc_id = b.doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


def _bm25_tombstone_oracle(k1: float, b: float, mod: int, rem: int) -> str:
    """Full-corpus BM25 stats (dl/dfreq over ALL docs — stale-stats
    Lucene delete semantics), ranking restricted to live docs."""
    from .corpus_queries import _bm25_oracle

    base = _bm25_oracle(k1, b)
    marker = ("SELECT qid, doc_id,\n"
              "         row_number() OVER (PARTITION BY qid "
              "ORDER BY score DESC, doc_id) AS rank,\n"
              "         score\n"
              "  FROM scored\n")
    assert marker in base, "bm25 oracle shape changed"
    return base.replace(
        marker, marker + f"  WHERE doc_id % {mod} <> {rem}\n", 1)


def _impact_oracle() -> str:
    """Quantized-impact dot product in SQL: activation = float32 of
    tf*0.1, q = round(act*10^p) (no .5 boundaries by construction, so
    DuckDB's half-away round equals Python's banker round here),
    score = sum(qval * q) / 10^p with power-of-two qvals."""
    scale = float(10 ** IMPACT_PRECISION)
    vals = ", ".join(
        f"({qid}, '{t}', {w!r})"
        for qid, m in IMPACT_QUERIES.items() for t, w in m.items()
    )
    return f"""
WITH {_TOK_CTE},
iq(qid, term, qval) AS (VALUES {vals}),
quant AS (
  SELECT doc_id, term,
         round(CAST(CAST(tf * 0.1 AS REAL) AS DOUBLE) * {scale!r}) AS q
  FROM tf
),
scored AS (
  SELECT iq.qid, quant.doc_id,
         sum(iq.qval * quant.q / {scale!r}) AS score
  FROM iq JOIN quant ON quant.term = iq.term
  WHERE quant.q > 0
  GROUP BY iq.qid, quant.doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


def _boolean_oracle(k1: float, b: float) -> str:
    """Float32 BM25 clause scoring + boolean set algebra in DuckDB.
    REAL casts mirror the engine's numpy/JVM float32 ops bit-exactly
    (verified: FLOAT arithmetic in DuckDB is IEEE binary32, same as
    np.float32); the f32 sum happens in DOUBLE like Spark's agg."""
    vals = ", ".join(
        f"({qid}, '{t}', '{c}')"
        for qid, clauses in BOOL_QUERIES.items()
        for c, terms in clauses.items()
        for t in terms
    )
    c1 = (f"(CAST({k1!r} AS REAL) * "
          f"(CAST(1.0 AS REAL) - CAST({b!r} AS REAL)))")
    c2 = (f"((CAST({k1!r} AS REAL) * CAST({b!r} AS REAL)) / "
          f"CAST(s.avgdl AS REAL))")
    return f"""
WITH {_TOK_CTE},
q(qid, term, clause) AS (VALUES {vals}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
),
w AS (
  SELECT q.qid, q.term, q.clause,
         CASE WHEN q.clause IN ('should', 'must')
              THEN CAST(ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5))
                        AS REAL)
              ELSE CAST(0.0 AS REAL) END AS wgt
  FROM q JOIN dfreq d ON q.term = d.term CROSS JOIN stats s
),
req AS (
  SELECT qid,
         count(DISTINCT CASE WHEN clause = 'must' THEN term END) AS n_must,
         count(DISTINCT CASE WHEN clause = 'filter' THEN term END) AS n_filter
  FROM w GROUP BY qid
),
agg AS (
  SELECT w.qid, tf.doc_id,
         sum(CASE WHEN w.clause IN ('should', 'must') THEN CAST(
               w.wgt * CAST(tf.tf AS REAL)
               / (CAST(tf.tf AS REAL) + {c1}
                  + {c2} * CAST(dl.doclen AS REAL))
             AS DOUBLE) ELSE 0.0 END) AS score64,
         count(CASE WHEN w.clause = 'must' THEN 1 END) AS m,
         count(CASE WHEN w.clause = 'filter' THEN 1 END) AS f,
         count(CASE WHEN w.clause = 'must_not' THEN 1 END) AS mn
  FROM w
  JOIN tf ON tf.term = w.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY w.qid, tf.doc_id
),
bool_hits AS (
  SELECT agg.qid, agg.doc_id, CAST(agg.score64 AS REAL) AS score
  FROM agg JOIN req ON agg.qid = req.qid
  WHERE agg.m = req.n_must AND agg.f = req.n_filter AND agg.mn = 0
    AND (req.n_must + req.n_filter > 0 OR agg.score64 > 0)
)
SELECT qid, doc_id, rank, round(CAST(score AS DOUBLE), 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM bool_hits
)
WHERE rank <= {TOPK}
"""


def _bm25_purged_oracle(k1: float, b: float, mod: int, rem: int) -> str:
    """BM25 over the corpus with deleted docs REMOVED before
    tokenization — stats and ranking both over the shrunken
    collection (post-merge physical-delete semantics)."""
    from .corpus_queries import _bm25_oracle

    base = _bm25_oracle(k1, b)
    docs_where = "WHERE text IS NOT NULL AND trim(text) <> ''"
    assert docs_where in base, "tok CTE shape changed"
    return base.replace(
        docs_where, docs_where + f" AND doc_id % {mod} <> {rem}", 1)


def _with_tie_adjust(base_sql: str) -> str:
    """Wrap a (qid, doc_id, rank, score-rounded-4) query with the
    ScoreTiesAdjuster transform (subtract 1e-6 per preceding row in a
    run of equal rounded scores)."""
    return f"""
WITH base AS (
{base_sql.strip()}
)
SELECT qid, doc_id, rank,
       score - 1e-6 * (row_number() OVER (
           PARTITION BY qid, score ORDER BY rank) - 1) AS score
FROM base
"""


def _qld_oracle(mu: float) -> str:
    return f"""
WITH {_TOK_CTE},
q(qid, term) AS (VALUES {_values_clause()}),
stats AS (SELECT CAST(sum(doclen) AS DOUBLE) AS sum_tf FROM dl),
cf AS (
  SELECT term, CAST(sum(tf) AS DOUBLE) AS cf FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum(greatest(0.0,
           ln(1.0 + CAST(tf.tf AS DOUBLE) / ({mu!r} * ((c.cf + 1.0) / (s.sum_tf + 1.0))))
           + ln({mu!r} / (CAST(dl.doclen AS DOUBLE) + {mu!r}))
         )) AS score
  FROM q
  JOIN cf c ON q.term = c.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


def _qljm_oracle(lam: float) -> str:
    """Lucene LMJelinekMercerSimilarity shape: per-term
    ln(1 + ((1-λ) tf/dl) / (λ p_c)), p_c = (cf+1)/(sum_tf+1), clamped
    at 0 (LMSimilarity.score semantics; the clamp never binds since
    the argument is positive, kept for shape parity)."""
    return f"""
WITH {_TOK_CTE},
q(qid, term) AS (VALUES {_values_clause()}),
stats AS (SELECT CAST(sum(doclen) AS DOUBLE) AS sum_tf FROM dl),
cf AS (
  SELECT term, CAST(sum(tf) AS DOUBLE) AS cf FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum(greatest(0.0,
           ln(1.0 + ((1.0 - {lam!r}) * CAST(tf.tf AS DOUBLE)
                     / CAST(dl.doclen AS DOUBLE))
              / ({lam!r} * ((c.cf + 1.0) / (s.sum_tf + 1.0))))
         )) AS score
  FROM q
  JOIN cf c ON q.term = c.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


def _inl2_oracle(c: float) -> str:
    """DFR InL2 (BasicModelIn + AfterEffectL + NormalizationH2, log2
    throughout): tfn = tf * log2(1 + c*avgdl/dl); per-term
    tfn/(tfn+1) * log2((n+1)/(df+0.5))."""
    return f"""
WITH {_TOK_CTE},
q(qid, term) AS (VALUES {_values_clause()}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
),
scored AS (
  SELECT qid, doc_id, sum(tfn * basic / (tfn + 1.0)) AS score
  FROM (
    SELECT q.qid, tf.doc_id,
           CAST(tf.tf AS DOUBLE)
           * ln(1.0 + {c!r} * s.avgdl / CAST(dl.doclen AS DOUBLE))
           / ln(2.0) AS tfn,
           ln((s.n + 1.0) / (d.dfreq + 0.5)) / ln(2.0) AS basic
    FROM q
    JOIN dfreq d ON q.term = d.term
    JOIN tf ON tf.term = q.term
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats s
  )
  GROUP BY qid, doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


def _fr_values_clause() -> str:
    """(qid, term) VALUES for the fr queries, pre-analyzed by the same
    chain (constants, like every gate's queries; the DOCUMENT side is
    what the SQL recomputes)."""
    from ..analysis.multilingual import fr_analyze

    rows = []
    for qid, text in FR_QUERIES:
        for t in fr_analyze(text):
            rows.append(f"({qid}, '{t}')")
    return ", ".join(rows)


def _fr_bm25_oracle(k1: float, b: float) -> str:
    """Accurate BM25 over the fr-derived corpus with the FrenchAnalyzer
    chain recomputed in pure SQL. The stemmer steps mirror
    ``fr_minimal_stem`` exactly: sub-6-char words unchanged; -x with
    -aux -> -al else drop x (terminal); else sequential s, r, e, é
    strips then doubled-final-letter collapse (lateral column aliases
    carry each step)."""
    from ..analysis.multilingual import (FRENCH_ELISION_ARTICLES,
                                         FRENCH_STOP_WORDS)

    m_values = ", ".join(f"('{k}', '{v.replace(chr(39), chr(39) * 2)}')"
                         for k, v in sorted(FR_MAP.items()))
    # longest first, ties by text: a frozenset's iteration order follows
    # the per-process string hash, so ``key=len`` alone is not stable
    arts = "|".join(sorted(FRENCH_ELISION_ARTICLES,
                           key=lambda a: (-len(a), a)))
    stops = ", ".join(f"'{w}'" for w in sorted(FRENCH_STOP_WORDS))
    return f"""
WITH m(word, fr) AS (VALUES {m_values}),
docs AS (
  SELECT doc_id, text FROM documents
  WHERE lang = 'fr' AND text IS NOT NULL AND trim(text) <> ''
),
rawtok AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM docs) t
  WHERE t.term <> ''
),
mapped AS (
  SELECT r.doc_id, coalesce(m.fr, r.term) AS w0
  FROM rawtok r LEFT JOIN m ON m.word = r.term
),
-- elision -> lowercase -> stop
clean AS (
  SELECT doc_id,
         lower(regexp_replace(w0, '^(?i)({arts})''', '')) AS w
  FROM mapped
),
kept AS (
  SELECT doc_id, w FROM clean
  WHERE w <> '' AND w NOT IN ({stops})
),
-- Savoy minimal stemmer, one step per lateral alias
stemmed AS (
  SELECT doc_id,
    CASE
      WHEN length(w) < 6 THEN w
      WHEN right(w, 1) = 'x' THEN
        CASE WHEN right(w, 3) = 'aux'
             THEN substr(w, 1, length(w) - 2) || 'l'
             ELSE substr(w, 1, length(w) - 1) END
      ELSE NULL
    END AS done,
    CASE WHEN length(w) >= 6 AND right(w, 1) <> 'x' THEN w END AS c0
  FROM kept
),
chain AS (
  SELECT doc_id, done,
    CASE WHEN right(c0, 1) = 's'
         THEN substr(c0, 1, length(c0) - 1) ELSE c0 END AS c1,
    CASE WHEN right(c1, 1) = 'r'
         THEN substr(c1, 1, length(c1) - 1) ELSE c1 END AS c2,
    CASE WHEN right(c2, 1) = 'e'
         THEN substr(c2, 1, length(c2) - 1) ELSE c2 END AS c3,
    CASE WHEN right(c3, 1) = 'é'
         THEN substr(c3, 1, length(c3) - 1) ELSE c3 END AS c4,
    CASE WHEN length(c4) > 1
              AND right(c4, 1) = substr(c4, length(c4) - 1, 1)
         THEN substr(c4, 1, length(c4) - 1) ELSE c4 END AS c5
  FROM stemmed
),
tok AS (SELECT doc_id, coalesce(done, c5) AS term FROM chain),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS doclen
  FROM tok GROUP BY doc_id
),
q(qid, term) AS (VALUES {_fr_values_clause()}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum(
           ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5))
           * CAST(tf.tf AS DOUBLE)
           / (CAST(tf.tf AS DOUBLE) + {k1 * (1 - b)!r}
              + {k1 * b!r} / s.avgdl * CAST(dl.doclen AS DOUBLE))
         ) AS score
  FROM q
  JOIN dfreq d ON q.term = d.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


def _zh_values_clause() -> str:
    """(qid, term) VALUES rows for the zh queries, pre-analyzed by the
    SAME CJK chain the engine uses (queries are constants, like every
    other gate's FIXED_QUERIES; the DOCUMENT-side tokenization is what
    the SQL recomputes). Duplicate (qid, term) rows carry the
    bag-of-words boost exactly like the English clause."""
    from ..analysis.multilingual import cjk_analyze

    rows = []
    for qid, text in ZH_QUERIES:
        for t in cjk_analyze(text):
            rows.append(f"({qid}, '{t}')")
    return ", ".join(rows)


def _zh_bm25_oracle(k1: float, b: float) -> str:
    """Accurate BM25 over the zh-derived corpus with the CJK bigram
    tokenization recomputed in pure SQL: map tokens via ZH_MAP,
    concatenate (break char every ZH_GROUP words), split runs on the
    break, emit adjacent char pairs per run (a length-1 run emits its
    single char)."""
    m_values = ", ".join(f"('{k}', '{v}')"
                         for k, v in sorted(ZH_MAP.items()))
    return f"""
WITH m(word, zh) AS (VALUES {m_values}),
docs AS (
  SELECT doc_id, text FROM documents
  WHERE lang = 'zh' AND text IS NOT NULL AND trim(text) <> ''
),
arr AS (
  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS a
  FROM docs
),
zhw AS (
  SELECT z.doc_id, z.i,
         coalesce(m.zh, z.word)
         || CASE WHEN z.i % {ZH_GROUP} = 0 THEN '{ZH_BREAK}'
                 ELSE '' END AS w
  FROM (
    SELECT doc_id, i, a[i] AS word
    FROM arr, unnest(range(1, len(a) + 1)) AS t(i)
  ) z
  LEFT JOIN m ON m.word = z.word
),
zhdoc AS (
  SELECT doc_id, string_agg(w, '' ORDER BY i) AS zh
  FROM zhw GROUP BY doc_id
),
seg AS (
  SELECT doc_id, s
  FROM zhdoc, unnest(str_split(zh, '{ZH_BREAK}')) AS t(s)
  WHERE s <> ''
),
tok AS (
  SELECT doc_id, substr(s, CAST(i AS INT), 2) AS term
  FROM seg, unnest(range(1, length(s))) AS t(i)
  UNION ALL
  SELECT doc_id, s AS term FROM seg WHERE length(s) = 1
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS doclen
  FROM tok GROUP BY doc_id
),
q(qid, term) AS (VALUES {_zh_values_clause()}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum(
           ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5))
           * CAST(tf.tf AS DOUBLE)
           / (CAST(tf.tf AS DOUBLE) + {k1 * (1 - b)!r}
              + {k1 * b!r} / s.avgdl * CAST(dl.doclen AS DOUBLE))
         ) AS score
  FROM q
  JOIN dfreq d ON q.term = d.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


def _spl_oracle(c: float) -> str:
    """IB SPL (DistributionSPL + LambdaDF + NormalizationH2, log2
    throughout): lam = (df+1)/(n+1) (clamped to 0.99 when df = n,
    the DistributionSPL 0/0 guard the engine mirrors); tfn =
    tf * log2(1 + c*avgdl/dl); per-term
    -log2((lam^(tfn/(tfn+1)) - lam) / (1 - lam))."""
    return f"""
WITH {_TOK_CTE},
q(qid, term) AS (VALUES {_values_clause()}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
),
scored AS (
  SELECT qid, doc_id,
         sum(-ln((pow(lam, tfn / (tfn + 1.0)) - lam) / (1.0 - lam))
             / ln(2.0)) AS score
  FROM (
    SELECT q.qid, tf.doc_id,
           CAST(tf.tf AS DOUBLE)
           * ln(1.0 + {c!r} * s.avgdl / CAST(dl.doclen AS DOUBLE))
           / ln(2.0) AS tfn,
           CASE WHEN d.dfreq >= s.n THEN 0.99
                ELSE (d.dfreq + 1.0) / (s.n + 1.0) END AS lam
    FROM q
    JOIN dfreq d ON q.term = d.term
    JOIN tf ON tf.term = q.term
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats s
  )
  GROUP BY qid, doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


def _rm3_oracle(k1: float, b: float, fb_docs: int, fb_terms: int,
                alpha: float, ratio: float) -> str:
    """Full RM3 in pure SQL (`Rm3Reranker.java:127-242`): BM25 first
    pass with the engine's tie-adjusted scores, per-fb-doc hygiene
    filter ([a-z0-9]{{2,20}}, collection df-ratio <= 10%), per-doc
    pruneToSize(fb_terms) with L1-of-pruned weighting, relevance-model
    top-fb_terms prune + L1 normalize, alpha-interpolation with the
    L1-normalized query vector, and a boosted re-search
    (boost * idf * tf-part)."""
    c0, cb = k1 * (1 - b), k1 * b
    idf = "ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5))"
    tfpart = (f"CAST(tf.tf AS DOUBLE) / (CAST(tf.tf AS DOUBLE) + {c0!r}"
              f" + {cb!r} / s.avgdl * CAST(dl.doclen AS DOUBLE))")
    return f"""
WITH {_TOK_CTE},
q(qid, term) AS (VALUES {_values_clause()}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
alldf AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf GROUP BY term
),
fp0 AS (
  SELECT q.qid, tf.doc_id, sum({idf} * {tfpart}) AS score
  FROM q
  JOIN alldf d ON q.term = d.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
fp1 AS (
  SELECT qid, doc_id, rank, round(score, 4) AS score
  FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
           score
    FROM fp0
  )
  WHERE rank <= {TOPK}
),
fb AS (
  SELECT qid, doc_id, score FROM (
    SELECT qid, doc_id, rank,
           score - 1e-6 * (row_number() OVER (
               PARTITION BY qid, score ORDER BY rank) - 1) AS score
    FROM fp1
  )
  WHERE rank <= {fb_docs}
),
fbt AS (
  SELECT fb.qid, fb.doc_id, fb.score, tf.term,
         CAST(tf.tf AS DOUBLE) AS tfd
  FROM fb
  JOIN tf ON tf.doc_id = fb.doc_id
  JOIN alldf d ON d.term = tf.term
  CROSS JOIN stats s
  WHERE regexp_matches(tf.term, '^[a-z0-9]+$')
    AND length(tf.term) BETWEEN 2 AND 20
    AND d.dfreq / s.n <= {ratio!r}
),
pruned AS (
  SELECT qid, doc_id, score, term, tfd FROM (
    SELECT fbt.*, row_number() OVER (
        PARTITION BY qid, doc_id ORDER BY tfd DESC, term) AS rn
    FROM fbt
  )
  WHERE rn <= {fb_terms}
),
dnorm AS (
  SELECT qid, doc_id, sum(tfd) AS nrm FROM pruned GROUP BY qid, doc_id
),
rm AS (
  SELECT p.qid, p.term, sum((p.tfd / dn.nrm) * p.score) AS w
  FROM pruned p
  JOIN dnorm dn ON dn.qid = p.qid AND dn.doc_id = p.doc_id
  WHERE dn.nrm > 0.001
  GROUP BY p.qid, p.term
),
rmtop AS (
  SELECT qid, term, w FROM (
    SELECT qid, term, w, row_number() OVER (
        PARTITION BY qid ORDER BY w DESC, term) AS rn
    FROM rm
  )
  WHERE rn <= {fb_terms}
),
rmnorm AS (
  SELECT qid, term, w / (sum(w) OVER (PARTITION BY qid)) AS rw FROM rmtop
),
qvec AS (
  SELECT qid, term, 1.0 / (count(*) OVER (PARTITION BY qid)) AS qw FROM q
),
boosts AS (
  SELECT coalesce(qv.qid, rn.qid) AS qid,
         coalesce(qv.term, rn.term) AS term,
         {alpha!r} * coalesce(qv.qw, 0.0)
         + {1.0 - alpha!r} * coalesce(rn.rw, 0.0) AS boost
  FROM qvec qv
  FULL OUTER JOIN rmnorm rn ON rn.qid = qv.qid AND rn.term = qv.term
),
scored AS (
  SELECT bq.qid, tf.doc_id, sum(bq.boost * {idf} * {tfpart}) AS score
  FROM boosts bq
  JOIN alldf d ON bq.term = d.term
  JOIN tf ON tf.term = bq.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY bq.qid, tf.doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


def _bm25prf_oracle(k1: float, b: float, fb_docs: int,
                    fb_terms: int) -> str:
    """Full BM25PRF in pure SQL (`BM25PrfReranker.java:67-330`): BM25
    first pass, RSJ relevance weights over the top-fb_docs feedback
    set (dfRel = feedback docs containing the term), offer-weight
    prune (rw * ln(dfRel), dfRel >= 2) to fb_terms expansion terms
    with hygiene, original query terms kept with their own rw, then a
    re-search scored rw * tf-part with idf ≡ 1 (BM25PrfSimilarity)."""
    c0, cb = k1 * (1 - b), k1 * b
    idf = "ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5))"
    tfpart = (f"CAST(tf.tf AS DOUBLE) / (CAST(tf.tf AS DOUBLE) + {c0!r}"
              f" + {cb!r} / s.avgdl * CAST(dl.doclen AS DOUBLE))")
    rsj = """
         CASE WHEN (dfreq - dr + 0.5) * (r - dr + 0.5) > 0
               AND (dr + 0.5) * (n - dfreq - r + dr + 0.5) > 0
              THEN ln(((dr + 0.5) * (n - dfreq - r + dr + 0.5))
                      / ((dfreq - dr + 0.5) * (r - dr + 0.5)))
              ELSE 0.0 END"""
    return f"""
WITH {_TOK_CTE},
q(qid, term) AS (VALUES {_values_clause()}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
alldf AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf GROUP BY term
),
fp0 AS (
  SELECT q.qid, tf.doc_id, sum({idf} * {tfpart}) AS score
  FROM q
  JOIN alldf d ON q.term = d.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
fb AS (
  SELECT qid, doc_id FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
    FROM fp0
  )
  WHERE rank <= {fb_docs}
),
rsize AS (
  SELECT qid, CAST(count(*) AS DOUBLE) AS r FROM fb GROUP BY qid
),
relc AS (
  SELECT fb.qid, tf.term,
         CAST(count(DISTINCT tf.doc_id) AS DOUBLE) AS dr
  FROM fb
  JOIN tf ON tf.doc_id = fb.doc_id
  GROUP BY fb.qid, tf.term
),
rsjt AS (
  SELECT qid, term, dr, {rsj} AS rw
  FROM (
    SELECT rc.qid, rc.term, rc.dr, d.dfreq, rs.r, s.n
    FROM relc rc
    JOIN alldf d ON d.term = rc.term
    JOIN rsize rs ON rs.qid = rc.qid
    CROSS JOIN stats s
    WHERE regexp_matches(rc.term, '^[a-z0-9]+$')
      AND length(rc.term) BETWEEN 2 AND 20
  )
),
expn AS (
  SELECT qid, term, rw FROM (
    SELECT qid, term, rw, row_number() OVER (
        PARTITION BY qid ORDER BY rw * ln(dr) DESC, term) AS rn
    FROM rsjt
    WHERE dr >= 2 AND rw > 0
  )
  WHERE rn <= {fb_terms}
),
qrsj AS (
  SELECT qid, term, {rsj} AS rw
  FROM (
    SELECT qt.qid, qt.term, coalesce(rc.dr, 0.0) AS dr,
           d.dfreq, rs.r, s.n
    FROM (SELECT DISTINCT qid, term FROM q) qt
    JOIN alldf d ON d.term = qt.term
    JOIN rsize rs ON rs.qid = qt.qid
    CROSS JOIN stats s
    LEFT JOIN relc rc ON rc.qid = qt.qid AND rc.term = qt.term
  )
),
boosts AS (
  SELECT qid, term, rw FROM expn
  UNION ALL
  SELECT qr.qid, qr.term, qr.rw FROM qrsj qr
  WHERE qr.rw > 0 AND NOT EXISTS (
    SELECT 1 FROM expn e WHERE e.qid = qr.qid AND e.term = qr.term
  )
),
scored AS (
  SELECT bq.qid, tf.doc_id, sum(bq.rw * {tfpart}) AS score
  FROM boosts bq
  JOIN tf ON tf.term = bq.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY bq.qid, tf.doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM scored
)
WHERE rank <= {TOPK}
"""


_BIGRAM_TOK_CTE = """
docs AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
arr AS (
  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS a
  FROM docs
),
tok AS (
  SELECT doc_id, a[i] || a[i + 1] AS term
  FROM arr, unnest(range(1, len(a))) AS t(i)
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS doclen FROM tok GROUP BY doc_id
)
"""


def _axiom_oracle(k1: float, b: float, r: int, beta: float,
                  m: int) -> str:
    """Full axiomatic reranking in pure SQL (`AxiomReranker.java:
    83-553`, n=1 pool) over the bigram-derived corpus: BM25 first
    pass, pool postings under the [a-z]{2,} filter, four-cell MI per
    (query term, pool term) added in the reference's cell order
    (n00, n01, n10, n11), integer-division idf, slice-to-K then
    >1e-8, sum/|q| + top-m boosts, and the boosted accurate-BM25
    re-search."""
    c0, cb = k1 * (1 - b), k1 * b
    idf = "ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5))"
    tfpart = (f"CAST(tf.tf AS DOUBLE) / (CAST(tf.tf AS DOUBLE) + {c0!r}"
              f" + {cb!r} / s.avgdl * CAST(dl.doclen AS DOUBLE))")
    # one MI cell: p*ln(p/(px*py)) with p = cnt/total, skipped at p=0
    def cell(cnt: str, px: str, py: str) -> str:
        return (f"CASE WHEN {cnt} > 0 THEN ({cnt} / total)"
                f" * ln((({cnt}) / total) / (({px}) * ({py})))"
                f" ELSE 0.0 END")

    px0, px1 = "(total - x1) / total", "x1 / total"
    py0, py1 = "(total - y1) / total", "y1 / total"
    mi_sum = " + ".join([
        cell("(total - x1 - y1 + n11)", px0, py0),
        cell("(y1 - n11)", px0, py1),
        cell("(x1 - n11)", px1, py0),
        cell("n11", px1, py1),
    ])
    return f"""
WITH {_BIGRAM_TOK_CTE},
q(qid, term) AS (VALUES {_axiom_values_clause()}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
alldf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS idf_cnt,
         CAST(count(*) AS DOUBLE) AS dfreq
  FROM tf GROUP BY term
),
fp0 AS (
  SELECT q.qid, tf.doc_id,
         sum({idf} * {tfpart}) AS score
  FROM q
  JOIN (SELECT term, dfreq FROM alldf) d ON q.term = d.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
pool AS (
  SELECT qid, doc_id FROM (
    SELECT qid, doc_id, row_number() OVER (
        PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
    FROM fp0
  )
  WHERE rank <= {r}
),
pterm AS (
  SELECT DISTINCT p.qid, p.doc_id, tf.term
  FROM pool p JOIN tf ON tf.doc_id = p.doc_id
  WHERE regexp_matches(tf.term, '^[a-z]+$') AND length(tf.term) >= 2
),
pcount AS (
  SELECT qid, CAST(count(DISTINCT doc_id) AS DOUBLE) AS total
  FROM pterm GROUP BY qid
),
tdf AS (
  SELECT qid, term, CAST(count(*) AS DOUBLE) AS y1
  FROM pterm GROUP BY qid, term
),
qt AS (
  SELECT qid, term, CAST(count(*) AS DOUBLE) AS qtf FROM q
  GROUP BY qid, term
),
qlen AS (SELECT qid, CAST(count(*) AS DOUBLE) AS qlen FROM q GROUP BY qid),
qtin AS (
  SELECT qt.qid, qt.term AS qterm, qt.qtf, t.y1 AS x1,
         ln((1 + CAST((SELECT n FROM stats) AS BIGINT)) // a.idf_cnt)
           AS qidf
  FROM qt
  JOIN tdf t ON t.qid = qt.qid AND t.term = qt.term
  JOIN alldf a ON a.term = qt.term AND a.idf_cnt > 0
),
co AS (
  SELECT a.qid, a.term AS qterm, b.term AS cterm,
         CAST(count(*) AS DOUBLE) AS n11
  FROM pterm a
  JOIN pterm b ON a.qid = b.qid AND a.doc_id = b.doc_id
  WHERE a.term IN (SELECT DISTINCT term FROM q)
  GROUP BY a.qid, a.term, b.term
),
mi AS (
  SELECT qid, qterm, qtf, qidf, cterm,
         CASE WHEN x1 = 0 OR total - x1 = 0 OR y1 = 0
                   OR total - y1 = 0 THEN 0.0
              ELSE {mi_sum} END AS mival
  FROM (
    SELECT qi.qid, qi.qterm, qi.qtf, qi.qidf, qi.x1,
           td.term AS cterm, td.y1, pc.total,
           coalesce(c.n11, 0.0) AS n11
    FROM qtin qi
    JOIN tdf td ON td.qid = qi.qid
    JOIN pcount pc ON pc.qid = qi.qid
    LEFT JOIN co c ON c.qid = qi.qid AND c.qterm = qi.qterm
                  AND c.cterm = td.term
  )
),
termscore AS (
  SELECT m.qid, m.qterm, m.cterm,
         CASE WHEN m.cterm = m.qterm THEN m.qidf * m.qtf
              WHEN sm.self_mi <> 0
                THEN m.qidf * {beta!r} * m.qtf * m.mival / sm.self_mi
              ELSE 0.0 END AS score
  FROM mi m
  JOIN (SELECT qid, qterm, mival AS self_mi FROM mi
        WHERE cterm = qterm) sm
    ON sm.qid = m.qid AND sm.qterm = m.qterm
),
topk AS (
  SELECT qid, cterm, score FROM (
    SELECT qid, qterm, cterm, score, row_number() OVER (
        PARTITION BY qid, qterm ORDER BY score DESC, cterm) AS rn
    FROM termscore
  )
  WHERE rn <= 1000 AND score > 1e-8
),
boosts AS (
  SELECT qid, cterm AS term, w FROM (
    SELECT a.qid, a.cterm, a.s / ql.qlen AS w, row_number() OVER (
        PARTITION BY a.qid ORDER BY a.s / ql.qlen DESC, a.cterm) AS rn
    FROM (SELECT qid, cterm, sum(score) AS s FROM topk
          GROUP BY qid, cterm) a
    JOIN qlen ql ON ql.qid = a.qid
  )
  WHERE rn <= {m}
),
rescored AS (
  SELECT bq.qid, tf.doc_id,
         sum(bq.w * {idf} * {tfpart}) AS score
  FROM boosts bq
  JOIN (SELECT term, dfreq FROM alldf) d ON d.term = bq.term
  JOIN tf ON tf.term = bq.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY bq.qid, tf.doc_id
)
SELECT qid, doc_id, rank, round(score, 4) AS score
FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank,
         score
  FROM rescored
)
WHERE rank <= {TOPK}
"""


def _eval_metrics_oracle(k1: float, b: float, eval_k: int) -> str:
    """All seven evaluation metrics in pure SQL over a recomputed
    BM25@k run and the md5-keyed synthetic qrels (`eval/metrics.py`
    contracts: trec_eval MAP / P@10 / recall / ndcg_cut.20 linear
    gain, msmarco MRR@10, gdeval ndcg20 exponential gain + err20
    cascade with MAX_JUDGMENT = 4)."""
    grade = _grade_expr("h")
    return f"""
WITH {_TOK_CTE},
q(qid, term) AS (VALUES {_values_clause()}),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(doclen) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfreq FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum(
           ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5))
           * CAST(tf.tf AS DOUBLE)
           / (CAST(tf.tf AS DOUBLE) + {k1 * (1 - b)!r}
              + {k1 * b!r} / s.avgdl * CAST(dl.doclen AS DOUBLE))
         ) AS score
  FROM q
  JOIN dfreq d ON q.term = d.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
run AS (
  SELECT qid, CAST(doc_id AS VARCHAR) AS docid, rank FROM (
    SELECT qid, doc_id, row_number() OVER (
        PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
    FROM scored)
  WHERE rank <= {eval_k}
),
qids AS (SELECT DISTINCT qid FROM q),
allkeys AS (
  SELECT qids.qid, CAST(docs.doc_id AS VARCHAR) AS docid,
         md5(CAST(qids.qid AS VARCHAR) || ':'
             || CAST(docs.doc_id AS VARCHAR)) AS h
  FROM qids CROSS JOIN docs
),
judged AS (
  SELECT qid, docid, h FROM allkeys
  WHERE substring(h, 1, 2) <= '{_QREL_DENSITY_PREFIX}'
  UNION
  SELECT a.qid, a.docid, a.h FROM allkeys a
  JOIN run r ON r.qid = a.qid AND r.docid = a.docid AND r.rank <= 20
),
qrels AS (SELECT qid, docid, {grade} AS grade FROM judged),
nt AS (SELECT CAST(count(DISTINCT qid) AS DOUBLE) AS nt FROM qrels),
nrel AS (
  SELECT qid, CAST(count(*) AS DOUBLE) AS n_rel FROM qrels GROUP BY qid
),
hits AS (
  SELECT r.qid, r.rank, qr.grade
  FROM run r JOIN qrels qr ON qr.qid = r.qid AND qr.docid = r.docid
),
mrr_q AS (
  SELECT qid, 1.0 / min(rank) AS rr FROM hits WHERE rank <= 10 GROUP BY qid
),
mrr_v AS (
  SELECT coalesce(sum(rr), 0.0) / (SELECT nt FROM nt) AS v FROM mrr_q
),
ap_q AS (
  SELECT qid, sum(CAST(hit_idx AS DOUBLE) / rank) AS sum_p FROM (
    SELECT qid, rank, row_number() OVER (
        PARTITION BY qid ORDER BY rank) AS hit_idx
    FROM hits)
  GROUP BY qid
),
map_v AS (
  SELECT avg(coalesce(a.sum_p, 0.0) / n.n_rel) AS v
  FROM nrel n LEFT JOIN ap_q a ON a.qid = n.qid
),
rec_v AS (
  SELECT avg(coalesce(f.found, 0.0) / n.n_rel) AS v
  FROM nrel n LEFT JOIN (
    SELECT qid, CAST(count(*) AS DOUBLE) AS found FROM hits GROUP BY qid
  ) f ON f.qid = n.qid
),
p10_v AS (
  SELECT CAST((SELECT count(*) FROM hits WHERE rank <= 10) AS DOUBLE)
         / (10.0 * (SELECT nt FROM nt)) AS v
),
ideal AS (
  SELECT qid, grade, row_number() OVER (
      PARTITION BY qid ORDER BY grade DESC, docid) AS i
  FROM qrels
),
dcg_q AS (
  SELECT qid, sum(CAST(grade AS DOUBLE) / log2(rank + 1.0)) AS dcg
  FROM hits WHERE rank <= 20 GROUP BY qid
),
idcg_q AS (
  SELECT qid, sum(CAST(grade AS DOUBLE) / log2(i + 1.0)) AS idcg
  FROM ideal WHERE i <= 20 GROUP BY qid
),
ndcg_v AS (
  SELECT avg(coalesce(d.dcg, 0.0) / i.idcg) AS v
  FROM idcg_q i LEFT JOIN dcg_q d ON d.qid = i.qid
),
gdcg_q AS (
  SELECT qid, sum((pow(2.0, grade) - 1.0) / log2(rank + 1.0)) AS dcg
  FROM hits WHERE rank <= 20 GROUP BY qid
),
gidcg_q AS (
  SELECT qid, sum((pow(2.0, grade) - 1.0) / log2(i + 1.0)) AS idcg
  FROM ideal WHERE i <= 20 GROUP BY qid
),
gndcg_v AS (
  SELECT avg(coalesce(g.dcg, 0.0) / i.idcg) AS v
  FROM (SELECT DISTINCT qid FROM run) rq
  JOIN gidcg_q i ON i.qid = rq.qid
  LEFT JOIN gdcg_q g ON g.qid = rq.qid
),
err_rows AS (
  SELECT r.qid, r.rank,
         (pow(2.0, coalesce(qr.grade, 0)) - 1.0) / 16.0 AS rr
  FROM run r LEFT JOIN qrels qr ON qr.qid = r.qid AND qr.docid = r.docid
  WHERE r.rank <= 20
),
err_q AS (
  SELECT qid, sum(rr * exp(coalesce(sum_ln, 0.0)) / rank) AS err FROM (
    SELECT qid, rank, rr,
           sum(ln(1.0 - rr)) OVER (PARTITION BY qid ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sum_ln
    FROM err_rows)
  GROUP BY qid
),
err_v AS (
  SELECT avg(coalesce(e.err, 0.0)) AS v
  FROM (SELECT DISTINCT r.qid FROM run r
        JOIN (SELECT DISTINCT qid FROM qrels) g ON g.qid = r.qid) t
  LEFT JOIN err_q e ON e.qid = t.qid
)
SELECT 'err20' AS metric, round(v, 6) AS value FROM err_v
UNION ALL SELECT 'gd_ndcg20', round(v, 6) FROM gndcg_v
UNION ALL SELECT 'map', round(v, 6) FROM map_v
UNION ALL SELECT 'mrr10', round(v, 6) FROM mrr_v
UNION ALL SELECT 'ndcg_cut20', round(v, 6) FROM ndcg_v
UNION ALL SELECT 'p10', round(v, 6) FROM p10_v
UNION ALL SELECT 'recall50', round(v, 6) FROM rec_v
"""


def oracle_sqls() -> dict[str, str]:
    # the corpus oracles, plus the ScoreTiesAdjuster transform the
    # engine applies (round 4, perturb duplicate runs by 1e-6*i)
    return {
        "bm25_index_topk": _with_tie_adjust(_bm25_oracle(K1, B)),
        # same full-corpus oracle: union-of-slices must be
        # indistinguishable from a from-scratch build
        "multislice_bm25_topk": _with_tie_adjust(_bm25_oracle(K1, B)),
        # stale-stats Lucene delete semantics: stats over ALL docs,
        # ranking over live docs only
        "tombstone_bm25_topk": _with_tie_adjust(
            _bm25_tombstone_oracle(K1, B, TOMB_MOD, TOMB_REM)),
        # post-merge physical-delete semantics: stats AND ranking over
        # the shrunken collection
        "purged_bm25_topk": _with_tie_adjust(
            _bm25_purged_oracle(K1, B, TOMB_MOD, TOMB_REM)),
        "boolean_topk": _with_tie_adjust(_boolean_oracle(K1, B)),
        "impact_topk": _with_tie_adjust(_impact_oracle()),
        "qld_index_topk": _with_tie_adjust(_qld_oracle(MU)),
        "qljm_index_topk": _with_tie_adjust(_qljm_oracle(QLJM_LAMBDA)),
        "inl2_index_topk": _with_tie_adjust(_inl2_oracle(INL2_C)),
        "spl_index_topk": _with_tie_adjust(_spl_oracle(SPL_C)),
        "zh_bm25_topk": _with_tie_adjust(_zh_bm25_oracle(K1, B)),
        "fr_bm25_topk": _with_tie_adjust(_fr_bm25_oracle(K1, B)),
        # already-rounded weights in a pinned order — no tie transform
        "bgl_query_terms": _bgl_oracle(),
        "sdm_topk": _with_tie_adjust(_sdm_oracle(K1, B)),
        "rm3_topk": _with_tie_adjust(
            _rm3_oracle(K1, B, RM3_FB_DOCS, RM3_FB_TERMS, RM3_ALPHA,
                        RM3_MAX_DF_RATIO)),
        "bm25prf_topk": _with_tie_adjust(
            _bm25prf_oracle(K1, B, BM25PRF_FB_DOCS, BM25PRF_FB_TERMS)),
        "axiom_topk": _with_tie_adjust(
            _axiom_oracle(K1, B, AXIOM_R, AXIOM_BETA, AXIOM_M)),
        # metric values are already rounded scalars — no tie transform
        "eval_metrics": _eval_metrics_oracle(K1, B, EVAL_K),
    }
