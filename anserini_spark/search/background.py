"""News background linking — the reference's ``-backgroundlinking``
search path (`SearchCollection.java:488-564`,
`topicreader/BackgroundLinkingTopicReader.java:130-190`,
`rerank/lib/NewsBackgroundLinkingReranker.java:44-100`), stripped of
its WaPo-specific plumbing (kicker filter, <p>-tag paragraphs):

1. **Query generation**: the topic IS a docid; the query is the
   doc's top-``k`` terms by tf-idf — token filter ``len >= 2`` and
   ``[a-z]+``, tf-idf = tf * ln((1 + N) / df), ties broken by
   case-insensitive term order — optionally weighted (term^tfidf,
   the ``-backgroundlinking.weighted`` flag). The reference
   re-analyzes the RAW stored doc; here the docvec's (terms, tfs)
   IS that analyzed vector, so generation is a driver-side lookup.
2. **Search**: the weighted query runs through the kernel's boosts
   path (BoostQuery analogue).
3. **Paragraph mode** (``-backgroundlinking.paragraph``): with stored
   contents, the first 5 paragraphs (blank-line split here; WaPo
   <p> blocks there) each generate a query; result lists merge
   round-robin with descending synthetic scores ``hits - idx``
   (`SearchCollection.java:534-560`).
4. **Post-rerank** (NewsBackgroundLinkingReranker): drop any hit
   whose term-vector cosine to the QUERY doc is >= 0.9 (this removes
   the query doc itself, cosine 1.0) and pairwise-dedup surviving
   hits at >= 0.9, keeping the earlier rank; optional date filter
   drops hits published after the query doc (warc_ts here,
   PUBLISHED_DATE there).
"""

from __future__ import annotations

import math
import re
from typing import Dict, List, Optional, Tuple

from pyspark.sql import functions as F

from .bm25 import BM25Params
from .searcher import InvertedIndex, search_kernel

_TERM_OK = re.compile(r"^[a-z]+$")


def _doc_vector(index: InvertedIndex, docid: str) -> Dict[str, int]:
    row = (index.docvec.select("url", "terms", "tfs")
           .filter(F.col("url") == docid).first())
    if row is None:
        raise ValueError(f"docid not found: {docid}")
    return dict(zip(row["terms"], row["tfs"]))


def background_query(index: InvertedIndex, docid: str, k: int = 100,
                     weighted: bool = True,
                     vec: Optional[Dict[str, int]] = None
                     ) -> Dict[str, float]:
    """term -> weight for the background-linking query of ``docid``
    (`BackgroundLinkingTopicReader.generateQueryString:150-182`)."""
    vec = vec if vec is not None else _doc_vector(index, docid)
    counts = {t: int(c) for t, c in vec.items()
              if len(t) >= 2 and _TERM_OK.match(t)}
    if not counts:
        return {}
    n = int(index.stats["doc_count"])
    dfs = index.term_dfs(set(counts))
    scored: List[Tuple[str, float]] = []
    for t, c in counts.items():
        df = dfs.get(t, 0)
        if df == 0:
            continue
        scored.append((t, c * math.log((1.0 + n) / df)))
    scored.sort(key=lambda kv: (-kv[1], kv[0].lower()))
    top = scored[:k]
    return {t: (w if weighted else 1.0) for t, w in top}


def _cosine(a: Dict[str, int], b: Dict[str, int]) -> float:
    if not a or not b:
        return 0.0
    dot = sum(c * b[t] for t, c in a.items() if t in b)
    na = math.sqrt(sum(c * c for c in a.values()))
    nb = math.sqrt(sum(c * c for c in b.values()))
    return dot / (na * nb) if na and nb else 0.0


def _paragraph_vectors(index: InvertedIndex, docid: str,
                       max_paragraphs: int = 5) -> List[Dict[str, int]]:
    """Analyzed per-paragraph term vectors from stored contents
    (paragraph mode needs ``store_contents=True``)."""
    dv = index.docvec
    if "contents" not in dv.columns:
        raise ValueError(
            "paragraph mode needs an index built with "
            "store_contents=True (the reference needs -storeRaw)")
    row = dv.select("url", "contents").filter(
        F.col("url") == docid).first()
    if row is None:
        raise ValueError(f"docid not found: {docid}")
    paras = [p.strip() for p in re.split(r"\n\s*\n|\n", row["contents"])
             if p.strip()][:max_paragraphs]
    an = index.analyze_query
    out = []
    for p in paras:
        counts: Dict[str, int] = {}
        for t in an(p):
            counts[t] = counts.get(t, 0) + 1
        out.append(counts)
    return out


def search_background_linking(
    index: InvertedIndex,
    topics: Dict[int, str],
    params: BM25Params = BM25Params(),
    k_terms: int = 100,
    weighted: bool = True,
    paragraph: bool = False,
    dedup_cosine: float = 0.9,
    date_filter: bool = False,
):
    """Batch background linking: topics map qid -> query DOCID.
    Returns (qid, docid, rank, score) rows like every search path.
    The per-query candidate list is k results (tiny), so the dedup
    reranker runs driver-side like the reference's."""
    spark = index.spark
    out_rows: List[Tuple[int, str, int, float]] = []

    # ---- batched topic-doc fetch (round 7, guide §1.2/§2.4): ONE
    # column-pruned docvec scan serves every topic's term vector,
    # stored contents (paragraph mode) and publication date (date
    # filter) — the round-6 loop ran 1-2 full docvec scans PER topic
    # (_doc_vector + _paragraph_vectors + the dates fetch).
    dv = index.docvec
    tcols = ["url", "terms", "tfs"]
    if paragraph:
        if "contents" not in dv.columns:
            raise ValueError(
                "paragraph mode needs an index built with "
                "store_contents=True (the reference needs -storeRaw)")
        tcols.append("contents")
    if date_filter:
        if "warc_ts" not in dv.columns:
            raise ValueError(
                "date_filter needs an index built with "
                "store_timestamps=True (the PUBLISHED_DATE stored-"
                "field analogue)")
        tcols.append("warc_ts")
    topic_rows = {
        r["url"]: r
        for r in dv.select(*tcols)
        .filter(F.col("url").isin(sorted(set(topics.values()))))
        .collect()
    }
    for qid in sorted(topics):
        if topics[qid] not in topic_rows:
            raise ValueError(f"docid not found: {topics[qid]}")
    dates: Dict[str, object] = {}
    if date_filter:
        dates = {u: r["warc_ts"] for u, r in topic_rows.items()}

    # ---- batched query generation + ONE kernel search for every
    # (topic[, paragraph]) query via synthetic int keys; per-key
    # ranked lists are identical to per-topic searches (per-qid
    # scoring in the kernel is independent)
    an = index.analyze_query
    skey = 0
    boosts_all: Dict[int, Dict[str, float]] = {}
    keys_of: Dict[int, List[int]] = {}
    for qid in sorted(topics):
        qdoc = topics[qid]
        row = topic_rows[qdoc]
        qvec = dict(zip(row["terms"], row["tfs"]))
        if paragraph:
            paras = [p.strip() for p in
                     re.split(r"\n\s*\n|\n", row["contents"] or "")
                     if p.strip()][:5]
            pvecs = []
            for p in paras:
                counts: Dict[str, int] = {}
                for t in an(p):
                    counts[t] = counts.get(t, 0) + 1
                pvecs.append(counts)
            pvecs = pvecs or [qvec]
        else:
            pvecs = [qvec]
        keys_of[qid] = []
        for pv in pvecs:
            boosts = background_query(index, qdoc, k=k_terms,
                                      weighted=weighted, vec=pv)
            if not boosts:
                continue
            boosts_all[skey] = boosts
            keys_of[qid].append(skey)
            skey += 1
    by_key: Dict[int, List] = {}
    if boosts_all:
        hits_df = search_kernel(index, {k: "" for k in boosts_all},
                                params, boosts=boosts_all)
        for r in hits_df.collect():  # in (qid, rank) order
            by_key.setdefault(r["qid"], []).append(r)

    # ---- batched candidate-vector fetch: one isin-pruned scan for
    # ALL topics' candidates (round-6: one scan per topic)
    per_qid_ranked: Dict[int, List[Tuple[str, float]]] = {}
    for qid in sorted(topics):
        lists = [by_key.get(k, []) for k in keys_of.get(qid, [])]
        if paragraph:
            merged, row_idx = [], 0
            total = min(params.k, sum(len(x) for x in lists))
            while len(merged) < total:
                for lst in lists:
                    if row_idx < len(lst) and len(merged) < total:
                        merged.append(lst[row_idx])
                row_idx += 1
            per_qid_ranked[qid] = [(h["docid"], float(params.k - i))
                                   for i, h in enumerate(merged)]
        else:
            hits = lists[0] if lists else []
            if not keys_of.get(qid):
                continue  # no query terms: topic emits nothing
            per_qid_ranked[qid] = [(h["docid"], float(h["score"]))
                                   for h in hits]
    all_cand = sorted({d for ranked in per_qid_ranked.values()
                       for d, _ in ranked})
    vcols = ["url", "terms", "tfs"] + (
        ["warc_ts"] if date_filter else [])
    all_vec_rows = (index.docvec.select(*vcols)
                    .filter(F.col("url").isin(all_cand)).collect()
                    ) if all_cand else []
    vecs = {r["url"]: dict(zip(r["terms"], r["tfs"]))
            for r in all_vec_rows}
    all_dates = ({r["url"]: r["warc_ts"] for r in all_vec_rows}
                 if date_filter else {})

    for qid in sorted(per_qid_ranked):
        qdoc = topics[qid]
        qvec = dict(zip(topic_rows[qdoc]["terms"],
                        topic_rows[qdoc]["tfs"]))
        ranked = per_qid_ranked[qid]
        # NewsBackgroundLinkingReranker: cosine dedup vs query doc +
        # pairwise, earlier rank wins — driver-side k x k on <= k
        # candidates, like the reference's
        removed: set = set()
        for i, (di, _) in enumerate(ranked):
            if i in removed:
                continue
            if _cosine(qvec, vecs.get(di, {})) >= dedup_cosine:
                removed.add(i)
                continue
            for j in range(i + 1, len(ranked)):
                if j in removed:
                    continue
                if _cosine(vecs.get(di, {}),
                           vecs.get(ranked[j][0], {})) >= dedup_cosine:
                    removed.add(j)
        # Date filter AFTER cosine dedup — the reference's own order
        # (`NewsBackgroundLinkingReranker.java:57-85`: the cosine
        # toRemove set is computed first, then the date filter appends
        # to it), so a future-dated hit can suppress an older near-dup
        # before being removed itself, exactly as there.
        if date_filter and qdoc in dates and dates[qdoc] is not None:
            qdate = dates[qdoc]
            for i, (di, _) in enumerate(ranked):
                d = all_dates.get(di)
                if d is not None and d > qdate:
                    removed.add(i)
        rank = 0
        for i, (di, sc) in enumerate(ranked):
            if i in removed:
                continue
            rank += 1
            out_rows.append((qid, di, rank, round(sc, 4)))
    return spark.createDataFrame(
        out_rows, "qid int, docid string, rank int, score double")
