"""Quantify krovetz-mode vs porter-mode rank divergence (round-4
verdict task 3) on REAL English text.

The natural-vocab bench corpus uses synthetic tokens a stemmer never
touches, so the measurement corpus here is the reference's own
robust04 topic statements (250 topics, `topics-and-qrels/
topics.robust04.txt`): each topic's description+narrative becomes one
document, each title a query — genuine English morphology (the text
KStem's lexicon gate matters for). Two indexes are built over the
identical corpus, one per analyzer; BM25 (k1=0.9, b=0.4) runs the
same queries through both, and we report per-query:

* top-10 overlap (|intersection| / 10),
* Kendall tau-a over the doc pairs ranked by BOTH modes in top-50,
* plus the aggregate distribution.

Deterministic end to end, so `tests/test_krovetz_divergence.py` pins
the aggregate numbers — a lexicon/stemmer change that moves RANKINGS
(not just token streams) trips the pin, closing the round-3 "quantify
the divergence" clause.

    python scripts/krovetz_divergence.py [--topics 250] [--k 50]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TOPICS = ("/root/reference/src/main/resources/topics-and-qrels/"
          "topics.robust04.txt")


def load_topic_statements(path: str = TOPICS, limit: int = 0):
    """[(num, title, desc+narr text)] from a TREC <top> file."""
    text = open(path, encoding="utf-8", errors="replace").read()
    out = []
    for block in re.findall(r"<top>(.*?)</top>", text, re.DOTALL):
        num = int(re.search(r"<num>\s*Number:\s*(\d+)", block).group(1))
        title = re.search(r"<title>\s*(.*?)\s*(?=<|$)", block,
                          re.DOTALL).group(1).strip()
        desc = re.search(r"<desc>\s*Description:\s*(.*?)(?=<|$)", block,
                         re.DOTALL)
        narr = re.search(r"<narr>\s*Narrative:\s*(.*?)(?=<|$)", block,
                         re.DOTALL)
        body = " ".join(s.group(1).strip() for s in (desc, narr) if s)
        out.append((num, title, re.sub(r"\s+", " ", body)))
    return out[:limit] if limit else out


def kendall_tau_a(ranks_a: dict, ranks_b: dict) -> float:
    """tau-a over docs ranked by BOTH sides (1.0 if < 2 shared)."""
    shared = sorted(set(ranks_a) & set(ranks_b))
    n = len(shared)
    if n < 2:
        return 1.0
    conc = disc = 0
    for i in range(n):
        for j in range(i + 1, n):
            a = ranks_a[shared[i]] - ranks_a[shared[j]]
            b = ranks_b[shared[i]] - ranks_b[shared[j]]
            s = (a > 0) - (a < 0), (b > 0) - (b < 0)
            if s[0] * s[1] > 0:
                conc += 1
            elif s[0] * s[1] < 0:
                disc += 1
    return (conc - disc) / (n * (n - 1) / 2)


def measure(spark, topics_limit: int = 0, k: int = 50, tmp: str = "/tmp"):
    from anserini_spark.analysis.analyzer import analysis_version
    from anserini_spark.index.build import IndexConfig, build_index
    from anserini_spark.search.bm25 import BM25Params
    from anserini_spark.search.searcher import InvertedIndex, search_kernel

    tops = load_topic_statements(limit=topics_limit)
    rows = [(f"https://trec/robust04/{num}", body, "en")
            for num, _t, body in tops]
    corpus = spark.createDataFrame(
        rows, "url string, text string, lang string")
    queries = {num: title for num, title, _b in tops}

    runs = {}
    for analyzer in ("porter", "krovetz"):
        av = analysis_version(analyzer).replace(".", "_")
        out = f"{tmp}/anserini_div_{analyzer}_{len(tops)}_{av}"
        build_index(spark, corpus,
                    IndexConfig(out_dir=out, analyzer=analyzer,
                                doc_partitions=2, block_partitions=2))
        idx = InvertedIndex(spark, out)
        hits = search_kernel(idx, queries, BM25Params(k1=0.9, b=0.4, k=k))
        per_q: dict = {}
        for r in hits.collect():
            per_q.setdefault(r["qid"], {})[r["docid"]] = r["rank"]
        runs[analyzer] = per_q

    overlaps, taus = [], []
    identical = 0
    for qid in queries:
        pa = runs["porter"].get(qid, {})
        kb = runs["krovetz"].get(qid, {})
        top_a = {d for d, r in pa.items() if r <= 10}
        top_b = {d for d, r in kb.items() if r <= 10}
        denom = max(1, min(10, max(len(top_a), len(top_b))))
        overlaps.append(len(top_a & top_b) / denom)
        taus.append(kendall_tau_a(pa, kb))
        if ({d: r for d, r in pa.items() if r <= 10}
                == {d: r for d, r in kb.items() if r <= 10}):
            identical += 1
    n = len(queries)
    report = {
        "metric": "krovetz_vs_porter_rank_divergence",
        "corpus": "robust04 topic statements (desc+narr)",
        "docs": len(tops),
        "queries": n,
        "k": k,
        "mean_overlap_at10": round(sum(overlaps) / n, 4),
        "min_overlap_at10": round(min(overlaps), 4),
        "mean_kendall_tau": round(sum(taus) / n, 4),
        "min_kendall_tau": round(min(taus), 4),
        "identical_top10_pct": round(100.0 * identical / n, 1),
    }
    return report


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--topics", type=int, default=0, help="0 = all 250")
    ap.add_argument("--k", type=int, default=50)
    ap.add_argument("--no-coverage-append", action="store_true")
    args = ap.parse_args()

    from anserini_spark.session import get_spark

    spark = get_spark(app="krovetz-div", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    report = measure(spark, topics_limit=args.topics, k=args.k)
    print(json.dumps(report))

    if args.no_coverage_append:
        return
    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    with open(os.path.join(REPO, "COVERAGE.md"), "a") as f:
        f.write(f"""
## Krovetz-mode rank divergence {stamp} (round-6)

Porter-mode vs krovetz-mode BM25 over the identical real-English
corpus ({report['docs']} robust04 topic statements as documents,
titles as queries, k={report['k']}):

```json
{json.dumps(report, indent=2)}
```

Reading: mean top-10 overlap {report['mean_overlap_at10']}, mean
Kendall tau {report['mean_kendall_tau']} over co-ranked docs,
{report['identical_top10_pct']}% of queries with an identical top-10
(ranks and all). The stemmers are a controlled A/B here — the same
engine, index layout, and scoring; only the token streams differ —
so this is the ceiling on how much any krovetz-lexicon drift can move
rankings relative to an alternative stemmer on this text. The pinned
test (tests/test_krovetz_divergence.py) recomputes these numbers on
the first 60 topics; a lexicon change that shifts RANKINGS trips it.
""")


if __name__ == "__main__":
    main()
