"""Deterministic benchmark inputs and their on-disk cache.

Every input is a pure function of fixed generator seeds, so the corpora
are the same in every checkout; only the queries depend on ``--seed``.
Inputs are written once under ``.perfbench_cache/`` in the checkout and
reused by later runs. Each cached dataset carries a fingerprint of its
parquet footers (row counts plus per-row-group column statistics) next
to the recipe it was made from; a dataset whose footers or recipe no
longer match is rebuilt, never reused silently.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 30-word vocabulary of the sf testdata documents table (plus "dup",
# which only near-duplicate pages carry)
WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DATA_SEED = 20240101


# ---------------------------------------------------------------- cache


def fingerprint(path: str) -> str:
    """md5 over the parquet footers under ``path``: per file its row
    count and, per row group, each column's min/max/null count. Reads
    footers only."""
    h = hashlib.md5()
    files = []
    if os.path.isfile(path):
        files = [path]
    else:
        for root, _, names in sorted(os.walk(path)):
            files += [os.path.join(root, n) for n in sorted(names)
                      if n.endswith(".parquet")]
    if not files:
        return ""
    for f in files:
        md = pq.ParquetFile(f).metadata
        h.update(f"{os.path.relpath(f, path)}:{md.num_rows}:"
                 f"{md.num_row_groups}".encode())
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                st = rg.column(c).statistics
                if st is not None and st.has_min_max:
                    h.update(f"{st.min!r}{st.max!r}{st.null_count}".encode())
    return h.hexdigest()


def cached(path: str, recipe: dict, make, fp=fingerprint) -> bool:
    """Ensure ``path`` holds the output of ``make(path)`` for ``recipe``.
    Returns True when it had to be (re)built."""
    meta = path.rstrip("/") + ".fp.json"
    want = json.dumps(recipe, sort_keys=True)
    if os.path.exists(meta) and os.path.exists(path):
        with open(meta) as f:
            got = json.load(f)
        try:
            ok = got["recipe"] == want and got["fp"] == fp(path)
        except (OSError, KeyError, ValueError):
            ok = False
        if ok:
            return False
    shutil.rmtree(path, ignore_errors=True)
    if os.path.isfile(path):
        os.remove(path)
    make(path)
    with open(meta, "w") as f:
        json.dump({"recipe": want, "fp": fp(path)}, f)
    return True


# ---------------------------------------------------------- sf tables


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    toks = rng.integers(0, len(WORDS), int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(WORDS[t] for t in toks[bounds[i]:bounds[i + 1]])
            for i in range(n)]


def make_sf(out: str, n_docs: int, n_events: int, n_vecs: int,
            texts: list[str] | None = None) -> None:
    """A testdata-shaped sf directory: ``documents``, ``events`` and
    ``embeddings`` tables, one single-row-group parquet file each, with
    the same schemas and value distributions as the sf testdata.
    ``texts`` replaces the 30-word documents text."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    texts = list(texts) if texts is not None else _texts(rng, n_docs)
    # near-duplicate pages (3-gram Jaccard >= 0.9): the dedup gates'
    # positives
    for i in range(150, n_docs, 300):
        texts[i] = texts[i - 149] + " dup"
    doc_id = np.arange(n_docs, dtype=np.int64)
    lang = rng.choice(LANGS, n_docs, p=LANG_P)
    pq.write_table(pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": lang.tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out, "documents.parquet"))

    t0 = dt.datetime(2024, 1, 1)
    us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    pq.write_table(pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(u)) for u in us],
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), os.path.join(out, "events.parquet"))

    label = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    emb = centers[label] + rng.normal(0.0, 1.5, (n_vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(
        np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": label.astype(np.int64),
    }), os.path.join(out, "embeddings.parquet"))


# ------------------------------------------------------------- corpora


def write_web_corpus(spark, sf_dir: str, out: str, multiplier: int,
                     first_doc: int = 0, n_docs: int | None = None) -> None:
    """Materialize ``corpus.synth.web_corpus`` (raw HTML pages) for the
    sf documents with ``first_doc <= doc_id < first_doc + n_docs``."""
    from pyspark.sql import functions as F

    from anserini_spark.corpus.synth import web_corpus

    stage = out + ".src"
    shutil.rmtree(stage, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hi = first_doc + (n_docs if n_docs is not None else 1 << 62)
    docs.filter((F.col("doc_id") >= first_doc) & (F.col("doc_id") < hi)) \
        .write.parquet(os.path.join(stage, "documents.parquet"))
    web_corpus(spark, stage, multiplier=multiplier).write.mode(
        "overwrite").parquet(out)
    shutil.rmtree(stage, ignore_errors=True)


def write_natural_corpus(spark, out: str, n_docs: int, first_id: int,
                         vocab: int) -> None:
    """Materialize ``corpus.synth.natural_corpus`` rows
    ``[first_id, first_id + n_docs)`` (urls are disjoint across
    ranges, so ranges serve as url-disjoint append drops)."""
    from pyspark.sql import functions as F

    from anserini_spark.corpus.synth import natural_corpus

    natural_corpus(spark, first_id + n_docs, vocab=vocab).filter(
        F.col("url") >= f"https://nat.example.org/{first_id:012d}"
    ).write.mode("overwrite").parquet(out)


def write_sample_pages(spark, out: str, n_pages: int, multiplier: int) -> None:
    """A fixed sample of ``n_pages`` raw HTML pages (all languages)."""
    src = out + ".sf"
    make_sf(src, n_pages // multiplier + 1, 1, 1)
    write_web_corpus(spark, src, out + ".all", multiplier)
    spark.read.parquet(out + ".all").orderBy("url").limit(n_pages) \
        .coalesce(1).write.parquet(out)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out + ".all", ignore_errors=True)


def corpus_texts(corpus: str, n: int) -> list[str]:
    """The first ``n`` texts of a corpus table, in url order."""
    t = pq.read_table(corpus, columns=["url", "text"]).sort_by("url")
    return t["text"].slice(0, n).to_pylist()


# ------------------------------------------------------------- queries


def _lengths(rng: np.random.Generator, n: int, cycle: list[int]) -> list:
    """Query lengths: ``cycle`` repeated to ``n`` and shuffled, so every
    seed gets the same length mix and the seed only moves which terms."""
    return rng.permutation(np.resize(cycle, n)).tolist()


def web_queries(seed: int, n: int) -> dict[int, str]:
    """1-4 distinct vocabulary words per query (``bench.py``'s shape),
    lengths in the fixed mix 1,2,3,3,4."""
    rng = np.random.default_rng(seed)
    words = [w for w in WORDS if w not in ("the", "a")]
    return {qid: " ".join(rng.choice(words, m, replace=False))
            for qid, m in enumerate(_lengths(rng, n, [1, 2, 3, 3, 4]), 1)}


def natural_queries(seed: int, n: int) -> dict[int, str]:
    """4-6 terms, ranks log-uniform in [20, 3000]
    (``scripts/batch_bench.py``'s shape), lengths in the fixed mix
    4,5,5,6. The ranks are stratified: a query of m terms draws one rank
    from each of m equal slices of the log range, so every seed gets the
    same mix of head and tail terms and a similar query cost."""
    rng = np.random.default_rng(seed)
    lo, hi = np.log(20), np.log(3000)
    out = {}
    for qid, m in enumerate(_lengths(rng, n, [4, 5, 5, 6]), 1):
        u = (np.arange(m) + rng.uniform(size=m)) / m
        ranks = np.unique(np.exp(lo + u * (hi - lo)).astype(int))
        out[qid] = " ".join(f"t{r}" for r in ranks)
    return out
