"""Per-layer metrics of the traced run.

Each value times a call into one layer's public functions, made from
this file, or reads the build manifest, the traced cycle's spans or the
Spark event log. ``README.md`` names the end-to-end metric each one
should move.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from . import data, eventlog
from .common import CACHE, dir_mb, median


def _sample_layers(spark, shape, inp, batch_q: dict, L: dict) -> None:
    import pyarrow.parquet as pq

    from anserini_spark.analysis.analyzer import analyze_for
    from anserini_spark.extraction.html2text import extract_series

    from .workloads import NAT_DROP, NAT_VOCAB, WEB, WEB_DROP, WEB_MULT

    out = os.path.join(CACHE, "work", shape.name, "materialize")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    if shape is WEB:
        data.write_web_corpus(spark, inp.sf, out, WEB_MULT, 0, WEB_DROP)
    else:
        data.write_natural_corpus(spark, out, NAT_DROP, 0, NAT_VOCAB)
    L["corpus.materialize_s"] = (time.time() - t0, "s")
    shutil.rmtree(out, ignore_errors=True)

    pages = pq.read_table(inp.pages, columns=["html"]).to_pandas()["html"]
    t0 = time.perf_counter()
    texts = extract_series(pages)
    L["extraction.docs_per_s"] = (len(pages) / (time.perf_counter() - t0),
                                  "docs/s")
    porter = analyze_for("porter")
    t0 = time.perf_counter()
    for text in texts:
        porter(text)
    L["analysis.docs_per_s"] = (len(texts) / (time.perf_counter() - t0),
                                "docs/s")
    qa = analyze_for(shape.analyzer)
    t0 = time.perf_counter()
    for q in batch_q.values():
        qa(q)
    L["analysis.query_ms"] = (
        (time.perf_counter() - t0) * 1e3 / len(batch_q), "ms")


def _index_layers(man: dict, L: dict) -> None:
    for stage in ("docvec", "blocks", "dictionary", "stats"):
        L[f"index.{stage}_s"] = (man[stage]["wall_s"], "s")
    L["index.docs"] = (man["docvec"]["docs"], "count")
    L["index.postings"] = (man["blocks"]["postings"], "count")
    L["index.blocks"] = (man["blocks"]["blocks"], "count")
    nbytes = sum(man[s]["bytes"] for s in ("docvec", "blocks", "dictionary"))
    L["index.bytes_per_posting"] = (nbytes / man["blocks"]["postings"],
                                    "B/posting")
    parts = list(man["blocks"]["partition_bytes"]
                 .get("per_partition", {}).values()) or [1]
    L["index.part_skew"] = (max(parts) / statistics.median(parts), "ratio")


def _search_layers(spark, base: str, analyzer: str, batch_q: dict,
                   L: dict) -> None:
    import pyarrow.dataset as ds

    from anserini_spark.analysis.analyzer import analyze_for
    from anserini_spark.index.blocks import decode_block_run
    from anserini_spark.search.searcher import InvertedIndex

    an = analyze_for(analyzer)
    per_q = [set(an(q)) for q in batch_q.values()]
    terms = sorted(set().union(*per_q))
    idx = InvertedIndex(spark, base)
    t0 = time.perf_counter()
    stats = idx.term_stats(terms)
    L["search.term_stats_ms"] = ((time.perf_counter() - t0) * 1e3, "ms")

    tbl = ds.dataset(os.path.join(base, "blocks.parquet"),
                     format="parquet").to_table(
        filter=ds.field("term").isin(terms),
        columns=["term", "segment", "first_doc", "last_doc", "n",
                 "docs_bin", "tfs_bin", "dls_bin"]).to_pandas()
    tbl = tbl.sort_values(["term", "segment", "first_doc"], kind="mergesort")
    groups = [g for _, g in tbl.groupby(["term", "segment"], sort=False)]
    t0 = time.perf_counter()
    n = 0
    for g in groups:
        docs, _, _ = decode_block_run(
            list(g["docs_bin"]), list(g["tfs_bin"]), list(g["dls_bin"]),
            g["n"].to_numpy(), g["first_doc"].to_numpy(),
            g["last_doc"].to_numpy())
        n += len(docs)
    L["codec.decode_postings_per_s"] = (
        n / max(time.perf_counter() - t0, 1e-9), "postings/s")
    blocks = tbl.groupby("term").size().to_dict()
    L["search.postings_per_query"] = (statistics.mean(
        sum(stats.get(t, (0, 0))[0] for t in q) for q in per_q), "count")
    L["search.blocks_per_query"] = (statistics.mean(
        sum(blocks.get(t, 0) for t in q) for q in per_q), "count")


def measure(spark, ctx: dict, res) -> None:
    """Layer metrics that need the live session (into ``res.layer``)."""
    from .workloads import GATES

    L = res.layer
    shape, inp, tr = ctx["shape"], ctx["inputs"], ctx["tracer"]
    _sample_layers(spark, shape, inp, ctx["batch_q"], L)
    _index_layers(ctx["man"], L)
    _search_layers(spark, ctx["base"], shape.analyzer, ctx["batch_q"], L)
    L["search.plan_s"] = (tr.last("search.batch.plan"), "s")
    L["search.exec_s"] = (tr.last("search.batch.exec"), "s")
    L["local.open_s"] = (median(tr.walls("local.open")), "s")
    L["append.visible_s"] = (median(res.samples["append_visible_s"]), "s")
    L["slice.build_s"] = (median(tr.walls("slice.build")), "s")
    L["multislice.open_s"] = (median(tr.walls("multislice.open")), "s")
    L["multislice.first_s"] = (median(tr.walls("multislice.first")), "s")
    L["compact.wall_s"] = (median(res.samples["compact_s"]), "s")
    L["compact.mb_rewritten"] = (dir_mb(ctx["merged"]), "MB")
    L["compact.first_s"] = (tr.last("compact.first"), "s")
    for g in GATES:
        L[f"gate.{g}_s"] = (median(res.samples[f"gate.{g}_s"]), "s")
    L["trace.overhead_pct"] = (
        100.0 * (ctx["traced_s"] - ctx["plain_s"]) / ctx["plain_s"], "%")


def _stage_walls(man: dict) -> dict:
    """Build-manifest stage -> (start, end); each record is stamped when
    its stage ends."""
    def iv(stage):
        return man[stage]["ts"] - man[stage]["wall_s"], man[stage]["ts"]

    (d0, d1), (s0, s1) = iv("dictionary"), iv("stats")
    return {"docvec": iv("docvec"), "blocks": iv("blocks"),
            "dict_stats": (min(d0, s0), max(d1, s1))}


def spark_layers(log_dir: str, tr, man: dict, L: dict) -> None:
    """``spark.<phase>.<field>`` and ``trace.coverage*`` from the
    (closed) event log and the traced build's manifest. Spans and stage
    walls are written next to the log dir as ``<dir>.spans.json`` so
    ``eventlog.py`` can redo the rollup."""
    stages = _stage_walls(man)
    with open(log_dir.rstrip("/") + ".spans.json", "w") as f:
        json.dump({"spans": tr.spans, "stages": stages}, f)
    L.update(eventlog.metrics(log_dir, tr.spans, stages))
