"""Impact-scored (SLR) index mode — the reference fork's added
functionality (README "Added Indexing Functionality";
`index/generator/SLRGenerator.java:57-187`, `analysis/SLRTokenizer`,
`search/similarity/SLRSimilarity.java:36-103`).

A document is a sparse latent vector ``map<string, float>`` (term =
zero-padded latent index). The activation is smuggled into the
term-frequency slot, quantized as ``tf = round(activation * 10^p)``
(`SLRGenerator` float normalization); the norm is constant
(`SLRSimilarity` norm ≡ 1), and the score is the dot product

    score(q, d) = sum_t q_act(t) * tf_t / 10^p

Spark mapping: the SAME posting pipeline — quantized impacts ride the
tf slot of the docvec/block format, so compression, segmenting, merge
and the per-segment kernels all apply unchanged; only the scoring
formula differs (no idf, no length normalization).
"""

from __future__ import annotations

from typing import Dict, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..analysis.analyzer import analysis_version as _analysis_version
from .build import (
    DOCVEC_SCHEMA,
    IndexConfig,
    SEG_SHIFT,
    build_index,
)

DEFAULT_PRECISION = 4  # 10^p quantization (SLRGenerator -slr.p)


def build_impact_index(
    spark: SparkSession,
    docs: DataFrame,
    cfg: IndexConfig,
    precision: int = DEFAULT_PRECISION,
) -> dict:
    """Build the impact index from ``(url, activations
    map<string,float>)``: a custom stage-1 writes the quantized docvec
    (terms = latent indices, tfs = quantized impacts), then the
    standard build resumes from its manifest for the shared
    blocks/dictionary/stats stages."""
    import json
    import os
    import time

    from .build import _Manifest, _dir_bytes

    scale = float(10 ** precision)
    os.makedirs(cfg.out_dir, exist_ok=True)
    man = _Manifest(cfg.out_dir)
    docvec_path = os.path.join(cfg.out_dir, "docvec.parquet")

    if not man.done("docvec"):
        t0 = time.time()

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            base = pid << SEG_SHIFT
            row = 0
            prev = None
            for b in batches:
                out = {"doc_id": [], "url": [], "segment": [],
                       "doclen": [], "terms": [], "tfs": []}
                for url, acts in zip(b["url"], b["activations"]):
                    if url == prev:
                        continue
                    prev = url
                    items = sorted(
                        (t, int(round(float(v) * scale)))
                        for t, v in (acts or {}).items()
                    )
                    items = [(t, q) for t, q in items if q > 0]
                    if not items:
                        continue
                    out["doc_id"].append(base + row)
                    out["url"].append(url)
                    out["segment"].append(pid)
                    out["doclen"].append(sum(q for _, q in items))
                    out["terms"].append([t for t, _ in items])
                    out["tfs"].append([q for _, q in items])
                    row += 1
                if out["url"]:
                    yield pd.DataFrame(out)

        (
            docs.select("url", "activations")
            .repartition(cfg.doc_partitions, "url")
            .sortWithinPartitions("url")
            .mapInPandas(kernel, schema=DOCVEC_SCHEMA)
            .write.mode("overwrite")
            .parquet(docvec_path)
        )
        man.record(
            "docvec",
            wall_s=round(time.time() - t0, 3),
            seg_shift=SEG_SHIFT,
            docs=spark.read.parquet(docvec_path).count(),
            bytes=_dir_bytes(docvec_path),
            lineage={"stage": "docvec", "analyzer": "impact",
                     "analysis_version": _analysis_version("impact"),
                     "lang": None, "partitions": cfg.doc_partitions,
                     "precision": precision},
        )
    # remaining stages (blocks/dictionary/stats) are standard: run the
    # normal build, which skips the done docvec stage
    cfg2 = IndexConfig(**{**cfg.__dict__, "analyzer": "impact"})
    empty_corpus = spark.createDataFrame(
        [], "url string, text string, lang string"
    )
    return build_index(spark, empty_corpus, cfg2)


def search_impact(
    index, queries: Dict[int, Dict[str, float]], k: int = 1000,
    precision: int | None = None,
) -> DataFrame:
    """Dot-product retrieval over the impact index. ``queries``:
    qid -> {latent term: query activation}. Scores through the
    term-pruned block kernel: the tf slot carries the quantized
    activation, so the shape is tf/scale and MaxScore's block max_tf
    bound applies unchanged."""
    from ..search.searcher import _search_blocks, run_frame

    p = precision
    if p is None:
        p = index.manifest["docvec"]["lineage"].get("precision",
                                                    DEFAULT_PRECISION)
    scale = float(10 ** p)

    def _shape(tf, dl):
        return tf.astype(np.float64) / scale

    boosts = {qid: {t: float(v) for t, v in m.items() if v > 0}
              for qid, m in queries.items()}
    boosts = {qid: m for qid, m in boosts.items() if m}
    shape_fns = {t: _shape for m in boosts.values() for t in m}
    return run_frame(index.spark, _search_blocks(
        index, boosts, k, consts=None, shape_fns=shape_fns))
