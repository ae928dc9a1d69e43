"""The two workloads and the lifecycle cycle they share.

A workload is a corpus shape. Every run of every workload sets up
(which warms the JVM on each call shape of the cycle), then runs one
cycle:

1. ``build``         full ``build_index`` of the base corpus
2. ``local.open``    ``LocalSearcher(preload=True)`` on the new index

then rounds until ``--seconds`` have passed since the cycle began, and
at least ``min_rounds`` of them. Each round takes the next N_BATCH
queries of the seeded pool:

3. ``search.batch``  the round's queries as one k=1000 batch through
                     SimpleSearcher's list-form ``batch_search``
                     (results collected to the driver)
4. ``search.single`` N_SINGLE of them as single Spark queries
5. ``gates``         one pass over driver gate queries

The round's queries also go through ``LocalSearcher`` at k=1000, in
chunks between the Spark calls, so the local samples spread over the
round. Every repeated metric is reported as a median.

The traced run adds step 6 after its round:

6. append, ``compact``  url-disjoint drops are built as slices, each
                     opened with the base as a multi-slice index and
                     asked a first query; ``index.compaction.compact``
                     then coalesces them into one slice

Each step's output is checked (``checks.py``).
"""

from __future__ import annotations

import dataclasses
import gc
import hashlib
import json
import os
import shutil
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from . import checks, data
from .common import CACHE, Stopwatch, Tracer, median, peak_rss_mb

K = 1000
DROPS = 2
N_BATCH = 50            # queries per round (local queries and the batch)
N_QUERIES = 4 * N_BATCH  # seeded pool; rounds past the fourth wrap
N_SINGLE = 2            # single Spark queries per round
LOCAL_CHUNK = 10        # local queries between two Spark calls
MIN_ROUNDS = 2          # rounds per measured cycle, at the least
SETUP_REPS = 3
# driver gates named by ROADMAP directions 4-5 and its events_hourly
# carry-over (gates that cache an index under /tmp are left out: a run
# writes only inside its checkout)
GATES = ["bm25_topk", "term_dictionary", "events_hourly"]


@dataclasses.dataclass(frozen=True)
class Shape:
    name: str
    analyzer: str
    source_col: str
    golden: dict            # fixed queries checked against oracle_topk


WEB = Shape(
    name="web_html", analyzer="porter", source_col="html",
    golden={1001: "spark merge join", 1002: "customer value",
            1003: "the scan"})
NATURAL = Shape(
    name="natural_zipf", analyzer="ws", source_col="text",
    golden={1001: "t20 t150 t900 t2500", 1002: "t33 t47 t300 t1200",
            1003: "t25 t400 t800 t1600 t2999"})
WORKLOADS = {s.name: s for s in (WEB, NATURAL)}

# corpus sizes (fixed; the seed only picks queries)
SF_DOCS, SF_EVENTS, SF_VECS = 2000, 20_000, 1000
WEB_MULT, WEB_BASE, WEB_DROP = 10, 1500, 100   # sf docs -> x10 pages
NAT_BASE, NAT_DROP, NAT_VOCAB = 6000, 1000, 100_000
SAMPLE_PAGES = 2000


@dataclasses.dataclass
class Inputs:
    sf: str
    corpus: str
    drops: list
    pages: str
    ref: dict


class Results:
    """Samples per metric plus the attempted/failed operation counts."""

    def __init__(self):
        self.samples = defaultdict(list)
        self.layer = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def add(self, name: str, value: float) -> None:
        self.samples[name].append(float(value))

    def op(self, ok: bool = True, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


# ------------------------------------------------------------ inputs


def _file_md5(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def _cfg(shape: Shape, out_dir: str, cores: int):
    from anserini_spark.index.build import IndexConfig

    return IndexConfig(out_dir=out_dir, analyzer=shape.analyzer,
                       source_col=shape.source_col, doc_partitions=cores,
                       block_partitions=cores)


def _oracle_docs(paths: list) -> dict:
    """url -> text of exactly the docs a build of the tables at
    ``paths`` indexes (English, non-empty, first row per url)."""
    import pyarrow.parquet as pq

    docs = {}
    for path in paths:
        t = pq.read_table(path, columns=["url", "text", "lang"]).to_pydict()
        for url, text, lang in zip(t["url"], t["text"], t["lang"]):
            if lang == "en" and text and text.strip() and url not in docs:
                docs[url] = text
    return docs


def _make_reference(spark, shape: Shape, sf: str, corpus: str, drops: list,
                    cores: int, path: str) -> None:
    """Expected build counts, oracle_topk goldens of the base corpus and
    of the drops together (what their compaction must answer) and gate
    goldens."""
    from anserini_spark.analysis.analyzer import analyze_for
    from anserini_spark.index.build import build_index
    from anserini_spark.search.bm25 import BM25Params
    from anserini_spark.search.oracle import oracle_topk

    out = os.path.join(CACHE, "work", shape.name, "reference")
    shutil.rmtree(out, ignore_errors=True)
    man = build_index(spark, spark.read.parquet(corpus),
                      _cfg(shape, out, cores))
    shutil.rmtree(out, ignore_errors=True)

    def golden(paths):
        runs = oracle_topk(_oracle_docs(paths), shape.golden,
                           analyze_for(shape.analyzer), BM25Params(k=K))
        return {str(q): [list(h) for h in hits] for q, hits in runs.items()}

    ref = {
        "counts": [man["docvec"]["docs"], man["blocks"]["postings"],
                   man["blocks"]["blocks"]],
        "golden": golden([corpus]),
        "golden_drops": golden(drops),
        "gates": checks.gate_goldens(sf, GATES),
    }
    with open(path, "w") as f:
        json.dump(ref, f)


def ensure_inputs(spark, shape: Shape, cores: int) -> Inputs:
    """Materialize (first run) or verify (later runs) the cached inputs;
    a stale or foreign cache entry is rebuilt."""
    d = os.path.join(CACHE, shape.name)
    os.makedirs(d, exist_ok=True)
    sf = os.path.join(d, "sf")
    corpus = os.path.join(d, "corpus.parquet")
    drops = [os.path.join(d, f"drop{i}.parquet")
             for i in range(1, DROPS + 1)]
    fp = data.fingerprint
    if shape is WEB:
        data.cached(sf, {"sf": [SF_DOCS, SF_EVENTS, SF_VECS]},
                    lambda p: data.make_sf(p, SF_DOCS, SF_EVENTS, SF_VECS))
        data.cached(corpus, {"sf": fp(sf), "docs": [0, WEB_BASE, WEB_MULT]},
                    lambda p: data.write_web_corpus(spark, sf, p, WEB_MULT,
                                                    0, WEB_BASE))
        for i, drop in enumerate(drops):
            lo = WEB_BASE + i * WEB_DROP
            data.cached(drop, {"sf": fp(sf), "docs": [lo, WEB_DROP, WEB_MULT]},
                        lambda p, lo=lo: data.write_web_corpus(
                            spark, sf, p, WEB_MULT, lo, WEB_DROP))
    else:
        for i, path in enumerate([corpus] + drops):
            lo = 0 if i == 0 else NAT_BASE + (i - 1) * NAT_DROP
            n = NAT_BASE if i == 0 else NAT_DROP
            data.cached(path, {"natural": [lo, n, NAT_VOCAB]},
                        lambda p, lo=lo, n=n: data.write_natural_corpus(
                            spark, p, n, lo, NAT_VOCAB))
        data.cached(sf, {"sf": [SF_DOCS, SF_EVENTS, SF_VECS],
                         "corpus": fp(corpus)},
                    lambda p: data.make_sf(p, SF_DOCS, SF_EVENTS, SF_VECS,
                                           texts=data.corpus_texts(
                                               corpus, SF_DOCS)))
    # the fixed HTML sample of the extraction/analysis layer metrics
    pages = os.path.join(CACHE, "pages.parquet")
    data.cached(pages, {"pages": [SAMPLE_PAGES, WEB_MULT]},
                lambda p: data.write_sample_pages(spark, p, SAMPLE_PAGES,
                                                  WEB_MULT))
    ref_path = os.path.join(d, "reference.json")
    data.cached(ref_path, {"corpus": fp(corpus), "sf": fp(sf),
                           "drops": [fp(x) for x in drops],
                           "cores": cores, "golden": shape.golden,
                           "gates": GATES},
                lambda p: _make_reference(spark, shape, sf, corpus, drops,
                                          cores, p),
                fp=_file_md5)
    with open(ref_path) as f:
        ref = json.load(f)
    return Inputs(sf, corpus, drops, pages, ref)


# ------------------------------------------------------------- calls


def batch(s, queries: dict, tr: Tracer, name: str, traced: bool) -> dict:
    """qid -> [(docid, rank, score)] for one k=1000 batch. Untraced it
    is the list-form ``batch_search``; traced it is the same two steps
    (the call that returns the DataFrame, then the collect) timed
    apart."""
    qids = list(queries)
    with tr.span(name):
        if not traced:
            got = s.batch_search([queries[q] for q in qids],
                                 [str(q) for q in qids], k=K)
            return {int(q): hits for q, hits in got.items()}
        with tr.span(name + ".plan"):
            df = s.batch_search(dict(queries), k=K)
        with tr.span(name + ".exec"):
            rows = df.collect()
        out = {q: [] for q in qids}
        for r in rows:
            out[r["qid"]].append((r["docid"], r["rank"], r["score"]))
        return out


def single(s, qtext: str, tr: Tracer, name: str, traced: bool) -> list:
    if not traced:
        with tr.span(name):
            return s.search(qtext, k=K)
    return batch(s, {0: qtext}, tr, name, True)[0]


def start_spark(cores: int):
    from anserini_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


# ------------------------------------------------------------- setup


def _warm_up(spark, shape: Shape, inp: Inputs, queries: dict, index: str,
             cores: int) -> None:
    """Make the cycle's call shapes once on a small index built from the
    first drop, so the cycle starts on a warm JVM: a build, a batch and
    a gate pass (each set-up then asks a single query)."""
    import __spark_entry__ as entry
    from anserini_spark.index.build import build_index
    from anserini_spark.search.searcher import SimpleSearcher

    shutil.rmtree(index, ignore_errors=True)
    build_index(spark, spark.read.parquet(inp.drops[0]),
                _cfg(shape, index, cores))
    qids = sorted(queries)[:N_BATCH]
    SimpleSearcher(spark, index).batch_search(
        [queries[q] for q in qids], [str(q) for q in qids], k=K)
    gates = entry.queries()
    for g in GATES:
        gates[g](spark, inp.sf).collect()


def setup(shape: Shape, queries: dict, cores: int, layer: dict):
    """Set up SETUP_REPS times: get the session, verify the cached
    inputs, and answer one Spark and one local query on a small index
    built from the first drop. Only the first repetition launches the
    JVM, materializes missing inputs and runs the warm-up (``_warm_up``,
    which builds that index); the later ones get the running session.
    Returns the session, the inputs and each repetition's wall."""
    from anserini_spark.search.local import LocalSearcher
    from anserini_spark.search.searcher import SimpleSearcher

    warm = os.path.join(CACHE, "work", shape.name, "warm")
    q = next(iter(shape.golden.values()))
    walls = []
    for rep in range(SETUP_REPS):
        t0, sw = time.time(), Stopwatch()
        spark = start_spark(cores)
        if rep == 0:
            layer["session.start_s"] = (time.time() - t0, "s")
        t1 = time.time()
        inp = ensure_inputs(spark, shape, cores)
        if rep == 0:
            layer["corpus.inputs_s"] = (time.time() - t1, "s")
            _warm_up(spark, shape, inp, queries, warm, cores)
        SimpleSearcher(spark, warm).search(q, k=K)
        LocalSearcher(warm, preload=True).search(q, k=K)
        walls.append(sw.stop().cpu_wall)
    shutil.rmtree(warm, ignore_errors=True)
    return spark, inp, walls


# ------------------------------------------------------------- cycle


@contextmanager
def _spanned_merge_build(tr: Tracer, traced: bool):
    """Traced cycle only: time compaction's merge build as its own span
    ("compact.build") so the compaction wall splits into preparation,
    build stages and finish."""
    from anserini_spark.index import compaction

    orig = compaction.build_index

    def build_index(*args, **kwargs):
        with tr.span("compact.build"):
            return orig(*args, **kwargs)

    if traced:
        compaction.build_index = build_index
    try:
        yield
    finally:
        compaction.build_index = orig


class _LocalQueries:
    """A round's queries through ``LocalSearcher``, taken in chunks
    between the round's Spark calls so the samples spread over the
    round. Each is timed with Python's collector paused, as timeit
    does."""

    def __init__(self, ls, queries: dict, res: Results):
        self.ls, self.res = ls, res
        self.todo = list(queries.items())
        self.hits = {}

    def take(self, n: int = LOCAL_CHUNK) -> None:
        chunk, self.todo = self.todo[:n], self.todo[n:]
        gc.collect()
        gc.disable()
        try:
            for q, qtext in chunk:
                sw = Stopwatch()
                self.hits[q] = self.ls.search(qtext, k=K)
                self.res.add("local_ms", sw.stop().cpu_wall * 1e3)
                self.res.op()
        finally:
            gc.enable()


def _check_golden(ls, shape: Shape, golden: dict, res: Results,
                  what: str) -> None:
    """The fixed query sample through ``ls`` against its oracle_topk
    golden."""
    for q, qtext in shape.golden.items():
        res.op(checks.hits_close(ls.search(qtext, k=K), golden[str(q)]),
               f"{what}: query {q} != oracle_topk")


def _build_and_open(spark, shape: Shape, inp: Inputs, cores: int,
                    res: Results, tr: Tracer, base: str):
    """Steps 1-2; returns the build manifest and the LocalSearcher."""
    from anserini_spark.index.build import build_index
    from anserini_spark.search.local import LocalSearcher

    with tr.span("build"):
        man = build_index(spark, spark.read.parquet(inp.corpus),
                          _cfg(shape, base, cores))
    counts = [man["docvec"]["docs"], man["blocks"]["postings"],
              man["blocks"]["blocks"]]
    res.op(counts == inp.ref["counts"],
           f"build counts {counts} != {inp.ref['counts']}")
    res.add("build_docs_per_s", counts[0] / tr.last_cpu("build"))
    res.add("index_mb", sum(man[s]["bytes"] for s in
                            ("docvec", "blocks", "dictionary")) / 1e6)

    with tr.span("local.open"):
        ls = LocalSearcher(base, preload=True)
    _check_golden(ls, shape, inp.ref["golden"], res, "base")
    return man, ls


def _round(spark, inp: Inputs, batch_q: dict, res: Results, tr: Tracer,
           traced: bool, s, ls) -> None:
    """Steps 3-5 over the searchers ``s`` (Spark) and ``ls`` (local),
    with the round's local queries in chunks between the Spark calls."""
    import __spark_entry__ as entry

    local = _LocalQueries(ls, batch_q, res)
    local.take()
    got = batch(s, batch_q, tr, "search.batch", traced)
    res.add("batch_qps", len(batch_q) / tr.last_cpu("search.batch"))
    local.take()
    singles = {}
    for q in list(batch_q)[:N_SINGLE]:
        singles[q] = single(s, batch_q[q], tr, "search.single", traced)
        res.add("spark_single_s", tr.last_cpu("search.single"))
        local.take()

    gates = entry.queries()
    with tr.span("gates"):
        for g in GATES:
            with tr.span(f"gate.{g}"):
                rows = checks.rows_of(gates[g](spark, inp.sf))
            res.add(f"gate.{g}_s", tr.last_cpu(f"gate.{g}"))
            res.op(rows == inp.ref["gates"][g], f"gate {g} != oracle_sql")
    res.add("gates_s", tr.last_cpu("gates"))
    local.take(len(local.todo))

    res.op(checks.runs_close(got, local.hits), "Spark batch != LocalSearcher")
    for q, hits in singles.items():
        res.op(checks.hits_close(hits, local.hits[q]),
               f"Spark single {q} != LocalSearcher")


def _append_and_compact(spark, shape: Shape, inp: Inputs, qtext: str,
                        cores: int, res: Results, tr: Tracer, traced: bool,
                        base: str, work: str) -> str:
    """Step 6: append the drops, then compact them; returns the merged
    slice dir."""
    from anserini_spark.index.build import build_index
    from anserini_spark.index.compaction import compact
    from anserini_spark.search.local import LocalSearcher
    from anserini_spark.search.searcher import SimpleSearcher

    slices = []
    for i, drop in enumerate(inp.drops, 1):
        t0 = time.time()
        sd = os.path.join(work, f"slice{i}")
        with tr.span("slice.build"):
            build_index(spark, spark.read.parquet(drop),
                        _cfg(shape, sd, cores))
        slices.append(sd)
        with tr.span("multislice.open"):
            ms = SimpleSearcher(spark, [base] + slices)
        first = single(ms, qtext, tr, "multislice.first", traced)
        res.add("append_visible_s", time.time() - t0)
        res.op(bool(first), f"drop {i}: first query returned nothing")

    with tr.span("compact"), _spanned_merge_build(tr, traced):
        merged = compact(spark, slices, _cfg(shape, os.path.join(
            work, "compact"), cores), max_slices=1, merge_factor=len(slices))
    res.add("compact_s", tr.last("compact"))
    res.op(len(merged) == 1, f"compaction left {len(merged)} slices")
    comp = single(SimpleSearcher(spark, [base] + merged), qtext, tr,
                  "compact.first", traced)
    res.op(checks.hits_close(comp, first),
           "compacted index != multi-slice index")
    _check_golden(LocalSearcher(merged[0], preload=True), shape,
                  inp.ref["golden_drops"], res, "compacted drops")
    return merged[0]


def cycle(spark, shape: Shape, inp: Inputs, queries: dict, cores: int,
          res: Results, tr: Tracer, traced: bool, seconds: float = 0.0,
          min_rounds: int = MIN_ROUNDS, appends: bool = False) -> dict:
    """Steps 1-2, rounds of steps 3-5 until ``seconds`` have passed and
    at least ``min_rounds`` ran, then (``appends``) step 6. Returns what
    the traced run's layer metrics need: the base index dir and
    manifest, the first round's batch and the merged slice dir."""
    from anserini_spark.search.searcher import SimpleSearcher

    t0 = time.time()
    work = os.path.join(CACHE, "work", shape.name, "cycle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    base = os.path.join(work, "base")
    qids = sorted(queries)
    man, ls = _build_and_open(spark, shape, inp, cores, res, tr, base)
    s = SimpleSearcher(spark, base)
    out = {"base": base, "man": man}
    rnd = 0
    while rnd < min_rounds or time.time() - t0 < seconds:
        lo = rnd * N_BATCH % len(qids)
        batch_q = {q: queries[q] for q in qids[lo:lo + N_BATCH]}
        out.setdefault("batch_q", batch_q)
        _round(spark, inp, batch_q, res, tr, traced, s, ls)
        rnd += 1
    if appends:
        out["merged"] = _append_and_compact(
            spark, shape, inp, queries[qids[0]], cores, res, tr, traced,
            base, work)
    return out


def run(name: str, seed: int, seconds: float, cores: int,
        eventlog_dir: str | None):
    """Set up, then run one cycle for ``seconds``; with ``eventlog_dir``
    (the traced run) run a plain and a traced one-round cycle with
    appends instead and fill the layer metrics. Returns (results, setup
    walls, context)."""
    from . import layers

    shape = WORKLOADS[name]
    qgen = data.web_queries if shape is WEB else data.natural_queries
    queries = qgen(seed, N_QUERIES)
    res = Results()
    spark, inp, walls = setup(shape, queries, cores, res.layer)
    ctx = {"shape": shape, "inputs": inp, "queries": queries}
    try:
        if eventlog_dir:
            ctx.update(traced_cycles(spark, shape, inp, queries, cores, res))
            layers.measure(spark, ctx, res)
        else:
            cycle(spark, shape, inp, queries, cores, res, Tracer(), False,
                  seconds)
    except Exception:
        traceback.print_exc()
        res.op(False, "exception")
    res.add("peak_rss_mb", peak_rss_mb())
    stop_spark(spark)
    if eventlog_dir and "tracer" in ctx:
        layers.spark_layers(eventlog_dir, ctx["tracer"], ctx["man"],
                            res.layer)
    return res, walls, ctx


def traced_cycles(spark, shape, inp, queries, cores, res) -> dict:
    """A plain cycle, then the traced cycle (job groups, plan/collect
    timed apart); their walls give the tracing overhead. Both run one
    round, so the traced run stays within its time limit, and step 6."""
    t0 = time.time()
    cycle(spark, shape, inp, queries, cores, Results(), Tracer(), False,
          min_rounds=1, appends=True)
    plain = time.time() - t0
    tr = Tracer(spark)
    t0 = time.time()
    out = cycle(spark, shape, inp, queries, cores, res, tr, True,
                min_rounds=1, appends=True)
    traced = time.time() - t0
    out.update(tracer=tr, plain_s=plain, traced_s=traced)
    return out


def e2e(res: Results, walls: list) -> dict:
    """The end-to-end metrics: name -> (value, unit)."""
    s = res.samples
    return {
        "setup_s": (median(walls), "s"),
        "build_docs_per_s": (median(s["build_docs_per_s"]), "docs/s"),
        "index_mb": (median(s["index_mb"]), "MB"),
        "batch_qps": (median(s["batch_qps"]), "queries/s"),
        "spark_single_p50_s": (median(s["spark_single_s"]), "s"),
        "local_p50_ms": (median(s["local_ms"]), "ms"),
        "gates_s": (median(s["gates_s"]), "s"),
        "peak_rss_mb": (max(s["peak_rss_mb"]), "MB"),
    }
