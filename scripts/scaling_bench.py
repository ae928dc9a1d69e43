"""Two-cluster-size scaling benchmark (north_rule criterion).

No real cluster exists in this sandbox, so the same spark-submit
--py-files job runs at two parallelism levels (local[N] and local[4N])
on the same materialized corpus parquet; reports throughput at both
plus efficiency = (R_4N / R_N) / 4 and appends the table to BENCH.md.

    python scripts/scaling_bench.py [--n 8] [--target-docs 100000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def make_pyfiles_zip(path: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        pkg = os.path.join(REPO, "anserini_spark")
        for root, _, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))


def spark_submit(master: str, pyfiles: str, script: str, *args: str,
                 pin_cpus: int | None = None) -> float:
    cmd = [
        "spark-submit",
        "--master", master,
        "--conf", "spark.sql.shuffle.partitions="
        + master.split("[")[1].rstrip("]"),
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.memory=48g",
        "--conf", "spark.local.dir=/dev/shm/spark-local",
        # tmpfs shuffle -> compression is pure CPU overhead (see
        # session.py); identical on both legs
        "--conf", "spark.shuffle.compress=false",
        "--conf", "spark.shuffle.spill.compress=false",
        "--py-files", pyfiles,
        script, *args,
    ]
    if pin_cpus is not None and shutil.which("taskset"):
        # local[N] bounds only TASK threads — the JVM's GC / netty /
        # parquet-writer threads and the Arrow IPC pipes still use the
        # whole 32-CPU host, quietly gifting the small leg extra
        # parallelism and depressing measured efficiency. Pinning the
        # whole process tree (python workers inherit affinity) is the
        # faithful "N-core cluster" emulation.
        cmd = ["taskset", "-c", f"0-{pin_cpus - 1}"] + cmd
    env = dict(os.environ)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        env.setdefault(var, "1")
    # the worker daemon (anserini_spark.pyworker) starts before --py-files
    # arrive, so it imports the package from the same zip via PYTHONPATH
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (pyfiles, env.get("PYTHONPATH")) if p)
    t0 = time.time()
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    wall = time.time() - t0
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-3000:] + "\n" + r.stderr[-5000:])
        raise SystemExit(f"spark-submit failed at {master}")
    return wall


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=4,
                    help="N of the N->4N pair; 4 (=>16) is the honest "
                         "pair here — the 32 reported CPUs are SMT "
                         "threads (see cpu_control.py ceiling)")
    ap.add_argument("--target-docs", type=int, default=4_800_000,
                    help="corpus rows before lang filter (~40%% survive)")
    ap.add_argument("--repeats", type=int, default=5,
                    help="runs per leg, interleaved N/4N; MEDIAN kept "
                         "(pinned protocol; the sandbox host shows "
                         "time-varying CPU-delivery noise — see the "
                         "cpu_control.py table in BENCH.md)")
    ap.add_argument("--steady", type=int, default=1,
                    help="timed builds per submitted job (one JVM); the "
                         "per-stage MIN across them is the leg figure. "
                         "Rationale: a fresh JVM's first full-size build "
                         "pays one-time heap-growth/C2 costs even after "
                         "--warmup; long-lived cluster executors only "
                         "run steady-state (build_index.py --steady)")
    ap.add_argument("--pin", action="store_true", default=True,
                    help="taskset-pin each leg's whole process tree to "
                         "its core budget (JVM aux threads included)")
    ap.add_argument("--no-pin", dest="pin", action="store_false")
    args = ap.parse_args()
    n, n4 = args.n, args.n * 4

    work_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="anserini_scaling_", dir=work_root)
    pyfiles = os.path.join(work, "anserini_spark.zip")
    make_pyfiles_zip(pyfiles)

    # materialize the shared corpus once (outside the timed jobs)
    corpus_dir = os.path.join(work, "corpus.parquet")
    subprocess.run(
        [
            sys.executable, "-c",
            f"""
import sys; sys.path.insert(0, {REPO!r})
from anserini_spark.session import get_spark
from anserini_spark.corpus.synth import web_corpus
import duckdb
base = duckdb.connect().execute(
    "SELECT count(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
).fetchone()[0]
mult = max(1, {args.target_docs} // int(base))
spark = get_spark(master='local[{n4}]')
spark.sparkContext.setLogLevel('ERROR')
web_corpus(spark, {SF_DIR!r}, multiplier=mult).write.mode('overwrite').parquet({corpus_dir!r})
spark.stop()
""",
        ],
        check=True,
    )

    # ---- same-window host control (real kernel, no Spark) --------------
    # K pinned pure-python processes each run the ACTUAL extraction +
    # analysis chain over the same html payloads. This measures what
    # the host can deliver to this exact workload class at N vs 4N
    # CPUs (cache/bandwidth/invisible-turbo included) with zero
    # framework overhead — the ceiling any Spark job inherits. It is
    # interleaved with the Spark legs below so both see the same
    # noise window.
    import duckdb as _duck

    ctrl_payloads = [
        r[0] for r in _duck.connect().execute(
            f"SELECT html FROM read_parquet('{corpus_dir}/*.parquet') "
            "USING SAMPLE 20000 ROWS (reservoir, 7)").fetchall()
    ]

    def _ctrl_worker(payloads, q):
        import time as _t

        import pandas as pd

        sys.path.insert(0, REPO)
        from anserini_spark.analysis.analyzer import analyze
        from anserini_spark.extraction.html2text import extract_series
        t0 = _t.perf_counter()
        tot = 0
        # mirror the engine kernel's batch shape (round 4): vectorized
        # arrow/re2 extraction over ~10K-row batches, then analyze
        for i in range(0, len(payloads), 10000):
            texts = extract_series(
                pd.Series(payloads[i:i + 10000], dtype="object"))
            for text in texts:
                tot += len(analyze(text))
        assert tot > 0  # keep the chain from being optimized away
        q.put((_t.perf_counter() - t0, len(payloads)))

    def _blocks_worker(q):
        """REAL blocks-stage kernel (delta+varint block encode + decode
        verify) over a deterministic synthetic posting run — the blocks
        analogue of the extraction control."""
        import time as _t

        import numpy as np

        sys.path.insert(0, REPO)
        import pyarrow as pa
        import pyarrow.compute as pc

        from anserini_spark.index.blocks import (decode_block_run,
                                                 encode_blocks_arrow)
        rng = np.random.default_rng(11)
        n_post = 2_000_000
        n_terms = 20_000
        n_docs_seg = 150_000  # match real per-segment doc density so
        # range-bucket breaks (RANGE_SHIFT) occur at realistic rates
        tids = np.sort(rng.integers(0, n_terms, n_post))
        terms = np.array([f"t{i}" for i in range(n_terms)],
                         dtype=object)[tids]
        segs = np.zeros(n_post, dtype=np.int64)
        # ascending doc ids within each term run
        doc_ids = np.empty(n_post, dtype=np.int64)
        bounds = np.searchsorted(tids, np.arange(n_terms + 1))
        for i in range(n_terms):
            lo, hi = bounds[i], bounds[i + 1]
            if hi > lo:
                doc_ids[lo:hi] = np.sort(
                    rng.choice(n_docs_seg, hi - lo, replace=False))
        tfs = rng.integers(1, 30, n_post).astype(np.int64)
        dls = rng.integers(20, 2000, n_post).astype(np.int64)
        # deliver doc-major (the docvec layout the kernel's batches
        # arrive in) so the control pays the flush's dictionary-encode
        # + lexsort exactly like the Spark task does
        shuf = np.lexsort((tids, doc_ids))
        flat = pa.array(terms[shuf])
        doc_in, seg_in = doc_ids[shuf], segs[shuf]
        tf_in, dl_in = tfs[shuf], dls[shuf]
        schema = pa.schema([
            pa.field("term", pa.string()), pa.field("segment", pa.int32()),
            pa.field("first_doc", pa.int64()),
            pa.field("last_doc", pa.int64()),
            pa.field("n", pa.int32()), pa.field("max_tf", pa.int32()),
            pa.field("min_dl", pa.int64()), pa.field("sum_tf", pa.int64()),
            pa.field("docs_bin", pa.binary()),
            pa.field("tfs_bin", pa.binary()),
            pa.field("dls_bin", pa.binary())])
        t0 = _t.perf_counter()
        passes = 3
        for _ in range(passes):
            # the REAL flush path (_mapside_blocks_kernel): dictionary
            # encode -> lexsort -> Arrow-native block emission
            denc = pc.dictionary_encode(flat)
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(
                np.int64)
            order = np.lexsort((doc_in, seg_in, codes))
            blk = encode_blocks_arrow(
                codes[order], denc.dictionary, seg_in[order], doc_in[order],
                tf_in[order], dl_in[order], schema).to_pandas()
            decode_block_run(
                list(blk["docs_bin"][:4000]), list(blk["tfs_bin"][:4000]),
                list(blk["dls_bin"][:4000]), blk["n"].to_numpy()[:4000],
                blk["first_doc"].to_numpy()[:4000],
                blk["last_doc"].to_numpy()[:4000])
        q.put((_t.perf_counter() - t0, passes * n_post))

    def _run_leg(k: int, target, wargs) -> float:
        """Aggregate units/s of k pinned processes (straggler wall)."""
        import multiprocessing as mp
        q = mp.Queue()
        ps = []
        for i in range(k):
            p = mp.Process(target=target, args=(*wargs, q))
            p.start()
            if args.pin:
                os.sched_setaffinity(p.pid, set(range(k)))
            ps.append(p)
        outs = [q.get() for _ in ps]
        for p in ps:
            p.join()
        walls = [o[0] for o in outs]
        units = outs[0][1]
        return k * units / max(walls)

    runs: dict = {"N": [], "4N": []}
    ctrl: dict = {"N": [], "4N": []}
    ctrl_blocks: dict = {"N": [], "4N": []}
    # interleave the legs so time-varying host noise hits both equally
    for rep in range(args.repeats):
        ctrl["N"].append(_run_leg(n, _ctrl_worker, (ctrl_payloads,)))
        ctrl["4N"].append(_run_leg(n4, _ctrl_worker, (ctrl_payloads,)))
        ctrl_blocks["N"].append(_run_leg(n, _blocks_worker, ()))
        ctrl_blocks["4N"].append(_run_leg(n4, _blocks_worker, ()))
        for label, cores in (("N", n), ("4N", n4)):
            out = os.path.join(work, f"idx_{label}_{rep}")
            shutil.rmtree(out, ignore_errors=True)
            # pinned protocol: IDENTICAL logical job on both legs —
            # same partition counts, same 48g heap; only the
            # executor-thread count varies. Partitions are sized at
            # 8x the 4N core count (round-3 revision: the old 2x gave
            # the 4N leg only two task waves, so any straggler idled
            # most cores and the measured efficiency reflected wave
            # granularity, not the engine; 8 waves amortizes it, and
            # tasks >> cores is also the correct cluster sizing)
            wall = spark_submit(
                f"local[{cores}]", pyfiles,
                os.path.join(REPO, "scripts", "build_index.py"),
                "--corpus", corpus_dir, "--out", out,
                "--partitions", str(n4 * 8), "--from-html",
                "--block-partitions", str(n4 * 16),
                "--steady", str(args.steady),
                # steady-state protocol (round 4): a fresh local JVM
                # pays one-time JIT/import costs that long-lived
                # cluster executors never see per-job; a tiny
                # throwaway build first makes the manifests measure
                # the data path, identically on both legs
                "--warmup",
                pin_cpus=(cores if args.pin else None),
            )
            with open(os.path.join(out, "manifest.json")) as f:
                man = json.load(f)
            docs = man["docvec"]["docs"]
            # job wall includes fixed JVM/session startup; use the
            # summed stage walls (the distributed work) for throughput
            stage_names = ("docvec", "blocks", "dictionary", "stats")
            steady_path = os.path.join(out, "steady.json")
            if os.path.exists(steady_path):
                # --steady: per-stage MIN across the in-JVM runs — the
                # steady-state figure a long-lived executor delivers
                with open(steady_path) as f:
                    sruns = json.load(f)["runs"]
                for s in stage_names:
                    man[s]["wall_s"] = min(r[s] for r in sruns)
                man["blocks"]["postings_per_sec"] = round(
                    man["blocks"]["postings"]
                    / max(man["blocks"]["wall_s"], 1e-9), 1)
            stage_wall = sum(man[s]["wall_s"] for s in stage_names)
            runs[label].append({
                "cores": cores,
                "job_wall_s": round(wall, 1),
                "stage_wall_s": round(stage_wall, 1),
                "docs": docs,
                "docs_per_sec": round(docs / stage_wall, 1),
                "postings_per_sec": man["blocks"]["postings_per_sec"],
                "stage_breakdown": {
                    s: round(man[s]["wall_s"], 1)
                    for s in ("docvec", "blocks", "dictionary", "stats")
                },
            })
            shutil.rmtree(out, ignore_errors=True)
    results = {}
    for label in ("N", "4N"):
        # pinned protocol: MEDIAN of the interleaved repeats; every
        # run is listed for transparency
        ordered = sorted(runs[label], key=lambda r: r["stage_wall_s"])
        med = ordered[len(ordered) // 2]
        med["all_runs_stage_wall_s"] = [r["stage_wall_s"] for r in runs[label]]
        med["all_runs_docs_per_sec"] = [r["docs_per_sec"] for r in runs[label]]
        results[label] = med

    eff = results["4N"]["docs_per_sec"] / (4 * results["N"]["docs_per_sec"])
    ctrl_n = sorted(ctrl["N"])[len(ctrl["N"]) // 2]
    ctrl_n4 = sorted(ctrl["4N"])[len(ctrl["4N"]) // 2]
    ceiling = ctrl_n4 / (4 * ctrl_n)
    ctrl_bn = sorted(ctrl_blocks["N"])[len(ctrl_blocks["N"]) // 2]
    ctrl_bn4 = sorted(ctrl_blocks["4N"])[len(ctrl_blocks["4N"]) // 2]
    blocks_ceiling = ctrl_bn4 / (4 * ctrl_bn)
    # ---- per-stage >=0.8 gate (round-4 verdict task 5) ----------------
    # each stage's raw N->4N efficiency next to its OWN same-window
    # pure-process control (the real kernel, no Spark): docvec vs the
    # extraction+analysis control, blocks vs the block-encode control.
    # A stage passes if raw >= 0.8 OR its host-relative efficiency
    # >= 0.8 (the host itself often cannot deliver 4x).
    stage_gate = {}
    for s, ceil_val in (("docvec", ceiling), ("blocks", blocks_ceiling)):
        w_n = results["N"]["stage_breakdown"][s]
        w_4n = results["4N"]["stage_breakdown"][s]
        raw = w_n / max(4 * w_4n, 1e-9)
        rel = raw / ceil_val if ceil_val else None
        stage_gate[s] = {
            "wall_N_s": w_n,
            "wall_4N_s": w_4n,
            "eff_raw": round(raw, 3),
            "ctrl_ceiling": round(ceil_val, 3),
            "eff_vs_ceiling": round(rel, 3) if rel is not None else None,
            "meets_0.8": bool(raw >= 0.8 or (rel or 0) >= 0.8),
        }
    report = {
        "per_stage_gate": stage_gate,
        "blocks_control": {
            "what": "pinned pure processes running the real "
                    "encode_blocks+decode kernel",
            "N_postings_per_sec": round(ctrl_bn, 1),
            "4N_postings_per_sec": round(ctrl_bn4, 1),
            "all_N": [round(x) for x in ctrl_blocks["N"]],
            "all_4N": [round(x) for x in ctrl_blocks["4N"]],
            "ceiling_efficiency": round(blocks_ceiling, 3),
        },
        "host_control": {
            "what": "pure-process real extraction+analysis kernel, "
                    "pinned, interleaved with the Spark legs",
            "N_docs_per_sec": round(ctrl_n, 1),
            "4N_docs_per_sec": round(ctrl_n4, 1),
            "all_N": [round(x, 1) for x in ctrl["N"]],
            "all_4N": [round(x, 1) for x in ctrl["4N"]],
            "ceiling_efficiency": round(ceiling, 3),
        },
        "efficiency_vs_host_ceiling": round(eff / ceiling, 3) if ceiling else None,
        "sf_dir": SF_DIR,
        "N": results["N"],
        "4N": results["4N"],
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(report, indent=2))

    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    lines = [
        "",
        f"## Scaling run {stamp} (spark-submit --py-files, same corpus)",
        "",
        f"Input: {results['N']['docs']} docs from {SF_DIR} "
        f"(deterministic synthetic web corpus).",
        "",
        "| parallelism | cores | stage wall (s) | docs/sec | postings/sec |",
        "|---|---|---|---|---|",
        f"| local[{n}] (N) | {n} | {results['N']['stage_wall_s']} | "
        f"{results['N']['docs_per_sec']} | {results['N']['postings_per_sec']} |",
        f"| local[{n4}] (4N) | {n4} | {results['4N']['stage_wall_s']} | "
        f"{results['4N']['docs_per_sec']} | {results['4N']['postings_per_sec']} |",
        "",
        f"All N runs (docs/s): {results['N']['all_runs_docs_per_sec']}; "
        f"all 4N runs: {results['4N']['all_runs_docs_per_sec']} "
        f"(median kept; {args.repeats} interleaved repeats/leg, "
        f"fixed 48g heap, fixed partitioning {n4 * 8}/{n4 * 16}"
        + (", each leg taskset-pinned to its core budget so JVM aux "
           "threads cannot exceed it" if args.pin else "")
        + (f"; steady-state protocol: {args.steady} timed builds per "
           "JVM, per-stage min kept — a fresh JVM's first full-size "
           "build pays one-time heap-growth/C2 costs a long-lived "
           "cluster executor never sees" if args.steady > 1 else "")
        + ").",
        "",
        f"**Scaling efficiency (R_4N / (4 * R_N)) = {eff:.3f}**"
        + (" (>= 0.8 criterion met)" if eff >= 0.8 else " (< 0.8)"),
        "",
        "Per-stage decomposition (median-rep walls, seconds; "
        "eff = wall_N / (4 * wall_4N)):",
        "",
        "| stage | N | 4N | stage efficiency |",
        "|---|---|---|---|",
        *[
            f"| {s} | {results['N']['stage_breakdown'][s]} | "
            f"{results['4N']['stage_breakdown'][s]} | "
            f"{results['N']['stage_breakdown'][s] / max(4 * results['4N']['stage_breakdown'][s], 1e-9):.3f} |"
            for s in ("docvec", "blocks", "dictionary", "stats")
        ],
        "",
        "**Per-stage >=0.8 gate** (each stage beside its own "
        "same-window pure-process control running the REAL kernel — "
        "extraction+analysis for docvec, encode_blocks+decode for "
        "blocks; pass = raw >= 0.8 OR host-relative >= 0.8):",
        "",
        "| stage | raw eff | control ceiling | eff vs ceiling | >=0.8 |",
        "|---|---|---|---|---|",
        *[
            f"| {s} | {g['eff_raw']:.3f} | {g['ctrl_ceiling']:.3f} | "
            f"{g['eff_vs_ceiling']:.3f} | "
            f"{'PASS' if g['meets_0.8'] else 'FAIL'} |"
            for s, g in stage_gate.items()
        ],
        "",
        f"Blocks control legs (postings/s): N "
        f"{[round(x) for x in ctrl_blocks['N']]}, 4N "
        f"{[round(x) for x in ctrl_blocks['4N']]}.",
        "",
        f"Same-window host control (pure pinned processes running the "
        f"real extraction+analysis kernel, no Spark): "
        f"{ctrl_n:.0f} -> {ctrl_n4:.0f} docs/s aggregate = ceiling "
        f"efficiency {ceiling:.3f} "
        f"(all N {[round(x) for x in ctrl['N']]}, "
        f"all 4N {[round(x) for x in ctrl['4N']]}). "
        f"**Engine efficiency relative to what the host delivers: "
        f"{eff / ceiling:.3f}**.",
        "",
    ]
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write("\n".join(lines))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
