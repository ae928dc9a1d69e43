"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload web_html --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the environment and the sample counts behind each
metric. The exit code is 0 only when every output check passed.
Everything the run writes stays under ``.perfbench_cache/`` in the
checkout. See ``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# claims are made on this seed; tune on any other
HELD_OUT_SEED = 7919


def _environment(cache: str, cores: int, eventlog_dir: str | None) -> None:
    """Point every scratch location of the run into the checkout, before
    the JVM starts."""
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if eventlog_dir:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{eventlog_dir}",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])


def _env_record(name, seed, cores, nproc, ctx, res) -> dict:
    import numpy
    import pyarrow
    import pyspark

    ref = ctx["inputs"].ref["counts"] if "inputs" in ctx else None
    return {
        "workload": name, "seed": seed,
        "held_out_seed": seed == HELD_OUT_SEED,
        "nproc": nproc, "cores": cores, "master": f"local[{cores}]",
        "python": platform.python_version(), "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "index_docs_postings_blocks": ref,
        "attempted": res.attempted, "failed": res.failed,
        "failures": res.failures[:10],
        "note": "local[N] on this host's cores; round-7 numbers from a "
                "32-core host are not comparable",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] parallelism (default: every core of "
                         "this process's CPU affinity)")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "anserini_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: no anserini_spark checkout around "
              f"{os.path.dirname(os.path.abspath(__file__))}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.common import CACHE, cpu_ticks, got_share, summary

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    cores = args.cores or nproc
    if not 1 <= cores <= nproc:
        print(f"perfbench: --cores {cores} outside 1..{nproc} (nproc)",
              file=sys.stderr)
        return 2

    eventlog_dir = None
    if args.trace:
        eventlog_dir = os.path.join(CACHE, "eventlog", args.workload)
        shutil.rmtree(eventlog_dir, ignore_errors=True)
        os.makedirs(eventlog_dir)
    _environment(CACHE, cores, eventlog_dir)

    t0, ticks0 = time.time(), cpu_ticks()
    res, walls, ctx = workloads.run(args.workload, args.seed, args.seconds,
                                    cores, eventlog_dir)
    if args.trace:
        metrics = res.layer
    else:
        metrics = workloads.e2e(res, walls) if res.samples.get(
            "gates_s") else {}
    env = _env_record(args.workload, args.seed, cores, nproc, ctx, res)
    env["wall_s"] = time.time() - t0
    # the share of wanted CPU time the hypervisor gave to other guests
    env["cpu_stolen_pct"] = 100.0 * (1.0 - got_share(ticks0, cpu_ticks()))
    env["setup_walls_s"] = walls
    detail = {k: summary(v) for k, v in sorted(res.samples.items())}
    detail["setup_s"] = summary(walls)
    print(json.dumps({"env": env, "detail": detail}))
    ok = res.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": ok,
        "attempted": max(1, res.attempted),
        "failed": res.failed if ok or res.failed else 1,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
