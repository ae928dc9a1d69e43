"""Roll a Spark event log up per benchmark phase.

Each job is attributed to a phase by its job group (set by the
benchmark around each call) or, for jobs a library thread launched
without the group, by the innermost benchmark span that covers the
job's submission time. Jobs of a full index build are split into the
build stages by the table their SQL execution writes (docvec, blocks,
dictionary); the build's job that writes nothing is the stats
aggregation. SQL executions are attributed the same way.

``trace.coverage`` comes from the same attribution: the share of each
timed operation's wall during which a job or SQL execution of its
phases ran, so a lost job group or a missed stage split lowers it.

    python3 perfbench/eventlog.py <event-log dir> <dir>.spans.json

prints the rollup and the coverage as one JSON object (a traced run
leaves both files under ``.perfbench_cache/eventlog/``).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

PHASES = ["build.docvec", "build.blocks", "build.dictionary", "build.stats",
          "search.batch", "search.single", "slice.build", "multislice.query",
          "compact", "gates"]
# timed operation -> (its spans, the phases that do its work)
OPS = {
    "build": (("build",), ("build.docvec", "build.blocks", "build.dictionary",
                           "build.stats")),
    "batch": (("search.batch",), ("search.batch",)),
    "single": (("search.single",), ("search.single",)),
    "append": (("slice.build", "multislice.open", "multislice.first"),
               ("slice.build", "multislice.query")),
    "compact": (("compact",), ("compact",)),
    "gates": (("gates",), ("gates",)),
}
# build-manifest stage -> its phases (dictionary and stats run
# concurrently, and the stats wall includes waiting for the dictionary)
STAGES = {"docvec": ("build.docvec",), "blocks": ("build.blocks",),
          "dict_stats": ("build.dictionary", "build.stats")}
FIELDS = {"tasks": "count", "run_s": "s", "cpu_s": "s", "gc_s": "s",
          "wait_s": "s", "task_max_s": "s", "shuffle_write_mb": "MB",
          "spill_mb": "MB"}
# the write target in the plan's node details, e.g.
# "Execute InsertIntoHadoopFsRelationCommand\nInput: []\n
#  Arguments: file:/.../base/blocks.parquet, false, Parquet, ..."
_INSERT = re.compile(r"InsertIntoHadoopFsRelationCommand\s*\nInput:[^\n]*\n"
                     r"Arguments: [^,]*/(docvec|blocks|dictionary)\.parquet,")


def span_phase(name: str) -> str | None:
    """Benchmark span name -> rollup phase (None: not rolled up)."""
    if name == "build":
        return "build"
    for prefix, phase in (("search.batch", "search.batch"),
                          ("search.single", "search.single"),
                          ("slice.build", "slice.build"),
                          ("multislice.", "multislice.query"),
                          ("compact.first", "multislice.query"),
                          ("compact", "compact"),
                          ("gate", "gates")):
        if name.startswith(prefix):
            return phase
    return None


def _log_files(log_dir: str) -> list[str]:
    """One event-log file per application (rolling logs: their parts)."""
    files = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    files += [f for f in glob.glob(os.path.join(log_dir, "*"))
              if os.path.isfile(f)]
    return sorted(files)


def _innermost(spans, t_ms: float) -> str | None:
    best = None
    for name, t0, t1 in spans:
        if t0 * 1e3 <= t_ms <= t1 * 1e3 and (best is None or t0 >= best[1]):
            best = (name, t0)
    return best[0] if best else None


def _phase_of(group, t_ms: float, plan: str, spans) -> str | None:
    """Phase of a job or SQL execution: its job group, else the
    innermost span at ``t_ms``; a full build's work is split by the
    table its SQL plan writes."""
    name = group if span_phase(group or "") else _innermost(spans, t_ms)
    phase = span_phase(name or "")
    if phase == "build":
        m = _INSERT.search(plan or "")
        phase = f"build.{m.group(1)}" if m else "build.stats"
    return phase


def _parse(path: str, spans, tasks: dict, busy: dict) -> None:
    """Add one application's task-end events to ``tasks`` and its job
    (submission to completion) and SQL execution (start to end)
    intervals, in seconds, to ``busy``, both by phase. Job and execution
    ids are per application."""
    plans: dict = {}
    execs: dict = {}
    jobs: dict = {}
    stage_job: dict = {}
    ends: list = []
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev.endswith("SparkListenerSQLExecutionStart"):
                eid = e["executionId"]
                plans[eid] = e.get("physicalPlanDescription", "")
                plan = plans.get(e.get("rootExecutionId", eid), plans[eid])
                execs[eid] = (_phase_of(e.get("jobGroupId"), e["time"], plan,
                                        spans), e["time"])
            elif ev.endswith("SparkListenerSQLExecutionEnd"):
                phase, t0 = execs.pop(e["executionId"], (None, 0))
                if phase in busy:
                    busy[phase].append((t0 / 1e3, e["time"] / 1e3))
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                eid = props.get("spark.sql.execution.root.id",
                                props.get("spark.sql.execution.id"))
                plan = plans.get(int(eid), "") if eid is not None else ""
                t0 = e.get("Submission Time", 0)
                jobs[e["Job ID"]] = (_phase_of(props.get("spark.jobGroup.id"),
                                               t0, plan, spans), t0)
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                phase, t0 = jobs.get(e["Job ID"], (None, 0))
                if phase in busy:
                    busy[phase].append((t0 / 1e3, e["Completion Time"] / 1e3))
            elif ev == "SparkListenerTaskEnd":
                ends.append(e)
    for e in ends:
        phase = jobs.get(stage_job.get(e.get("Stage ID")), (None,))[0]
        if phase in tasks:
            tasks[phase].append(e)


def _union(ivs) -> list:
    out: list = []
    for t0, t1 in sorted(ivs):
        if out and t0 <= out[-1][1]:
            out[-1][1] = max(out[-1][1], t1)
        else:
            out.append([t0, t1])
    return out


def _covered(busy, wall) -> float:
    """Share of the interval union ``wall`` that ``busy`` overlaps."""
    wall, busy = _union(wall), _union(busy)
    total = sum(t1 - t0 for t0, t1 in wall)
    hit = sum(max(0.0, min(b1, w1) - max(b0, w0))
              for w0, w1 in wall for b0, b1 in busy)
    return hit / total if total > 0 else 0.0


def coverage(busy: dict, spans, stages: dict) -> dict:
    """op -> share of the op's span wall during which a job or SQL
    execution attributed to one of its phases ran; ``build.<stage>`` ->
    the same over each build stage's wall from the build manifest, so
    that build work attributed to the wrong stage lowers the value."""
    out = {}
    for op, (names, phases) in OPS.items():
        wall = [(t0, t1) for n, t0, t1 in spans if n in names]
        if wall:
            out[op] = _covered([iv for p in phases for iv in busy[p]], wall)
    for stage, (t0, t1) in stages.items():
        out[f"build.{stage}"] = _covered(
            [iv for p in STAGES[stage] for iv in busy[p]], [(t0, t1)])
    return out


def rollup(log_dir: str, spans) -> tuple[dict, dict]:
    """(phase -> {field: value} over every task of the phase's jobs,
    phase -> busy intervals)."""
    tasks: dict = {p: [] for p in PHASES}
    busy: dict = {p: [] for p in PHASES}
    for path in _log_files(log_dir):
        _parse(path, spans, tasks, busy)
    out = {}
    for phase, evs in tasks.items():
        r = dict.fromkeys(FIELDS, 0.0)
        r["tasks"] = len(evs)
        for e in evs:
            info = e.get("Task Info", {})
            m = e.get("Task Metrics") or {}
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0))
            run = m.get("Executor Run Time", 0)
            r["run_s"] += run / 1e3
            r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            r["wait_s"] += max(
                0, dur - run - m.get("Result Serialization Time", 0)) / 1e3
            r["task_max_s"] = max(r["task_max_s"], dur / 1e3)
            sw = m.get("Shuffle Write Metrics") or {}
            r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            r["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
        out[phase] = r
    return out, busy


def metrics(log_dir: str, spans, stages: dict) -> dict:
    """Flat ``spark.<phase>.<field>`` and ``trace.coverage[.<op>]``
    metrics."""
    roll, busy = rollup(log_dir, spans)
    out = {}
    for phase, r in roll.items():
        for field, unit in FIELDS.items():
            out[f"spark.{phase}.{field}"] = (r[field], unit)
    cov = coverage(busy, spans, stages)
    for op, v in cov.items():
        out[f"trace.coverage.{op}"] = (v, "ratio")
    out["trace.coverage"] = (min(cov.values(), default=0.0), "ratio")
    return out


if __name__ == "__main__":
    with open(sys.argv[2]) as f:
        trace = json.load(f)
    sp = [tuple(s) for s in trace["spans"]]
    roll, busy = rollup(sys.argv[1], sp)
    print(json.dumps({"rollup": roll,
                      "coverage": coverage(busy, sp, trace["stages"])},
                     indent=1))
