"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus_pipeline --seed 42 --seconds 10 --trace 0

Run from the repository root. One client, this process, calls the engine
back to back in a closed loop on ``local[<cpus>]``. A run starts the Spark
session, builds the workload's inputs from ``--seed`` several times,
builds the oracle, makes one untimed warm-up pass, then makes passes until
``--seconds`` have elapsed. ``setup_s`` is the session start, the median
input build, the oracle build and the warm-up pass. Outputs are checked
after each pass's timer stops.

With ``--trace 0`` the last stdout line is a JSON object with the
end-to-end metrics. With ``--trace 1`` passes alternate between untraced
and traced (Spark jobs attributed to spans), starting and ending
untraced, then the CC transit probes run; the JSON object then holds the
per-layer metrics of the traced passes. The lines before it print every
metric by name and unit. Spans, checks and the pinned environment go to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from collections import Counter
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPEATS = 3
PR_STEADY = slice(2, None)  # PageRank supersteps from the third on

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cc_s": "s",
    "cc_edges_per_s": "1/s",
}

#: layer -> name of its per-pass span time (each span runs one public call)
LAYER_TIME = {
    "sources.corpus": "edges_s",
    "sources.grids": "cells_s",
    "operators.rle": "runs_s",
    "operators.interval_join": "edges_s",
    "operators.cc": "call_s",
    "operators.pagerank": "call_s",
    "operators.lpa": "call_s",
    "operators.triangles": "call_s",
    "plans.pipelines": "label_runs_s",
}
ROW_LAYERS = ("sources.corpus", "sources.grids", "operators.rle", "operators.interval_join")
CC_SHAPE = ("supersteps", "init_rows", "round_edges", "chained", "patched")
CC_PROBES = ("local_contract_s", "arrow_identity_s", "arrow_identity_int32_s", "kernel_s")


def per_layer_units() -> dict[str, str]:
    from perfbench.tracing import SPARK_FIELDS

    units = {
        "session.start_s": "s",
        "session.peak_rss_gb": "GB",
        "trace.overhead_s": "s",
        "trace.span_coverage": "ratio",
    }
    for layer, name in LAYER_TIME.items():
        units[f"{layer}.{name}"] = "s"
        if layer in ROW_LAYERS:
            units[f"{layer}.rows"] = "count"
        for field, unit in SPARK_FIELDS.items():
            units[f"{layer}.spark.{field}"] = unit
    units.update({f"operators.cc.{p}": "s" for p in CC_PROBES})
    units["operators.cc.narrow_transit"] = "flag"
    units.update({f"operators.cc.{k}": "count" for k in CC_SHAPE})
    units["operators.cc.superstep_s"] = "s"
    units["operators.cc.outside_loop_s"] = "s"
    units.update({
        "operators.pagerank.supersteps": "count",
        "operators.pagerank.superstep_s": "s",
        "operators.pagerank.setup_s": "s",
        "operators.pagerank.broadcast_join": "flag",
        "plans.checkpoint.saves": "count",
        "plans.checkpoint.save_s": "s",
        "plans.checkpoint.bytes_written": "B",
    })
    return units


def pin_environment(work: Path) -> dict:
    """Fix the engine's environment knobs for the current host; return them.

    Must run before the JVM starts: the session reads these at creation.
    """
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the session's 48g default exceeds small hosts; a quarter of RAM,
        # at most 4 GiB, holds every workload
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, mem_kb // 4096)}m",
        # explicit: the session's /dev/shm auto-gate silently falls back to
        # /tmp below 16 GiB free, which would change where shuffle lands
        "SPARK_GRAFT_LOCAL_DIR": str(work / "spark-local"),
        # Python workers import the engine (and this package's UDFs) by path
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "TMPDIR": str(tmp),
    }
    os.environ.update(env)
    return env


def provenance() -> dict:
    h = hashlib.sha256()
    for path in sorted((ROOT / "imtag_spark").rglob("*.py")):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10, env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    import numpy
    import pyspark

    return {
        "engine_sha256": h.hexdigest(),
        "git_commit": commit,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "host_cpus": os.cpu_count(),
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    # a later session in this process must launch a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


def summarize(values: list[float]) -> str:
    return f"median {median(values):.4g}, max {max(values):.4g}, n={len(values)}"


class Run:
    """Passes of one run: their walls, CC input sizes and check results."""

    def __init__(self, workload, work: Path) -> None:
        self.wl = workload
        self.work = work
        self.checks: list[dict] = []
        self.walls: dict[str, float] = {}
        self.cc_edges: dict[str, int] = {}
        self.last_out = None  # kept for the transit probes

    def record(self, run: str, results) -> None:
        for op, ok, detail in results:
            self.checks.append({"run": run, "op": op, "ok": bool(ok), "detail": detail})
            if not ok:
                print(f"CHECK FAILED {run} {op}: {detail}", file=sys.stderr)

    def one_pass(self, spark, inputs, oracle, tr, run: str) -> None:
        from perfbench.workloads import release

        tr.run = run
        t0 = time.time()
        try:
            out = self.wl.run(spark, inputs, tr, self.work / run, warmup=run == "warmup")
        except Exception:
            traceback.print_exc()
            self.record(run, [("pass", False, "raised")])
            return
        self.walls[run] = time.time() - t0
        self.cc_edges[run] = out.cc_edges
        try:
            if run != "warmup":  # only timed passes are checked
                self.record(run, self.wl.check(out, oracle))
        except Exception:
            traceback.print_exc()
            self.record(run, [("check", False, "raised")])
        prev, self.last_out = self.last_out, out
        if prev is not None:
            release(prev.frames.values())
        shutil.rmtree(self.work / run, ignore_errors=True)


def layer_values(tr, run: str, spark_by_span: dict | None) -> dict[str, float]:
    """One pass's per-layer numbers, from its spans."""
    from perfbench.tracing import SPARK_FIELDS

    vals: dict[str, float] = {}
    spans = [s for s in tr.spans if s.run == run]
    for layer, name in LAYER_TIME.items():
        mine = [s for s in spans if s.name == layer]
        vals[f"{layer}.{name}"] = sum(s.duration for s in mine)
        if layer in ROW_LAYERS:
            vals[f"{layer}.rows"] = sum(s.attrs.get("rows", 0) for s in mine)
        for field in SPARK_FIELDS:
            got = [spark_by_span[s.id][field] for s in mine] if spark_by_span else []
            agg = max if field == "task_max_over_median" else sum
            vals[f"{layer}.spark.{field}"] = agg(got) if got else 0.0
    cc = [s for s in spans if s.name == "operators.cc"]
    for k in CC_SHAPE + ("superstep_s",):
        vals[f"operators.cc.{k}"] = sum(s.attrs.get(k, 0) for s in cc)
    vals["operators.cc.outside_loop_s"] = (
        vals["operators.cc.call_s"] - vals["operators.cc.superstep_s"]
    )
    pr = [s for s in spans if s.name == "operators.pagerank"]
    steps = [t for s in pr for t in s.attrs.get("superstep_times", [])]
    vals["operators.pagerank.supersteps"] = len(steps)
    vals["operators.pagerank.superstep_s"] = median(steps[PR_STEADY]) if steps[PR_STEADY] else 0.0
    vals["operators.pagerank.setup_s"] = vals["operators.pagerank.call_s"] - sum(steps)
    vals["operators.pagerank.broadcast_join"] = max(
        (s.attrs.get("broadcast_join", 0) for s in pr), default=0
    )
    saves = [s for s in spans if s.name == "plans.checkpoint"]
    vals["plans.checkpoint.saves"] = len(saves)
    vals["plans.checkpoint.save_s"] = sum(s.duration for s in saves)
    vals["plans.checkpoint.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in saves)
    top = sum(s.duration for s in spans if s.parent is None)
    vals["trace.span_coverage"] = top
    return vals


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    try:
        sys.path.insert(0, str(ROOT))
        import imtag_spark

        if Path(imtag_spark.__file__).resolve().parent != ROOT / "imtag_spark":
            raise ImportError(f"imtag_spark resolved outside {ROOT}: {imtag_spark.__file__}")
        from perfbench import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        lines, result = measure(args, workloads.WORKLOADS[args.workload](), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


def measure(args, wl, work: Path) -> tuple[list[str], dict]:
    """Run one workload; return the report lines and the result object."""
    from imtag_spark.session import get_spark
    from perfbench import tracing, workloads

    env = pin_environment(work)
    run = Run(wl, work)
    t0 = time.time()
    spark = get_spark(
        app_name=f"perfbench-{wl.name}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    session_s = time.time() - t0
    phases = {"session": session_s}  # wall time of each step of the run
    last = [time.time()]

    def phase(name: str) -> None:
        now = time.time()
        phases[name], last[0] = now - last[0], now

    sc = spark.sparkContext
    tr = tracing.Tracer(sc, jobs=False)
    try:
        with tracing.RssSampler(sc._gateway.proc.pid) as rss:
            builds = []
            for i in range(SETUP_REPEATS):
                t = time.time()
                inputs = wl.build(spark, args.seed)
                builds.append(time.time() - t)
                if i < SETUP_REPEATS - 1:
                    wl.release_inputs(inputs)
            phase("builds")
            oracle, input_checks = wl.prepare(spark, inputs)
            run.record("setup", input_checks)
            phase("prepare")
            run.one_pass(spark, inputs, oracle, tr, "warmup")
            phase("warmup")
            # a traced run alternates untraced and traced passes, starting
            # and ending untraced, so drift cancels from the tracing
            # overhead (difference of the two medians)
            start, k = time.time(), 0
            while k < 3 * args.trace or time.time() - start < args.seconds or (
                args.trace and k % 2 == 0
            ):
                tr.jobs = bool(args.trace) and k % 2 == 1
                run.one_pass(spark, inputs, oracle, tr, f"pass{k}")
                k += 1
            tr.jobs = False
            phase("measure")
            measured = [f"pass{i}" for i in range(k) if f"pass{i}" in run.walls]
            untraced = [r for r in measured if int(r[4:]) % 2 == 0] if args.trace else []
            measured = [r for r in measured if int(r[4:]) % 2 == 1] if args.trace else measured
            probes = {}
            if args.trace and measured:
                tr.run = "probe"
                probes = workloads.transit_probes(tr, run.last_out.cc_input)
            spark_by_span = tracing.spark_metrics_by_span(sc, tr.spans) if args.trace else None
            phase("trace")
        peak_rss_gb = rss.peak_bytes / 2**30
    finally:
        stop_spark(spark)
    phase("stop")

    failed = sum(not c["ok"] for c in run.checks)
    attempted = len(run.checks)
    lines = [f"perfbench {wl.name} seed={args.seed} trace={args.trace} "
             f"passes={len(measured)} attempted={attempted} failed={failed}"]
    metrics: dict[str, dict] = {}

    def put(name: str, value: float, unit: str, note: str = "") -> None:
        metrics[name] = {"value": value, "unit": unit}
        lines.append(f"  {name:<44} {value:>14.6g} {unit:<6} {note}")

    setup_s = session_s + median(builds) + phases["prepare"] + phases["warmup"]
    if not measured:
        return lines, {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}

    def span_sum(r: str, name: str) -> float:
        return sum(s.duration for s in tr.spans if s.run == r and s.name == name)

    if not args.trace:
        walls = [run.walls[r] for r in measured]
        cc = [span_sum(r, "operators.cc") for r in measured]
        cc_eps = [run.cc_edges[r] / span_sum(r, "operators.cc") for r in measured]
        put("setup_s", setup_s, "s", f"session {session_s:.3g} s + median of {SETUP_REPEATS} input builds"
            f" + oracle {phases['prepare']:.3g} s + warm-up {phases['warmup']:.3g} s")
        put("wall_s", median(walls), "s", summarize(walls))
        put("cc_s", median(cc), "s", summarize(cc))
        put("cc_edges_per_s", median(cc_eps), "1/s", f"{run.cc_edges[measured[0]]} input edges")
        extras = [f"  {'peak_rss_gb':<44} {peak_rss_gb:>14.6g} GB     driver JVM + Python workers"]
        for layer, name in (("operators.pagerank", "pagerank_s"), ("operators.lpa", "lpa_s"),
                            ("operators.triangles", "triangles_s")):
            vals = [span_sum(r, layer) for r in measured]
            if any(vals):
                extras.append(f"  {name:<44} {median(vals):>14.6g} s      {summarize(vals)}")
        steps = [
            median(s.attrs["superstep_times"][PR_STEADY])
            for s in tr.spans if s.run in measured and s.name == "operators.pagerank"
        ]
        if steps:
            eps = [run.cc_edges[measured[0]] / t for t in steps]
            extras.append(f"  {'pr_edges_per_s_per_superstep':<44} {median(eps):>14.6g} 1/s    "
                          f"supersteps 3+, {summarize(eps)}")
        extras.append(f"  {'failed_ops_ratio':<44} {failed / attempted:>14.6g} ratio  "
                      f"{failed} of {attempted} checked operations")
        lines.extend(extras)
    else:
        units = per_layer_units()
        per_pass = [layer_values(tr, r, spark_by_span) for r in measured]
        vals = {name: median(p[name] for p in per_pass) for name in per_pass[0]}
        traced = median(run.walls[r] for r in measured)
        vals["trace.span_coverage"] = median(
            p["trace.span_coverage"] / run.walls[r] for p, r in zip(per_pass, measured)
        )
        vals["trace.overhead_s"] = traced - (
            median(run.walls[r] for r in untraced) if untraced else traced
        )
        vals["session.start_s"] = session_s
        vals["session.peak_rss_gb"] = peak_rss_gb
        vals.update({f"operators.cc.{k}": v for k, v in probes.items()})
        for name, unit in units.items():
            put(name, float(vals.get(name, 0.0)), unit)

    shape = [
        (s.attrs.get("supersteps"), s.attrs.get("init_rows"), s.attrs.get("patched"))
        for s in tr.spans if s.name == "operators.cc" and s.run in measured
    ]
    lines.append(f"  cc work shape per pass: rounds {dict(Counter(r for r, _, _ in shape))}, "
                 f"init rows {sorted({i for _, i, _ in shape})}, patched {[p for _, _, p in shape]}")
    lines.append("  run phases (s): " + ", ".join(f"{k} {v:.3g}" for k, v in phases.items()))
    lines.append(f"  env {json.dumps(env)}")
    artifact = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "env": env, "provenance": provenance(), "setup_builds_s": builds,
        "phases_s": phases, "walls_s": run.walls, "checks": run.checks,
        "metrics": metrics,
        "spans": [
            {"id": s.id, "name": s.name, "run": s.run, "parent": s.parent, "start": s.start,
             "end": s.end, "attrs": s.attrs,
             **({"spark": spark_by_span[s.id]} if spark_by_span else {})}
            for s in tr.spans
        ],
    }
    out_dir = ROOT / ".perfbench" / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(artifact, indent=1, default=str))
    lines.append(f"  artifact {path.relative_to(ROOT)}")
    return lines, {"correct": failed == 0 and attempted > 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
