"""Fast self-check of the benchmark harness at tiny scale.

    python3 perfbench/selfcheck.py

Run from the repository root. It checks three things and exits non-zero if
any fails:

1. the NumPy grid oracle reproduces the reference's harvested goldens
   (FIXTURES.md §2: runs, edges, components, label-image sha256) on the
   tiny, small and large grids;
2. every workload, at tiny scale (a 20 K-row corpus, a 20 K-edge uniform
   graph, the small grid), passes its output checks with ``--trace 0`` and
   ``--trace 1``, and reports every metric BENCHMARK.json names, with its
   unit;
3. in a directory holding only BENCHMARK.json and this package, run.py
   exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from imtag_spark.sources.grids import named_grid  # noqa: E402

from perfbench import oracles, run, workloads  # noqa: E402

TINY = (
    workloads.CorpusPipeline(n_rows=20_000, n_repos=50),
    workloads.SynthUniform(n_edges=20_000, n_vertices=5_000),
    workloads.GridCcl("small"),
)


def check_oracle() -> list[str]:
    errors = []
    for name, golden in workloads.HARVESTED.items():
        o = oracles.grid_oracle(named_grid(name))
        got = (o["runs"], o["edges"], o["components"], o["label_sha256"])
        if got != golden:
            errors.append(f"grid oracle {name}: {got} != harvested {golden}")
    return errors


def check_workloads(spec: dict) -> list[str]:
    errors = []
    for wl in TINY:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            args = argparse.Namespace(workload=wl.name, seed=42, seconds=1.0, trace=trace)
            work = ROOT / ".perfbench" / f"selfcheck-{os.getpid()}"
            try:
                lines, result = run.measure(args, wl, work)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            print("\n".join(lines), flush=True)
            if not result["correct"]:
                errors.append(f"{wl.name} trace={trace}: output checks failed")
            for m in spec[section]:
                got = result["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    errors.append(f"{wl.name} trace={trace}: metric {m['name']} "
                                  f"missing or not in {m['unit']}: {got}")
            extra = set(result["metrics"]) - {m["name"] for m in spec[section]}
            if extra:
                errors.append(f"{wl.name} trace={trace}: metrics not in BENCHMARK.json: {extra}")
    return errors


def check_without_engine(spec: dict) -> list[str]:
    bare = ROOT / ".perfbench" / f"bare-{os.getpid()}"
    try:
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        proc = subprocess.run(
            [*spec["command"], "--workload", "grid_ccl", "--seed", "1", "--seconds", "1",
             "--trace", "0"],
            cwd=bare, env=env, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"correct"' in proc.stdout:
        return [f"run.py without the engine: exit {proc.returncode}, stdout {proc.stdout!r}"]
    return []


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors = check_oracle() + check_without_engine(spec) + check_workloads(spec)
    for e in errors:
        print("SELFCHECK FAILED:", e, file=sys.stderr)
    print("selfcheck", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
