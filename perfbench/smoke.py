"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py            # every check, about four minutes
    python3 perfbench/smoke.py reference_etl   # checks on one workload only

Checks, each on a fresh Spark session:

1. Without the engine (a directory holding only BENCHMARK.json and this
   directory), ``run.py`` exits non-zero and prints no result line.
2. One untraced run per workload: the report names every end-to-end metric
   with its unit, the result line carries every metric BENCHMARK.json names,
   and ``failed_frac`` is 0.
3. One expected digest corrupted after the warm-up: ``failed_frac`` > 0.
4. A traced run (two traced passes): the counters in REPEATING read the
   same on every traced pass.

Exits non-zero when a check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# Counters that must repeat exactly from one traced pass to the next. None
# of the counters checked so far varies, so there is no allow-list.
REPEATING = (
    "spark.jobs", "spark.tasks", "spark.stages", "streaming.epochs", "util.pins",
    "util.spread_calls", "plans.construct_jobs", "plans.execute_jobs",
)


def check(ok: bool, what: str) -> None:
    print(f"{'PASS' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        raise SystemExit(1)


def without_engine() -> None:
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", next(iter(WORKLOADS)),
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, env=env, capture_output=True, text=True, timeout=180,
    )
    shutil.rmtree(bare, ignore_errors=True)
    check(proc.returncode != 0 and '"correct"' not in proc.stdout,
          f"without the engine: exit {proc.returncode}, no result line")


def measure(workload, seconds: float, trace: int, seed: int = 1) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    args = argparse.Namespace(seed=seed, seconds=seconds, trace=trace)
    return run.measure(args, workload, spec), spec


def untraced(workload) -> None:
    result, spec = measure(workload, seconds=0, trace=0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run.report(result)
    text = buf.getvalue()
    print(text, end="")
    named = all(
        any(line.split()[:1] == [n] and f" {u} " in line for line in text.splitlines())
        for n, u in run.E2E_UNITS.items()
    )
    check(named, f"{workload.name}: report prints all {len(run.E2E_UNITS)} metrics with units")
    check(set(result["contract"]) == {m["name"] for m in spec["end_to_end"]},
          f"{workload.name}: result line carries every end_to_end metric")
    check(result["end_to_end"]["failed_frac"] == 0 and result["correct"],
          f"{workload.name}: failed_frac = 0 and correct")


def corrupted(workload) -> None:
    warm_up = run.Run.warm_up

    def corrupt(self, oracle):
        timed = warm_up(self, oracle)
        name = next(iter(self.expected))
        n, h = self.expected[name]
        self.expected[name] = (n, (h or 0) + 1)
        return timed

    run.Run.warm_up = corrupt
    try:
        result, _ = measure(workload, seconds=0, trace=0)
    finally:
        run.Run.warm_up = warm_up
    frac = result["end_to_end"]["failed_frac"]
    check(frac > 0 and not result["correct"],
          f"{workload.name}: a corrupted expected digest gives failed_frac = {frac:.3f}")


def repeats(workload) -> None:
    result, _ = measure(workload, seconds=0, trace=1)
    per_pass = result["layers_per_pass"]
    check(len(per_pass) >= 2, f"{workload.name}: {len(per_pass)} traced passes")
    for name in REPEATING:
        values = [p[name] for p in per_pass]
        check(len(set(values)) == 1, f"{workload.name}: {name} = {values[0]} on every pass")
    print(f"  trace overhead {result['layers']['trace.overhead_s']:.3f} s per pass")


def main() -> int:
    names = sys.argv[1:] or list(WORKLOADS)
    without_engine()
    for name in names:
        untraced(WORKLOADS[name])
    corrupted(WORKLOADS[names[0]])
    for name in names:
        repeats(WORKLOADS[name])
    return 0


if __name__ == "__main__":
    sys.exit(main())
