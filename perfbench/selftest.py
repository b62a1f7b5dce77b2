#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the system).

    python3 perfbench/selftest.py [WORKLOAD ...]

1. Generator determinism: for every workload, the same seed writes
   byte-identical input files and another seed writes different ones.
2. Smoke: each named workload (default: those in BENCHMARK.json) runs
   end to end on sf0.001-sized inputs, untraced and traced, with one
   timed pass; every operation and output check must pass, and the
   result line must carry exactly the BENCHMARK.json metric names and
   units.

Run from the repository root; exits non-zero on the first failure.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from gen import Sizes, generate  # noqa: E402

SMOKE_SIZES = Sizes(sf=0.001, docs=500, vecs=500)


def check_determinism(workload: str, tmp: str) -> None:
    dirs = {}
    for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
        dirs[tag] = os.path.join(tmp, f"{workload}-{tag}")
        generate(workload, seed, dirs[tag], SMOKE_SIZES)
    names = sorted(os.listdir(dirs["a"]))
    same = filecmp.cmpfiles(dirs["a"], dirs["b"], names, shallow=False)[0]
    if same != names:
        raise AssertionError(f"{workload}: seed 1 twice gave different files")
    differ = filecmp.cmpfiles(dirs["a"], dirs["c"], names, shallow=False)[1]
    if not differ:
        raise AssertionError(f"{workload}: seeds 1 and 2 gave identical files")
    print(f"ok determinism {workload}: {len(names)} files, {len(differ)} differ across seeds")


def smoke(workload: str, trace: int, spec: dict) -> None:
    run.MIN_PASSES[workload] = 1
    run.WARM_PASSES[workload] = 0
    run.TRACE_PAIRS = 1
    args = argparse.Namespace(workload=workload, seed=3, seconds=0.0, trace=trace)
    out = run.run_one(args, spec, SMOKE_SIZES)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        raise AssertionError(f"{workload}: metric names/units {got} != {want}")
    if out["failed"] or not out["correct"]:
        raise AssertionError(f"{workload}: {out['failed']} of {out['attempted']} failed")
    for name, m in out["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(f"ok smoke {workload} trace={trace}: {out['attempted']} attempted, 0 failed")


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    os.makedirs(".perfbench", exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=".perfbench")
    try:
        for w in run.WORKLOADS:
            check_determinism(w, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for w in names:
        for trace in (0, 1):
            smoke(w, trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
