#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload etl_relational --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from
the seed under ``.perfbench/``, starts a fresh worker process that sets
up a session at ``local[nproc]`` and runs a cold pass, timed passes and
the untimed output checks, then (untraced runs) starts one more fresh
process that only sets up, so setup time is a median of two. The
last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones; the traced run also writes its spans
to ``.perfbench/traces/``. ``--workload all`` runs every workload
named in BENCHMARK.json in turn and prints one result line each. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import generate  # noqa: E402

# llm_curation is runnable by name but not in BENCHMARK.json: one run
# takes over 130 s (README.md, "Dropped workload").
WORKLOADS = ("etl_relational", "lakehouse_dml", "llm_curation")
# Untimed warm-up passes after the cold one: pass times keep falling for
# a few passes in a fresh JVM (JIT), and the timed passes should sit past
# the steep part of that curve.
WARM_PASSES = {"etl_relational": 3, "lakehouse_dml": 1, "llm_curation": 1}
# Timed passes per untraced run, at least: enough that the op_s tail
# percentile has ten samples beyond it (11 and 14 operations a pass);
# more on etl_relational, whose run-to-run spread is the wider.
MIN_PASSES = {"etl_relational": 6, "lakehouse_dml": 4, "llm_curation": 4}
TRACE_PAIRS = 2  # traced runs: untraced and traced passes, alternating
# setup_s samples: the worker's own setup plus setup-only processes. Two,
# not more: each costs ~7 s, and 22 runs of each workload must fit the
# benchmark's per-change time budget.
SETUP_SAMPLES = 2
DRIVER_MEMORY = "2g"
RUN_DEADLINE_S = 150  # whole run, every process included
TAIL = 75  # op_s tail percentile


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _pgroup_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Stop a worker and everything it started (the driver JVM and its
    Python workers share its process group); wait until all are gone."""
    pgid = proc.pid
    for sig, grace in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 15.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        proc.poll()
        end = time.time() + grace
        while time.time() < end and (proc.poll() is None or _pgroup_alive(pgid)):
            time.sleep(0.05)
        if proc.poll() is not None and not _pgroup_alive(pgid):
            return
    raise RuntimeError(f"process group {pgid} did not stop")


def start_worker(args, work, input_dir, result, probe=False, trace=0):
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--input", input_dir, "--work", work,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--warm-passes", str(WARM_PASSES[args.workload]),
        "--min-passes", str(2 * TRACE_PAIRS if trace else MIN_PASSES[args.workload]),
        "--trace", str(trace),
        "--cpus", str(nproc()), "--driver-memory", DRIVER_MEMORY, "--result", result,
    ]
    if probe:
        cmd.append("--probe")
    with open(result + ".log", "w") as log:
        t0 = time.time()
        return subprocess.Popen(
            cmd + ["--t0", repr(t0)], stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        ), result


def finish_worker(handle, deadline) -> dict:
    """Wait for a worker (until ``deadline``), stop its process group,
    and return its result."""
    proc, result = handle
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(result + ".log") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker failed (exit {proc.returncode}):\n{tail}")
    with open(result) as f:
        return json.load(f)


def pct(xs, p) -> float:
    """``p``-th percentile, linear interpolation between order stats."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def e2e_metrics(r, setups) -> dict:
    ops = [x for v in r["lat"].values() for x in v]
    return {
        "setup_s": statistics.median(setups),
        "cold_pass_s": r["cold_pass_s"],
        "pass_s": statistics.median(r["pass_s"]),
        f"op_s.p{TAIL}": pct(ops, TAIL),
    }


def layer_metrics(r, per_layer_units) -> dict:
    m = dict(r["layers"])
    m["op_s.p50"] = statistics.median(x for v in r["lat"].values() for x in v)
    for kind in ("commit", "read"):
        xs = r["lat"].get(kind)
        m[f"{kind}_s.p50"] = statistics.median(xs) if xs else 0.0
        m[f"{kind}_s.p{TAIL}"] = pct(xs, TAIL) if xs else 0.0
    m["failed_frac"] = r["failed"] / r["attempted"]
    m["peak_rss_mb"] = r["peak_rss_mb"]
    m["trace.overhead_s"] = (
        statistics.median(r["traced_pass_s"]) - statistics.median(r["pass_s"])
    )
    return {k: m.get(k, 0.0) for k in per_layer_units}


def run_one(args, spec, sizes=None) -> dict:
    root = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    started = time.time()
    deadline = started + RUN_DEADLINE_S
    try:
        tables = generate(args.workload, args.seed, input_dir, sizes)
        r = finish_worker(
            start_worker(args, work, input_dir, os.path.join(work, "result.json"),
                         trace=args.trace),
            deadline,
        )
        setups = [r["setup_s"]]
        for i in range(0 if args.trace else SETUP_SAMPLES - 1):
            probe = start_worker(args, work, input_dir, os.path.join(work, f"probe{i}.json"),
                                 probe=True)
            setups.append(finish_worker(probe, deadline)["setup_s"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    r["attempted"] = sum(r["attempted"].values()) + len(r["check_errors"])
    bad_checks = {k: v for k, v in r["check_errors"].items() if v}
    r["failed"] = len(r["failures"]) + len(bad_checks)
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = layer_metrics(r, units)
        os.makedirs(os.path.join(root, "traces"), exist_ok=True)
        with open(os.path.join(root, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({k: r[k] for k in ("layers", "spans", "ops", "pass_s", "traced_pass_s")}
                      | {"inputs": tables}, f)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = e2e_metrics(r, setups)
    diag = {
        "workload": args.workload, "seed": args.seed, "inputs": tables,
        "pass_s": r["pass_s"], "setup_samples": setups,
        "op_samples": sum(len(v) for v in r["lat"].values()),
        "failures": r["failures"], "failed_checks": bad_checks, "recall": r["recall"],
        "phases_s": r["phases"] | {"cold": r["cold_pass_s"], "run": time.time() - started},
        "pass_s.q1_q3": statistics.quantiles(r["pass_s"], n=4)[::2]
        if len(r["pass_s"]) > 1 else r["pass_s"],
    }
    print(json.dumps({"diag": diag}), flush=True)
    return {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join("wnv_etl_lab2_spark", "queries", "__init__.py")) or \
            not os.path.isfile(os.path.join("tests", "oracle_harness.py")):
        print("perfbench: run from the repository root (wnv_etl_lab2_spark/ and "
              "tests/oracle_harness.py not found)", file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]] if args.workload == "all" else [args.workload]
    for w in names:
        args.workload = w
        print(json.dumps(run_one(args, spec)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
