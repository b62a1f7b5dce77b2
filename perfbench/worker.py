"""One benchmark run of one workload, in a fresh process.

Started by ``run.py``; not meant to be run by hand. It builds the
session through the system's own factory, runs a cold pass and
``--warm-passes`` untimed passes, then timed passes until ``--seconds``
have passed (and at least ``--min-passes``), then the untimed output
checks, and writes one JSON result file.

With ``--probe`` it only sets up and reports when setup finished; the
benchmark samples setup time this way several times per run.

With ``--trace 1`` exactly ``--min-passes`` passes follow the cold one,
alternating untraced and traced: traced passes give the per-layer
numbers, untraced ones the baseline that the tracing overhead is
measured against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this (driver Python) process plus the driver
    JVM, from /proc VmHWM."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def setup(args):
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(args.work, "spark-local")
    from wnv_etl_lab2_spark import get_spark, queries

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cpus=args.cpus,
        shuffle_partitions=args.cpus,
        extra_conf={
            "spark.driver.memory": args.driver_memory,
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        },
    )
    queries._ensure_loaded()
    return spark


def timed_pass(wl, tracer, pass_idx, traced, lat, failures, attempted):
    """Run one pass; returns its wall time. Per-op latencies go into
    ``lat[kind]``; raised operations into ``failures``."""
    tracer.enabled = traced
    ops = wl.pass_ops(pass_idx)
    t0 = time.perf_counter()
    for name, kind, fn in ops:
        a = time.perf_counter()
        attempted[name] = attempted.get(name, 0) + 1
        try:
            with tracer.op(name, pass_idx):
                fn()
        except Exception as e:  # counted in failed_frac; the loop goes on
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        lat.setdefault(kind, []).append(time.perf_counter() - a)
        if traced and hasattr(wl, "after_op"):
            tracer.enabled = False
            wl.after_op(kind)
            tracer.enabled = True
    tracer.enabled = False
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--warm-passes", type=int, default=0)
    ap.add_argument("--min-passes", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--driver-memory", required=True)
    ap.add_argument("--t0", type=float, required=True, help="parent's spawn time")
    ap.add_argument("--result", required=True)
    ap.add_argument("--probe", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    spark = setup(args)
    setup_s = time.time() - args.t0
    if args.probe:
        _write(args.result, {"setup_s": setup_s})
        os._exit(0)  # the parent stops the JVM with the process group

    import spans as tr
    import workloads

    tracer = tr.Tracer(spark)
    patched = tracer.install() if args.trace else 0
    phases = {"setup": setup_s}
    t = time.perf_counter()
    wl = workloads.make(args.workload, spark, tracer, args.input, args.work, args.seed)
    phases["prologue"] = time.perf_counter() - t
    lat, failures, attempted = {}, [], {}

    cold = timed_pass(wl, tracer, 0, False, {}, failures, attempted)
    warm = [timed_pass(wl, tracer, p, False, {}, failures, attempted)
            for p in range(1, args.warm_passes + 1)]
    passes, traced_passes = [], []
    t_start = time.perf_counter()
    first = p = args.warm_passes + 1
    while (
        len(passes) + len(traced_passes) < args.min_passes
        if args.trace
        else time.perf_counter() - t_start < args.seconds or len(passes) < args.min_passes
    ):
        traced = bool(args.trace) and (p - first) % 2 == 1
        pass_lat = lat if not traced else {}
        dt = timed_pass(wl, tracer, p, traced, pass_lat, failures, attempted)
        (traced_passes if traced else passes).append((p, dt, pass_lat))
        if traced and hasattr(wl, "pass_done"):
            wl.pass_done(p)
        p += 1
    phases["timed"] = time.perf_counter() - t_start

    t = time.perf_counter()
    errors, recall = wl.check()
    phases["checks"] = time.perf_counter() - t
    result = {
        "setup_s": setup_s,
        "cold_pass_s": cold,
        "warm_pass_s": warm,
        "pass_s": [dt for _, dt, _ in passes],
        "lat": lat,
        "attempted": attempted,
        "failures": failures,
        "check_errors": errors,
        "recall": recall,
        "peak_rss_mb": peak_rss_mb(_jvm_pid(spark)),
        "cpus": args.cpus,
        "phases": phases,
    }
    if args.trace:
        tracer.finish()
        result["traced_pass_s"] = [dt for _, dt, _ in traced_passes]
        result["layers"] = per_layer(tracer, wl, traced_passes, args.cpus)
        result["patched_bindings"] = patched
        result["spans"] = [vars(s) for s in tracer.spans]
        result["ops"] = tracer.ops
    _write(args.result, result)
    os._exit(0)


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def per_layer(tracer, wl, traced_passes, cpus) -> dict:
    """Per-layer sums for each traced pass, then the median over
    traced passes."""
    import spans as tr

    by_pass = []
    for p, dt, _ in traced_passes:
        ops = {o["op"] for o in tracer.ops if o["pass"] == p}
        recs = [o for o in tracer.ops if o["pass"] == p]
        m = {}
        m["queries.build_s"], m["queries.build_jobs"] = tr.layer_time(tracer, "queries.build", ops)
        m["sources.catalog.load_table_s"], _ = tr.layer_time(
            tracer, "sources.catalog.load_table", ops)
        m["sources.catalog.spread_scan_s"], _ = tr.layer_time(
            tracer, "sources.catalog.spread_scan", ops)
        m["sources.catalog.calls"] = tr.calls(tracer.spans, "sources.catalog.", ops)
        for mod in ("dedup", "similarity", "spatial", "geometry", "tokenizer"):
            m[f"operators.{mod}.build_s"], m[f"operators.{mod}.jobs"] = tr.layer_time(
                tracer, f"operators.{mod}.", ops)
        for k in ("action_s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "input_bytes", "exchanges", "reused_exchanges", "python_nodes"):
            m[f"exec.{k}"] = sum(r[k] for r in recs)
        m["exec.slot_busy_frac"] = (
            m["exec.executor_run_s"] / (m["exec.action_s"] * cpus) if m["exec.action_s"] else 0.0
        )
        for verb, fn in (("create", "create_table"), ("append", "append_table"),
                         ("delete", "delete_from_table"), ("update", "update_table"),
                         ("merge", "merge_upsert_table"), ("read", "read_table"),
                         ("optimize", "optimize_table"), ("vacuum", "vacuum_table")):
            s, j = tr.layer_time(tracer, f"sources.versioned.{fn}", ops)
            m[f"sources.versioned.{verb}_s"], m[f"sources.versioned.{verb}_jobs"] = s, j
        vt, _ = tr.layer_time(tracer, "sources.versioned.", ops)
        m["sources.versioned.span_frac"] = vt / dt
        m.update(getattr(wl, "pass_stats", {}).get(p, {}))
        by_pass.append(m)
    keys = by_pass[0].keys()
    return {k: statistics.median(m.get(k, 0.0) for m in by_pass) for k in keys}


def _write(path, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


if __name__ == "__main__":
    try:
        main()
    except Exception:
        traceback.print_exc()
        sys.stderr.flush()
        os._exit(3)
