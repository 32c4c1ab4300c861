#!/usr/bin/env python3
"""The repository benchmark: one workload per fresh process (a cold JVM).

    python3 perfbench/run.py --workload <dashboard|etl_load|analytics|all>
        --seed <n> --seconds <s> --trace <0|1>

Inputs are generated from ``--seed``; the engine only sees generated files.
Each workload checks the engine's outputs outside its timed window; a failed
check or an exception counts as a failed operation. Every metric is printed
by name with its unit: first a ``report`` line (host record, calibration,
input sizes, the workload's own named metrics), then, as the last line, the
result object with the metrics named in ``BENCHMARK.json`` (end-to-end ones
with ``--trace 0``, per-layer ones with ``--trace 1``). A run with a failed
check prints ``"correct": false`` with no metrics and exits with code 1.

``--workload all`` runs the three workloads one after another, each in its
own process; with ``--trace 1`` each also runs untraced, and a last
``tracing_overhead`` line gives the traced median operation over the
untraced one. ``--scale`` and ``--skew-expected`` exist for the self-test in
``perfbench/test_perfbench.py``: tiny inputs, and a deliberately wrong
expected count.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "etl_load", "analytics")
ENGINE_FILES = ("serve.py", "bench.py", "__spark_entry__.py",
                "learn_etl_data_warehouse_spark/plans/sharded_etl.py")


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="perfbench: repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the self-test uses tiny inputs)")
    ap.add_argument("--skew-expected", action="store_true",
                    help="add one to an expected count, so every check must fail")
    return ap.parse_args(argv)


def _run_all(args: argparse.Namespace) -> int:
    """Each workload in a fresh interpreter, so each gets a cold JVM. With
    ``--trace 1`` each workload also runs untraced first, and a last
    ``tracing_overhead`` line sets the traced median operation against the
    untraced one."""
    code = 0
    overhead = {}
    for name in WORKLOADS:
        results = {}
        for trace in sorted({0, args.trace}):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--scale", str(args.scale)]
            proc = subprocess.run(cmd + ["--skew-expected"] * args.skew_expected,
                                  stdout=subprocess.PIPE, text=True)
            sys.stdout.write(proc.stdout)
            sys.stdout.flush()
            code |= proc.returncode
            lines = proc.stdout.strip().splitlines()
            results[trace] = json.loads(lines[-1])["metrics"] if lines else {}
        if args.trace:
            plain = results[0].get("op_p50_ms", {}).get("value")
            traced = results[1].get("traced_op_p50_ms", {}).get("value")
            overhead[name] = {"op_p50_ms": plain, "traced_op_p50_ms": traced,
                              "overhead": traced / plain - 1 if plain and traced else None}
    if args.trace:
        from wl_dashboard import CLIENTS, TRACED_CLIENTS

        overhead["dashboard"]["note"] = (f"traced with {TRACED_CLIENTS} client, untraced "
                                         f"with {CLIENTS}")
        print("tracing_overhead " + json.dumps(overhead, sort_keys=True), flush=True)
    return code


def main(argv: list[str]) -> int:
    args = _args(argv)
    if args.workload == "all":
        return _run_all(args)
    missing = [f for f in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    import common

    work = common.WorkDir(args.workload)
    try:
        cal_before = common.calibrate()
        module = importlib.import_module(f"wl_{args.workload}")
        jiffies = common.cpu_jiffies()
        t0 = time.perf_counter()
        try:
            out = module.run(args, work)
        except Exception:
            traceback.print_exc()
            out = {"attempted": 1, "failed": 1, "failures": ["exception"],
                   "metrics": {}, "report": {}}
        wall_s = time.perf_counter() - t0
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": common.host_record(),
            "calibration_s": {"before": cal_before, "after": common.calibrate()},
            "wall_s": wall_s,
            "host_steal_share": common.steal_share(jiffies, common.cpu_jiffies()),
            **out["report"],
            "failures": out["failures"][:20],
        }
        print("report " + json.dumps(report, sort_keys=True), flush=True)
    finally:
        work.close()
    correct = out["failed"] == 0
    metrics = out["metrics"] if correct else {}
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
