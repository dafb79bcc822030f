"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, runs it, checks every
answer and prints the metrics by name with their units; the last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The full run record, spans
included, is written under ``.perfbench/results/``.
``--workload all`` runs every workload in turn, each in its own process.
Run it from the repository root.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())
PACKAGE = "twitter_social_triangle_mapreduce_spark"

#: figures reported by name beside the BENCHMARK.json metrics: unit by prefix
NAMED_UNITS = {"round_s": "s", "setup_wall_s": "s", "cpu_s_unscaled": "s",
               "setup_s_unscaled": "s", "cold_s.": "s", "warm_s.": "s",
               "peak_rss_mb": "MB", "failed_frac": "ratio"}


def _units(section: str) -> dict:
    return {m["name"]: m["unit"] for m in BENCHMARK[section]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    names = [w["name"] for w in BENCHMARK["workloads"]]
    p.add_argument("--workload", required=True, choices=[*names, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=BENCHMARK["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the benchmark's smoke tests")
    return p.parse_args(argv)


def run_all(args: argparse.Namespace) -> int:
    """Each workload in its own process, one Spark application at a time."""
    rc = 0
    for w in BENCHMARK["workloads"]:
        cmd = [sys.executable, __file__, "--workload", w["name"], "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--scale", args.scale]
        rc |= subprocess.run(cmd, cwd=ROOT).returncode
    return rc


def report(run, machine: dict) -> dict:
    e2e_units = _units("end_to_end")
    layer_units = _units("per_layer")
    failed_frac = run.failed / run.attempted if run.attempted else 1.0
    named = {**run.named, "failed_frac": failed_frac}
    lines = [f"perfbench {run.workload} seed={run.seed} trace={int(run.trace)}"
             f" attempted={run.attempted} failed={run.failed}"]
    for name in sorted(e2e_units):
        if name in run.e2e:
            lines.append(f"  {name} = {run.e2e[name]:.6g} {e2e_units[name]}")
    for name in sorted(named):
        unit = next(u for prefix, u in NAMED_UNITS.items() if name.startswith(prefix))
        lines.append(f"  {name} = {named[name]:.6g} {unit}")
    if run.trace:
        for name in sorted(layer_units):
            if name in run.layer:
                lines.append(f"  {name} = {run.layer[name]:.6g} {layer_units[name]}")
        for name, value in sorted(run.layer_detail.items()):
            if isinstance(value, float):
                lines.append(f"  {name} = {value:.6g} s")
    lines.append(f"  machine: {json.dumps(machine)}")
    for p in run.problems:
        lines.append(f"  PROBLEM: {p}")
    print("\n".join(lines), flush=True)
    return named


def stop_spark() -> None:
    """Stop the run's session and wait for its JVM to exit."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is None:
        return
    gateway = active.sparkContext._gateway
    active.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found; run from the repository root",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    from perfbench.machine import ProcTree, cpu_sentinel, host_speed, load_1m
    from perfbench.workloads import WORKLOADS, Run

    load_start = load_1m()
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    t0 = time.perf_counter()
    try:
        with ProcTree(os.getpid()) as tree:
            WORKLOADS[args.workload](run)
            tree.sample()
        run.named.setdefault("peak_rss_mb", tree.total_mb)
    finally:
        stop_spark()
        shutil.rmtree(run.work, ignore_errors=True)
    wall = time.perf_counter() - t0
    run.sentinels.append(cpu_sentinel())
    speed = host_speed(run.sentinels)
    for name in ("cpu_s", "setup_s"):  # CPU seconds on the reference host
        if name in run.e2e:
            run.named[f"{name}_unscaled"] = run.e2e[name]
            run.e2e[name] *= speed
    machine = {
        "nproc": os.cpu_count(),
        **run.session_info,
        "load_1m_start": load_start,
        "load_1m_end": load_1m(),
        "sentinel_s": run.sentinels,
        "host_speed": speed,
    }
    section = "per_layer" if run.trace else "end_to_end"
    values = run.layer if run.trace else run.e2e
    metrics = {}
    for m in BENCHMARK[section]:
        if m["name"] in values:
            value = float(values[m["name"]])
        elif run.trace and m["unit"] != "s":
            value = 0.0  # a count or size of a layer this workload does not run
        else:
            run.problems.append(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = not run.problems and run.failed == 0
    named = report(run, machine)

    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    record = {
        "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
        "trace": run.trace, "wall_s": wall, "correct": correct,
        "attempted": run.attempted, "failed": run.failed, "problems": run.problems,
        "inputs": run.inputs, "machine": machine, "end_to_end": run.e2e,
        "named": named, "per_layer": run.layer, "layer_detail": run.layer_detail,
        "spans": run.tracer.spans,
    }
    out = results / f"{run.workload}-seed{run.seed}-trace{int(run.trace)}-{os.getpid()}.json"
    out.write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main(sys.argv[1:]))
