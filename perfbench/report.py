"""Per-layer report and tracing overhead, one seed per workload.

    python3 perfbench/report.py --seed 1

Runs every workload twice through ``run.py`` for ``run_seconds`` of
``BENCHMARK.json`` — untraced, then traced — and writes
``perfbench/results/<workload>.json`` with the traced run's per-layer
metrics (each layer's self time and Spark counters per operation), both
runs' end-to-end metrics, and the tracing overhead as traced minus
untraced for each end-to-end metric. One pair of runs: an overhead
smaller than the run-to-run spread is not resolved.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from run import WORKLOADS, host_memory_mb  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    lines = proc.stdout.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    report["result"] = {k: result[k] for k in ("correct", "attempted", "failed")}
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    for workload in WORKLOADS:
        untraced = run_once(workload, args.seed, seconds, 0)
        traced = run_once(workload, args.seed, seconds, 1)
        overhead = {
            name: {"value": traced[sec][name]["value"] - m["value"], "unit": m["unit"]}
            for sec in ("end_to_end", "named")
            for name, m in untraced[sec].items()
        }
        doc = {
            "workload": workload,
            "seed": args.seed,
            "seconds": seconds,
            "host": {"cpus": len(os.sched_getaffinity(0)), "mem_total_mb": host_memory_mb(),
                     "machine": platform.machine()},
            "untraced": untraced,
            "traced": traced,
            "tracing_overhead": overhead,
        }
        path = os.path.join(out_dir, f"{workload}.json")
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")
        print(f"{workload}: wrote {os.path.relpath(path, ROOT)}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
