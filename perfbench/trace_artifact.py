#!/usr/bin/env python3
"""Writes the committed traced-run artifact, ``results/traced_run.json``.

Usage: python3 perfbench/trace_artifact.py

For each workload it runs the benchmark twice on seed 1 for BENCHMARK.json's
``run_seconds``, untraced and traced, and stores both records plus
``trace.overhead_ratio``: the traced run's pass wall (``wall_s``) over the
untraced one. End-to-end numbers come from the untraced record; per-layer
numbers and span self times from the traced one. ``compare.py`` reads the
artifact's ``records``.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SEED = 1
OUT = os.path.join(HERE, "results", "traced_run.json")


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    os.makedirs(run.SCRATCH, exist_ok=True)
    with tempfile.NamedTemporaryFile("r", dir=run.SCRATCH, suffix=".jsonl") as rec:
        for workload in run.WORKLOADS:
            for trace in (0, 1):
                subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", workload, "--seed", str(SEED),
                                "--seconds", str(seconds), "--trace", str(trace),
                                "--record", rec.name], check=True, cwd=run.ROOT)
        records = [json.loads(line) for line in rec.read().splitlines()]
    overhead = {}
    for workload in run.WORKLOADS:
        untraced = next(r for r in records if r["workload"] == workload and not r["trace"])
        traced = next(r for r in records if r["workload"] == workload and r["trace"])
        overhead[workload] = traced["traced_wall_s"] / untraced["end_to_end"]["wall_s"]
    with open(OUT, "w") as f:
        json.dump({"seed": SEED, "seconds": seconds,
                   "trace.overhead_ratio": overhead, "records": records}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
