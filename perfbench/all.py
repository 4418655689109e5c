#!/usr/bin/env python3
"""Run every workload and print its end-to-end metrics, one row per run.

    python3 perfbench/all.py                      # seed 1, all workloads
    python3 perfbench/all.py --seeds 1-10 --workloads daily_ingest

Each run is a fresh ``perfbench/run.py`` process. With several seeds the
table ends with each metric's median and its spread: the distance between
the first and third quartiles as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("relational_marts", "curation_sweep", "daily_ingest")
COLUMNS = ("setup_s", "wall_s", "cpu_s", "op_p50_s", "error_rate", "elapsed_s", "steal_s")


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def run_one(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
    elapsed = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    *_, host_line, result_line = proc.stdout.strip().splitlines()
    result = json.loads(result_line)
    row = {k: v["value"] for k, v in result["metrics"].items()}
    row["error_rate"] = result["failed"] / result["attempted"]
    row["elapsed_s"] = elapsed
    row["steal_s"] = json.loads(host_line)["host"]["steal_s"]
    return row


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=seeds_arg, default=[1])
    p.add_argument("--workloads", nargs="+", default=list(WORKLOADS), choices=WORKLOADS)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        seconds = json.load(f)["run_seconds"]
    print(f"{'workload':18s} {'seed':>5s} " + " ".join(f"{c:>10s}" for c in COLUMNS), flush=True)
    for workload in args.workloads:
        rows = []
        for seed in args.seeds:
            row = run_one(workload, seed, seconds)
            rows.append(row)
            print(f"{workload:18s} {seed:5d} " + " ".join(f"{row[c]:10.4f}" for c in COLUMNS), flush=True)
        if len(rows) >= 2:
            med = {c: statistics.median(r[c] for r in rows) for c in COLUMNS}
            print(f"{workload:18s} {'med':>5s} " + " ".join(f"{med[c]:10.4f}" for c in COLUMNS))
            spread = {}
            for c in COLUMNS:
                q1, _, q3 = statistics.quantiles([r[c] for r in rows], n=4)
                spread[c] = (q3 - q1) / med[c] if med[c] else 0.0
            print(f"{workload:18s} {'iqr%':>5s} " + " ".join(f"{100 * spread[c]:10.2f}" for c in COLUMNS),
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
