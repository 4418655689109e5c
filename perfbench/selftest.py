#!/usr/bin/env python3
"""Fast self-test of the benchmark itself, on the sf0.001 fixtures.

    python3 perfbench/selftest.py

Checks that:
1. every metric named in BENCHMARK.json is emitted, with its unit, by the
   untraced (end-to-end) and traced (per-layer) runs of every workload;
2. the same seed gives byte-identical daily_ingest payloads and the same
   read-workload op order (and another seed does not);
3. a deliberately wrong expected digest makes exactly that op count as
   failed.
All workloads run in one JVM, on three ops per read workload and two days.
Exits 0 when every check passes.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys

import run
import workloads

SF = "sf0.001"
TAMPERED_OP = "fct_orders_by_year"


def check_determinism() -> list[str]:
    errs = []
    for seed in (1, 2):
        a = workloads.launch_payloads(seed, 3)
        b = workloads.launch_payloads(seed, 3)
        if workloads.payload_bytes(a) != workloads.payload_bytes(b):
            errs.append(f"seed {seed}: daily payloads differ between two generations")
        if workloads.correction_batch(seed, a) != workloads.correction_batch(seed, b):
            errs.append(f"seed {seed}: correction batches differ")
        for w in workloads.READ_WORKLOADS:
            for pass_no in range(3):
                if workloads.op_order(w, seed, pass_no) != workloads.op_order(w, seed, pass_no):
                    errs.append(f"seed {seed}: {w} op order of pass {pass_no} differs")
    if workloads.payload_bytes(workloads.launch_payloads(1, 3)) == workloads.payload_bytes(
        workloads.launch_payloads(2, 3)
    ):
        errs.append("seeds 1 and 2 give the same daily payloads")
    if workloads.op_order("curation_sweep", 1, 0) == workloads.op_order("curation_sweep", 2, 0):
        errs.append("seeds 1 and 2 give the same op order")
    return errs


def check_metrics(kind: str, metrics: dict, spec: list[dict], label: str) -> list[str]:
    errs = []
    for m in spec:
        got = metrics.get(m["name"])
        if got is None:
            errs.append(f"{label}: {kind} metric {m['name']} missing")
        elif got.get("unit") != m["unit"]:
            errs.append(f"{label}: {m['name']} unit {got.get('unit')!r}, want {m['unit']!r}")
        elif not isinstance(got.get("value"), (int, float)):
            errs.append(f"{label}: {m['name']} value is not a number")
    return errs


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    errs = check_determinism()

    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".bench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run.prepare_env(work)
    run.adopt_orphans()
    expected_path = run.EXPECTED
    with open(expected_path, encoding="utf-8") as f:
        expected = json.load(f)
    tampered = copy.deepcopy(expected)
    tampered[SF][TAMPERED_OP]["sha256"] = "0" * 64
    tampered_path = os.path.join(work, "expected-tampered.json")
    with open(tampered_path, "w", encoding="utf-8") as f:
        json.dump(tampered, f)

    # one pair of timed passes per run, on the smallest fixtures and two days
    run.SF, run.DAYS = SF, 2

    # three ops per read workload keep the test fast; the curation ops span
    # the postings, pair and CC shares
    workloads.READ_WORKLOADS["relational_marts"] = (TAMPERED_OP, "q3_unshipped_revenue", "sessionize_events")
    workloads.READ_WORKLOADS["curation_sweep"] = ("dedup_reports", "containment_neardup_docs", "dedup_exact_docs")
    try:
        for workload in run.WORKLOADS:
            for trace in (0, 1):
                argv = ["--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace)]
                tamper = workload == "relational_marts" and trace == 0
                run.EXPECTED = tampered_path if tamper else expected_path
                args = run.parse_args(argv)
                _host, result = run.execute(args, os.path.join(work, f"{workload}-{trace}"))
                label = f"{workload} trace={trace}"
                kind = "per_layer" if trace else "end_to_end"
                errs += check_metrics(kind, result["metrics"], spec[kind], label)
                # the tampered op fails once in every pass, the warm-up pass too
                per_pass = len(workloads.READ_WORKLOADS["relational_marts"])
                want_failed = result["attempted"] // per_pass if tamper else 0
                if result["failed"] != want_failed:
                    errs.append(f"{label}: {result['failed']} ops failed, want {want_failed}")
                print(f"[selftest] {label}: attempted {result['attempted']}, failed {result['failed']}",
                      file=sys.stderr)
    finally:
        run.shutdown_jvm()
        run.reap_children()
        shutil.rmtree(work, ignore_errors=True)

    for e in errs:
        print(f"FAIL {e}")
    print("selftest: " + ("FAILED" if errs else "ok"))
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
