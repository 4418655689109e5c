#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload relational_marts --seed 1 --seconds 7 --trace 0

Run from the repository root. The program is imported from the checkout
(``spacex_data_pipeline_spark``); inputs are the fixture tables under
``perfbench/fixtures`` and, for ``daily_ingest``, data generated from the
seed. Everything the run writes goes under ``.bench_work/`` (removed at the
end) and, with ``--trace 1``, ``.bench_out/``.

A run sets up once: JVM launch and session build, then a warm-up pass over
the workload's ops. It then measures whole passes, one client, one op after
another, in pairs (the op order, then the same order reversed) until
``--seconds`` of ops have run, and reports the median pass. Every timed
pass starts on a fresh Spark context, so the program's per-context share
caches start empty. Each op's output, the warm-up pass's too, is checked
right after it, outside the timed region. ``--trace 1`` runs a traced and
an untraced pass after the warm-up and reports per-layer metrics.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records host noise (steal, load, memory, CPU counts) beside the run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
FIXTURES = os.path.join(BENCH_DIR, "fixtures")
# stored oracle digests and prep-training doc counts
EXPECTED = os.path.join(BENCH_DIR, "expected.json")

WORKLOADS = ("relational_marts", "curation_sweep", "daily_ingest")
SF = "sf0.01"  # fixture scale
DAYS = 2  # daily_ingest: simulated days
# stage/job retention of the traced session (Spark's default is 1000 each)
TRACE_RETAINED = "100000"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure whole passes until at least this many seconds of ops ran")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Pin the parallelism and keep every scratch file inside ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


@dataclass
class PassResult:
    names: list[str] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0

    @property
    def wall_s(self) -> float:
        return sum(self.latencies)


def run_pass(ops, tracer=None, after_op=None) -> PassResult:
    """Closed loop, one client: each op starts when the previous one and
    its output check have finished. Only the op itself is timed."""
    from procstat import tree_cpu_s

    res = PassResult()
    for op in ops:
        res.attempted += 1
        res.names.append(op.name)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.op(op.name):
                    result = op.run()
            else:
                result = op.run()
        except Exception:  # a failing op is counted, and the pass goes on
            res.latencies.append(time.perf_counter() - t0)
            res.cpu_s += tree_cpu_s() - cpu0
            res.failed += 1
            print(f"[perfbench] op {op.name} raised:\n{traceback.format_exc()}", file=sys.stderr)
            continue
        res.latencies.append(time.perf_counter() - t0)
        res.cpu_s += tree_cpu_s() - cpu0
        if after_op is not None:
            after_op(op.name)
        t1 = time.perf_counter()
        try:
            errors = op.check(result)
        except Exception:
            errors = [f"{op.name}: check raised\n{traceback.format_exc()}"]
        if errors:
            res.failed += 1
            print("[perfbench] check failed: " + "; ".join(errors), file=sys.stderr)
        print(f"[perfbench] {op.name:40s} {res.latencies[-1]:8.3f} s"
              f" (check {time.perf_counter() - t1:.3f} s)", file=sys.stderr)
    return res


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.work = work
        self.sf_dir = os.path.join(FIXTURES, SF)
        with open(EXPECTED, encoding="utf-8") as f:
            self.expected = json.load(f)
        self.spark = None
        self.passes = 0
        self.daily = None
        if args.workload == "daily_ingest":
            from workloads import DailyIngest

            self.daily = DailyIngest(args.seed, DAYS, self.sf_dir,
                                     self.expected["prep_training_docs"][SF],
                                     os.path.join(work, "landed_events"))

    # -- sessions ------------------------------------------------------------
    def new_session(self):
        from spacex_data_pipeline_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        extra = None
        if self.args.trace:
            extra = {"spark.ui.retainedJobs": TRACE_RETAINED,
                     "spark.ui.retainedStages": TRACE_RETAINED}
        self.spark = build_session(app_name="perfbench", extra_conf=extra)
        return self.spark

    def setup(self) -> tuple[tuple[float, float], PassResult]:
        """Session build, then a warm-up pass over the workload's ops, on a
        cold JVM. Returns ((build_s, warmup_s), the warm-up pass); warmup_s
        is the pass's op time, without its output checks."""
        t0 = time.perf_counter()
        self.new_session()
        build_s = time.perf_counter() - t0
        warm = run_pass(self.ops())
        return (build_s, warm.wall_s), warm

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- ops -----------------------------------------------------------------
    def ops(self, on_df=None, order=None):
        """The ops of the next pass; read ops in the op order of pass
        ``order`` (by default, of this pass)."""
        from workloads import op_order, read_ops

        pass_dir = os.path.join(self.work, f"pass{self.passes}")
        os.makedirs(pass_dir)
        order = self.passes if order is None else order
        self.passes += 1
        if self.daily is not None:
            return self.daily.ops(self.spark, pass_dir)
        names = op_order(self.args.workload, self.args.seed, order)
        return read_ops(self.spark, names, self.sf_dir, self.expected[SF], on_df)

    def measure(self) -> list[PassResult]:
        """Whole passes in pairs, so every read op runs once in the seed's
        order and once in its reverse."""
        passes: list[PassResult] = []
        while not passes or sum(p.wall_s for p in passes) < self.args.seconds:
            for _ in range(2):
                self.new_session()
                passes.append(run_pass(self.ops()))
        return passes


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: every order statistic weighted
    by the Beta((n+1)/2, (n+1)/2) mass over its slot [i/n, (i+1)/n]. The
    per-op latencies of a run have wide gaps (which op pays a share build
    depends on the op order), and the middle value jumps across them from
    seed to seed; this estimate moves smoothly (perfbench/README.md
    compares the two on the same runs)."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a = (n + 1) / 2
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def pdf(t: float) -> float:
        return math.exp((a - 1) * math.log(t * (1 - t)) - log_beta) if 0 < t < 1 else 0.0

    def mass(lo: float, hi: float, steps: int = 64) -> float:  # Simpson's rule
        h = (hi - lo) / steps
        inner = sum((4 if k % 2 else 2) * pdf(lo + k * h) for k in range(1, steps))
        return h / 3 * (pdf(lo) + inner + pdf(hi))

    w = [mass(i / n, (i + 1) / n) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def op_means(passes: list[PassResult]) -> list[float]:
    """Each op's mean latency over the run's timed passes. A share with two
    consumers is built once by each of them in a pair of passes, so an
    op's mean does not depend on which one the seed put first."""
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for name, latency in zip(p.names, p.latencies):
            per_op.setdefault(name, []).append(latency)
    return [statistics.mean(v) for v in per_op.values()]


def end_to_end(setup: tuple[float, float], passes: list[PassResult]) -> dict:
    """``setup_s`` is the one cold set-up; ``wall_s`` and ``cpu_s`` are
    medians over the timed passes, ``op_p50_s`` the Harrell-Davis median
    over the ops of their mean latencies."""
    return {
        "setup_s": {"value": sum(setup), "unit": "s"},
        "wall_s": {"value": statistics.median(p.wall_s for p in passes), "unit": "s"},
        "cpu_s": {"value": statistics.median(p.cpu_s for p in passes), "unit": "cpu-s"},
        "op_p50_s": {"value": hd_median(op_means(passes)), "unit": "s"},
    }


def execute(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    """Set up, measure and check one workload inside ``work``; returns the
    host-noise record and the result. The session is stopped at the end,
    the JVM is left running (see :func:`shutdown_jvm`)."""
    import traced
    from procstat import host_snapshot, peak_rss_mb, steal_s

    host = {"start": host_snapshot()}
    steal0 = steal_s()
    bench = Bench(args, work)
    try:
        setup, warm = bench.setup()
        print(f"[perfbench] setup: build {setup[0]:.3f} s, warm-up {setup[1]:.3f} s", file=sys.stderr)
        if args.trace:
            # The traced pass (pass 1) and the untraced pass after it run in
            # the same op order and are compared. The later pass runs on a
            # slightly warmer JVM, so the overhead errs high.
            metrics, traced_pass = traced.run(bench, args, run_pass, os.path.join(ROOT, ".bench_out"))
            bench.new_session()
            untraced = run_pass(bench.ops(order=1))
            passes = [traced_pass, untraced]
            metrics["trace.overhead_s"] = {
                "value": traced_pass.wall_s - untraced.wall_s, "unit": "s"}
            jvm_pid = bench.spark._jvm.java.lang.ProcessHandle.current().pid()
            metrics.update(traced.session_metrics(setup, peak_rss_mb(jvm_pid)))
        else:
            passes = bench.measure()
            metrics = end_to_end(setup, passes)
    finally:
        bench.stop()

    host["end"] = host_snapshot()
    host["steal_s"] = steal_s() - steal0
    host["passes"] = len(passes)
    attempted = warm.attempted + sum(p.attempted for p in passes)
    failed = warm.failed + sum(p.failed for p in passes)
    host["error_rate"] = failed / attempted
    return host, {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def adopt_orphans() -> None:
    """Become the reaper of orphaned descendants (Linux PR_SET_CHILD_SUBREAPER):
    Spark's launcher script leaves a subshell behind when it execs the JVM,
    and Python workers outlive the JVM briefly; :func:`reap_children` then
    waits for all of them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # 36 = PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(timeout: float = 60.0) -> None:
    """Wait until every child has exited; kill what is left at ``timeout``."""
    import signal

    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for name in os.listdir("/proc"):
                if name.isdigit() and _ppid(int(name)) == os.getpid():
                    os.kill(int(name), signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except OSError:
        return None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import spacex_data_pipeline_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.isfile(EXPECTED) or not os.path.isdir(os.path.join(FIXTURES, SF)):
        print("perfbench: fixtures or expected digests missing", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    adopt_orphans()
    try:
        host, result = execute(args, work)
    finally:
        shutdown_jvm()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
