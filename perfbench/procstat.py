"""Readings from /proc: CPU time of a process tree, peak RSS, host noise.

Linux only. Every reading is a plain number; nothing here adjusts a metric.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime of ``root`` and every live descendant, plus the time of
    children they already reaped (cutime+cstime): the benchmark process,
    the JVM it launched and the JVM's Python workers, in CPU-seconds."""
    ticks = 0
    for pid in _descendants(root or os.getpid()):
        fields = _stat_fields(pid)
        if fields:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / _TICK


def host_snapshot() -> dict:
    """Host noise beside a run: load, available memory and CPU counts."""
    with open("/proc/loadavg", encoding="ascii") as f:
        load1, load5, load15 = (float(x) for x in f.read().split()[:3])
    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem_kb = int(line.split()[1])
    return {
        "loadavg": [load1, load5, load15],
        "mem_available_mb": round(mem_kb / 1024.0, 1),
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
    }
