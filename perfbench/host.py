"""Host-side readings: a fixed CPU-bound probe, CPU steal from
``/proc/stat``, process CPU time and peak resident memory."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_probe(spark, cores: int) -> float:
    """Seconds for a fixed amount of CPU-bound work: a Python loop, then
    one JVM task per core. Memory-bound probes miss the slow windows
    this box has, and a single thread misses CPU stolen from the others;
    this one is meant to catch both."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) % 1_000_003
    spark.sparkContext.setJobGroup("perfbench-host-probe", "probe", False)
    spark.range(0, 4_000_000 * cores, 1, cores).selectExpr("sum(hash(id))").collect()
    spark.sparkContext._jsc.clearJobGroup()
    return time.perf_counter() - t0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user
    return fields[7], sum(fields[:8])


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return (int(rest[11]) + int(rest[12])) / _TICK


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and of every live
    process below it, each with its reaped children: the benchmark's
    Python driver, its JVM and any Python workers the JVM started. The
    guest kernel leaves time the hypervisor stole out of these counts,
    so they do not stretch in a busy window on a shared host the way
    wall time does."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while /proc was listed
            continue
        # ppid, then utime + stime + cutime + cstime
        stats[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
