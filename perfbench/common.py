"""Result record and small statistics shared by the workloads."""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field


@dataclass
class Result:
    setup_s: float = 0.0  # process-tree CPU seconds of the workload's set-up
    attempted: int = 0
    failed: int = 0  # raised, or returned a wrong result
    loop_wall_s: float = 0.0
    op_cpu_s: float = 0.0  # CPU seconds per operation, as the workload defines it
    loop_jit_s: float = 0.0  # CPU of the JIT compiler threads over the measured loop
    # operation kind -> latencies (s) measured in the loop
    latencies: dict[str, list[float]] = field(default_factory=dict)
    # extra end-to-end figures for the readable report: name -> (value, unit)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    # per-layer metrics of a traced run: name -> (value, unit)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    trace_dump: dict = field(default_factory=dict)


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def counts(values) -> dict:
    """value -> occurrences, for the exact-repeat count tables."""
    return dict(sorted(Counter(values).items()))


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by this process, process
    ``root`` and every descendant of ``root``, reaped children included.
    Time the hypervisor steals from the machine is not charged to a
    process, so this follows the machine's load far less than wall time."""
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # after the command: state ppid ... utime(12) stime cutime cstime
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    keep, frontier = {os.getpid(), root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _t) in stats.items():
            if ppid == parent and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in keep if p in stats) / _TICK


def _thread_ticks(pid: int, prefixes: tuple[str, ...]) -> int:
    total = 0
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        if name.startswith(prefixes):
            fields = raw.rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
    return total


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads used so far: about half
    of a fresh JVM's CPU while the workload's code paths are first
    compiled.  The session starts the JVM with a fixed set of compiler
    threads, so none exits and takes its count with it."""
    return _thread_ticks(jvm_pid, ("C1 CompilerThre", "C2 CompilerThre")) / _TICK


def engine_cpu_s(jvm_pid: int) -> float:
    """``tree_cpu_s`` less the JIT compiler threads' part: how much the JVM
    compiles, and when, follows the run's timing (tiered thresholds,
    counter decay, a background queue), so it is reported apart."""
    return tree_cpu_s(jvm_pid) - jit_cpu_s(jvm_pid)

