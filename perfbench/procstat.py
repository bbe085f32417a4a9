"""CPU time and peak memory of this process and everything it started.

Read from ``/proc`` (no ``psutil``).  The tree is split three ways: the
benchmark's own Python process (the Spark driver's client side), the JVM,
and the Python workers the JVM forks.  A sample is a plain dict, taken
synchronously between operations: no sampler thread runs.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
CLASSES = ("driver", "jvm", "pyworker")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, utime+stime+cutime+cstime seconds) of one process.
    ``cutime`` carries the CPU of children it has reaped, so a Python worker
    that exits keeps counting through the daemon that forked it."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return comm, ppid, ticks / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree() -> dict[int, tuple[str, int, float]]:
    """This process and every live descendant, as
    ``pid -> (comm, ppid, cpu_s)``."""
    root = os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep = {root}
    grew = True
    while grew:
        grew = False
        for pid, (_, ppid, _) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return {pid: procs[pid] for pid in keep if pid in procs}


def classify(procs: dict[int, tuple[str, int, float]]) -> dict[int, str]:
    """``driver`` for this process, ``jvm`` for java, ``pyworker`` for the
    rest (the JVM's Python daemon and workers)."""
    root = os.getpid()
    return {pid: ("driver" if pid == root else
                  "jvm" if comm == "java" else "pyworker")
            for pid, (comm, _, _) in procs.items()}


def sample() -> dict:
    """CPU seconds and peak RSS (MB) per class, summed over the tree."""
    procs = tree()
    kinds = classify(procs)
    cpu = dict.fromkeys(CLASSES, 0.0)
    rss = dict.fromkeys(cpu, 0.0)
    for pid, (_, _, s) in procs.items():
        cpu[kinds[pid]] += s
        rss[kinds[pid]] += _hwm_kb(pid) / 1024.0
    return {"cpu": cpu, "rss_mb": rss, "peak_rss_mb": sum(rss.values()),
            "workers": sum(k == "pyworker" for k in kinds.values())}


def cpu_delta(before: dict, after: dict) -> dict[str, float]:
    return {k: after["cpu"][k] - before["cpu"][k] for k in before["cpu"]}
