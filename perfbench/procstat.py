"""CPU, memory and steal readings from ``/proc`` (Linux).

CPU of a process tree is ``utime + stime + cutime + cstime`` summed over
the live descendants of a root pid.  A child that exits and is reaped
moves its time into its parent's ``cutime``/``cstime``, so the difference
of two readings is the CPU the tree spent in between, short-lived
workers included.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    fields = raw[rp + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    own = (int(fields[11]) + int(fields[12])) / _TICK
    children = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), raw[lp + 1 : rp], own, children


def processes() -> dict[int, tuple[int, str, float, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, procs: dict) -> list[int]:
    """``root`` and every live descendant of it."""
    kids: dict[int, list[int]] = {}
    for pid, st in procs.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


class CpuReading:
    """One scan: CPU seconds of the whole tree, the JVM alone, and the
    Python workers the JVM forked."""

    def __init__(self, root: int, jvm: int | None):
        procs = processes()
        tree = descendants(root, procs)
        self.total = sum(procs[p][2] + procs[p][3] for p in tree)
        self.jvm = procs[jvm][2] if jvm in procs else 0.0
        workers = [p for p in descendants(jvm, procs) if p != jvm] if jvm else []
        self.pyworker = sum(
            procs[p][2] + procs[p][3] for p in workers if "python" in procs[p][1]
        )

    def minus(self, before: "CpuReading") -> dict[str, float]:
        """CPU spent since ``before``."""
        return {
            "cpu_s": self.total - before.total,
            "jvm.cpu_s": self.jvm - before.jvm,
            "pyworker.cpu_s": self.pyworker - before.pyworker,
        }


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size (``VmHWM``) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")
