"""Counters read from ``/proc``: CPU seconds of a process tree,
resident-set high-water marks and the machine's stolen CPU time."""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                ppid = int(_stat_fields(int(d))[1])
            except (OSError, ValueError):
                continue  # exited while we were listing
            kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_cpu_s(root_pid: int) -> float:
    """utime + stime of ``root_pid`` and every live descendant, plus the
    time of reaped children (cutime + cstime)."""
    kids = _children()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
        stack.extend(kids.get(pid, []))
    return total / _TICK


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def host_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of all CPUs from ``/proc/stat``. Steal is time
    a CPU of this machine had work to run but the hypervisor ran another
    guest; busy is user, nice, system, irq and softirq time."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def stolen_s(wall_s: float, a: tuple[int, int], b: tuple[int, int]) -> float:
    """Seconds of ``wall_s`` the hypervisor took away, from the
    ``host_ticks()`` readings ``a`` and ``b`` at its ends.

    The work on the critical path waited the stolen share of the time
    it wanted a CPU (steal / (busy + steal), the same on every CPU), and
    at most every stolen second."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    if steal <= 0:
        return 0.0
    return min(steal / _TICK, wall_s * steal / (busy + steal))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def self_maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
