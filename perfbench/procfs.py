"""Process-tree and host CPU readings from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, stack = children_map(), [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of a process tree: every live member's user and
    system time plus that of the children it has reaped."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def proc_stat_cpu() -> list[int]:
    """The host's CPU time counters since boot, over all CPUs, in ticks:
    user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the host since boot, over all CPUs."""
    v = proc_stat_cpu()
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _TICK, v[7] / _TICK
