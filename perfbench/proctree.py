"""Resident memory (PSS) and CPU time of a process and its descendants,
from /proc. The worker's tree is the Spark driver, the JVM it launched and the
JVM's Python workers; the mock ES is not in it."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    # The command name may hold spaces; fields after it start at state.
    return stat[stat.rfind(")") + 2 :].split()


def tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children.setdefault(int(_stat_fields(name)[1]), []).append(int(name))
            except (OSError, IndexError):
                continue
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def pss_bytes(root_pid: int) -> int:
    """Proportional set size of the tree: resident pages, each shared
    page split between the processes sharing it. Summing plain RSS would
    count the JVM twice whenever it forks a child that has not exec'd
    yet, which made one run in three read up to 0.8 GB high."""
    total = 0
    for pid in tree(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


def cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of the tree, including children that
    ended and were waited for (their time is in the parent's cutime and
    cstime). Time the hypervisor stole from the guest is not in it."""
    ticks = 0
    for pid in tree(root_pid):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat (1-based);
        # here 0 is field 3 (state).
        ticks += sum(int(x) for x in f[11:15])
    return ticks / TICK
