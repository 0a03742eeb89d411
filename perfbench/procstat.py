"""CPU time and peak memory of a process tree, read from ``/proc``.

Children are found through ``/proc/<pid>/task/<tid>/children`` of EVERY
thread: the JVM forks its Python workers from non-main threads, so walking
only the main task would miss them.
"""

from __future__ import annotations

import os

_TCK = os.sysconf("SC_CLK_TCK")


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name is parenthesized and may contain spaces
    return data[data.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the tree, including reaped children (a reaped
    worker's time is in its parent's cutime/cstime)."""
    total = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat (utime stime cutime cstime), 0-based 11-14 here
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TCK


def tree_hwm_kb(root: int) -> dict[tuple[int, str, str], int]:
    """Peak resident set (VmHWM, kB) per live process of the tree, keyed by
    (pid, start time, name) so a recycled pid is not merged with its
    predecessor."""
    out = {}
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("Name:"):
                        name = line.split()[1]
                    elif line.startswith("VmHWM:"):
                        out[(pid, f[19], name)] = int(line.split()[1])
                        break
        except OSError:
            pass
    return out


def spark_jvms() -> list[int]:
    """Pids of running Spark JVMs (any ``java`` whose command line names a
    Spark class)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0]) == b"java" and any(
            b"org.apache.spark" in a for a in argv
        ):
            pids.append(int(name))
    return pids


def group_members(pgid: int) -> list[int]:
    """Live (not zombie) processes of process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            # stat fields 3 (state) and 5 (pgrp), 0-based 0 and 2 here
            if f is not None and f[0] != "Z" and int(f[2]) == pgid:
                out.append(int(name))
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to others while this machine's CPUs
    wanted to run (``steal`` of ``/proc/stat``), summed over CPUs."""
    with open("/proc/stat") as f:
        # cpu user nice system idle iowait irq softirq steal ...
        return int(f.readline().split()[8]) / _TCK
